package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CommitLog

/** The commit log's write verbs at their edges: the reserved `_graft_`
  * helper-column prefix is refused by every verb that adds helper
  * columns, OPTIMIZE over nothing commits what it always did, every
  * staged file lands under the `<uuid8>-<kind>-NNNNN.parquet` name with
  * no temp tree left behind, a shallow clone's own deletion vectors
  * clear on OPTIMIZE and RESTORE as any table's do, and a DV delete
  * leaves pruned reads that keep no file working. */
class CommitLogWriteVerbsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_commitlog_verbs").toString

  private val PartName = """([0-9a-f]{8})-part-(\d{5})\.parquet""".r
  private val DvName = """([0-9a-f]{8})-dv-(\d{5})\.parquet""".r

  /** `verb` throws an IllegalArgumentException that names it and the
    * offending column, and `t`'s head version and schema do not move. */
  private def assertRefused(t: String, verb: String)(run: => Any): Unit = {
    val (v, schema) = (CommitLog.latestVersion(t), CommitLog.read(spark, t).schema)
    val e = intercept[IllegalArgumentException](run)
    assert(e.getMessage.contains(s"$verb:") && e.getMessage.contains("_graft_"),
      s"$verb: ${e.getMessage}")
    assert(CommitLog.latestVersion(t) == v, s"$verb committed a version")
    assert(CommitLog.read(spark, t).schema == schema, s"$verb changed the schema")
  }

  /** Names in `t`'s directory other than the log. */
  private def tableEntries(t: String): Seq[String] = {
    val s = Files.list(Paths.get(t))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_ == "_graft_log").toVector.sorted
    finally s.close()
  }

  test("a table with a _graft_ column: every predicate verb and MERGE refuse it, naming the verb") {
    val t = tmpTable()
    CommitLog.append(spark, t,
      Seq((1L, "u1"), (2L, "u2"), (3L, "u3")).toDF("id", "_graft_file").coalesce(1))
    val src = Seq((3L, "u9"), (4L, "u4")).toDF("id", "_graft_file")
    assertRefused(t, "deleteWhere")(CommitLog.deleteWhere(spark, t, col("id") === 3L))
    assertRefused(t, "deleteWhereDv")(CommitLog.deleteWhereDv(spark, t, col("id") === 3L))
    assertRefused(t, "updateWhere")(
      CommitLog.updateWhere(spark, t, col("id") === 3L, Seq("id" -> lit(9L))))
    assertRefused(t, "updateWhereDv")(
      CommitLog.updateWhereDv(spark, t, col("id") === 3L, Seq("id" -> lit(9L))))
    assertRefused(t, "mergeInto")(CommitLog.mergeInto(spark, t, src, "id"))
    // the user column survives with its values
    assert(CommitLog.read(spark, t).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "u1"), (2L, "u2"), (3L, "u3")))
  }

  test("partitioned appends refuse a frame with a _graft_ column, naming the verb") {
    val t = tmpTable()
    CommitLog.appendPartitioned(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "k"), Seq("k"))
    val bad = Seq((3L, "a", 0)).toDF("id", "k", "_graft_p_k")
    assertRefused(t, "appendPartitioned")(
      CommitLog.appendPartitioned(spark, t, bad, Seq("k")))
    assertRefused(t, "appendIdempotent")(
      CommitLog.appendIdempotent(spark, t, bad, "app", 0L, partitionBy = Seq("k")))
    assert(CommitLog.txnLatest(t, "app") == -1L)
  }

  test("OPTIMIZE edges: compact and compactClustered over an empty commit land one version") {
    val (t1, t2) = (tmpTable(), tmpTable())
    assert(CommitLog.tryCommit(t1, 0L, Nil, Nil))
    assert(CommitLog.compact(spark, t1) == Right(1L))
    assert(CommitLog.latestVersion(t1) == 1L && CommitLog.liveFiles(t1, 1L).isEmpty)
    assert(CommitLog.tryCommit(t2, 0L, Nil, Nil))
    assert(CommitLog.compactClustered(spark, t2, df => col(df.columns.head), 2) == Right(1L))
    assert(CommitLog.latestVersion(t2) == 1L && CommitLog.liveFiles(t2, 1L).isEmpty)
  }

  test("OPTIMIZE on a shallow clone keeps the clone's own DV deletes deleted") {
    val src = tmpTable()
    CommitLog.appendWithStats(spark, src, (1L to 6L).toDF("id").coalesce(1))
    CommitLog.appendWithStats(spark, src, (7L to 9L).toDF("id").coalesce(1))
    def ids(t: String): Seq[Long] = CommitLog.read(spark, t).as[Long].collect().toSeq.sorted
    val optimizers: Seq[(String, String => Either[CommitLog.Conflict, Long])] = Seq(
      "compact" -> (t => CommitLog.compact(spark, t)),
      "compactWhere" -> (t => CommitLog.compactWhere(spark, t, col("id") <= 6L)),
      "compactClustered" -> (t => CommitLog.compactClustered(spark, t, df => col("id"), 2)))
    optimizers.foreach { case (verb, optimize) =>
      val clone = tmpTable()
      CommitLog.shallowClone(src, clone)
      // the clone's live entries are <rel>/<name>; its DV verbs key by <name>
      assert(CommitLog.deleteWhereDv(spark, clone, col("id") === 3L).isRight)
      assert(CommitLog.updateWhereDv(spark, clone, col("id") === 4L,
        Seq("id" -> lit(40L))).isRight)
      val before = ids(clone)
      assert(before == Seq(1L, 2L, 5L, 6L, 7L, 8L, 9L, 40L), s"$verb: $before")
      assert(optimize(clone).isRight, verb)
      assert(ids(clone) == before, s"$verb brought deleted rows back")
      // the rewrite cleared the clone's attachments, so its sidecars are vacuumable
      val dvs = CommitLog.liveDvs(clone, CommitLog.latestVersion(clone))
      assert(dvs.isEmpty, s"$verb left dead attachments: $dvs")
      val sidecars = tableEntries(clone).filter(DvName.matches)
      assert(sidecars.nonEmpty && sidecars.forall(CommitLog.vacuumable(clone, 1L).contains),
        s"$verb: $sidecars")
    }
    assert(ids(src) == (1L to 9L))
  }

  test("RESTORE on a shallow clone clears the clone's own DV deletes") {
    val src = tmpTable()
    CommitLog.appendWithStats(spark, src, (1L to 6L).toDF("id").coalesce(1))
    val clone = tmpTable()
    CommitLog.shallowClone(src, clone)
    assert(CommitLog.deleteWhereDv(spark, clone, col("id") === 3L).isRight)
    assert(CommitLog.updateWhereDv(spark, clone, col("id") === 4L,
      Seq("id" -> lit(40L))).isRight)
    assert(CommitLog.restore(clone, 0L).isRight)
    assert(CommitLog.read(spark, clone).as[Long].collect().toSeq.sorted == (1L to 6L))
    assert(CommitLog.liveDvs(clone, CommitLog.latestVersion(clone)).isEmpty)
  }

  test("a pruned read that keeps no file, after a DV delete on a table with a committed schema") {
    val t = tmpTable()
    val df = (1L to 6L).map(i => (i, s"s$i")).toDF("id", "s").coalesce(1)
    CommitLog.appendWithStats(spark, t, df)
    CommitLog.evolveSchema(t, df.schema)
    assert(CommitLog.deleteWhereDv(spark, t, col("id") === 3L).isRight)
    val none = CommitLog.readWhere(spark, t, col("id") === 99L)
    assert(none.columns.toSeq == Seq("id", "s") && none.count() == 0L)
    assert(CommitLog.readPruned(spark, t, col("id") === 99L).count() == 0L)
    assert(CommitLog.readWhere(spark, t, col("id") <= 4L).count() == 3L)
  }

  test("staged names: appends stage <uuid8>-part-NNNNN, DV deletes <uuid8>-dv-NNNNN, no temp tree left") {
    val t = tmpTable()
    def numbered(names: Seq[String]): Unit =
      names.groupBy(n => n.take(8)).values.foreach { g =>
        assert(g.map(_.substring(14, 19).toInt).sorted == g.indices,
          s"staged names of one write must number 0..n-1: ${g.sorted}")
      }
    def partsOf(adds: Seq[String]): Unit = {
      assert(adds.nonEmpty && adds.forall(PartName.matches), adds)
      numbered(adds)
    }
    val df: DataFrame = (0L until 12L).map(i => (i, s"k${i % 3}")).toDF("id", "k")
    CommitLog.append(spark, t, df)
    partsOf(CommitLog.commits(t, 0L).last.adds)
    CommitLog.appendPartitioned(spark, t, df, Seq("k"))
    val pAdds = CommitLog.commits(t, 1L).last.adds
    partsOf(pAdds)
    // the partitioned write's files are value-pure in k, and keep it as data
    val perFile = pAdds.map(f => spark.read.parquet(Paths.get(t, f).toString)
      .select("k").distinct().count())
    assert(perFile.forall(_ == 1L), perFile)
    CommitLog.appendIdempotent(spark, t, df, "app", 0L, partitionBy = Seq("k"))
    partsOf(CommitLog.commits(t, 2L).last.adds)

    assert(CommitLog.deleteWhereDv(spark, t, col("id") === 5L).isRight)
    val dvs = CommitLog.liveDvs(t, CommitLog.latestVersion(t)).values.toSeq.distinct
    assert(dvs.nonEmpty && dvs.forall(DvName.matches), dvs)

    val entries = tableEntries(t)
    assert(!entries.exists(_.startsWith("_tmp_")), entries)
    assert(entries.forall(n => PartName.matches(n) || DvName.matches(n)), entries)
    assert(CommitLog.read(spark, t).count() == 33L)
  }
}
