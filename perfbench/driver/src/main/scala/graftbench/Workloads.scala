package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.CsvIngest
import graft.sources.CommitLog
import graft.streaming.StreamingJobs

/** Outcome bookkeeping: every operation and every output check counts as
  * attempted; exceptions and wrong answers count as failed. */
final class Checks {
  var attempted = 0
  var failed = 0
  val messages = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (messages.size < 20) messages += what }
  }
}

/** One client call. Driver times it, charges its CPU, and cleans up
  * after it outside the clock. `heapProbe` asks for the live heap to be
  * measured after it in the warm-up passes (a full collection, so plain
  * reads skip it). */
final case class Op(name: String, run: Spanner => Unit, heapProbe: Boolean = true)

trait Workload {
  /** The first operation of a fresh session; set-up is session start plus this. */
  def warm(spark: SparkSession): Unit
  /** One untimed pass that writes or checks every output. */
  def verify(spark: SparkSession, checks: Checks): Unit
  /** The operations of pass `k`, in order (negative k: untimed warm-up). */
  def pass(spark: SparkSession, k: Int, checks: Checks): Seq[Op]
  /** Untimed passes between verification and timing. */
  def warmPasses: Int
  /** Timed passes a run makes even when they overrun `seconds`. */
  def minPasses: Int
  /** Untimed work after the timed passes (second-pass digests). */
  def finish(spark: SparkSession, checks: Checks): Unit = ()
  /** Layer state that belongs to a pass, not an op (table size, log length). */
  def passState(k: Int): Map[String, Double] = Map.empty
  /** What run.py checks once the JVM has exited: the oracle SQL of each
    * output, and the outputs that must agree across two runs. */
  def manifest: Map[String, Any] = Map.empty
}

/** A fixed list of registered queries, each timed from the registry call
  * to the end of a `noop` write (Bench's discipline: the full plan runs,
  * nothing is pruned by a `count()`). Correctness comes from one untimed
  * pass that writes each result as parquet: run.py compares it against
  * the query's DuckDB oracle, or, for a query without one, against a
  * second untimed run of the same query. */
final class QueryWorkload(names: Seq[String], dataDir: String, dropDir: String,
                          outDir: Path, val warmPasses: Int, val minPasses: Int)
    extends Workload {
  private val noOracle = names.filterNot(n => n == "csv_ingest" || SparkEntry.oracleSql.contains(n))

  private def build(spark: SparkSession, name: String): DataFrame =
    if (name == "csv_ingest")
      CsvIngest.csvIngest(spark, dropDir)
        .orderBy("synset", "headset", "image_id", "take", "session_id", "channel", "sample_idx")
    else SparkEntry.queries(name)(spark, dataDir)

  private def run(spark: SparkSession, name: String, t: Spanner,
                  write: DataFrame => Unit): Unit = {
    val df = t("operators.construct")(build(spark, name))
    t("exec.action")(write(df))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def parquet(dir: Path)(df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)

  def warm(spark: SparkSession): Unit = run(spark, names.head, NoTrace, noop)

  def verify(spark: SparkSession, checks: Checks): Unit = names.foreach { n =>
    try run(spark, n, NoTrace, parquet(outDir.resolve("results").resolve(n)))
    catch { case e: Exception => checks.check(ok = false, s"$n: ${e.getMessage}") }
  }

  def pass(spark: SparkSession, k: Int, checks: Checks): Seq[Op] =
    names.map(n => Op(n, t => run(spark, n, t, noop)))

  override def finish(spark: SparkSession, checks: Checks): Unit = noOracle.foreach { n =>
    try run(spark, n, NoTrace, parquet(outDir.resolve("results2").resolve(n)))
    catch { case e: Exception => checks.check(ok = false, s"$n (second run): ${e.getMessage}") }
  }

  override def manifest: Map[String, Any] = Map(
    "oracle" -> names.filterNot(noOracle.contains).map { n =>
      n -> (if (n == "csv_ingest") CsvIngest.csvIngestSql.replace(CsvIngest.FixtureDir, dropDir)
            else SparkEntry.oracleSql(n))
    }.toMap,
    "digest" -> noOracle)
}

/** One raw CSV file of a drop, as the generator wrote it. */
final case class DropFile(drop: Int, dir: String, take: Int, session: Int, synset: String,
                          rows: Long, bytes: Long)

/** Writes beside reads on the commit log. Each drop is ingested by
  * `CsvIngest.csvIngest` and lands through the exactly-once partitioned
  * sink (batch id = drop index); after each commit a reader counts the
  * head, one synset and a time-travel version; every `cadence` drops the
  * loop re-delivers an old batch, deletes one trial by deletion vector,
  * checkpoints and compacts. Every pass starts from an empty table, so
  * pass k repeats pass 0's operations exactly. Each read is checked
  * against the counts the generator recorded. */
final class LakeWorkload(files: Seq[DropFile], workDir: Path, cadence: Int) extends Workload {
  private val drops: Seq[(Int, String)] = files.map(f => f.drop -> f.dir).distinct.sortBy(_._1)
  private val byDrop = files.groupBy(_.drop)
  private val appId = "perfbench-lake"
  private val state = mutable.Map.empty[Int, Map[String, Double]]

  private def table(k: Int): String = workDir.resolve(s"table-$k").toString

  def warm(spark: SparkSession): Unit =
    CsvIngest.csvIngest(spark, drops.head._2).write.format("noop").mode("overwrite").save()

  /** A short pass (one maintenance cycle) on a scratch table: it warms
    * every code path the timed passes take, and checks as it goes. */
  def verify(spark: SparkSession, checks: Checks): Unit =
    ops(spark, -1, checks, drops.take(cadence)).foreach { op =>
      try op.run(NoTrace)
      catch { case e: Exception => checks.check(ok = false, s"verify ${op.name}: ${e.getMessage}") }
    }

  def pass(spark: SparkSession, k: Int, checks: Checks): Seq[Op] = ops(spark, k, checks, drops)

  def warmPasses: Int = 2
  def minPasses: Int = 2

  private def ops(spark: SparkSession, k: Int, checks: Checks,
                  drops: Seq[(Int, String)]): Seq[Op] = {
    val tbl = table(k)
    deleteTree(Paths.get(tbl))
    val sink = StreamingJobs.commitLogSinkBatchPartitioned(tbl, appId, Seq("synset"))
    // expected state, advanced as the ops run
    var live = 0L
    val perSynset = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val countAt = mutable.Map.empty[Long, Long]
    val deleted = mutable.ArrayBuffer.empty[DropFile]
    var conflicts = 0
    def head(): Long = CommitLog.latestVersion(tbl)
    def count(t: Spanner, df: => DataFrame): Long = {
      val d = t("CommitLog.read")(df)
      t("exec.action")(d.count())
    }
    val ops = mutable.ArrayBuffer.empty[Op]
    for ((i, dir) <- drops) {
      ops += Op("sink", t => {
        val before = head()
        val batch = t("operators.construct")(CsvIngest.csvIngest(spark, dir))
        t("StreamingJobs.sink")(sink(batch, i.toLong))
        byDrop(i).foreach { f => live += f.rows; perSynset(f.synset) += f.rows }
        checks.check(head() == before + 1, s"pass $k: drop $i did not commit one version")
        countAt(head()) = live
      })
      ops += Op("read_count", t => {
        val n = count(t, CommitLog.read(spark, tbl))
        checks.check(n == live, s"pass $k drop $i: head count $n, expected $live")
      }, heapProbe = false)
      val syn = byDrop(i).head.synset
      ops += Op("read_where", t => {
        val n = count(t, CommitLog.readWhere(spark, tbl, col("synset") === syn))
        checks.check(n == perSynset(syn), s"pass $k drop $i: synset $syn count $n, " +
          s"expected ${perSynset(syn)}")
      }, heapProbe = false)
      ops += Op("time_travel", t => {
        val v = head() / 2
        val n = count(t, CommitLog.read(spark, tbl, Some(v)))
        checks.check(n == countAt(v), s"pass $k drop $i: count at v$v is $n, expected ${countAt(v)}")
      }, heapProbe = false)
      if ((i + 1) % cadence == 0) {
        val old = i - cadence / 2
        ops += Op("replay", t => {
          val before = head()
          val batch = t("operators.construct")(CsvIngest.csvIngest(spark, drops(old)._2))
          t("StreamingJobs.replay")(sink(batch, old.toLong))
          checks.check(head() == before, s"pass $k: re-delivered batch $old committed")
        })
        // one trial of the previous drop: (take, session) names one file
        val victim = byDrop(i - 1).maxBy(_.rows)
        ops += Op("delete_dv", t => {
          val cond = col("take") === victim.take && col("session_id") === victim.session
          t("CommitLog.deleteWhereDv")(CommitLog.deleteWhereDv(spark, tbl, cond)) match {
            case Left(_) => conflicts += 1
            case Right(_) =>
          }
          live -= victim.rows
          perSynset(victim.synset) -= victim.rows
          deleted += victim
          countAt(head()) = live
        })
        ops += Op("checkpoint", t => t("CommitLog.checkpoint")(CommitLog.checkpoint(tbl)))
        ops += Op("compact", t => {
          t("CommitLog.compact")(CommitLog.compact(spark, tbl)) match {
            case Left(_) => conflicts += 1
            case Right(_) =>
          }
          countAt(head()) = live
        })
      }
    }
    ops += Op("final_check", t => {
      val n = count(t, CommitLog.read(spark, tbl))
      val generated = drops.flatMap(d => byDrop(d._1)).map(_.rows).sum - deleted.map(_.rows).sum
      checks.check(n == generated, s"pass $k: final count $n, generator count $generated")
      deleted.foreach { f =>
        val gone = count(t, CommitLog.readWhere(spark, tbl,
          col("take") === f.take && col("session_id") === f.session))
        checks.check(gone == 0, s"pass $k: deleted trial ${f.take}/${f.session} has $gone rows")
      }
      val hd = head()
      val tableBytes = treeBytes(Paths.get(tbl))
      val logBytes = treeBytes(Paths.get(tbl, "_graft_log"))
      state(k) = Map(
        "CommitLog.versions" -> (hd + 1).toDouble,
        "CommitLog.log_mb" -> logBytes / 1048576.0,
        "CommitLog.live_files" -> CommitLog.liveFiles(tbl, hd).size.toDouble,
        "CommitLog.conflicts" -> conflicts.toDouble,
        "CommitLog.space_amp" ->
          tableBytes.toDouble / drops.flatMap(d => byDrop(d._1)).map(_.bytes).sum)
    })
    ops.toSeq
  }

  override def passState(k: Int): Map[String, Double] = state.getOrElse(k, Map.empty)

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}
