package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CommitLog, ParquetFooter}

/** Schemas read from one footer on the driver ([[ParquetFooter]]): a frame
  * read under the footer schema has exactly the `df.schema` that
  * `spark.read.parquet` infers, and building a commit-log or table frame
  * starts no Spark job. */
class ParquetFooterSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** `read`, a frame over `path` under a given schema, has the schema
    * inference gives `path`. */
  private def assertSameSchema(path: String, read: DataFrame): Unit = {
    val (footer, inferred) = (read.schema, spark.read.parquet(path).schema)
    assert(footer == inferred,
      s"$path: footer ${footer.treeString} vs inferred ${inferred.treeString}")
  }

  private def assertSameSchema(path: String): Unit =
    assertSameSchema(path,
      spark.read.schema(ParquetFooter.footerSchema(spark, path)).parquet(path))

  /** Spark jobs started by `body` on this thread, counted after the
    * listener bus has delivered every event `body` caused. Spark's file
    * listing is not counted: a closed list of more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * is listed by a job of its own, whatever the schema source. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.footer"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(tag) == "on").foreach { p =>
          val what = Option(p.getProperty("spark.job.description")).getOrElse("")
          if (!what.startsWith("Listing leaf files and directories")) jobs.incrementAndGet()
        }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "on")
    try {
      body
      TestListenerBus.drain(sc)
      jobs.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("footer schema equals inference on all 10 sf0.001 tables") {
    Tables.names.foreach(n => assertSameSchema(s"$sf/$n.parquet", Tables.load(spark, sf, n)))
  }

  test("footer schema equals inference on a Spark-written multi-part directory") {
    val dir = Files.createTempDirectory("graft_footer").resolve("t").toString
    // non-nullable id, nested struct, arrays and a timestamp over 3 part files
    spark.range(0, 30, 1, 3)
      .select(col("id"),
        struct(col("id").as("a"), (col("id") * 2).cast("string").as("b")).as("nested"),
        array(col("id"), lit(1L)).as("arr"),
        array(struct(col("id").as("x"))).as("arr_of_struct"),
        timestamp_micros(col("id") * 1000000L).as("ts"),
        when(col("id") % 2 === 0, lit("even")).as("maybe"))
      .write.parquet(dir)
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toVector.sorted
    assert(parts.size == 3)
    assert(!ParquetFooter.footerSchema(spark, parts.head)("id").nullable,
      "the fixture must carry a non-nullable field for this check to mean anything")
    assertSameSchema(dir)
    parts.foreach(assertSameSchema)
    assert(spark.read.schema(ParquetFooter.footerSchema(spark, parts.head))
      .parquet(parts: _*).schema == spark.read.parquet(parts: _*).schema)
  }

  test("the DV sidecar schema constant is what deleteWhereDv stages") {
    val t = Files.createTempDirectory("graft_footer_dv").toString
    CommitLog.append(spark, t, (1L to 40L).map(i => (i, s"r$i")).toDF("id", "s"))
    assert(CommitLog.deleteWhereDv(spark, t, col("id") % 3 === 0L) == Right(1L))
    val sidecars = Files.list(Paths.get(t)).iterator().asScala
      .map(_.toString).filter(_.matches(".*-dv-\\d+\\.parquet")).toVector
    assert(sidecars.nonEmpty)
    sidecars.foreach { f =>
      assertSameSchema(f)
      assertSameSchema(f, spark.read.schema(CommitLog.DvSchema).parquet(f))
    }
    assert(CommitLog.read(spark, t).count() == 27)
  }

  test("building a commit-log frame or a table frame starts no Spark job") {
    val t = Files.createTempDirectory("graft_footer_jobs").toString
    def batch(b: Long): DataFrame =
      (0L until 12L).map(i => (b * 100 + i, s"k${i % 3}", i.toDouble)).toDF("id", "k", "v")
    (0L until 3L).foreach { b =>
      assert(CommitLog.appendIdempotent(spark, t, batch(b), "footer-spec", b,
        partitionBy = Seq("k")).isDefined)
    }
    val appended = CommitLog.latestVersion(t)
    assert(CommitLog.deleteWhereDv(spark, t, col("id") % 5 === 0L).isRight)
    CommitLog.checkpoint(t)
    val cond = col("k") === "k1"
    val frames = Seq[(String, () => DataFrame)](
      "read at head" -> (() => CommitLog.read(spark, t)),
      "read asOf" -> (() => CommitLog.read(spark, t, Some(appended - 1))),
      "readWhere" -> (() => CommitLog.readWhere(spark, t, cond)),
      "readPruned" -> (() => CommitLog.readPruned(spark, t, cond)),
      "readIncremental" -> (() => CommitLog.readIncremental(spark, t, -1L, appended)._1),
      "Tables.events" -> (() => Tables.events(spark, sf)))
    frames.foreach { case (name, mk) =>
      var df: DataFrame = null
      val n = jobsDuring { df = mk() }
      assert(n == 0, s"$name started $n Spark job(s) while building its frame")
      assert(df.count() > 0, name)
    }
    // every file pruned: the schema comes from one live footer, no rows
    var none: DataFrame = null
    assert(jobsDuring { none = CommitLog.readPruned(spark, t, col("k") === "absent") } == 0)
    assert(none.schema == CommitLog.read(spark, t).schema && none.count() == 0)
    // the frames still answer as inference-built ones would
    val ids = (0L until 3L).flatMap(b => (0L until 12L).map(b * 100 + _))
    assert(CommitLog.read(spark, t).count() == ids.count(_ % 5 != 0))
    assert(CommitLog.readWhere(spark, t, cond).count() ==
      CommitLog.read(spark, t).filter(cond).count())
    assert(CommitLog.readIncremental(spark, t, -1L, appended)._1.count() == ids.size)
  }
}
