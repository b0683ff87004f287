package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingJobs

/** events.parquet ships `ts` in two physical forms: timestamp[us] (the
  * testdata and perfbench generators) and int64 nanos (read as longs
  * under `nanosAsLong`; the stream specs plant it through
  * `eventsRawSchema(tsIsLong = true)`). The batch loader and the event
  * streams normalize `ts` with one function, so both forms give the same
  * rows through both. */
class EventsTsFormsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `<dir>/events.parquet`, a directory of one file in each form: the
    * real µs file copied, and the same rows rewritten with `ts` as int64
    * nanos carrying a sub-µs remainder the loaders must truncate. */
  private lazy val (usDir, nanosDir) = {
    val us = Files.createTempDirectory("graft-ts-us")
    Files.createDirectory(us.resolve("events.parquet"))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      us.resolve("events.parquet").resolve("part-00000.parquet"))
    val nanos = Files.createTempDirectory("graft-ts-nanos").toString
    Tables.events(spark, us.toString)
      .withColumn("ts", expr("unix_micros(ts) * 1000 + 789"))
      .coalesce(1).write.parquet(s"$nanos/events.parquet")
    (us.toString, nanos)
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("both files hold the forms this spec is about") {
    def tsType(d: String) =
      spark.read.parquet(s"$d/events.parquet").schema("ts").dataType.typeName
    assert(tsType(usDir) == "timestamp_ntz")
    assert(tsType(nanosDir) == "long")
  }

  test("Tables.events gives identical rows for both forms") {
    val us = Tables.events(spark, usDir)
    val nanos = Tables.events(spark, nanosDir)
    assert(us.schema == nanos.schema)
    val rows = sorted(us.collect())
    assert(rows.nonEmpty)
    assert(rows == sorted(nanos.collect()))
  }

  test("eventDedupStream gives identical rows for both forms, t_us from the normalized ts") {
    def run(d: String, name: String): Array[Row] = {
      val q = StreamingJobs.eventDedupStream(spark, s"$d/events.parquet")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      spark.table(name).collect()
    }
    val us = run(usDir, "ts_forms_us")
    val nanos = run(nanosDir, "ts_forms_nanos")
    assert(us.nonEmpty)
    assert(sorted(us) == sorted(nanos))
    val batchUs = Tables.events(spark, usDir)
      .select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    us.foreach(r => assert(r.getAs[Long]("t_us") == batchUs(r.getAs[Long]("event_id")), r.toString))
  }
}
