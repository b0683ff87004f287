package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

import graft.sources.ParquetFooter

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All graft operators are pure `DataFrame => DataFrame` functions; this is
  * the only place that touches storage, so Catalyst sees one connected plan
  * per query (filters/projections push down into these scans).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `<sfDir>/<name>.parquet` under the schema its footer declares, read
    * on the driver by [[graft.sources.ParquetFooter.footerSchema]]: the
    * schema `spark.read.parquet` would infer, without the Spark job that
    * inference runs. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(ParquetFooter.footerSchema(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` in two physical forms across driver
    * testdata generations: TIMESTAMP(NANOS) (read as int64 nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, then truncated to µs) and
    * plain timestamp[us] (read as TIMESTAMP_NTZ). Branch on the decoded
    * dtype so either generation yields the same downstream contract: a
    * session-TZ TIMESTAMP at microsecond precision. Under the UTC session
    * both paths produce identical `unix_micros` integers, and the DuckDB
    * oracle's `date_trunc('microseconds', ts)` is exact on the nanos form
    * and a no-op on the µs form — parity holds for both. The nanosAsLong
    * flag stays set in Verify/Bench/spec sessions (harmless on µs files).
    */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(load(s, d, "events"))

  /** `events` (a batch or a streaming frame over events files) with `ts`
    * as a session-TZ TIMESTAMP at µs precision, whichever physical form
    * [[events]] describes the files hold. */
  private[graft] def normalizeTs(events: DataFrame): DataFrame = events.withColumn("ts",
    if (events.schema("ts").dataType == LongType) expr("timestamp_micros(ts div 1000)")
    else col("ts").cast("timestamp"))
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
