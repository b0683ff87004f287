package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration behind Bench, Verify, Explain and the
  * specs, so each of them plans a query the same way. `cores` sets both the
  * local thread count and the shuffle width; it defaults to
  * SPARK_GRAFT_CPUS, else every available processor.
  * `replaceHashWithSortAgg` streams an aggregation whose input is already
  * sorted on its keys (a same-key window feeding it) through SortAggregate:
  * 40.2 vs 49.1 s over the 22 queries where it fires (OPTIMIZATION_r18.md). */
object GraftSession {
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.execution.replaceHashWithSortAgg", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
