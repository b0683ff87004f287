package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Daily RATE-SPIKE / rate-drop detection (round 8, continuation) — per
  * event type, each day's count against its own trailing-7-day baseline:
  * the ops-monitoring readout ("errors doubled today", "signups fell by
  * half") that [[EventTrend]]'s per-user churn frame doesn't express.
  *
  * Cross-engine exactness (§6): the baseline compare never divides —
  * "count > 2× the trailing mean" is the integer cross-product
  * `7·n > 2·trail7`, and "count < half the mean" is `14·n < trail7`;
  * days are integer epoch days. Verdicts fire only once the trailing
  * window is FULL (`day ≥ min_day + 7` per type) — a cold-start day
  * compared against a half-empty baseline is noise, not signal — and
  * spikes additionally require [[MinSpikeCount]] events (a 0→3 jump is
  * not an incident).
  *
  * Scale shape: the (type, day) count ([[DailyCounts.daily]]) is
  * map-side combinable and collapses event volume first; the axis
  * densification
  * ([[EventSeries]] pattern — silent days must EXIST to be seen as
  * drops) explodes ≤ |types|·horizon rows inline; the baseline is one
  * RANGE frame over the integer day axis per type — |types| partitions
  * of days-sized series, a catalog-bounded window after the first
  * aggregation.
  */
object RateSpike {

  /** Spike verdicts need at least this many events. */
  val MinSpikeCount = 5

  def rateSpike(events: DataFrame): DataFrame = {
    val daily = DailyCounts.daily(events).withColumnRenamed("n", "n_events")
    val axis = daily.groupBy("event_type")
      .agg(min("day").as("min_day"), max("day").as("max_day"))
      .select(col("event_type"), col("min_day"),
        explode(expr("sequence(min_day, max_day)")).as("day"))
    val frame = Window.partitionBy("event_type").orderBy(col("day"))
      .rangeBetween(-7, -1)
    axis.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n_events"), lit(0L)))
      .withColumn("trail7", coalesce(sum("n").over(frame), lit(0L)))
      .withColumn("warm", col("day") >= col("min_day") + 7)
      .withColumn("is_spike",
        col("warm") && col("n") >= MinSpikeCount && expr("7 * n > 2 * trail7"))
      .withColumn("is_drop",
        col("warm") && col("trail7") >= 14 && expr("14 * n < trail7"))
      .select(col("event_type"), col("day"), col("n").as("n_events"),
        col("trail7"), col("is_spike"), col("is_drop"))
  }

  def rateSpikeQ(events: DataFrame): DataFrame =
    rateSpike(events).orderBy("event_type", "day")

  val rateSpikeSql: String =
    s"""WITH ${DailyCounts.DailyCte}, axis AS (
       |  SELECT event_type, min_day, unnest(generate_series(min_day, max_day)) AS day
       |  FROM (SELECT event_type, min(day) AS min_day, max(day) AS max_day
       |        FROM daily GROUP BY 1)
       |), s AS (
       |  SELECT a.event_type, a.day, a.min_day,
       |         COALESCE(d.n, 0) AS n,
       |         COALESCE(CAST(sum(COALESCE(d.n, 0)) OVER (
       |           PARTITION BY a.event_type ORDER BY a.day
       |           RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS trail7
       |  FROM axis a LEFT JOIN daily d
       |    ON a.event_type = d.event_type AND a.day = d.day
       |)
       |SELECT event_type, day, n AS n_events, trail7,
       |       (day >= min_day + 7 AND n >= $MinSpikeCount AND 7 * n > 2 * trail7) AS is_spike,
       |       (day >= min_day + 7 AND trail7 >= 14 AND 14 * n < trail7) AS is_drop
       |FROM s
       |ORDER BY event_type, day""".stripMargin
}
