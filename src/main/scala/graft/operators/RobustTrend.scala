package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THEIL–SEN ROBUST TREND (round 10) — the median-of-pairwise-slopes
  * estimator (public robust-statistics classic, ~29% breakdown) over
  * each event type's daily volume: [[RateSpike]] flags individual
  * anomalous days, [[EventTrend]] reports trailing sums; neither answers
  * "is this event type growing, and by how much per day, ignoring the
  * outlier days?" — an OLS slope is dragged by exactly the spikes
  * rate_spike exists to find; the slope MEDIAN is not (spec-pinned with
  * a planted wild day).
  *
  * §6 integer discipline: slopes in milli-events/day with the factored
  * sign — `sign(Δc) · ((|Δc| · 1000) div Δd)` (Δd > 0 by the pair
  * ordering; Spark `div` truncates toward zero, DuckDB `//` floors —
  * identical on the non-negative |Δc|, the [[Lexicon]] rule). Median is
  * the exact LOWER-median rank-select (`(n−1) div 2`, the
  * [[LengthQuantiles]] convention — no interpolation), totally ordered
  * by (slope, d1, d2) so the selected ROW is deterministic, not just
  * the value.
  *
  * Scale shape: ONE data-volume aggregation (map-side-combinable daily
  * counts per type, [[DailyCounts.daily]] — the only stage that sees
  * event rows); the pair self-join and median window run on the
  * |types| × |days| frame —
  * HORIZON²-bounded (30 days ⇒ 435 pairs/type), independent of event
  * volume; daily frame localCheckpoint'd (self-join = two consumers).
  * Types with <2 days have no slope and are excluded by contract.
  */
object RobustTrend {

  def robustTrend(events: DataFrame): DataFrame = {
    val daily = DailyCounts.daily(events)
      .localCheckpoint() // self-join: two consumers of the daily frame
    val slopes = daily.select(col("event_type"), col("day").as("d1"), col("n").as("c1"))
      .join(daily.select(col("event_type").as("et2"), col("day").as("d2"), col("n").as("c2")),
        col("event_type") === col("et2") && col("d2") > col("d1"))
      .select(col("event_type"), col("d1"), col("d2"),
        expr("CAST(sign(c2 - c1) AS BIGINT) * ((abs(c2 - c1) * 1000) div (d2 - d1))")
          .as("slope_milli"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("slope_milli"), col("d1"), col("d2"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rn") === expr("(n_pairs - 1) div 2 + 1"))
      .select(col("event_type"), col("n_pairs"), col("slope_milli").as("trend_milli"))
      .orderBy("event_type")
  }

  def robustTrendQ(events: DataFrame): DataFrame = robustTrend(events)

  val robustTrendSql: String =
    s"""WITH ${DailyCounts.DailyCte}, slopes AS (
       |  SELECT a.event_type, a.day AS d1, b.day AS d2,
       |         CAST(sign(b.n - a.n) AS BIGINT) * ((abs(b.n - a.n) * 1000) // (b.day - a.day)) AS slope_milli
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND b.day > a.day
       |), ranked AS (
       |  SELECT event_type, slope_milli,
       |         row_number() OVER (PARTITION BY event_type ORDER BY slope_milli, d1, d2) AS rn,
       |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
       |  FROM slopes
       |)
       |SELECT event_type, n_pairs, slope_milli AS trend_milli
       |FROM ranked
       |WHERE rn = (n_pairs - 1) // 2 + 1
       |ORDER BY event_type""".stripMargin
}
