package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Retention.UsPerDay

/** Activity SEASONALITY profile (round 8, continuation) — the
  * (day-of-week × hour-of-day) load matrix: capacity planning, anomaly
  * baselines ("is Tuesday 3am traffic normal?") and bot detection (flat
  * hourly profiles are machines) all read this shape. Completes the
  * event-analytics time family: [[EventSeries]] densifies the calendar
  * axis, [[EventTrend]] smooths it, this FOLDS it into the weekly cycle.
  *
  * Cross-engine exactness (§6): all time math is integer µs — epoch day
  * `us div 86400e6`, weekday `(day + 3) % 7` (1970-01-01 was a Thursday;
  * 0 = Monday by the ISO-ish shift), hour `(us mod day) div 3600e6` —
  * no engine date functions whose locale/week-start conventions could
  * diverge. Shares are integer ppm of the total (1-row broadcast fact).
  *
  * Scale shape: one map pass, one map-side-combinable (dow, hour) count
  * (≤ 168 cells), the 1-row total on the documented nested loop, and a
  * cell-sized share window. Only the first aggregation touches data
  * volume.
  */
object Seasonality {

  private val UsPerHour = 3600000000L

  def eventSeasonality(events: DataFrame): DataFrame = {
    val cells = events
      .select(expr(s"(unix_micros(ts) div $UsPerDay + 3) % 7").as("dow"),
        expr(s"(unix_micros(ts) % $UsPerDay) div $UsPerHour").as("hour"),
        expr("CAST(round(value * 100.0) AS BIGINT)").as("cents"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("value_cents"))
    val tot = cells.agg(coalesce(sum("n_events"), lit(0L)).as("total"))
    cells.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("n_events * 1000000 div greatest(total, 1)"))
      .select(col("dow"), col("hour"), col("n_events"), col("value_cents"),
        col("share_ppm"))
      .orderBy("dow", "hour")
  }

  def eventSeasonalityQ(events: DataFrame): DataFrame =
    eventSeasonality(events)

  val eventSeasonalitySql: String =
    s"""WITH e AS (
       |  SELECT (epoch_us(date_trunc('microseconds', ts)) // $UsPerDay + 3) % 7 AS dow,
       |         (epoch_us(date_trunc('microseconds', ts)) % $UsPerDay) // $UsPerHour AS hour,
       |         CAST(round(value * 100.0) AS BIGINT) AS cents
       |  FROM events
       |), c AS (
       |  SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_events,
       |         CAST(sum(cents) AS BIGINT) AS value_cents
       |  FROM e GROUP BY 1, 2
       |), t AS (
       |  SELECT CAST(COALESCE(sum(n_events), 0) AS BIGINT) AS total FROM c
       |)
       |SELECT dow, hour, n_events, value_cents,
       |       n_events * 1000000 // greatest(total, 1) AS share_ppm
       |FROM c CROSS JOIN t
       |ORDER BY dow, hour""".stripMargin
}
