package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical seasonal decomposition over dense daily counts (round 14)
  * — the STL-lite additive split the series family reads in pieces:
  * [[EventTrend]] reads week-over-week movement, [[Seasonality]] the
  * day-of-week PROFILE, [[ChangePoint]]/[[Cusum]] level shifts; this
  * returns, PER DAY, the three additive components the classical
  * moving-average decomposition defines (Kendall/Stuart, public):
  * `x = trend + seasonal + residual`. The residual is the series with
  * both calendar structure and slow drift removed — the right input
  * for outlier eyes (a spike in x during a growth week is ordinary; a
  * spike in the residual is real).
  *
  * §6 / determinism — all milli-quantized integers, one shared text:
  *  - `trend_milli(d)` = centered 7-day moving mean
  *    `(Σ_{|k|≤3} x_{d+k})·1000 div w` where w is the rows actually in
  *    frame — edge days average their AVAILABLE window (4..6 rows)
  *    rather than going NULL (the classical NA edges would break the
  *    reconstruction identity; partial-window edges keep it total).
  *  - `seas_milli` = per-(type, day-of-week) mean of the DETRENDED
  *    series: `(Σ detr) div n` with Spark/DuckDB `div`-vs-`//`
  *    truncation agreement guaranteed by factoring sign·(|num| div
  *    den) — detrended sums are signed (the Lexicon/lexicon_score
  *    precedent).
  *  - `resid_milli = detr − seas` — so the reconstruction
  *    `x·1000 = trend + seas + resid` holds EXACTLY, by construction,
  *    every row (spec-pinned; the truncations cancel instead of
  *    accumulating).
  *  - dow = `day % 7` on the integer epoch-day — both engines share
  *    the convention; non-negative because epoch days here are.
  *
  * Contract corners, stated: holes are REAL zeros (densified); the
  * seasonal component is NOT forced to sum to zero across the week
  * (the detrended mean absorbs any centered-mean bias — classical
  * decomposition normalizes only in the multiplicative form); spans
  * shorter than a week have degenerate dow classes (n = 1 ⇒ residual
  * exactly 0) — stated, not hidden.
  *
  * Scale shape: ONE map-combinable daily-count aggregation
  * ([[DailyCounts.dense]]) is the only data-volume stage; the trend
  * window rides the type-keyed exchange, the dow means are a
  * map-combinable groupBy on the |types|×7 key
  * joined back broadcast — the dense frame is TIME-bounded, never
  * data-bounded. */
object SeasonalDecompose {

  def seasonalDecompose(events: DataFrame): DataFrame = {
    val dense = DailyCounts.dense(events)
    val w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    val detrended = dense
      .withColumn("ws", sum("x").over(w7))
      .withColumn("wn", count(lit(1)).over(w7))
      .withColumn("trend_milli", expr("(ws * 1000) div wn"))
      .withColumn("detr_milli", expr("x * 1000 - trend_milli"))
      .withColumn("dow", expr("day % 7"))
      .drop("ws", "wn")
      .localCheckpoint() // 2 consumers: the dow means + the join-back
    val dowMeans = detrended.groupBy("event_type", "dow")
      .agg(sum("detr_milli").as("ds"), count(lit(1)).as("dn"))
      .select(col("event_type"), col("dow"),
        expr("CASE WHEN ds < 0 THEN -((-ds) div dn) ELSE ds div dn END")
          .as("seas_milli"))
    detrended
      .join(broadcast(dowMeans), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("x").as("n_events"),
        col("trend_milli"), col("seas_milli"),
        expr("detr_milli - seas_milli").as("resid_milli"))
  }

  def seasonalDecomposeQ(events: DataFrame): DataFrame =
    seasonalDecompose(events).orderBy("event_type", "day")

  /** The decompose arithmetic alone (`tr`..`sdecomp`, consuming
    * `dense`) — composable next to OTHER consumers of
    * [[DailyCounts.DensifyCtes]]
    * in one WITH (the forecast_planned oracle nests the decompose AND
    * the backtest chains without CTE-name collisions). */
  private[operators] val decomposeTailCtes: String =
    s"""tr AS (
       |  SELECT event_type, day, x,
       |         CAST((CAST(sum(x) OVER w AS BIGINT) * 1000)
       |              // count(*) OVER w AS BIGINT) AS trend_milli
       |  FROM dense
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
       |), det AS (
       |  SELECT event_type, day, x, trend_milli,
       |         x * 1000 - trend_milli AS detr_milli,
       |         day % 7 AS dow
       |  FROM tr
       |), dm AS (
       |  SELECT event_type, dow,
       |         CAST(sum(detr_milli) AS BIGINT) AS ds,
       |         CAST(count(*) AS BIGINT) AS dn
       |  FROM det GROUP BY 1, 2
       |), sm AS (
       |  SELECT event_type, dow,
       |         CASE WHEN ds < 0 THEN -((-ds) // dn) ELSE ds // dn END AS seas_milli
       |  FROM dm
       |), sdecomp AS (
       |  SELECT d.event_type, d.day, d.x AS n_events, d.trend_milli,
       |         s.seas_milli, d.detr_milli - s.seas_milli AS resid_milli
       |  FROM det d JOIN sm s ON s.event_type = d.event_type AND s.dow = d.dow
       |)""".stripMargin

  /** CTE chain ending at `sdecomp(event_type, day, n_events,
    * trend_milli, seas_milli, resid_milli)` — nested by
    * [[seasonalDecomposeSql]] and [[SeasonalAnomaly]]'s oracle (the
    * one-text rule). */
  private[operators] val decomposeCtes: String =
    s"${DailyCounts.DensifyCtes}, $decomposeTailCtes"

  /** DuckDB twin: same densification, same partial-edge trend window,
    * same sign-factored dow means, same reconstruction-exact residual. */
  val seasonalDecomposeSql: String =
    s"""WITH $decomposeCtes
       |SELECT event_type, day, n_events, trend_milli, seas_milli, resid_milli
       |FROM sdecomp
       |ORDER BY event_type, day""".stripMargin
}
