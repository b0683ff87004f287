package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EWMA over daily event counts (round 14) — the SMOOTHED level the
  * series family reads raw: [[RateSpike]] compares a day to a trailing
  * mean, [[EventTrend]] to last week, [[ChangePoint]] finds level
  * shifts; the exponentially-weighted moving average is the classic
  * low-latency level estimate between those (half the weight on the
  * most recent day, geometric decay behind it — standard monitoring /
  * forecasting smoother, public).
  *
  * §6 / determinism — EWMA is usually a float recursion
  * (`s ← α·x + (1−α)·s`), which is both order-sensitive and
  * truncation-divergent across engines. The shipped form is the
  * TRUNCATED-KERNEL equivalent at α = 1/2, fully integer: per day d,
  * `ewma_ppm(d) = Σ_{k=0..K−1} (x_{d−k} · 10⁶) div 2^(k+1)` with
  * K = [[Kernel]] = 16 — each term an exact BIGINT multiply + one
  * integer division by a power of two, the SAME text both engines.
  * Contract corners, stated: (a) the kernel truncates at K lags — the
  * ignored tail mass is 2^-K ≈ 15 ppm of a constant series, below the
  * ppm quantum in exchange for exactness; (b) COLD START is
  * zero-initialized — days earlier than the series start contribute
  * nothing, so the first K−1 days carry partial kernel mass (the
  * monitoring convention: the smoother warms up); (c) per-term
  * truncation, not end-truncation — deterministic and overflow-safe
  * (x ≤ 10⁹ daily events ⇒ term ≤ 10¹⁵, sum ≤ 2·10¹⁵, BIGINT-safe at
  * any realistic volume).
  *
  * Scale shape (the [[Acf]] pattern): ONE map-combinable daily-count
  * aggregation ([[DailyCounts.dense]]) is the only data-volume stage;
  * densification (a missing day is a REAL 0 — skipping it would smear
  * the decay across holes) and the K lag() windows all share one
  * type-keyed exchange. */
object Ewma {

  val Kernel = 16

  def ewmaDaily(events: DataFrame, kernel: Int = Kernel): DataFrame = {
    val dense = DailyCounts.dense(events)
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val lagged = (1 until kernel).foldLeft(dense) { (df, k) =>
      df.withColumn(s"x$k", lag(col("x"), k).over(byDay))
    }
    val terms = (0 until kernel).map { k =>
      val src = if (k == 0) "x" else s"x$k"
      s"(coalesce($src, CAST(0 AS BIGINT)) * 1000000) div ${1L << (k + 1)}"
    }.mkString(" + ")
    lagged.select(col("event_type"), col("day"), col("x").as("n_events"),
      expr(terms).as("ewma_ppm"))
  }

  def ewmaDailyQ(events: DataFrame): DataFrame =
    ewmaDaily(events).orderBy("event_type", "day")

  /** DuckDB twin: same densification, same generated lag() windows over
    * one partitioning, same per-term integer texts. */
  val ewmaDailySql: String = {
    val lags = (1 until Kernel)
      .map(k => s"lag(x, $k) OVER (PARTITION BY event_type ORDER BY day) AS x$k")
      .mkString(",\n       |         ")
    val terms = (0 until Kernel).map { k =>
      val src = if (k == 0) "x" else s"x$k"
      s"(COALESCE($src, CAST(0 AS BIGINT)) * 1000000) // ${1L << (k + 1)}"
    }.mkString(" + ")
    s"""WITH ${DailyCounts.DensifyCtes}, lagged AS (
       |  SELECT event_type, day, x,
       |         $lags
       |  FROM dense
       |)
       |SELECT event_type, day, x AS n_events,
       |       CAST($terms AS BIGINT) AS ewma_ppm
       |FROM lagged
       |ORDER BY event_type, day""".stripMargin
  }
}
