package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EVENT BURSTINESS — the Fano factor over daily counts (round 13),
  * completing the series-diagnostics quartet: [[Acf]] measures memory,
  * [[ChangePoint]] level shifts, [[Seasonality]] the weekly profile;
  * the Fano factor (variance-to-mean ratio, public — dispersion index)
  * answers "is this stream Poisson-like or BURSTY" — the number that
  * decides whether rate_spike thresholds can assume near-Poisson noise.
  * F ≈ 1 ⇒ Poisson; F ≫ 1 ⇒ clumped arrivals (campaign bursts,
  * batch-replay artifacts); F < 1 ⇒ suspiciously regular
  * (synthetic/throttled traffic).
  *
  * §6: the series is DENSIFIED first (a silent day is a real 0 — the
  * [[Acf]] hole contract); F = var/mean over population moments
  * reduces to the all-integer closed form
  * `fano_milli = (n·Σx² − (Σx)²) · 1000 div (n · Σx)` — the numerator
  * is ≥ 0 by Cauchy–Schwarz and the denominator > 0 whenever the type
  * has any event, so truncating div needs no sign factoring; NULL when
  * the type has zero total mass (mean 0 ⇒ F undefined), by integer
  * guard before any division.
  *
  * Scale: ONE map-combinable data-volume agg (daily counts,
  * [[DailyCounts.dense]]); the span agg + densification (sequence
  * inline at the generator) + moment agg run on |types|×|days| rows. */
object Burstiness {

  def eventBurstiness(events: DataFrame): DataFrame =
    DailyCounts.dense(events)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("n_events"),
        sum(expr("x * x")).as("sxx"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        expr("n_events * 1000 div n_days").as("mean_milli"),
        expr("""CASE WHEN n_events = 0 THEN NULL
                |     ELSE (n_days * sxx - n_events * n_events) * 1000
                |          div (n_days * n_events) END""".stripMargin)
          .as("fano_milli"))

  def eventBurstinessQ(events: DataFrame): DataFrame =
    eventBurstiness(events).orderBy("event_type")

  val eventBurstinessSql: String =
    s"""WITH ${DailyCounts.DensifyCtes}, m AS (
       |  SELECT event_type,
       |         CAST(count(*) AS BIGINT) AS n_days,
       |         CAST(sum(x) AS BIGINT) AS n_events,
       |         CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM dense GROUP BY 1
       |)
       |SELECT event_type, n_days, n_events,
       |       n_events * 1000 // n_days AS mean_milli,
       |       CASE WHEN n_events = 0 THEN NULL
       |            ELSE (n_days * sxx - n_events * n_events) * 1000
       |                 // (n_days * n_events) END AS fano_milli
       |FROM m
       |ORDER BY event_type""".stripMargin
}
