package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential CUSUM drift alarm over dense daily counts (round 14) —
  * the ONLINE member of the monitoring family: [[ChangePoint]] answers
  * "where did the level shift?" retrospectively (argmax over the whole
  * series), [[RateSpike]] flags single anomalous days against a
  * trailing mean, [[Ewma]] smooths; CUSUM (Page 1954, public) is the
  * classic sequential detector that ACCUMULATES small sustained
  * deviations until they cross a decision threshold — it catches slow
  * drifts no single-day test can see, and says WHEN the evidence became
  * conclusive (the alarm day), not just that a shift exists somewhere.
  *
  * §6 / determinism — the textbook form is the recursion
  * `S_d = max(0, S_{d−1} + (x_d − μ − k))`, which looks
  * order-sequential; the shipped form uses the exact REFLECTION
  * identity `S_d = P_d − min(0, min_{j≤d} P_j)` with
  * `P_d = Σ_{i≤d} dev_i` — two chained windows (running sum, running
  * min) over ONE type-keyed exchange, no recursion, the same integer
  * text both engines. All milli-quantized (events·10³): μ_milli =
  * `(Σx·1000) div n_days` over the DENSE axis, slack k = μ/2 (the
  * standard "detect a one-μ shift" allowance), dev = x·1000 − μ − k,
  * alarm when S > [[H]]·max(μ_milli, 1000) (the one-event floor keeps
  * near-empty series from alarming on ±1 noise). Overflow bound,
  * stated: |P| ≤ days·max(x)·10³ — 10⁵ days of 10⁹-event days is 10¹⁷,
  * BIGINT-safe (the milli rather than ppm quantum exists exactly for
  * this prefix-sum headroom).
  *
  * Contract corners, stated: (a) μ is the GLOBAL series mean — CUSUM
  * against a drifted-into mean under-alarms relative to a known
  * baseline; the operator is the self-calibrating form (no oracle μ
  * exists at 100 TB), so a series that is HALF shifted centers μ
  * between regimes and both halves accumulate; (b) holes are REAL
  * zeros (densified — a silent day is evidence of downward drift, the
  * [[Acf]] hole contract); (c) one-sided UPWARD detector — downward
  * drifts push S to 0, not below (run it on negated deviations for the
  * two-sided question).
  *
  * Scale shape (the [[Ewma]] pattern): ONE map-combinable daily-count
  * aggregation ([[DailyCounts.dense]]) is the only data-volume stage;
  * densification, the whole-partition μ window and both running windows
  * share one
  * type-keyed exchange, each partition bounded by the TIME axis (days),
  * never by data volume. */
object Cusum {

  /** Decision threshold: alarm when S exceeds H·max(μ_milli, 1000). */
  val H = 5L

  def cusumAlarm(events: DataFrame): DataFrame = {
    val dense = DailyCounts.dense(events)
    val wAll = Window.partitionBy("event_type")
    val wRun = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = dense
      .withColumn("tot", sum("x").over(wAll))
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("mu_milli", expr("(tot * 1000) div nd"))
      .withColumn("dev_milli", expr("x * 1000 - mu_milli - mu_milli div 2"))
    val pref = dev.withColumn("p", sum("dev_milli").over(wRun))
    val runmin = pref.withColumn("m", min("p").over(wRun))
    runmin.select(col("event_type"), col("day"), col("x").as("n_events"),
      col("mu_milli"),
      expr("p - least(CAST(0 AS BIGINT), m)").as("cusum_milli"),
      expr(s"CASE WHEN p - least(CAST(0 AS BIGINT), m) > " +
        s"$H * greatest(mu_milli, CAST(1000 AS BIGINT)) THEN 1 ELSE 0 END")
        .as("alarm"))
  }

  def cusumAlarmQ(events: DataFrame): DataFrame =
    cusumAlarm(events).orderBy("event_type", "day")

  /** DuckDB twin: same densification, same reflection-identity windows
    * over one partitioning, same milli texts (sums CAST back from
    * DuckDB's HUGEINT promotion). */
  val cusumAlarmSql: String =
    s"""WITH ${DailyCounts.DensifyCtes}, dev AS (
       |  SELECT event_type, day, x,
       |         CAST((sum(x) OVER (PARTITION BY event_type) * 1000)
       |              // count(*) OVER (PARTITION BY event_type) AS BIGINT) AS mu_milli
       |  FROM dense
       |), dev2 AS (
       |  SELECT event_type, day, x, mu_milli,
       |         x * 1000 - mu_milli - mu_milli // 2 AS dev_milli
       |  FROM dev
       |), pref AS (
       |  SELECT event_type, day, x, mu_milli,
       |         CAST(sum(dev_milli) OVER (PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
       |  FROM dev2
       |), runmin AS (
       |  SELECT event_type, day, x, mu_milli, p,
       |         min(p) OVER (PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
       |  FROM pref
       |)
       |SELECT event_type, day, x AS n_events, mu_milli,
       |       p - LEAST(CAST(0 AS BIGINT), m) AS cusum_milli,
       |       CASE WHEN p - LEAST(CAST(0 AS BIGINT), m)
       |                 > ${H} * GREATEST(mu_milli, CAST(1000 AS BIGINT))
       |            THEN 1 ELSE 0 END AS alarm
       |FROM runmin
       |ORDER BY event_type, day""".stripMargin
}
