package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-(event_type, day) count series the events-table time-series
  * family starts from — ONE owner for the series in both engines, the
  * way [[SignalOps]]' base CTEs own the signal prefix. Days are integer
  * epoch days (`unix_micros(ts) div` [[Retention.UsPerDay]]); the count
  * is ONE map-combinable aggregation, the only stage of every consumer
  * that sees event rows.
  *
  * Consumers:
  *  - [[dense]] / [[DensifyCtes]] (each type's `[min, max]` day span,
  *    a missing day a REAL 0 — the [[Acf]] hole contract): [[Acf]],
  *    [[Ewma]], [[Cusum]], [[Burstiness]] and [[SeasonalDecompose]]
  *    (and through it [[SeasonalAnomaly]] and the forecast twins).
  *  - [[daily]] / [[DailyCte]] alone: [[ChangePoint]]'s three forms
  *    and [[RobustTrend]] read the OBSERVED days only (their statistics
  *    are over observed positions); RobustTrend checkpoints it for its
  *    self-join, ChangePoint's windows read it un-checkpointed.
  *
  * Three operators densify over their OWN span on top of [[daily]] /
  * [[DailyCte]]:
  *  - [[Xcorr]]: one GLOBAL span over all types — cross-correlation
  *    needs a common clock, so a type reads real 0s before its own
  *    first event;
  *  - [[RateSpike]]: its axis carries `min_day` into every row for the
  *    full-trailing-window warm-up verdict;
  *  - [[ForecastBacktest]]: its dense frame carries `a`/`bmax` into
  *    every row to bound the evaluable cutoffs. */
object DailyCounts {

  /** `(event_type, day, n)` over observed days; not checkpointed. */
  def daily(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr(s"unix_micros(ts) div ${Retention.UsPerDay}").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))

  /** `(event_type, day, x)` over each type's `[min, max]` day span.
    * The sequence explode is INLINE at the generator (the invariant);
    * the span agg and the join run on |types|×|days| rows. */
  def dense(events: DataFrame): DataFrame = {
    val d = daily(events).localCheckpoint() // 2 consumers: the span agg + the dense join
    d.groupBy("event_type")
      .agg(min("day").as("a"), max("day").as("b"))
      .select(col("event_type"), explode(expr("sequence(a, b)")).as("day"))
      .join(d, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("x"))
  }

  /** DuckDB twin of [[daily]]: the `daily(event_type, day, n)` CTE. */
  val DailyCte: String =
    s"""daily AS (
       |  SELECT event_type, epoch_us(date_trunc('microseconds', ts)) // ${Retention.UsPerDay} AS day,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2
       |)""".stripMargin

  /** DuckDB twin of [[dense]]: `daily`, `span(event_type, a, b)` and
    * `dense(event_type, day, x)` (range() unnest over each span). */
  val DensifyCtes: String =
    s"""$DailyCte, span AS (
       |  SELECT event_type, min(day) AS a, max(day) AS b FROM daily GROUP BY 1
       |), dense AS (
       |  SELECT s.event_type, ax.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS x
       |  FROM span s
       |  CROSS JOIN LATERAL (SELECT unnest(range(s.a, s.b + 1)) AS day) ax
       |  LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = ax.day
       |)""".stripMargin
}
