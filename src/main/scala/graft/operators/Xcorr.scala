package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Parity.{r, rsql}

/** CROSS-CORRELATION between event types' daily series (round 14) —
  * the PAIRWISE completion of [[Acf]] (self-memory → pair lead/lag;
  * Box–Jenkins CCF, public): for every ordered type pair (ta < tb) and
  * lag k ∈ −[[MaxLag]]..[[MaxLag]], the Pearson correlation of
  * x_ta(d) against x_tb(d + k). The argmax lag answers the product
  * question none of the family does: does B FOLLOW A (peak at k > 0),
  * LEAD it (k < 0), or co-move (k = 0) — e.g. purchases trailing
  * clicks by two days. [[ChannelCorr]] correlates paired VALUES within
  * a trial; this correlates the COUNT series across calendar time.
  *
  * §6 discipline (the Acf pattern exactly): five EXACT BIGINT
  * sufficient statistics per (ta, tb, k), r as the closed-form in ONE
  * shared text (integer zero-variance guard BEFORE any float,
  * 4-decimal rounded emission). Alignment contract, stated: both
  * series densify onto the GLOBAL day span (min..max over ALL types)
  * — cross-correlation needs a COMMON clock, so a type silent before
  * its own first event reads real 0s on the shared axis (unlike the
  * per-type spans of acf/ewma/cusum, whose question is per-series);
  * holes are real 0s as everywhere in the family.
  *
  * Scale shape: ONE map-combinable daily-count aggregation
  * ([[DailyCounts.daily]]) is the only data-volume stage; the global
  * span is a 1-row broadcast; the lag-shifted self-join runs on the
  * |types|×|days|×(2·MaxLag+1)
  * exploded frame keyed by the shifted day — day-keyed exchanges whose
  * size is calendar-bounded, never data-bounded; the closing agg is
  * |types|²·lags rows. */
object Xcorr {

  val MaxLag = 7

  /** One r formula text for both engines (NULL on zero variance). */
  private val RFormula: String =
    """CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
      |     ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
      |          sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |END""".stripMargin

  def xcorrDaily(events: DataFrame, maxLag: Int = MaxLag): DataFrame = {
    val daily = DailyCounts.daily(events)
      .localCheckpoint() // 3 consumers: global span, type list, dense join
    val span = daily.agg(min("day").as("a"), max("day").as("b"))
    val dense = daily.select("event_type").distinct()
      .join(broadcast(span))
      .select(col("event_type"), explode(expr("sequence(a, b)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("x"))
      .localCheckpoint() // 2 consumers: both sides of the lag join
    val aSide = dense
      .select(col("event_type").as("ta"), col("day"), col("x"))
      .withColumn("lag", explode(expr(s"sequence(${-maxLag}, $maxLag)")))
      .withColumn("day2", col("day") + col("lag"))
    val bSide = dense
      .select(col("event_type").as("tb"), col("day").as("day2"), col("x").as("y"))
    aSide.join(bSide, Seq("day2"))
      .filter(col("ta") < col("tb"))
      .groupBy("ta", "tb", "lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
      .withColumn("xcorr", expr(RFormula))
  }

  def xcorrDailyQ(events: DataFrame): DataFrame =
    xcorrDaily(events)
      .select(col("ta"), col("tb"), col("lag").cast("long").as("lag"),
        col("n").as("n_pairs"), r("xcorr", 4))
      .orderBy("ta", "tb", "lag")

  /** DuckDB twin: same global-span densification, same exploded lag
    * join, same sums and formula text. */
  val xcorrDailySql: String =
    s"""WITH ${DailyCounts.DailyCte}, span AS (
       |  SELECT min(day) AS a, max(day) AS b FROM daily
       |), dense AS (
       |  SELECT t.event_type, ax.day, CAST(COALESCE(d.n, 0) AS BIGINT) AS x
       |  FROM (SELECT DISTINCT event_type FROM daily) t
       |  CROSS JOIN span s
       |  CROSS JOIN LATERAL (SELECT unnest(range(s.a, s.b + 1)) AS day) ax
       |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = ax.day
       |), aside AS (
       |  SELECT event_type AS ta, day, x, lag, day + lag AS day2
       |  FROM dense
       |  CROSS JOIN LATERAL (SELECT unnest(range(${-MaxLag}, ${MaxLag + 1})) AS lag) lg
       |), st AS (
       |  SELECT a.ta, b.event_type AS tb, a.lag,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
       |         CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
       |         CAST(sum(b.x * b.x) AS BIGINT) AS syy,
       |         CAST(sum(a.x * b.x) AS BIGINT) AS sxy
       |  FROM aside a
       |  JOIN dense b ON b.day = a.day2 AND a.ta < b.event_type
       |  GROUP BY 1, 2, 3
       |)
       |SELECT ta, tb, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       |       ${rsql(RFormula.linesIterator.mkString(" "), 4, "xcorr")}
       |FROM st
       |ORDER BY ta, tb, lag""".stripMargin
}
