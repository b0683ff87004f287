package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Parity.{r, rsql}

/** AUTOCORRELATION FUNCTION over daily event counts (round 13) — the
  * series-diagnostics family's memory probe: [[RateSpike]] flags single
  * days, [[ChangePoint]] level shifts, [[Seasonality]] the day-of-week
  * profile; the ACF answers "how long does today's load predict
  * tomorrow's" (lag-1 persistence) and exposes weekly structure as a
  * lag-7 peak — the classic pre-model diagnostic (Box–Jenkins, public).
  * Per event type and lag k ∈ 1..[[MaxLag]]: the Pearson correlation of
  * the DENSE daily-count series against itself shifted k days.
  *
  * §6 discipline (the [[ChannelCorr]] pattern): the series is densified
  * first — a missing day is a real 0, not an absent sample, or the ACF
  * silently correlates across holes — then the five sufficient
  * statistics per (type, lag) are EXACT BIGINT sums over integer daily
  * counts, and r is the closed-form in ONE shared text both engines
  * (two exact integer subtractions, one double multiply, one IEEE
  * sqrt, one divide; zero-variance sides → NULL by an integer guard
  * BEFORE any float exists; 4-decimal rounded-text emission).
  *
  * Scale shape: ONE data-volume aggregation (map-combinable daily
  * counts, [[DailyCounts.dense]]); the span agg and densification run
  * on |types|×|days| rows (the sequence explode is INLINE at the
  * generator per the invariant);
  * all [[MaxLag]] lead() windows share a single type-keyed exchange
  * (same partitioning + ordering); the stack() unpivot and the closing
  * (type, lag) agg stay on the tiny frame. */
object Acf {

  val MaxLag = 7

  /** One r formula text for both engines (NULL on zero variance). */
  private val RFormula: String =
    """CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
      |     ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
      |          sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
      |END""".stripMargin

  def acfDaily(events: DataFrame, maxLag: Int = MaxLag): DataFrame = {
    val dense = DailyCounts.dense(events)
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val lagged = (1 to maxLag).foldLeft(dense) { (df, k) =>
      df.withColumn(s"y$k", lead(col("x"), k).over(byDay))
    }
    val stacked = lagged.select(col("event_type"), col("x"),
      expr((1 to maxLag).map(k => s"$k, y$k")
        .mkString(s"stack($maxLag, ", ", ", ")"))
        .as(Seq("lag", "y")))
      .filter(col("y").isNotNull)
    stacked.groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"),
        sum(expr("x * y")).as("sxy"))
      .withColumn("acf", expr(RFormula))
  }

  def acfDailyQ(events: DataFrame): DataFrame =
    acfDaily(events)
      .select(col("event_type"), col("lag").cast("long").as("lag"),
        col("n").as("n_pairs"), r("acf", 4))
      .orderBy("event_type", "lag")

  /** DuckDB twin: same densification (range() unnest), same lead()
    * windows generated per lag, same sums and formula text. */
  val acfDailySql: String = {
    val leads = (1 to MaxLag)
      .map(k => s"lead(x, $k) OVER (PARTITION BY event_type ORDER BY day) AS y$k")
      .mkString(",\n       |         ")
    val arms = (1 to MaxLag)
      .map(k => s"SELECT event_type, $k AS lag, x, y$k AS y FROM lagged WHERE y$k IS NOT NULL")
      .mkString("\n       |  UNION ALL ")
    s"""WITH ${DailyCounts.DensifyCtes}, lagged AS (
       |  SELECT event_type, day, x,
       |         $leads
       |  FROM dense
       |), stacked AS (
       |  $arms
       |), st AS (
       |  SELECT event_type, lag,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy
       |  FROM stacked GROUP BY 1, 2
       |)
       |SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       |       ${rsql(RFormula.linesIterator.mkString(" "), 4, "acf")}
       |FROM st
       |ORDER BY event_type, lag""".stripMargin
  }
}
