package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CHANGE-POINT DETECTION (round 10) — the level-shift question the
  * trend pair leaves open: [[RobustTrend]] reads a monotone drift,
  * [[RateSpike]] flags single anomalous days; neither answers "did this
  * event type's rate STEP to a new level, and when?" (a deploy, a
  * pricing change, an instrumentation break). Statistic: the classic
  * single-change-point CUSUM argmax in its EXACT integer form — for
  * observed days at positions i of n with prefix mass S_i, score(i) =
  * |S_i·n − i·S_n| (the cross-multiplied |mean_left − mean_right|
  * numerator, no division), maximized over split positions 1 ≤ i < n.
  * A flat series scores 0 everywhere (tie-break → earliest day,
  * spec-pinned); a clean step maximizes exactly at the step.
  *
  * §6: scores/masses BIGINT (≤ n·S_n — safe past 10¹⁴ daily events);
  * segment means reported in milli-events/day via non-negative div;
  * argmax totally ordered by (score DESC, day ASC).
  *
  * Scale shape: ONE data-volume aggregation (map-combinable daily
  * counts); everything after runs on the |types| × |days| frame with
  * both windows sharing the one type-keyed exchange (same partitioning,
  * orderings compatible). Horizon-bounded like robust_trend, without
  * the pair join.
  */
object ChangePoint {

  /** The prefix all three forms score from: per type, observed day
    * `i` of `n_days` with prefix mass `s_i` and total mass `s_n` — two
    * windows over the one type-keyed exchange, daily counts
    * un-checkpointed ([[DailyCounts.daily]]). */
  private def scoredPrefix(events: DataFrame): DataFrame = {
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val whole = Window.partitionBy("event_type")
    DailyCounts.daily(events)
      .withColumn("i", row_number().over(byDay))
      .withColumn("s_i", sum(col("n")).over(byDay))
      .withColumn("n_days", count(lit(1)).over(whole))
      .withColumn("s_n", sum(col("n")).over(whole))
  }

  def changePoint(events: DataFrame): DataFrame = {
    val scored = scoredPrefix(events)
      .filter(col("i") < col("n_days"))
      .withColumn("score", expr("abs(s_i * n_days - i * s_n)"))
    val best = Window.partitionBy("event_type")
      .orderBy(col("score").desc, col("day"))
    scored
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("score").as("cusum_score"), col("n_days"),
        expr("(s_i * 1000) div i").as("mean_before_milli"),
        expr("((s_n - s_i) * 1000) div (n_days - i)").as("mean_after_milli"))
      .orderBy("event_type")
  }

  def changePointQ(events: DataFrame): DataFrame = changePoint(events)

  /** TWO change points via BINARY SEGMENTATION (round 12 — the
    * [[changePoint]] hardening the single-split contract calls for):
    * rank 1 is the global CUSUM argmax; rank 2 re-runs the same exact
    * statistic WITHIN each of the two segments rank 1 induces
    * (segment-local prefix mass, length and total — the classic
    * segment-then-rescan step) and takes the better
    * segment's argmax under the same (score DESC, day ASC) total order.
    * So a spike+step series reports BOTH: whichever shift dominates
    * globally is rank 1, the other surfaces at rank 2 inside its
    * segment (spec pins the hand-computed fixtures).
    *
    * §6: all-integer (segment scores ≤ m·T ≤ n·S_n); `seg_days` = the
    * candidate's segment length (rank 1: the whole series). Emission is
    * sparse by contract: rank 1 needs n ≥ 2, rank 2 needs a segment
    * with ≥ 2 positions.
    *
    * Runs as [[changePointK]] at K = 2 (5 localCheckpoint jobs), whose
    * ranks 1-2 are this segmentation exactly (spec-pinned);
    * [[changePoint2Sql]] stays the independent oracle. */
  def changePoint2(events: DataFrame): DataFrame = changePointK(events, 2)

  def changePoint2Q(events: DataFrame): DataFrame = changePoint2(events)

  /** K change points via BINARY SEGMENTATION, K = 4 unrolled (round 13
    * — the [[changePoint2]] generalization for multi-shift series the
    * 2-split form truncates). Classic top-down segmentation: each round
    * scores every position against ITS OWN current segment (segment-
    * local prefix mass / length / total — exactly [[changePoint2]]'s
    * rescan, iterated), picks the globally best (score DESC, day ASC)
    * candidate as the next split, and refines. Emitted rank r is the
    * r-th split in dominance order with its segment length at selection
    * time; emission is sparse (a round with no ≥2-position segment
    * emits nothing, so a 2-day series yields only rank 1).
    *
    * Segments are carried as SPLIT BOUNDARIES `(p, s_p)` — position and
    * prefix mass of each chosen split, plus the (0, 0) sentinel — so a
    * position's segment stats need NO rescan: its bound row is the
    * largest p < i, the next boundary (lead over p) closes the segment,
    * and (m, t, local index) = (b − p, s_b − s_p, i − p). At K=2 this
    * is [[changePoint2]], checked against the unrolled
    * [[changePoint2Sql]] oracle.
    *
    * §6: all-integer (segment scores ≤ m·T ≤ n·S_n); same total order
    * per round. Scale shape: ONE data-volume agg; the scored frame is
    * localCheckpoint'd once (consumed K times) and the bounds + argmax
    * frames per round (each is ≤ K+1 rows per type — the iterated-loop
    * 2^K lineage lesson from embedding_principal); every window/join
    * runs type-keyed on the |types|×|days| frame. */
  val KSplits = 4

  def changePointK(events: DataFrame, k: Int = KSplits): DataFrame = {
    val scored = scoredPrefix(events).localCheckpoint()
    val byP = Window.partitionBy("event_type").orderBy("p")
    val argmax = Window.partitionBy("event_type")
      .orderBy(col("score").desc, col("day"))
    var bounds = scored.filter(col("i") === 1)
      .select(col("event_type"), lit(0L).as("p"), lit(0L).as("sp"))
      .localCheckpoint()
    var out: Option[DataFrame] = None
    for (r <- 1 to k) {
      val segs = bounds
        .withColumn("np", lead(col("p"), 1).over(byP))
        .withColumn("nsp", lead(col("sp"), 1).over(byP))
      val best = scored.join(segs, Seq("event_type"))
        .filter(col("i") > col("p") &&
          col("i") < coalesce(col("np"), col("n_days")))
        .withColumn("m", coalesce(col("np"), col("n_days")) - col("p"))
        .withColumn("t", coalesce(col("nsp"), col("s_n")) - col("sp"))
        .withColumn("score", expr("abs((s_i - sp) * m - (i - p) * t)"))
        .withColumn("rk", row_number().over(argmax))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day"), col("i"), col("s_i"),
          col("score"), col("m"))
        .localCheckpoint() // 2 consumers: the output row + next bounds
      val row = best.select(col("event_type"), lit(r.toLong).as("rank"),
        col("day").as("split_day"), col("score").as("cusum_score"),
        col("m").as("seg_days"))
      out = Some(out.map(_.unionAll(row)).getOrElse(row))
      if (r < k)
        bounds = bounds
          .unionAll(best.select(col("event_type"), col("i").as("p"),
            col("s_i").as("sp")))
          .localCheckpoint()
    }
    out.get.orderBy("event_type", "rank")
  }

  def changePointKQ(events: DataFrame): DataFrame = changePointK(events)

  /** DuckDB twin of [[scoredPrefix]]: [[DailyCounts.DailyCte]] then
    * `scored(event_type, day, i, s_i, n_days, s_n)`, nested by all three
    * oracles. */
  private val ScoredCtes: String =
    s"""${DailyCounts.DailyCte}, scored AS (
       |  SELECT event_type, day,
       |         CAST(row_number() OVER w AS BIGINT) AS i,
       |         CAST(sum(n) OVER w AS BIGINT) AS s_i,
       |         CAST(count(*) OVER p AS BIGINT) AS n_days,
       |         CAST(sum(n) OVER p AS BIGINT) AS s_n
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |         p AS (PARTITION BY event_type)
       |)""".stripMargin

  /** Generated nested-CTE oracle — the [[changePoint2Sql]] technique
    * iterated: per round, bounds → lead-closed segments → segment-local
    * scores → argmax; the next round's bounds CTE unions the winner in. */
  private def changePointKSqlGen(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""segs$r AS (
         |  SELECT event_type, p, sp,
         |         lead(p) OVER (PARTITION BY event_type ORDER BY p) AS np,
         |         lead(sp) OVER (PARTITION BY event_type ORDER BY p) AS nsp
         |  FROM b$r
         |), cand$r AS (
         |  SELECT s.event_type, s.day, s.i, s.s_i,
         |         COALESCE(g.np, s.n_days) - g.p AS m,
         |         abs((s.s_i - g.sp) * (COALESCE(g.np, s.n_days) - g.p)
         |             - (s.i - g.p) * (COALESCE(g.nsp, s.s_n) - g.sp)) AS score
         |  FROM scored s JOIN segs$r g USING (event_type)
         |  WHERE s.i > g.p AND s.i < COALESCE(g.np, s.n_days)
         |), r$r AS (
         |  SELECT event_type, day, i, s_i, score, m
         |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
         |          ORDER BY score DESC, day) AS rk FROM cand$r)
         |  WHERE rk = 1
         |)""".stripMargin +
        (if (r < k)
          s""", b${r + 1} AS (
             |  SELECT event_type, p, sp FROM b$r
             |  UNION ALL
             |  SELECT event_type, i AS p, s_i AS sp FROM r$r
             |)""".stripMargin
        else "")
    }.mkString(", ")
    val sel = (1 to k).map(r =>
      s"SELECT event_type, CAST($r AS BIGINT) AS rank, day AS split_day, " +
        s"score AS cusum_score, m AS seg_days FROM r$r")
      .mkString("\n|UNION ALL\n|".stripMargin)
    s"""WITH $ScoredCtes, b1 AS (
       |  SELECT event_type, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS sp
       |  FROM scored WHERE i = 1
       |), $rounds
       |$sel
       |ORDER BY event_type, rank""".stripMargin
  }

  val changePointKSql: String = changePointKSqlGen(KSplits)

  val changePoint2Sql: String =
    s"""WITH $ScoredCtes, r1 AS (
       |  SELECT event_type, i AS s1_i, s_i AS s1_mass, day AS split_day,
       |         abs(s_i * n_days - i * s_n) AS cusum_score, n_days AS seg_days
       |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |          ORDER BY abs(s_i * n_days - i * s_n) DESC, day) AS rk
       |        FROM scored WHERE i < n_days)
       |  WHERE rk = 1
       |), seg AS (
       |  SELECT s.event_type, s.day,
       |         CASE WHEN s.i <= r.s1_i THEN 1 ELSE r.s1_i + 1 END AS a,
       |         CASE WHEN s.i <= r.s1_i THEN r.s1_i ELSE s.n_days END AS b,
       |         s.i, s.s_i, s.s_n, r.s1_i, r.s1_mass
       |  FROM scored s JOIN r1 r USING (event_type)
       |), seg2 AS (
       |  SELECT event_type, day, b - a + 1 AS m,
       |         abs((s_i - CASE WHEN i <= s1_i THEN 0 ELSE s1_mass END) * (b - a + 1)
       |             - (i - a + 1) * (CASE WHEN i <= s1_i THEN s1_mass ELSE s_n - s1_mass END)) AS score2
       |  FROM seg WHERE i < b
       |), r2 AS (
       |  SELECT event_type, day AS split_day, score2 AS cusum_score, m AS seg_days
       |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |          ORDER BY score2 DESC, day) AS rk
       |        FROM seg2)
       |  WHERE rk = 1
       |)
       |SELECT event_type, CAST(1 AS BIGINT) AS rank, split_day, cusum_score, seg_days FROM r1
       |UNION ALL
       |SELECT event_type, CAST(2 AS BIGINT) AS rank, split_day, cusum_score, seg_days FROM r2
       |ORDER BY event_type, rank""".stripMargin

  val changePointSql: String =
    s"""WITH $ScoredCtes, ranked AS (
       |  SELECT event_type, day, i, s_i, n_days, s_n,
       |         abs(s_i * n_days - i * s_n) AS score,
       |         row_number() OVER (PARTITION BY event_type
       |           ORDER BY abs(s_i * n_days - i * s_n) DESC, day) AS rk
       |  FROM scored
       |  WHERE i < n_days
       |)
       |SELECT event_type, day AS split_day, score AS cusum_score, n_days,
       |       (s_i * 1000) // i AS mean_before_milli,
       |       ((s_n - s_i) * 1000) // (n_days - i) AS mean_after_milli
       |FROM ranked
       |WHERE rk = 1
       |ORDER BY event_type""".stripMargin
}
