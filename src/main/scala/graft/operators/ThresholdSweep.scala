package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** NEAR-DUP THRESHOLD SWEEP (round 8, continuation 5) — pair volume at
  * every candidate Jaccard cut (0.5…0.9) from ONE pass over the exact
  * pair stream: the τ-dial calibration for the whole dedup family
  * ([[SessionGapSweep]]'s pattern applied to [[Dedup.JaccardThreshold]]
  * — the elbow of this curve is where τ belongs, and the curve's tail
  * mass is what a 0.1 loosening would delete from the corpus).
  *
  * Cross-engine exactness (SURVEY §6): every cut is the INTEGER cross
  * product `inter·10 ≥ t·union` — no float jaccard in any predicate
  * (the shipped 0.8 filter's float form is provably equivalent at
  * these magnitudes, and the spec pins the τ=0.8 row count equal to
  * dedup_ngram_jaccard's row count — sweep and operator share one
  * contract); per-pair jaccard milli is `inter·1000 div union`,
  * averaged by integer division with the greatest-1 guard.
  *
  * Scale shape: candidate generation is [[Dedup.ngramJaccardPairs]] at
  * τ=0 — the SAME Σ df² inverted-index work the shipped exact contract
  * already pays (the filter was always the last, free step); then a
  * 1-ROW aggregate with two conditional sums per cut, unpivoted by
  * stack — the sweep itself is corpus-free. The base operator's dials
  * pass through: `saltCandidates` (lossless placement fix) and `maxDf`
  * (lossy volume cap — at τ=0 the pair stream inherits the exact
  * contract's Σ df² in FULL, with none of the 0.8 filter's tail
  * discount, so on a dense near-dup corpus maxDf is the dial that
  * keeps the sweep affordable; numbers in PERF.md "Curation suite at 10×
  * gate volume").
  */
object ThresholdSweep {

  /** Jaccard cuts in tenths; includes the shipped 0.8. */
  val CutsT10: Seq[Int] = Seq(5, 6, 7, 8, 9)

  def dedupThresholdSweep(documents: DataFrame,
                          maxDf: Option[Long] = None,
                          saltCandidates: Option[Int] = None): DataFrame =
    sweepOverPairs(Dedup.ngramJaccardPairs(documents, threshold = 0.0,
      maxDf = maxDf, saltCandidates = saltCandidates))

  /** The sweep fed from a persisted [[Dedup.pairIndex]] — the τ=0 stats
    * ARE the index rows, so the whole operator becomes one 1-row
    * aggregate over the stored frame (round-12 mine-once economics;
    * row-identity in InfraSpec). */
  def dedupThresholdSweepFromIndex(index: DataFrame): DataFrame =
    sweepOverPairs(index)

  private def sweepOverPairs(pairFrame: DataFrame): DataFrame = {
    val pairs = pairFrame
      .select(col("inter").cast("long").as("inter"),
        expr("CAST(n1 + n2 - inter AS BIGINT)").as("u"))
    val aggCols = CutsT10.flatMap(t => Seq(
      sum(expr(s"CASE WHEN inter * 10 >= $t * u THEN 1 ELSE 0 END")).as(s"n$t"),
      sum(expr(s"CASE WHEN inter * 10 >= $t * u THEN (inter * 1000) div u ELSE 0 END"))
        .as(s"j$t")))
    val agg = pairs.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = CutsT10
      .map(t => s"CAST(${t * 10} AS BIGINT), n$t, j$t").mkString(", ")
    agg.selectExpr(s"stack(${CutsT10.size}, $stackArgs) AS (tau_pct, n_pairs, j_sum)")
      .filter(col("n_pairs").isNotNull) // empty pair stream → zero rows
      .select(col("tau_pct"), col("n_pairs"),
        expr("j_sum div greatest(n_pairs, 1)").as("avg_jaccard_milli"))
  }

  def dedupThresholdSweepQ(documents: DataFrame): DataFrame =
    dedupThresholdSweep(documents).orderBy("tau_pct")

  /** Rides [[Dedup.ngramJaccardSqlBody]]'s pair chain verbatim (the
    * body's own 0.8 `jpairs` CTE goes unused — the sweep reads
    * `rawpairs`, before any threshold). */
  val dedupThresholdSweepSql: String = {
    val aggCols = CutsT10.map(t =>
      s"CAST(sum(CASE WHEN inter * 10 >= $t * u THEN 1 ELSE 0 END) AS BIGINT) AS n$t,\n" +
        s"       |         CAST(sum(CASE WHEN inter * 10 >= $t * u THEN (inter * 1000) // u ELSE 0 END) AS BIGINT) AS j$t")
      .mkString(",\n       |         ")
    val rows = CutsT10.map(t =>
      s"SELECT CAST(${t * 10} AS BIGINT) AS tau_pct, n$t AS n_pairs, j$t AS j_sum FROM agg")
      .mkString("\n       |  UNION ALL ")
    s"""WITH ${Dedup.ngramJaccardSqlBody}, upairs AS (
       |  SELECT CAST(inter AS BIGINT) AS inter,
       |         CAST(n1 + n2 - inter AS BIGINT) AS u
       |  FROM rawpairs
       |), agg AS (
       |  SELECT $aggCols
       |  FROM upairs
       |), rows_out AS (
       |  $rows
       |)
       |SELECT tau_pct, n_pairs, j_sum // greatest(n_pairs, 1) AS avg_jaccard_milli
       |FROM rows_out
       |WHERE n_pairs IS NOT NULL
       |ORDER BY tau_pct""".stripMargin
  }
}
