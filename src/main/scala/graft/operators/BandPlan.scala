package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Df-BAND CALIBRATOR for the hybrid prefix join — picks
  * [[PrefixJoin.hybridJaccardPairs]]'s `dfBand` from the OBSERVED
  * shingle-df distribution instead of the [[Dedup.HotDfFloor]] constant
  * (the salting_plan / key_skew_report pattern: the report and the plan
  * are one frame, and the dial feeds straight back into the operator).
  * Reference pairwise-similarity surface: test_train.py:108-113 — same
  * family as `dedup_prefix`, whose knob this calibrates.
  *
  * Cost model (exact integers, engine-neutral): splitting the shingle
  * index at band B sends every shingle with df ≤ B through the plain
  * inverted-index self-join — candidate volume Σ_{df≤B} n(df)·C(df,2)
  * pair rows — and every hotter shingle through the hybrid's prefix
  * branch, whose work (df window, hot-heavy rank, per-candidate probes)
  * is LINEAR in the hot postings Σ_{df>B} n(df)·df, not quadratic
  * (PrefixJoin's feasibility-prune argument). So
  *
  *   est_cost(B) = cold_pair_mass(B) + [[HotProbeCostFactor]] · hot_postings(B)
  *
  * with the factor the measured order-of-magnitude premium of a probed
  * posting over a join-emitted candidate row (PERF.md "Prefix filter
  * regime": hotonly plain 8.8 s / 12.5M candidates vs hybrid 1.2 s on
  * postings-linear work). The recommendation is the cost argmin over
  * candidate bands — the distinct OBSERVED df values (the only points
  * where the cost changes), ties to the LARGEST band (prefer the plain
  * join; it has no rank/probe constant). A diffuse corpus therefore
  * recommends band = max df — all-cold, which is exactly
  * hybridJaccardPairs' LIMIT-1 fast path — and a boilerplate-heavy
  * corpus recommends the cut just under its hot mass. Any band yields
  * IDENTICAL pairs (the hybrid is exact by construction — spec-pinned by
  * feeding the recommendation back in), so the calibrator tunes cost
  * only, never correctness.
  *
  * Scale shape: one shingle-keyed exchange for the df counts, one tiny
  * groupBy to the df HISTOGRAM — every window after that runs on the
  * histogram frame, |distinct df values| rows (thousands at any corpus
  * size: df values concentrate), the catalog-bounded class where an
  * unpartitioned window is the right plan. Totals ride a 1-row broadcast
  * fact (the LmScore class). Candidate bands are capped at [[BandCap]]
  * (band² is the per-reducer candidate bound — PrefixJoin's cold-join
  * guard — so bands beyond the cap are never operable). Masses are exact
  * BIGINTs; Σ C(df,2) stays under 2⁶³ for any corpus one would consider
  * running a plain join on (postings ≤ 10¹³ × band ≤ 10⁵ ⇒ < 10¹⁸).
  */
object BandPlan {

  /** Bands above this are never viable: the cold join's per-key candidate
    * volume is band², and 10⁵² = 10¹⁰ rows under one key drowns any
    * reducer ([[Dedup.HotDfFloor]]'s rationale, two decades looser to
    * leave the cost model room to pick). */
  val BandCap = 100000L

  /** Pair-equivalents a hot POSTING costs relative to a cold candidate
    * PAIR row (rank window + prefix join + probes) — order-of-magnitude
    * from PERF.md's "Prefix filter regime" table. A plan dial, not a
    * correctness input. */
  val HotProbeCostFactor = 8L

  /** Per-candidate-band cost report + recommendation (recommended = 1 on
    * exactly one row unless the frame is empty). */
  def prefixBandPlan(documents: DataFrame,
                     bandCap: Long = BandCap,
                     probeCost: Long = HotProbeCostFactor): DataFrame = {
    val dfs = Dedup.shingleExploded(documents)
      .groupBy("s").agg(count(lit(1)).as("df"))
    planFromHistogram(dfs.groupBy("df").agg(count(lit(1)).as("n_sh")),
      bandCap, probeCost)
  }

  /** The cost-argmin core over a `(df, n_sh)` histogram frame — shared
    * by [[prefixBandPlan]] (histogram from the raw shingle strings) and
    * [[PrefixJoin.hybridJaccardAuto]] (histogram derived from the
    * hybrid's own already-checkpointed hashed index, so the registered
    * dedup_prefix calibrates its band from the SAME df pass it pays
    * anyway — the round-13 closing of the report → dial loop). */
  private[operators] def planFromHistogram(histIn: DataFrame,
                                           bandCap: Long = BandCap,
                                           probeCost: Long = HotProbeCostFactor): DataFrame = {
    val hist = histIn
      // histogram-sized (|distinct df|), 2 consumers (cum + totals) AND
      // the root of two unpartitioned windows — materialize once
      .localCheckpoint()
    val cumW = Window.orderBy("df")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum_pairs",
        sum(expr("n_sh * ((df * (df - 1)) div 2)")).over(cumW))
      .withColumn("cum_postings", sum(expr("n_sh * df")).over(cumW))
      .withColumn("cum_sh", sum(col("n_sh")).over(cumW))
    val tot = hist.agg(sum(expr("n_sh * df")).as("total_postings"),
      sum(col("n_sh")).as("total_sh"))
    val bands = cum.crossJoin(broadcast(tot)) // 1-row totals fact
      .filter(col("df") <= bandCap)
      .select(col("df").as("band"),
        col("cum_sh").as("n_cold_shingles"),
        (col("total_sh") - col("cum_sh")).as("n_hot_shingles"),
        col("cum_pairs").as("cold_pair_mass"),
        (col("total_postings") - col("cum_postings")).as("hot_postings"))
      .withColumn("est_cost",
        expr(s"cold_pair_mass + $probeCost * hot_postings"))
    val byCost = Window.orderBy(col("est_cost"), col("band").desc)
    bands.withColumn("recommended",
      when(row_number().over(byCost) === 1, 1).otherwise(0))
  }

  /** The recommended band as a driver value, for feeding
    * [[PrefixJoin.hybridJaccardPairs]] — a 1-row bounded action (the
    * hotShingles-sumRow class), falling back to [[Dedup.HotDfFloor]]
    * when the corpus has no operable band (empty, or every shingle
    * hotter than the cap). */
  def recommendedBand(documents: DataFrame,
                      bandCap: Long = BandCap,
                      probeCost: Long = HotProbeCostFactor): Long =
    bandFromPlan(prefixBandPlan(documents, bandCap, probeCost))

  /** Extract the recommended band from a (possibly persisted) plan frame
    * — the `salting_plan → saltedJoinPlanned` plan-as-data contract: the
    * plan's OUTPUT schema is the interface, so a plan written to parquet
    * in one run drives the join in the next. 1-row bounded action
    * (hotShingles-sumRow class); falls back to [[Dedup.HotDfFloor]] when
    * the plan has no operable band (empty corpus, or every shingle
    * hotter than the cap). */
  def bandFromPlan(plan: DataFrame): Long = {
    val rows = plan.filter(col("recommended") === 1).select("band").collect()
    if (rows.isEmpty) Dedup.HotDfFloor else rows(0).getLong(0)
  }

  /** Registered form: deterministic order (band is unique). */
  def prefixBandPlanQ(documents: DataFrame): DataFrame =
    prefixBandPlan(documents).orderBy("band")

  /** DuckDB twin — same histogram, same cumulative algebra, same integer
    * cost text (`//` = `div`; sums cast back from DuckDB's HUGEINT). */
  val prefixBandPlanSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |         list_distinct([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS shingles
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s FROM sh
       |), dfs AS (
       |  SELECT s, count(*) AS df FROM ex GROUP BY s
       |), hist AS (
       |  SELECT df, count(*) AS n_sh FROM dfs GROUP BY df
       |), cum AS (
       |  SELECT df,
       |         CAST(sum(n_sh * ((df * (df - 1)) // 2)) OVER (ORDER BY df) AS BIGINT) AS cum_pairs,
       |         CAST(sum(n_sh * df) OVER (ORDER BY df) AS BIGINT) AS cum_postings,
       |         CAST(sum(n_sh) OVER (ORDER BY df) AS BIGINT) AS cum_sh
       |  FROM hist
       |), tot AS (
       |  SELECT CAST(sum(n_sh * df) AS BIGINT) AS total_postings,
       |         CAST(sum(n_sh) AS BIGINT) AS total_sh
       |  FROM hist
       |), bands AS (
       |  SELECT df AS band,
       |         cum_sh AS n_cold_shingles,
       |         total_sh - cum_sh AS n_hot_shingles,
       |         cum_pairs AS cold_pair_mass,
       |         total_postings - cum_postings AS hot_postings,
       |         cum_pairs + $HotProbeCostFactor * (total_postings - cum_postings) AS est_cost
       |  FROM cum, tot
       |  WHERE df <= $BandCap
       |)
       |SELECT band, n_cold_shingles, n_hot_shingles, cold_pair_mass,
       |       hot_postings, est_cost,
       |       CASE WHEN row_number() OVER (ORDER BY est_cost, band DESC) = 1
       |            THEN 1 ELSE 0 END AS recommended
       |FROM bands
       |ORDER BY band""".stripMargin
}
