package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PAIR-INDEX AMORTIZATION ADVISOR (round 17) — the cost-model answer
  * to the question the bench's heavy tail keeps raising: WHEN does the
  * persisted τ=0 pair index ([[Dedup.pairIndex]] / [[PairIndexStore]])
  * pay for its build? Every advisor in this repo feeds a measurable
  * decision from the corpus's OWN statistics (salting_plan,
  * prefix_band_plan, minhash_band_plan, lsh_geometry_plan,
  * partition_plan); this one closes the indexed-twin family's loop.
  *
  * Cost model, in EXACT integer candidate-row units from the shingle
  * document-frequency histogram (the same sufficient statistic the
  * salting and band advisors read):
  *  - one inline τ=0 mine's join volume = Σ_s df(s)²   (`mine_rows` —
  *    every posting meets every posting of its shingle in the
  *    self-join; this is the measured cost driver of the slowest-8
  *    family, PERF.md "Persisted pair index (round 12)")
  *  - one from-index consumer's volume  = Σ_s C(df(s), 2) (`pair_rows`
  *    — the stored candidate-pair stream WITH multiplicity bound; the
  *    distinct-pair frame is ≤ this, so the indexed side's cost is
  *    conservatively OVERSTATED — a recommendation to index is safe)
  *  - k consumers inline  = k · mine_rows
  *  - k consumers indexed = mine_rows + k · pair_rows  (one build +
  *    k map passes; delta maintenance keeps the build fresh at batch
  *    cost — [[Dedup.pairIndexDelta]] — so the build is paid once per
  *    corpus, not per batch)
  *
  * Emits one row per consumer count k = 1..[[MaxConsumers]] with both
  * integer costs and the strict `use_index` verdict. Empirical anchor
  * for the model's shape: six inline consumers measured 123.9 s vs
  * build+consume 24.2 s at sf0.1 (PERF.md "Persisted pair index") —
  * the model's k=6 ratio on the same corpus calls the same winner.
  *
  * Scale: ONE map-combinable exploded-shingle aggregation (the
  * histogram) → a 1-row stats frame → an 8-row report. No pair is ever
  * materialized — the advisor reads metadata-sized sufficient stats,
  * the documented driver-probe class. */
object PairIndexPlan {

  /** Consumer counts the report covers. */
  val MaxConsumers = 8

  def pairIndexPlan(documents: DataFrame): DataFrame = {
    val dfs = Dedup.shingleExploded(documents)
      .select(expr("xxhash64(s)").as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    val stats = dfs.agg(
      coalesce(sum(expr("df * df")), lit(0L)).as("mine_rows"),
      coalesce(sum(expr("(df * (df - 1)) div 2")), lit(0L)).as("pair_rows"))
    stats
      .filter(col("mine_rows") > 0L) // empty corpus: no stats, no advice
      .select(explode(expr(
        s"sequence(CAST(1 AS BIGINT), CAST($MaxConsumers AS BIGINT))")).as("k"),
        col("mine_rows"), col("pair_rows"))
      .select(col("k"),
        (col("k") * col("mine_rows")).as("inline_cost_rows"),
        (col("mine_rows") + col("k") * col("pair_rows")).as("indexed_cost_rows"),
        ((col("mine_rows") + col("k") * col("pair_rows")) <
          col("k") * col("mine_rows")).as("use_index"))
      .orderBy("k")
  }

  def pairIndexPlanQ(documents: DataFrame): DataFrame =
    pairIndexPlan(documents)

  /** DuckDB twin: the same df histogram and integer folds (the shingle
    * text is grouped raw — same counts as the hashed Spark side, the
    * ngramJaccard convention). */
  val pairIndexPlanSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
      |), shp AS (
      |  SELECT doc_id,
      |         list_distinct([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS shingles
      |  FROM toks
      |), exp2 AS (
      |  SELECT doc_id, unnest(shingles) AS s FROM shp
      |), dfs AS (
      |  SELECT s, CAST(count(*) AS BIGINT) AS df FROM exp2 GROUP BY 1
      |), st AS (
      |  SELECT COALESCE(CAST(sum(df * df) AS BIGINT), 0) AS mine_rows,
      |         COALESCE(CAST(sum((df * (df - 1)) // 2) AS BIGINT), 0) AS pair_rows
      |  FROM dfs
      |), ks AS (
      |  SELECT unnest(range(1, 9)) AS k
      |)
      |SELECT ks.k,
      |       ks.k * st.mine_rows AS inline_cost_rows,
      |       st.mine_rows + ks.k * st.pair_rows AS indexed_cost_rows,
      |       st.mine_rows + ks.k * st.pair_rows < ks.k * st.mine_rows
      |         AS use_index
      |FROM ks CROSS JOIN st
      |WHERE st.mine_rows > 0
      |ORDER BY ks.k""".stripMargin
}
