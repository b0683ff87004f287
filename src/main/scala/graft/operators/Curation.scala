package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Parity.{r, rsql}

/** Training-corpus CURATION operators (round 6, beyond the SURVEY §2
  * reference inventory): the decisions a large-scale pretraining-data
  * pipeline makes after hygiene (TextOps) and dedup (Dedup/Lsh) — is this
  * document leaking the eval set, is it internally degenerate, does it make
  * the quality cut, and does it fit the mixture budget.
  *
  * All four are oracle-able ANSI SQL shapes (no engine-internal hashes in
  * any output), and each has an explicit 100 TB plan:
  *
  *  - [[contaminationCheck]]: benchmark n-gram set is broadcast (eval sets
  *    are ~MB against a ~100 TB corpus); the probe is a map-side broadcast
  *    join + one per-doc count — never a corpus shuffle on gram.
  *  - [[ngramRepetition]]: per-row higher-order expressions only — a pure
  *    fused map pass, ZERO exchanges (spec-pinned), O(distinct·len) per doc.
  *  - [[qualitySelect]]: two-pass stratified rank count — a score-histogram
  *    aggregation, then a broadcast join + tie-bucket window; no
  *    whole-stratum sort anywhere (round 7; [[qualitySelectWindow]] keeps
  *    the single-window reference form).
  *  - [[tokenBudgetPack]]: one hash shuffle on source + a running-sum
  *    window in deterministic hash order — mixture construction that is
  *    reproducible across re-ingests (greedy prefix pack, content-keyed
  *    order like corpus_split).
  *
  * Reference relation: the reference's QC-filter → feature selection path
  * (read_gold.py, test_train.py:44-60) makes admit/—reject decisions per
  * trial; these are the corpus-scale text analogs of that gating stage.
  */
object Curation {

  // ------------------------------------------------------ contamination_check

  /** 8-gram overlap is the standard eval-decontamination shingle width
    * (long enough that chance collisions vanish, short enough that a
    * near-verbatim leak still shares most of its grams). */
  val ContamN = 8

  /** Stand-in "held-out benchmark" partition: doc_id % 20 == 7 (≈5% of the
    * corpus) — the same partition-by-id convention as
    * [[Dedup.IncrementalBatchMod]]'s batch stand-in. */
  val ContamBenchMod = 20L
  val ContamBenchRem = 7L

  /** Contaminated = at least this fraction of the doc's distinct 8-grams
    * appear anywhere in the benchmark. */
  val ContamThreshold = 0.2

  /** The distinct word n-gram set expression over `w` (the split token
    * array). Docs shorter than n tokens get an empty set: the guard is a
    * `greatest(size - (n-1), 0)` slice LENGTH, deliberately not a CASE
    * around the whole transform — a CASE at the generator position knocks
    * the downstream explode off the cheap Generate path (measured ~20×:
    * 3.1 s vs 0.15 s for the corpus explode at sf0.01). */
  private[graft] def gramArrayExpr(n: Int): String = {
    val tail = (1 until n).map(j => s", ' ', w[i + $j]").mkString
    s"array_distinct(transform(slice(w, 1, greatest(size(w) - ${n - 1}, 0)), (x, i) -> concat(x$tail)))"
  }

  /** doc_id → distinct word n-grams (space-joined), plus their count. */
  private[graft] def ngramSets(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), expr(gramArrayExpr(n)).as("grams"))
      .select(col("doc_id"), col("grams"), expr("size(grams)").as("n_grams"))

  /** Exploded (doc_id, gram) stream with the gram expression INLINE as the
    * Generate's child. Same engineering as [[Dedup.shingleExploded]]:
    * exploding a NAMED projected column lets `InferFiltersFromGenerate` +
    * predicate pushdown inline the whole 8-term transform into a Filter at
    * the scan, computing the gram array 3× per row — measured 11× wall on
    * this stage (1.7 s vs 0.15 s at sf0.01). Inline at the generator, no
    * filter is inferred and the array is built once. */
  private def ngramExploded(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), explode(expr(gramArrayExpr(n))).as("gram"))

  /** Eval-set decontamination: for every CORPUS doc, the fraction of its
    * distinct [[ContamN]]-grams that appear anywhere in the BENCHMARK
    * partition, and the contamination verdict. A doc that shares ≥ τ of its
    * grams with the eval set is a leak — exactly the check run before any
    * corpus is allowed near a training job (near-verbatim copies of eval
    * items score ~1.0; unrelated docs score 0 at this gram width).
    *
    * Scale shape: the benchmark gram set (distinct, hashed to 64-bit) is
    * BROADCAST — eval benchmarks are a few MB against a ~100 TB corpus —
    * and the corpus gram stream probes it in ONE pass: a map-side broadcast
    * LEFT join tags each distinct gram as hit/miss, and a single per-doc
    * aggregation derives BOTH n_grams (count of exploded distinct grams)
    * and n_hit from that one stream. The split+8-term-concat+array_distinct
    * transform is the expensive stage of this operator (PERF.md), so it
    * must run exactly once per corpus row — the previous two-frame form
    * (probe + a separate ngramSets pass for n_grams) paid it twice, the
    * multi-consumer re-plan the CC checkpoint discipline exists for, fixed
    * here by derivation rather than materialization. Docs whose text is too
    * short to have any n-gram never enter the exploded stream; they re-enter
    * at the final left join (against a doc_id-only column-pruned scan) as
    * n_grams = 0, n_hit = 0. The probe carries xxhash64(gram), not the
    * string (narrow rows); the exact-string SQL oracle guards collisions. */
  def contaminationCheck(documents: DataFrame,
                         n: Int = ContamN,
                         benchMod: Long = ContamBenchMod,
                         benchRem: Long = ContamBenchRem,
                         threshold: Double = ContamThreshold): DataFrame = {
    val isBench = col("doc_id") % benchMod === benchRem
    val benchGrams = ngramExploded(documents.filter(isBench), n)
      .select(expr("xxhash64(gram)").as("gh")).distinct()
      .withColumn("hit", lit(1L))
    val stats = ngramExploded(documents.filter(!isBench), n)
      .select(col("doc_id"), expr("xxhash64(gram)").as("gh"))
      .join(broadcast(benchGrams), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ng"), sum(coalesce(col("hit"), lit(0L))).as("nh"))
    documents.filter(!isBench).select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      // int cast keeps the pre-round-7 schema (n_grams was size(grams))
      .withColumn("n_grams", coalesce(col("ng"), lit(0L)).cast("int"))
      .withColumn("n_hit", coalesce(col("nh"), lit(0L)))
      // greatest(n_grams, 1): a doc too short to have any n-gram has zero
      // hits, so ratio 0 (not null) and contaminated = false on both engines
      .withColumn("overlap_ratio", expr("CAST(n_hit AS DOUBLE) / greatest(n_grams, 1)"))
      .withColumn("contaminated", col("overlap_ratio") >= threshold)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        col("overlap_ratio"), col("contaminated"))
  }

  def contaminationCheckQ(documents: DataFrame): DataFrame =
    contaminationCheck(documents)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        r("overlap_ratio", 4), col("contaminated"))
      .orderBy("doc_id")

  val contaminationCheckSql: String = {
    val joins = (1 until ContamN)
      .map(j => s" || ' ' || w[i + $j]").mkString
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
       |), g AS (
       |  SELECT doc_id,
       |         list_distinct([w[i]$joins for i in range(1, len(w) - ${ContamN - 2})]) AS grams
       |  FROM toks
       |), bench AS (
       |  SELECT DISTINCT unnest(grams) AS gram FROM g
       |  WHERE doc_id % $ContamBenchMod = $ContamBenchRem
       |), corpus AS (
       |  -- COALESCE: NULL text → NULL grams; the Spark side pins such docs
       |  -- to n_grams = 0 via its exploded-stream left join, so the oracle
       |  -- must agree (round-8 advice; same shape as docNoveltySql)
       |  SELECT doc_id, COALESCE(len(grams), 0) AS n_grams FROM g
       |  WHERE doc_id % $ContamBenchMod <> $ContamBenchRem
       |), cex AS (
       |  SELECT doc_id, unnest(grams) AS gram FROM g
       |  WHERE doc_id % $ContamBenchMod <> $ContamBenchRem
       |), hits AS (
       |  SELECT c.doc_id, count(*) AS n_hit
       |  FROM cex c JOIN bench b ON c.gram = b.gram
       |  GROUP BY 1
       |), joined AS (
       |  SELECT corpus.doc_id, n_grams, COALESCE(n_hit, 0) AS n_hit,
       |         CAST(COALESCE(n_hit, 0) AS DOUBLE) / greatest(n_grams, 1) AS overlap_ratio
       |  FROM corpus LEFT JOIN hits ON hits.doc_id = corpus.doc_id
       |)
       |SELECT doc_id, n_grams, n_hit, ${rsql("overlap_ratio", 4, "overlap_ratio")},
       |       overlap_ratio >= $ContamThreshold AS contaminated
       |FROM joined
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- doc_novelty

  /** Per-document MARGINAL NOVELTY (round 7): the fraction of a doc's
    * distinct word 8-grams never seen in any EARLIER doc (doc_id order as
    * ingest order) — the dataset-decay signal an ingest pipeline charts to
    * decide when a source is mined out, and the per-doc form of dedup
    * pressure: replicas of earlier content score ~0, fresh content ~1 (at
    * 8-gram width chance overlap vanishes, so the signal is duplication,
    * not vocabulary saturation).
    *
    * Scale shape: the exploded hashed gram stream is materialized ONCE
    * (localCheckpoint here; at 100 TB the same narrow (doc_id, gh) index
    * is persisted bucketed by gh — the asset dedup pipelines already keep,
    * cf. the persisted-LSH-index spec), because it genuinely feeds TWO
    * aggregations with different keys: per-doc gram counts, and the
    * gram→first-doc min whose own regrouping by first-doc yields per-doc
    * novel counts as a ≤|docs|-sized frame — no gram-level join-back
    * anywhere. Short docs re-enter at the final left join (doc_id-only
    * pruned scan) as n_grams = 0, n_novel = 0, ratio 0.0, and
    * all_novel = true (vacuous integer equality 0 = 0 — pinned, both
    * engines). The hash carries xxhash64(gram); the exact-string SQL
    * oracle guards collisions, same argument as [[contaminationCheck]]. */
  def docNovelty(documents: DataFrame, n: Int = ContamN): DataFrame = {
    val ex = ngramExploded(documents, n)
      .select(col("doc_id"), expr("xxhash64(gram)").as("gh"))
      .localCheckpoint()
    val perDoc = ex.groupBy("doc_id").agg(count(lit(1)).as("ng"))
    val novel = ex.groupBy("gh").agg(min("doc_id").as("fd"))
      .groupBy("fd").agg(count(lit(1)).as("nn"))
      .withColumnRenamed("fd", "doc_id")
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .withColumn("n_grams", coalesce(col("ng"), lit(0L)))
      .withColumn("n_novel", coalesce(col("nn"), lit(0L)))
      .withColumn("novelty_ratio", expr("CAST(n_novel AS DOUBLE) / greatest(n_grams, 1)"))
      .withColumn("all_novel", col("n_novel") === col("n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        col("novelty_ratio"), col("all_novel"))
  }

  def docNoveltyQ(documents: DataFrame): DataFrame =
    docNovelty(documents)
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        r("novelty_ratio", 4), col("all_novel"))
      .orderBy("doc_id")

  /** DuckDB twin mirrors the two-aggregation shape on exact gram STRINGS
    * (which is what oracles the 64-bit hash path). */
  val docNoveltySql: String = {
    val joins = (1 until ContamN).map(j => s" || ' ' || w[i + $j]").mkString
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
       |), g AS (
       |  SELECT doc_id,
       |         list_distinct([w[i]$joins for i in range(1, len(w) - ${ContamN - 2})]) AS grams
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(grams) AS gram FROM g
       |), cnt AS (
       |  SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY 1
       |), m AS (
       |  SELECT gram, min(doc_id) AS fd FROM ex GROUP BY 1
       |), novel AS (
       |  SELECT fd AS doc_id, count(*) AS n_novel FROM m GROUP BY 1
       |), j AS (
       |  SELECT d.doc_id,
       |         COALESCE(cnt.n_grams, 0) AS n_grams,
       |         COALESCE(novel.n_novel, 0) AS n_novel
       |  FROM documents d
       |  LEFT JOIN cnt ON cnt.doc_id = d.doc_id
       |  LEFT JOIN novel ON novel.doc_id = d.doc_id
       |)
       |SELECT doc_id, n_grams, n_novel,
       |       ${rsql("CAST(n_novel AS DOUBLE) / greatest(n_grams, 1)", 4, "novelty_ratio")},
       |       n_novel = n_grams AS all_novel
       |FROM j
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------- doc_ngram_repetition

  /** Gopher-style intra-document repetition gates (measured on this corpus:
    * bigram dup-ratio median 0.028 / max 0.133, top-bigram fraction median
    * 0.033 / max 0.167 — the thresholds sit above the medians so the flag
    * splits the corpus non-trivially). */
  val Dup2Max = 0.05
  val Top2Max = 0.10
  val Dup3Max = 0.05

  /** Max multiplicity over `g2` as max run of adjacent equals after
    * array_sort — O(len·log len) per row (the round-6 O(distinct·len) form
    * measured 30× slower on 100×-length docs; PERF.md "Long-document
    * stress" A/Bs this exact constant against the quadratic form, so the
    * equivalence evidence tracks the shipping expression). Aggregate over an empty
    * array returns the finish of the zero state, so the degenerate case is
    * 0 without a coalesce. */
  private[graft] val Top2RunLenExpr: String =
    """aggregate(
      |  array_sort(g2),
      |  named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
      |  (acc, x) -> named_struct(
      |    'prev', x,
      |    'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1),
      |    'best', greatest(acc.best, IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1))),
      |  acc -> acc.best)""".stripMargin

  /** The word-bigram array over `w` (no distinct — multiplicities matter
    * here, unlike [[Dedup]]'s shingle sets).
    * greatest(…, 0): `w` can now be EMPTY (NULL text coalesces to array())
    * and a bare size-1 slice length of -1 is an ANSI error. */
  private[graft] val G2Expr: String =
    "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> concat(x, ' ', w[i + 1]))"

  /** Intra-document repetition signals over word bigrams/trigrams — the
    * Gopher repetition filters: duplicate-n-gram fraction (how much of the
    * doc is n-grams it already used) and top-n-gram fraction (how much one
    * single bigram dominates), with the composite keep flag.
    *
    * Scale shape: everything is per-row higher-order expressions — a pure
    * fused MAP pass, zero exchanges (spec-pinned), embarrassingly parallel
    * at any corpus size — the deliberate trade against explode + two
    * shuffled aggregations per doc, which at 100 TB would shuffle the
    * whole token stream twice to compute a per-doc scalar (the spec
    * cross-checks this map-side computation against exactly that
    * relational form). The top-frequency term is SORT + RUN-LENGTH
    * (array_sort, then max run of adjacent equals via aggregate) —
    * O(len·log len) per row. The round-6 form (array_max over
    * per-distinct-gram filter counts) was O(distinct·len), quadratic in
    * document length: fine on this corpus's ~30-word docs but measured
    * 30× slower at 100×-length documents of the SAME total token volume
    * (10.5 s vs 0.35 s — PERF.md "Long-document stress"), a gap that grows
    * linearly with doc length; same value on every doc (cross-checked in
    * the tool and by the relational spec).
    *
    * Degenerate-doc CONVENTION (pinned both engines, spec-checked): a doc
    * too short to have any bigram/trigram — including a NULL-text doc,
    * whose token array coalesces to empty — emits counts 0 and ratios
    * 0.0 — never NULL — and keep_repetition = true (nothing to gate on). The
    * ratios are a SINGLE division of integer-derived values over
    * greatest(n, 1), identical formula text on both sides (§6). */
  def ngramRepetition(documents: DataFrame): DataFrame =
    documents
      // coalesce to array(): NULL text must hit the same counts-0/ratios-0
      // degenerate convention as a too-short doc — bare split(NULL) yields a
      // NULL array, whose size(-1)/aggregate(NULL) mix would emit a
      // half-NULL row diverging from the DuckDB twin (round-8 advice)
      .withColumn("w", expr("coalesce(split(lower(trim(text)), '\\\\s+'), array())"))
      .withColumn("g2", expr(G2Expr))
      .withColumn("g3", expr(
        "transform(slice(w, 1, greatest(size(w) - 2, 0)), (x, i) -> concat(x, ' ', w[i + 1], ' ', w[i + 2]))"))
      .withColumn("n2", expr("size(g2)"))
      .withColumn("d2", expr("size(array_distinct(g2))"))
      .withColumn("top2", expr(Top2RunLenExpr))
      .withColumn("n3", expr("size(g3)"))
      .withColumn("d3", expr("size(array_distinct(g3))"))
      .withColumn("dup2_ratio", expr("CAST(n2 - d2 AS DOUBLE) / greatest(n2, 1)"))
      .withColumn("top2_frac", expr("CAST(top2 AS DOUBLE) / greatest(n2, 1)"))
      .withColumn("dup3_ratio", expr("CAST(n3 - d3 AS DOUBLE) / greatest(n3, 1)"))
      .withColumn("keep_repetition",
        col("dup2_ratio") <= Dup2Max && col("top2_frac") <= Top2Max &&
          col("dup3_ratio") <= Dup3Max)

  def ngramRepetitionQ(documents: DataFrame): DataFrame =
    ngramRepetition(documents)
      .select(col("doc_id"), col("n2"), col("d2"), col("top2"), col("n3"), col("d3"),
        r("dup2_ratio", 4), r("top2_frac", 4), r("dup3_ratio", 4),
        col("keep_repetition"))
      .orderBy("doc_id")

  /** DuckDB twin computes the SAME scalars relationally (unnest → per-gram
    * counts → per-doc aggregates) — an independent formulation, which is
    * the point: it oracles the map-side higher-order logic. a2/a3 join back
    * LEFT with COALESCE 0 so a doc with no bigrams/trigrams emits the same
    * counts-0/ratios-0 row as the Spark side (the degenerate-doc
    * convention), instead of vanishing through an inner join. */
  val ngramRepetitionSql: String =
    s"""WITH toks AS (
       |  -- COALESCE to [] mirrors the Spark side's NULL-text guard: a NULL
       |  -- text doc emits the same counts-0/ratios-0/keep=true row
       |  SELECT doc_id, COALESCE(string_split_regex(lower(trim(text)), '\\s+'), []) AS w FROM documents
       |), g AS (
       |  SELECT doc_id,
       |         [w[i] || ' ' || w[i + 1] for i in range(1, len(w))] AS g2,
       |         [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] for i in range(1, len(w) - 1)] AS g3
       |  FROM toks
       |), c2 AS (
       |  SELECT doc_id, gram, count(*) AS c
       |  FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
       |  GROUP BY 1, 2
       |), a2 AS (
       |  SELECT doc_id, count(*) AS d2, CAST(max(c) AS BIGINT) AS top2 FROM c2 GROUP BY 1
       |), c3 AS (
       |  SELECT doc_id, gram, count(*) AS c
       |  FROM (SELECT doc_id, unnest(g3) AS gram FROM g)
       |  GROUP BY 1, 2
       |), a3 AS (
       |  SELECT doc_id, count(*) AS d3 FROM c3 GROUP BY 1
       |), j AS (
       |  SELECT g.doc_id, len(g2) AS n2,
       |         COALESCE(a2.d2, 0) AS d2, COALESCE(a2.top2, 0) AS top2,
       |         len(g3) AS n3, COALESCE(a3.d3, 0) AS d3,
       |         CAST(len(g2) - COALESCE(a2.d2, 0) AS DOUBLE) / greatest(len(g2), 1) AS dup2_ratio,
       |         CAST(COALESCE(a2.top2, 0) AS DOUBLE) / greatest(len(g2), 1) AS top2_frac,
       |         CAST(len(g3) - COALESCE(a3.d3, 0) AS DOUBLE) / greatest(len(g3), 1) AS dup3_ratio
       |  FROM g LEFT JOIN a2 ON a2.doc_id = g.doc_id LEFT JOIN a3 ON a3.doc_id = g.doc_id
       |)
       |SELECT doc_id, n2, d2, top2, n3, d3,
       |       ${rsql("dup2_ratio", 4, "dup2_ratio")},
       |       ${rsql("top2_frac", 4, "top2_frac")},
       |       ${rsql("dup3_ratio", 4, "dup3_ratio")},
       |       (dup2_ratio <= $Dup2Max AND top2_frac <= $Top2Max
       |         AND dup3_ratio <= $Dup3Max) AS keep_repetition
       |FROM j
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- quality_select

  /** Keep the top half of each language stratum by quality. */
  val SelectFraction = 0.5

  /** Percentile-based quality CURATION, stratified by language: rank every
    * doc within its lang by [[TextOps.textQuality]]'s composite score and
    * keep the top [[SelectFraction]] — "take the best half of each
    * language" rather than the fixed absolute threshold of `text_quality`'s
    * keep flag (absolute thresholds drift per stratum; quantile cuts
    * don't). Ordering is on the ROUNDED score (engine-stable text, ties
    * broken by doc_id) so ranks are deterministic cross-engine.
    *
    * This is the SCALE form (round 7, shipping): a TWO-PASS stratified rank
    * count instead of a whole-stratum percent_rank window. The single
    * `Window.partitionBy(lang)` form ([[qualitySelectWindow]]) funnels each
    * stratum's entire sort onto one reducer — at 100 TB with one dominant
    * language, that task IS the job. Here:
    *
    *  - Pass 1 aggregates the per-stratum SCORE HISTOGRAM — the rank key is
    *    the 4-decimal rounded score, so the histogram is ≤ 10⁴ rows per
    *    stratum regardless of corpus size — and a window over the HISTOGRAM
    *    (not the docs) turns it into cumulative higher-score counts + the
    *    stratum total.
    *  - Pass 2 re-scores the docs, broadcast-joins the histogram back on
    *    (lang, score bucket), and resolves ties with a row_number window
    *    partitioned by (lang, qs4) — TIE BUCKETS, not whole strata — so a
    *    dominant language spreads across reducers in proportion to its
    *    score diversity. pct_rank = (n_higher + tie_rank − 1) / (n − 1),
    *    exactly percent_rank under the total (score desc, doc_id) order:
    *    one division of exact integers, bit-identical to the window form
    *    and the DuckDB oracle (the SAME oracle gates both forms).
    *
    * The scoring map pass deliberately runs TWICE (once per pass) rather
    * than checkpointing the scored corpus — materializing a 100 TB frame to
    * save a map pass is the wrong trade; this is the documented exception
    * to the multi-consumer checkpoint discipline, the same economics as the
    * two-pass quantile estimate it implements. Spec-pinned: row equality
    * with [[qualitySelectWindow]], and a plan shape with no percent_rank
    * and no doc-row window partitioned by lang alone. */
  def qualitySelect(documents: DataFrame,
                    fraction: Double = SelectFraction): DataFrame = {
    val scored = TextOps.textQuality(documents)
      .withColumn("qs4", expr("CAST(round(quality_score * 10000.0) AS BIGINT)"))
    val hist = scored.groupBy("lang", "qs4").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("lang").orderBy(col("qs4").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = hist
      .withColumn("n_higher", sum("c").over(wCum) - col("c"))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
      .select("lang", "qs4", "n_higher", "n")
    val wTie = Window.partitionBy("lang", "qs4").orderBy("doc_id")
    // null-safe join keys: a NULL lang (nullable schema) or NULL text (→
    // NULL score → NULL qs4) forms its own stratum/tie bucket in the
    // window form, so the histogram join must match NULL groups too — a
    // plain equi-join would silently DROP those rows (round-7 review)
    val ranksR = ranks.select(col("lang").as("r_lang"), col("qs4").as("r_qs4"),
      col("n_higher"), col("n"))
    scored.join(broadcast(ranksR),
        col("lang") <=> col("r_lang") && col("qs4") <=> col("r_qs4"))
      .drop("r_lang", "r_qs4")
      .withColumn("tie_rank", row_number().over(wTie))
      .withColumn("pct_rank",
        expr("CAST(n_higher + tie_rank - 1 AS DOUBLE) / greatest(n - 1, 1)"))
      .withColumn("selected", col("pct_rank") <= fraction)
  }

  /** The single-window reference form of [[qualitySelect]] — one hash
    * shuffle on lang + a whole-stratum in-partition sort. Correct and
    * simplest at gate scale; kept as the equality oracle for the two-pass
    * scale form (CurationSpec pins row-for-row identity, which is also the
    * argument for both sharing one SQL oracle). */
  def qualitySelectWindow(documents: DataFrame,
                          fraction: Double = SelectFraction): DataFrame = {
    val scored = TextOps.textQuality(documents)
    val w = Window.partitionBy("lang")
      .orderBy(expr(Parity.rexpr("quality_score", 4)).desc, col("doc_id"))
    scored
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("selected", col("pct_rank") <= fraction)
  }

  def qualitySelectQ(documents: DataFrame): DataFrame =
    qualitySelect(documents)
      .select(col("doc_id"), col("lang"), r("quality_score", 4),
        r("pct_rank", 6), col("selected"))
      .orderBy("doc_id")

  val qualitySelectSql: String =
    s"""WITH ${TextOps.qualityScoreCtes(Seq("lang"))}, ranked AS (
       |  SELECT doc_id, lang, quality_score,
       |         percent_rank() OVER (PARTITION BY lang
       |           ORDER BY ${Parity.rexpr("quality_score", 4)} DESC, doc_id) AS pct_rank
       |  FROM q3
       |)
       |SELECT doc_id, lang, ${rsql("quality_score", 4, "quality_score")},
       |       ${rsql("pct_rank", 6, "pct_rank")},
       |       pct_rank <= $SelectFraction AS selected
       |FROM ranked
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- tfidf_topterms

  /** Top terms per document. */
  val TfidfTopK = 3

  /** Per-document top-[[TfidfTopK]] terms by tf·idf — the term-salience
    * signal retrieval-style quality scoring and topic tagging run over a
    * corpus. The idf is the BM25-style RATIO form
    * `(N - df + 0.5) / (df + 0.5)` rather than a logarithm: same ranking
    * (monotone in df), but pure +,-,*,/ double arithmetic, which both
    * engines compute bit-identically — `ln()` is libm-dependent and a
    * 1-ulp divergence under a rank boundary would flip rows (§6's
    * "no transcendental functions in ranking keys" in practice).
    *
    * Scale shape: explode tokens (inline generator) → (doc, term) tf
    * aggregation → term df aggregation → join back → per-doc top-k window.
    * The df frame is VOCABULARY-sized, so its join-back is a dial
    * (`broadcastDf`, same pattern as [[Dedup.ngramJaccardPairs]]'
    * `broadcastSizes`): true (default) broadcasts — right for any closed
    * vocabulary, where df is MBs against a corpus of any size — false
    * drops the hint so an OPEN vocabulary (urls, ids, code literals: df
    * grows with the corpus) degrades to a term-keyed shuffle join instead
    * of OOMing the build side. tf is already term-keyed from its own
    * aggregation, so the shuffle join reuses that partitioning on one
    * side. Output row-identical either way (spec-pinned). N rides as a
    * 1-row broadcast cross join in both settings. */
  def tfidfTopTerms(documents: DataFrame, k: Int = TfidfTopK,
                    broadcastDf: Boolean = true): DataFrame = {
    // tf feeds BOTH the output rows and the df aggregation — materialize it
    // once (the CC checkpoint discipline): unmaterialized, Catalyst plans
    // the token explode + (doc,term) shuffle-agg TWICE, and that pair is
    // the expensive stage of the whole operator at corpus scale
    val tf = documents
      .select(col("doc_id"), explode(expr("split(lower(trim(text)), '\\\\s+')")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(if (broadcastDf) broadcast(df) else df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", expr(
        "CAST(tf AS DOUBLE) * (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), r("score", 4), col("rank"))
  }

  def tfidfTopTermsQ(documents: DataFrame): DataFrame =
    tfidfTopTerms(documents).orderBy("doc_id", "rank")

  val tfidfTopTermsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
       |), df AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), n AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
       |), scored AS (
       |  SELECT doc_id, term, tf, df,
       |         CAST(tf AS DOUBLE) * (CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |), ranked AS (
       |  SELECT doc_id, term, tf, df, score,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
       |  FROM scored
       |)
       |SELECT doc_id, term, tf, df, ${rsql("score", 4, "score")}, rank
       |FROM ranked
       |WHERE rank <= $TfidfTopK
       |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------- corpus_report

  /** Per-source corpus HEALTH rollup — the dashboard row a training-data
    * pipeline publishes per ingest source: document count, quality-gate /
    * language-gate / dedup-canonical / admitted counts (the
    * [[TextOps.corpusFilter]] verdicts), mean quality, and token volume.
    * Mean quality goes through the integer domain (§6): per-doc scores are
    * rounded to 4 decimals and summed as BIGINT, so the per-source mean is
    * an exact integer ratio — immune to float summation order, which a
    * plain avg(double) is not.
    *
    * Scale shape: rides [[TextOps.corpusFilter]]'s single fingerprint
    * exchange, then ONE more partial-aggregated shuffle on source — 20
    * output rows summarize the corpus. */
  def corpusReport(documents: DataFrame): DataFrame =
    TextOps.corpusFilter(documents)
      .withColumn("bpe_tokens",
        expr(s"size(regexp_extract_all(text, '${TextOps.BpePattern.replace("\\", "\\\\")}', 0))"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep_quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("keep_lang"), 1L).otherwise(0L)).as("n_lang"),
        sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_canonical"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(expr("CAST(round(quality_score * 10000.0) AS BIGINT)")).as("q4_sum"),
        sum(col("bpe_tokens").cast("long")).as("sum_tokens"))
      .withColumn("mean_quality", expr("CAST(q4_sum AS DOUBLE) / n_docs / 10000.0"))
      .select(col("source"), col("n_docs"), col("n_quality"), col("n_lang"),
        col("n_canonical"), col("n_admitted"), col("sum_tokens"),
        r("mean_quality", 4))

  def corpusReportQ(documents: DataFrame): DataFrame =
    corpusReport(documents).orderBy("source")

  val corpusReportSql: String =
    s"""WITH ${TextOps.qualityScoreCtes(Seq("source", "text"))}, scored AS (
       |  SELECT doc_id, source, text, quality_score,
       |         ${TextOps.LangMarkers.map { case (l, ms) => s"${TextOps.scoreExpr(ms)} AS s_$l" }.mkString(",\n       |         ")}
       |  FROM q3
       |), lp AS (
       |  SELECT doc_id, source, quality_score,
       |         ${TextOps.predExpr} AS pred_lang,
       |         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       |         len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS bpe_tokens
       |  FROM scored
       |), fp AS (
       |  SELECT doc_id, source, quality_score, pred_lang, bpe_tokens,
       |         min(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id
       |  FROM lp
       |)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |       CAST(sum(CASE WHEN pred_lang <> 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       |       CAST(sum(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       |       CAST(sum(CASE WHEN quality_score >= 0.5 AND pred_lang <> 'unknown' AND doc_id = canonical_id THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |       CAST(sum(bpe_tokens) AS BIGINT) AS sum_tokens,
       |       ${rsql("CAST(sum(CAST(round(quality_score * 10000.0) AS BIGINT)) AS DOUBLE) / count(*) / 10000.0", 4, "mean_quality")}
       |FROM fp
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ------------------------------------------------------- token_budget_pack

  /** Per-source token budget for the packed mixture (sources here carry
    * ~1.3–1.5k BPE tokens each, so ~800 packs a bit over half of every
    * source — a non-trivial cut). */
  val BudgetPerSource = 800L

  /** Deterministic data-mixture construction: pack documents per source in
    * content-stable pseudo-random order (md5 over the doc id, same
    * hex-order trick as corpus_split) until the source's token budget is
    * exhausted — the greedy prefix pack every mixture recipe ("x tokens of
    * source A, y of source B") compiles down to. Reproducible across
    * re-ingests and engines: the order key is a hash both engines compute
    * identically, the running sum is integer-exact, and the budget test is
    * an integer compare.
    *
    * Scale shape: one hash shuffle on source + one in-partition sort for
    * the running-sum window (ROWS frame, map-side exact). At 100 TB a
    * single source can exceed one partition — [[tokenBudgetPackRange]] runs
    * the SAME prefix-sum algebra range-partitioned (per-partition totals +
    * broadcast offsets), row-identical by spec; this single-window form is
    * the gate-scale plan of that. */
  def tokenBudgetPack(documents: DataFrame,
                      budget: Long = BudgetPerSource): DataFrame = {
    val bpe = TextOps.BpePattern.replace("\\", "\\\\")
    val w = Window.partitionBy("source").orderBy("pack_key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .withColumn("bpe_tokens", expr(s"size(regexp_extract_all(text, '$bpe', 0))"))
      .withColumn("pack_key",
        expr("md5(concat('graft-pack:', CAST(doc_id AS STRING)))"))
      .withColumn("cum_tokens", sum(col("bpe_tokens").cast("long")).over(w))
      .withColumn("packed", col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("bpe_tokens"), col("pack_key"),
        col("cum_tokens"), col("packed"))
  }

  /** The GIANT-SOURCE form of [[tokenBudgetPack]] (round 7): the same
    * deterministic prefix pack when one source exceeds a single partition —
    * the case where `Window.partitionBy(source)` funnels that source's
    * whole sort onto one reducer. The prefix sum is decomposed exactly as
    * the scaladoc above promises:
    *
    *  1. range-partition on the FULL pack order (source, pack_key, doc_id),
    *     so every partition holds a contiguous slice of each source's
    *     global order;
    *  2. one tiny aggregation of per-(source, partition) totals, turned
    *     into per-partition starting OFFSETS by a window over that
    *     partition-count-sized frame;
    *  3. a local running sum within each (source, partition) slice plus the
    *     broadcast offset — same integer algebra, so `cum_tokens` is
    *     row-identical to the single-window form (spec-pinned).
    *
    * The partition id is DATA here (it selects the offset), and it derives
    * from physical partitioning — the frame is localCheckpoint'd before the
    * two consumers not just for the usual multi-consumer economics but for
    * CORRECTNESS: an unmaterialized re-plan could renumber
    * spark_partition_id between the totals pass and the final join. Output
    * does not depend on WHERE the range boundaries land, only on slices
    * being contiguous in the total order, which range partitioning on the
    * full unique key guarantees.
    *
    * `numParts ≤ 0` (the default) derives the width from
    * `spark.sql.shuffle.partitions` — the deployment's own parallelism
    * dial — so the range form scales with the cluster instead of silently
    * capping at a literal (round-8 advice; same derivation as
    * [[Dedup.ngramJaccardPairs]]' salt stats). The explicit parameter
    * remains for the partition-count-invariance sweep spec. */
  def tokenBudgetPackRange(documents: DataFrame,
                           budget: Long = BudgetPerSource,
                           numParts: Int = 0): DataFrame = {
    val parts =
      if (numParts > 0) numParts
      else documents.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
    val bpe = TextOps.BpePattern.replace("\\", "\\\\")
    val base = documents
      .withColumn("bpe_tokens", expr(s"size(regexp_extract_all(text, '$bpe', 0))"))
      .withColumn("pack_key",
        expr("md5(concat('graft-pack:', CAST(doc_id AS STRING)))"))
      .select("doc_id", "source", "bpe_tokens", "pack_key")
    val ranged = base
      .repartitionByRange(parts, col("source"), col("pack_key"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // pcnt (non-null bpe count per slice) reproduces the window form's
    // NULL semantics exactly: its running sum is NULL only while EVERY row
    // so far in the source is NULL-bpe (a NULL-text doc), so a NULL row
    // leading a LATER slice must take the prior slices' sum, not NULL —
    // local-sum + offset alone gets that wrong (round-7 review)
    val totals = ranged.groupBy("source", "pid")
      .agg(sum(col("bpe_tokens").cast("long")).as("ptotal"),
        count(col("bpe_tokens")).as("pcnt"))
    val wOff = Window.partitionBy("source").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("offset", coalesce(sum("ptotal").over(wOff), lit(0L)))
      .withColumn("prior_cnt", coalesce(sum("pcnt").over(wOff), lit(0L)))
      .select("source", "pid", "offset", "prior_cnt")
    val wLocal = Window.partitionBy("source", "pid").orderBy("pack_key", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe on source: the window form keeps a NULL-source partition,
    // so the offsets join must match the NULL group rather than drop it
    val offsetsR = offsets.select(col("source").as("o_source"),
      col("pid").as("o_pid"), col("offset"), col("prior_cnt"))
    ranged.join(broadcast(offsetsR),
        col("source") <=> col("o_source") && col("pid") === col("o_pid"))
      .drop("o_source", "o_pid")
      .withColumn("local_cum", sum(col("bpe_tokens").cast("long")).over(wLocal))
      .withColumn("cum_tokens",
        expr("CASE WHEN local_cum IS NULL AND prior_cnt = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE coalesce(local_cum, 0) + offset END"))
      .withColumn("packed", col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("bpe_tokens"), col("pack_key"),
        col("cum_tokens"), col("packed"))
  }

  def tokenBudgetPackQ(documents: DataFrame): DataFrame =
    tokenBudgetPack(documents).orderBy("doc_id")

  /** Registered twin of [[tokenBudgetPackRange]] — shares
    * [[tokenBudgetPackSql]] as its oracle, valid because the spec pins
    * row identity with the window form at several partition counts (the
    * same shared-oracle argument as dedup_incremental_lsh). */
  def tokenBudgetPackRangeQ(documents: DataFrame): DataFrame =
    tokenBudgetPackRange(documents).orderBy("doc_id")

  val tokenBudgetPackSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS bpe_tokens,
       |         md5('graft-pack:' || CAST(doc_id AS VARCHAR)) AS pack_key
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, source, bpe_tokens, pack_key,
       |         CAST(sum(bpe_tokens) OVER (PARTITION BY source
       |           ORDER BY pack_key, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM t
       |)
       |SELECT doc_id, source, bpe_tokens, pack_key, cum_tokens,
       |       cum_tokens <= $BudgetPerSource AS packed
       |FROM c
       |ORDER BY doc_id""".stripMargin
}
