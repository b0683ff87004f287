package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Parity.rsql

/** Near-duplicate detection over `documents` (SURVEY.md §2.C 28): exact
  * word-bigram Jaccard via an inverted-index self-join.
  *
  * Scale shape (100 TB): explode distinct shingles → hash self-join on the
  * shingle string → count shared shingles per pair → exact Jaccard. This is
  * the classic sub-quadratic candidate generation: cost is Σ df(s)² over
  * shingles, NOT n² over documents — no cross join anywhere in the plan
  * (the spec asserts the join is a hash join). At corpus scale you would
  * additionally drop ultra-frequent shingles (df cap) before the join;
  * with this corpus every bigram is rare, so no cap is applied.
  */
object Dedup {

  val JaccardThreshold = 0.8

  /** A shingle with df ≤ this can contribute at most ~1M candidate rows —
    * never enough to overflow a reducer — so it is never worth salting
    * regardless of what share of Σ df² it holds (guards the degenerate
    * tiny-corpus case where mean-share would mark everything hot). */
  val HotDfFloor = 1000L

  /** The distinct word-bigram shingle-set expression over `w` (the split
    * token array). Shared text between the array form and the exploded
    * form below. */
  private[operators] val ShingleArrayExpr =
    "array_distinct(transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i + 1])))"

  /** doc_id → distinct word-bigram shingles + shingle count. */
  def shingleSets(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), expr(ShingleArrayExpr).as("shingles"))
      .select(col("doc_id"), col("shingles"), expr("size(shingles)").as("nsh"))

  /** Exploded (doc_id, shingle) stream with the shingle expression INLINE
    * as the Generate's child — deliberately NOT `shingleSets(...).select(
    * explode(col("shingles")))`. Exploding a NAMED projected column lets
    * `InferFiltersFromGenerate` add `size(col) > 0 AND isnotnull(col)`,
    * and predicate pushdown then inlines the whole split+transform+distinct
    * expression into a Filter at the scan — the array is computed 3× per
    * input row (measured 3.3× wall on this stage at sf0.01; 11× for the
    * 8-gram analog in Curation). With the expression inline at the
    * generator, no filter is inferred and the array is built exactly once.
    * Explode itself already drops empty arrays, so the filter was pure
    * overhead. */
  private[graft] def shingleExploded(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), explode(expr(ShingleArrayExpr)).as("s"))

  /** Exact Jaccard ≥ τ pairs via the inverted-index join.
    *
    * Join-cost engineering: the self-join carries a 64-bit xxhash of the
    * shingle (not the string) and nothing else per row — on a dense-
    * vocabulary corpus the candidate join is Σ df(s)² rows, so payload
    * width is the dominant shuffle cost. Doc shingle counts are joined
    * back AFTER the pair aggregation instead of riding through the join —
    * but note the BUILD side of that join-back is the `sizes` frame, ONE
    * ROW PER DOCUMENT (the |pairs|-row frame is the probe side): at 10⁹
    * docs a broadcast sizes frame is a ~16 GB build side, an OOM rather
    * than a slowdown. `broadcastSizes` is therefore a dial, identical in
    * spirit to [[dedupIncremental]]'s `broadcastBatch`: true (default)
    * hints both size dims broadcast — right whenever the corpus's doc
    * COUNT is broadcast-sized, which covers every per-tenant/per-shard
    * invocation — false drops the hints so the join-back becomes two
    * doc_id-keyed shuffle joins against the (much smaller) aggregated
    * pair frame, and AQE may still locally re-choose broadcast from real
    * sizes. Output is row-identical either way (spec-pinned). A 64-bit
    * key collision inside one corpus (p ≈ |shingles|²/2⁶⁵) would perturb
    * one `inter` count; the exact-string oracle guards it.
    *
    * `maxDf` is the LOSSY scale escape hatch for adversarially dense
    * corpora where Σ df² degenerates toward n² (PERF.md): shingles with
    * document frequency above the cap are dropped from the index BEFORE
    * the self-join, bounding its cost at Σ min(df, cap)². Because document
    * shingle counts (n1, n2) stay exact while `inter` can only shrink, the
    * capped Jaccard underestimates — output is a SUBSET of the exact pair
    * set (never false positives), and recall is whatever the cap leaves.
    * Default None = exact contract; opt in only when the corpus density
    * demands it.
    *
    * `saltCandidates` is the LOSSLESS complement for the same hot-shingle
    * distribution: a shingle with df=d contributes d² candidate rows that
    * all hash to ONE reducer in the plain self-join. Salting is applied
    * HOT-KEYS-ONLY via [[Skew.saltedJoinHot]]: shingles whose own df²
    * exceeds both the mean per-reducer share of Σ df² and an absolute
    * floor ([[HotDfFloor]]) are salted `salt`-ways; every other shingle
    * takes the untouched plain join. Blanket salting was measured NET
    * NEGATIVE at 10× gate volume (PERF.md "Σ df² dials": replicating the
    * whole right side 32× cost 54 s vs 31 s unsalted on a corpus whose hot
    * task only cost ~10 s) — the fix for "one reducer owns df²=25M rows"
    * must not tax the 76M rows that were already balanced. Same output
    * row-for-row (spec-pinned); Σ df² total work is unchanged — this fixes
    * WHERE the work lands, not how much there is; combine with maxDf when
    * the total itself is the problem. */
  def ngramJaccardPairs(documents: DataFrame, threshold: Double = JaccardThreshold,
                        maxDf: Option[Long] = None,
                        saltCandidates: Option[Int] = None,
                        broadcastSizes: Boolean = true): DataFrame = {
    val sh = shingleSets(documents)
    val exAll = shingleExploded(documents)
      .select(col("doc_id"), expr("xxhash64(s)").as("sh"))
    val ex = maxDf match {
      case Some(cap) =>
        val rare = exAll.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("sh")
        exAll.join(rare, Seq("sh"))
      case None => exAll
    }
    val a = ex.select(col("doc_id").as("id1"), col("sh"))
    val b = ex.select(col("doc_id").as("id2"), col("sh"))
    val sizes = sh.select(col("doc_id"), col("nsh"))
    val candidates = saltCandidates match {
      case Some(salt) =>
        // this path consumes the exploded index ≥5× (df stats + the
        // semi/anti hot-cold splits of both join sides); materialize it
        // once or every consumer re-runs the split/shingle/explode
        // pipeline (measured +60% wall on the no-hot-keys corpus)
        val exM = ex.localCheckpoint()
        val aM = exM.select(col("doc_id").as("id1"), col("sh"))
        val bM = exM.select(col("doc_id").as("id2"), col("sh"))
        val parts = documents.sparkSession.conf
          .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
        Skew.saltedJoinHot(aM, bM, "sh", salt, hotShingles(exM, parts, HotDfFloor))
      // SHUFFLED-HASH hint (round 17, guide §3.1): the candidate self-join
      // carries 16-byte rows on a dense shingle key — SMJ's per-partition
      // sort + duplicate-group buffering measured 5.7 s vs SHJ's 1.2 s at
      // sf0.1 (OPTIMIZATION_r17.md §1, V0/V3; the sorts dominate because
      // every key has df² outputs to re-scan). The hint is forced
      // because AQE's own SMJ→SHJ rewrite is size-gated by
      // maxShuffledHashJoinLocalMapThreshold and would not take this
      // plan on its own. Caveat: the per-partition build is
      // gramStream/shuffle.partitions rows, so at a fixed partition count
      // an adversarially dense corpus makes the forced build an OOM
      // class, not a slowdown. Output is row-identical under any join
      // strategy.
      case None => a.hint("shuffle_hash").join(b, Seq("sh"))
    }
    def dim(df: DataFrame): DataFrame = if (broadcastSizes) broadcast(df) else df
    candidates
      .filter(col("id1") < col("id2"))
      // PAIR-KEYED exchange BEFORE the aggregation (round 17; mechanism
      // corrected round 18 per the r17 advisor): the (id1,id2) count over
      // Σ C(df,2) candidate rows is the mine's measured cost center (the
      // partial hash agg builds ~30M-entry maps for a ~1.2× reduction —
      // near-pure overhead on this key distribution). Exchanging the RAW
      // ~16-byte candidate rows by pair key replaces the partial→final
      // hash-agg exchange with this ONE exchange; both hash aggregates
      // then run back-to-back in the same stage over already-clustered
      // keys. The r17 comment credited a streaming SortAggregate via
      // replaceHashWithSortAgg — the committed plans show that rule never
      // fired (EliminateSorts drops an order-irrelevant
      // sortWithinPartitions under a hash agg, so the rule never sees a
      // sorted child); the measured win (14.9 → 4.75 s on the τ=0 index)
      // was the SHJ candidate join + this single pair-keyed exchange.
      // Re-measured r18 with the inert sort removed: identical
      // (OPTIMIZATION_r18.md §1, V7 vs V10). Output is row-identical by
      // construction.
      .repartition(col("id1"), col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("inter"))
      .join(dim(sizes.select(col("doc_id").as("id1"), col("nsh").as("n1"))), Seq("id1"))
      .join(dim(sizes.select(col("doc_id").as("id2"), col("nsh").as("n2"))), Seq("id2"))
      .withColumn("jaccard", expr("CAST(inter AS DOUBLE) / (n1 + n2 - inter)"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shingle keys worth salting: df² above BOTH the mean per-reducer share
    * of Σ df² (the key alone outweighs an average reducer's candidate
    * load — the same keys AQE's skew split would flag) and `dfFloor`
    * (absolute volume floor). One cheap stats agg over the exploded
    * shingle index; the result is a broadcast-sized key list. */
  private[graft] def hotShingles(ex: DataFrame, parts: Int, dfFloor: Long): DataFrame = {
    val dfs = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    val sumRow = dfs.agg(sum(expr("df * df")).as("s")).head()
    val sumDf2 = if (sumRow.isNullAt(0)) 0L else sumRow.getLong(0)
    dfs.filter(col("df") > dfFloor && expr(s"df * df > ${sumDf2 / parts}"))
      .select("sh")
  }

  def ngramJaccardQ(documents: DataFrame): DataFrame =
    ngramJaccardPairs(documents)
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        Parity.r("jaccard", 4))
      .orderBy("id1", "id2")

  // --- persisted pair index (round 12) -------------------------------------
  //
  // Six of the bench's slowest-8 (ngram_jaccard, cluster, keep_best,
  // threshold_sweep, split_leakage, source_dup_rate) independently re-run
  // the SAME Σ df² inverted-index join over the same corpus — the τ=0
  // exact pair stream is their shared sufficient statistic. At 100 TB the
  // right shape is mine-once-consume-many: materialize the index ONCE,
  // persist it bucketed by id1, and feed every consumer from the stored
  // frame (ParagraphDedup/LSH-index InfraSpec precedent). Every from-index
  // form below is row-identical to its inline twin BY CONSTRUCTION (the
  // inline forms all end in a jaccard-threshold filter over exactly these
  // five columns) and spec-pinned in InfraSpec; amortized cost in PERF.md.

  /** The τ=0 exact pair index: every candidate pair sharing ≥1 shingle,
    * with its sufficient statistics (id1, id2, inter, n1, n2). Persist
    * this bucketed by id1; jaccard at ANY threshold is a map over it. */
  def pairIndex(documents: DataFrame): DataFrame =
    ngramJaccardPairs(documents, threshold = 0.0)
      .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))

  /** Thresholded pair stream from a (persisted) [[pairIndex]] frame —
    * row-identical to `ngramJaccardPairs(docs, threshold)` without the
    * Σ df² mine: one map + filter over the stored stats. */
  def pairsFromIndex(index: DataFrame,
                     threshold: Double = JaccardThreshold): DataFrame =
    index
      .withColumn("jaccard", expr("CAST(inter AS DOUBLE) / (n1 + n2 - inter)"))
      .filter(col("jaccard") >= threshold)

  /** Containment threshold — the kept fraction of the SMALLER set. */
  val ContainmentThreshold = 0.8

  /** CONTAINMENT-SIMILARITY MINER (round 17) — the asymmetric twin of
    * the Jaccard miner (Broder 1997's resemblance/containment pair,
    * public): `C = inter / min(n1, n2)`, the fraction of the SMALLER
    * document's shingles the pair shares. This is the near-SUPERSET
    * detector Jaccard is structurally blind to: a short document fully
    * embedded in a long one has containment 1.0 but Jaccard
    * `min/max ≈ 0` — boilerplate-plus-payload pages, quoted-in-full
    * reposts, and doc-in-concatenation shapes that a training-data
    * pipeline must catch (the same failure class dedup_substring
    * attacks at span granularity; this is its document-granularity,
    * index-amortizable form). Same τ=0 candidate mine and sufficient
    * statistics as [[pairIndex]] — containment is a pure map over the
    * stored (inter, n1, n2) integers, so the persisted index serves
    * BOTH similarity algebras at zero extra mining cost.
    *
    * §6: the gate is the exact integer cross-product
    * `inter·100 ≥ pct·min(n1, n2)` (never a float threshold);
    * `containment` ships under the shared round-4 text;
    * `contained_id` = the smaller side (ties → id1) names which
    * document is the (near-)subset. Scale: identical contract to the
    * Jaccard miner — Σ df² candidate volume, maxDf/salting dials pass
    * through, the indexed twin amortizes the mine. */
  def containmentPairs(documents: DataFrame,
                       threshold: Double = ContainmentThreshold,
                       maxDf: Option[Long] = None,
                       saltCandidates: Option[Int] = None,
                       broadcastSizes: Boolean = true): DataFrame =
    containmentFromIndex(
      ngramJaccardPairs(documents, threshold = 0.0, maxDf, saltCandidates,
        broadcastSizes),
      threshold)

  /** Thresholded containment stream from a (persisted) [[pairIndex]]
    * frame — the same map/filter the inline miner ends in, so inline
    * and indexed twins are row-identical by construction. */
  def containmentFromIndex(index: DataFrame,
                           threshold: Double = ContainmentThreshold): DataFrame = {
    val pct = math.round(threshold * 100)
    index
      .filter(expr(s"inter * 100 >= $pct * least(n1, n2)"))
      .withColumn("containment", expr("CAST(inter AS DOUBLE) / least(n1, n2)"))
      .withColumn("contained_id", expr("CASE WHEN n1 <= n2 THEN id1 ELSE id2 END"))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        col("contained_id"), Parity.r("containment", 4))
  }

  def containmentQ(documents: DataFrame): DataFrame =
    containmentPairs(documents).orderBy("id1", "id2")

  /** BOILERPLATE-FAMILY clusters: connected components over the
    * containment pair graph — chains of doc-in-doc embeddings
    * (template + payload, quote-of-a-quote) collapse into one family
    * labeled by its min doc_id, exactly the [[dedupClusters]] shape
    * under the asymmetric algebra. A Jaccard clustering leaves these
    * documents singletons (the spec pins both directions). */
  def containmentClusters(documents: DataFrame,
                          threshold: Double = ContainmentThreshold,
                          maxIters: Int = 20): DataFrame =
    clustersFromPairs(documents,
      containmentPairs(documents, threshold).select("id1", "id2"), maxIters)

  /** [[containmentClusters]] fed from a (persisted) [[pairIndex]] frame
    * — the registered, mine-amortized form. */
  def containmentClustersFromIndex(documents: DataFrame, index: DataFrame,
                                   threshold: Double = ContainmentThreshold,
                                   maxIters: Int = 20): DataFrame =
    clustersFromPairs(documents,
      containmentFromIndex(index, threshold).select("id1", "id2"), maxIters)

  /** DuckDB twin: [[dedupClustersSql]]'s recursive closure over the
    * containment-gated pair set. */
  lazy val containmentClustersSql: String =
    s"""WITH RECURSIVE $ngramJaccardSqlBody, cpairs AS (
       |  SELECT id1, id2 FROM rawpairs
       |  WHERE inter * 100 >= ${math.round(ContainmentThreshold * 100)} * least(n1, n2)
       |), edges AS (
       |  SELECT id1 AS u, id2 AS v FROM cpairs
       |  UNION ALL
       |  SELECT id2 AS u, id1 AS v FROM cpairs
       |), reach AS (
       |  SELECT doc_id AS doc, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.u AS doc, reach.r FROM edges e JOIN reach ON reach.doc = e.v
       |), cc AS (
       |  SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc
       |)
       |SELECT d.doc_id, cc.cluster_id, d.doc_id = cc.cluster_id AS is_canonical
       |FROM documents d JOIN cc ON cc.doc = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB twin: the shared τ=0 `rawpairs` stats + the same integer
    * gate and round-4 containment text. */
  val containmentSql: String =
    s"""WITH $ngramJaccardSqlBody, cp AS (
       |  SELECT id1, id2, n1, n2, inter,
       |         CASE WHEN n1 <= n2 THEN id1 ELSE id2 END AS contained_id,
       |         CAST(inter AS DOUBLE) / least(n1, n2) AS containment
       |  FROM rawpairs
       |  WHERE inter * 100 >= ${math.round(ContainmentThreshold * 100)} * least(n1, n2)
       |)
       |SELECT id1, id2, n1, n2, inter, contained_id,
       |       ${rsql("containment", 4, "containment")}
       |FROM cp
       |ORDER BY id1, id2""".stripMargin

  /** INCREMENTAL index maintenance (round 12): the rows a new batch
    * ADDS to a persisted [[pairIndex]] — mined WITHOUT re-touching the
    * corpus-corpus pair space. Key fact: per-doc shingle sets never
    * change, so an existing pair's (inter, n1, n2) is immutable and the
    * full-corpus index minus the corpus-only index is exactly the pairs
    * with ≥1 batch endpoint. Those are two bounded joins — batch×corpus
    * and batch×batch shingle joins (Σ df_B·df or df_B² per shingle,
    * never corpus²) — so the standing index stays fresh at batch cost:
    * mine the delta, APPEND it (the CommitLog-backed index InfraSpec
    * row makes that literal), and every from-index consumer sees the
    * updated corpus. Registered and DuckDB-oracled: the oracle computes
    * the FULL τ=0 stats and filters to batch-touching pairs — agreement
    * proves the delta mine is exactly the full mine's increment
    * (set identity also spec-pinned corpus∪delta == full). */
  def pairIndexDelta(documents: DataFrame,
                     batchMod: Long = IncrementalBatchMod,
                     broadcastSizes: Boolean = true): DataFrame =
    pairIndexDeltaFrames(
      documents.filter(col("doc_id") % batchMod =!= 0),
      documents.filter(col("doc_id") % batchMod === 0),
      broadcastSizes)

  /** [[pairIndexDelta]] with the batch identified by FRAME rather than
    * id arithmetic — the streaming label-maintenance form (round 15):
    * corpus and batch arrive as separate frames (the arrived table and
    * the micro-batch), same two bounded joins, same output contract. */
  def pairIndexDeltaFrames(corpus: DataFrame, batch: DataFrame,
                           broadcastSizes: Boolean = true): DataFrame = {
    // broadcastSizes: same dial and rationale as [[ngramJaccardPairs]] —
    // the sizes frame is ONE ROW PER DOCUMENT; default true covers every
    // broadcast-sized-doc-count invocation, false drops the hints for
    // corpora where even the doc spine is too big to ship
    def dim(df: DataFrame): DataFrame = if (broadcastSizes) broadcast(df) else df
    def ex(df: DataFrame) =
      shingleExploded(df).select(col("doc_id"), expr("xxhash64(s)").as("sh"))
    // the BATCH-side exploded stream feeds three join sides (bCross's
    // probe + both sides of bWithin) — batch-sized, so materializing it
    // once is cheap and saves two filter+split+shingle map passes (the
    // multi-consumer invariant; the CORPUS side stays single-consumer
    // and is deliberately NOT checkpointed — it is the 100 TB side)
    val bEx = ex(batch).localCheckpoint()
    // SHJ hints + ONE pair-keyed exchange before the count — the same
    // round-17 treatment as [[ngramJaccardPairs]] (measured there: SMJ
    // 5.7 s vs SHJ 1.2 s on the candidate join; see the corrected
    // mechanism note there — the win is the join strategy + the single
    // raw-row exchange, not a sort agg). The BUILD side is the BATCH gram
    // stream both times — the bounded side at 100 TB, so the per-partition
    // hash table is batch-sized by construction (unlike the corpus
    // self-join's unconditional hint, this one is size-bounded by the
    // batch contract itself).
    val bCross = bEx.select(col("doc_id").as("ida"), col("sh"))
      .hint("shuffle_hash")
      .join(ex(corpus).select(col("doc_id").as("idb"), col("sh")), Seq("sh"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
    val bWithin = bEx.select(col("doc_id").as("id1"), col("sh"))
      .hint("shuffle_hash")
      .join(bEx.select(col("doc_id").as("id2"), col("sh")), Seq("sh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
    val sizes = shingleSets(corpus.unionByName(batch))
      .select(col("doc_id"), col("nsh"))
    bCross.unionAll(bWithin)
      .repartition(col("id1"), col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("inter"))
      .join(dim(sizes.select(col("doc_id").as("id1"), col("nsh").as("n1"))), Seq("id1"))
      .join(dim(sizes.select(col("doc_id").as("id2"), col("nsh").as("n2"))), Seq("id2"))
      .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))
  }

  def pairIndexDeltaQ(documents: DataFrame): DataFrame =
    pairIndexDelta(documents).orderBy("id1", "id2")

  /** Containment admission at BATCH cost (round 17): the batch-touching
    * containment pairs — [[pairIndexDelta]]'s two bounded joins feed the
    * same [[containmentFromIndex]] map, so a standing corpus admits new
    * documents against the asymmetric algebra without re-touching the
    * corpus×corpus pair space (a batch doc that is a near-subset OR
    * near-superset of any standing doc surfaces here; the incremental
    * matrix's containment cell). Oracle = the FULL τ=0 stats filtered to
    * batch-touching + the containment gate — agreement proves the delta
    * mine is exactly the full mine's increment under this algebra too. */
  def containmentIncremental(documents: DataFrame,
                             batchMod: Long = IncrementalBatchMod): DataFrame =
    containmentFromIndex(pairIndexDelta(documents, batchMod))

  def containmentIncrementalQ(documents: DataFrame): DataFrame =
    containmentIncremental(documents).orderBy("id1", "id2")

  /** DuckDB twin: [[pairIndexDeltaSql]]'s batch-touching filter composed
    * with [[containmentSql]]'s gate over the shared rawpairs stats.
    * (lazy: [[IncrementalBatchMod]] initializes below this point — an
    * eager val would interpolate 0.) */
  lazy val containmentIncrementalSql: String =
    s"""WITH $ngramJaccardSqlBody, cp AS (
       |  SELECT id1, id2, n1, n2, inter,
       |         CASE WHEN n1 <= n2 THEN id1 ELSE id2 END AS contained_id,
       |         CAST(inter AS DOUBLE) / least(n1, n2) AS containment
       |  FROM rawpairs
       |  WHERE inter * 100 >= ${math.round(ContainmentThreshold * 100)} * least(n1, n2)
       |    AND (id1 % $IncrementalBatchMod = 0 OR id2 % $IncrementalBatchMod = 0)
       |)
       |SELECT id1, id2, n1, n2, inter, contained_id,
       |       ${rsql("containment", 4, "containment")}
       |FROM cp
       |ORDER BY id1, id2""".stripMargin

  /** The PERSISTED gram index's row shape (round 16 — the r15 weak
    * finding on the streaming label maintainer): one row per (doc,
    * distinct shingle hash), each carrying the doc's shingle count —
    * denormalized so a pair mine over stored grams needs NO join back
    * to document text for sizes. This is the frame a maintainer
    * appends per batch (batch-sized shingling work) so that
    * [[pairIndexDeltaFromGrams]] can mine batch-touching pairs against
    * STORED integers instead of re-shingling the arrived corpus every
    * micro-batch: at 100 TB the per-batch cost drops from a full
    * corpus text scan + re-shingle to a columnar long scan of the
    * index — and the shingle/explode/hash map work runs exactly once
    * per document, ever. `nsh` int (the [[shingleSets]] `size()`
    * type) so gram-fed and text-fed delta mines are schema-identical
    * (spec-pinned row identity). */
  def gramIndex(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    shingleExploded(documents)
      .select(col("doc_id"), expr("xxhash64(s)").as("sh"))
      // shingleExploded emits DISTINCT shingles per doc (array_distinct
      // upstream), so the per-doc row count IS nsh — a window on the
      // doc key (per-doc gram counts are text-length-bounded, never a
      // hot unbounded-df key) instead of a sizes join
      .withColumn("nsh", count(lit(1)).over(w).cast("int"))
  }

  /** [[pairIndexDeltaFrames]] fed from GRAM frames (round 16): corpus
    * side = the persisted [[gramIndex]] store, batch side = the new
    * batch's grams — same two bounded joins (Σ df_B·df and df_B² per
    * shingle, never corpus²), same (id1, id2, inter, n1, n2) output,
    * row-identical to the text-fed form by construction (inter counts
    * shared distinct shingle hashes, n1/n2 ride the denormalized
    * counts; IncrementalCcSpec pins identity). The corpus side is a
    * stored-integer scan: no text, no shingling, no sizes join — the
    * structural term the r15 verdict flagged is gone. */
  def pairIndexDeltaFromGrams(corpusGrams: DataFrame,
                              batchGrams: DataFrame): DataFrame = {
    // the batch gram frame feeds three join sides — batch-sized, so one
    // materialization (the multi-consumer invariant); the corpus side
    // stays single-consumer and unmaterialized (it is the 100 TB side)
    val bEx = batchGrams.localCheckpoint()
    def side(df: DataFrame, a: String, n: String) =
      df.select(col("doc_id").as(a), col("nsh").as(n), col("sh"))
    // SHJ (batch side builds — the bounded side) + one pair-keyed
    // exchange before the count: the round-17 [[ngramJaccardPairs]]
    // treatment (corrected mechanism note there), same rationale
    val cross = side(bEx, "ida", "na").hint("shuffle_hash")
      .join(side(corpusGrams, "idb", "nb"), Seq("sh"))
    val within = side(bEx, "ida", "na").hint("shuffle_hash")
      .join(side(bEx, "idb", "nb"), Seq("sh"))
      .filter(col("ida") < col("idb"))
    cross.unionAll(within)
      .select(
        least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"),
        when(col("ida") < col("idb"), col("na")).otherwise(col("nb")).as("n1v"),
        when(col("ida") < col("idb"), col("nb")).otherwise(col("na")).as("n2v"))
      .repartition(col("id1"), col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("inter"), max("n1v").as("n1"), max("n2v").as("n2"))
      .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))
  }

  /** [[dedupClusters]] fed from a persisted [[pairIndex]]. */
  def dedupClustersFromIndex(documents: DataFrame, index: DataFrame,
                             threshold: Double = JaccardThreshold,
                             maxIters: Int = 20,
                             saltNeighborMin: Option[Int] = None): DataFrame =
    clustersFromPairs(documents, pairsFromIndex(index, threshold), maxIters,
      saltNeighborMin)

  /** [[dedupClusterKeepBest]] fed from a persisted [[pairIndex]]. */
  def dedupClusterKeepBestFromIndex(documents: DataFrame, index: DataFrame,
                                    threshold: Double = JaccardThreshold): DataFrame =
    keepBestOverLabels(documents,
      dedupClustersFromIndex(documents, index, threshold)
        .select("doc_id", "cluster_id"))

  /** Min-label propagation with POINTER JUMPING over a symmetrized edge
    * list: each round every vertex takes the min label among itself and
    * its neighbors, then compresses `label ← label(label)` (valid because
    * labels are always member vertex ids, and only ever decrease). The
    * jump halves the label-chain depth per round, so convergence is
    * O(log diameter) rounds instead of O(diameter) — at 100 TB a long
    * near-dup chain costs ~log₂ rounds of (edge join + label self-join).
    *
    * Materialization discipline (the round-3 regression): `prop` feeds BOTH
    * sides of the jump self-join, so it MUST be checkpointed first —
    * otherwise Catalyst plans no reuse and every round pays the edge join +
    * neighbor-min aggregation twice (measured 2.3× wall-time at sf0.1).
    * The convergence probe is fused into the same pass: the round-start
    * label rides through the jump as `old`, so `changed` is a filter-count
    * over the already-materialized checkpoint — no extra join, no row data
    * to the driver. Returns the final labels and the round count. */
  /** One CC round: neighbor-min propagation, MATERIALIZED (the checkpoint
    * discipline above), then the pointer jump as a self-join over the
    * materialized frame. Split out so the plan shape is spec-checkable:
    * the returned frame's plan must be one join of two `Scan ExistingRDD`
    * sides — no aggregate, no edge join, no parquet scan in its lineage
    * (PlanShapeSpec pins this; a missing checkpoint re-plans the whole
    * upstream on both sides of the jump, the round-3 regression). */
  private[graft] def ccRound(labels: DataFrame, edges: DataFrame,
                             saltNeighborMin: Option[Int] = None): DataFrame = {
    // The neighbor-min is where a hub vertex hurts: all of its edges carry
    // the same id1, so the final aggregation funnels them to one reducer.
    // Spark's partial HashAggregate already combines map-side, which blunts
    // most of it; `saltNeighborMin` is the explicit dial for the residual
    // case (a hub whose edges ALSO sit in few input partitions) — the same
    // two-stage [[Skew.saltedAgg]] shape, min/min being trivially algebraic.
    // Output-identity spec: SkewSpec "CC with salted neighbor-min".
    val joined = edges
      .join(labels, edges("id2") === labels("doc_id"))
      .select(col("id1"), col("label"))
    val neighborMin = (saltNeighborMin match {
      case Some(salt) =>
        Skew.saltedAgg(joined, "id1", salt,
          partials = Seq(min("label").as("pmin")),
          finals = Seq(min("pmin").as("nmin")))
      case None =>
        joined.groupBy(col("id1")).agg(min("label").as("nmin"))
    }).withColumnRenamed("id1", "doc_id")
    val prop = labels
      .join(neighborMin, Seq("doc_id"), "left")
      .select(col("doc_id"), col("label").as("old"),
        least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      .localCheckpoint()
    // Round-18 measured and REJECTED: a second pointer jump per round
    // (intermediate checkpoint + second self-join). On the deepest gate
    // graph (the embedding cosine graph, a chain component that takes 11
    // rounds) it cut rounds only 11 → 10 — the binding constraint is the
    // neighbor-min's one-edge-hop information flow, not pointer depth —
    // while TRIPLING per-round materializations (propagateMinLabels
    // 4.3 → 33.4 s at sf0.1, OPTIMIZATION_r18.md "Not yet optimized").
    // One jump per round stays.
    prop.as("a")
      .join(prop.as("b"), col("a.label") === col("b.doc_id"))
      .select(col("a.doc_id"), col("a.old").as("old"), col("b.label").as("label"))
  }

  private[graft] def propagateMinLabels(vertices: DataFrame, edges: DataFrame,
                                        maxIters: Int,
                                        saltNeighborMin: Option[Int] = None): (DataFrame, Int) = {
    var labels = vertices.select(col("doc_id"))
      .withColumn("label", col("doc_id")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val next = ccRound(labels, edges, saltNeighborMin).localCheckpoint()
      val changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("doc_id"), col("label"))
      converged = changed == 0
      iter += 1
    }
    // exiting via maxIters would mean labels are silently WRONG (some
    // component deeper than the compressed-round budget) — fail loudly
    // instead of letting it surface as an opaque oracle mismatch
    if (!converged) {
      throw new IllegalStateException(
        s"propagateMinLabels did not converge within $maxIters rounds — " +
          s"with pointer jumping that needs component diameter > ~2^$maxIters; raise maxIters")
    }
    (labels, iter)
  }

  /** CC over an (id1, id2) pair frame: symmetrize, propagate min labels,
    * emit (doc_id, cluster_id, is_canonical). */
  private def clustersFromPairs(documents: DataFrame, pairFrame: DataFrame,
                                maxIters: Int,
                                saltNeighborMin: Option[Int] = None): DataFrame = {
    val pairs = pairFrame.select(col("id1"), col("id2")).localCheckpoint()
    val edges = pairs
      .unionAll(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val (labels, _) = propagateMinLabels(documents.select(col("doc_id")), edges, maxIters,
      saltNeighborMin)
    labels
      .select(col("doc_id"), col("label").as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Near-dup CLUSTERS: connected components over the Jaccard ≥ τ pair
    * graph, every document labeled with its component's min doc_id (its
    * canonical representative) — the step that turns pair lists into the
    * keep/drop decision a dedup pipeline actually ships. CC shape:
    * [[propagateMinLabels]] (min-label + pointer jumping, O(log d)
    * rounds). Pair generation here is the EXACT inverted-index join —
    * the contract form; [[dedupClustersLsh]] is the shipping-scale twin. */
  def dedupClusters(documents: DataFrame,
                    threshold: Double = JaccardThreshold,
                    maxIters: Int = 20,
                    saltNeighborMin: Option[Int] = None): DataFrame =
    clustersFromPairs(documents, ngramJaccardPairs(documents, threshold), maxIters,
      saltNeighborMin)

  /** The full 100 TB dedup pipeline as ONE operator: banded minhash-LSH
    * candidates → exact-Jaccard verify → connected components → canonical
    * representative per cluster. Identical output to [[dedupClusters]]
    * whenever LSH recall is 1 on the corpus (spec-pinned set equality on
    * the gate corpus — AnnOracleSpec), at the LSH path's cost: the pair
    * stage is Σ bucket² hash joins, never Σ df² over raw shingles, so the
    * same recursive-CTE oracle gates it while the plan is the one you would
    * actually run at scale. */
  def dedupClustersLsh(documents: DataFrame,
                       threshold: Double = JaccardThreshold,
                       maxIters: Int = 20,
                       saltNeighborMin: Option[Int] = None): DataFrame =
    clustersFromPairs(documents, Lsh.minhashLshPairs(documents, threshold), maxIters,
      saltNeighborMin)

  /** INCREMENTAL connected-components maintenance (round 14) — the CC
    * half of the incremental matrix ([[dedupIncremental]] answers
    * per-batch ADMISSION; this answers "what do the cluster labels
    * become" without re-pairing the corpus with itself). Classic
    * super-vertex merge (union-find over components, public): existing
    * component labels act as super-vertices; the ONLY new pair work is
    * the batch-touching mine ([[pairIndexDelta]]'s bounded joins —
    * Σ df_B·df per shingle, never corpus²); each delta pair projects to
    * an edge between its endpoints' labels (a batch doc is its own
    * label); CC over that LABEL GRAPH — |components|+|batch| vertices,
    * |delta pairs| edges, catalog-sized next to the corpus — and the
    * final label of every doc is the new label of its old label.
    * Correct by the standard argument: components of the union graph
    * are exactly old components merged through batch-touching edges,
    * and min-ids compose (an old label IS its component's min doc_id,
    * so the min over merged labels is the merged component's min).
    *
    * The registered query derives the old labels in-query from the
    * corpus side (self-contained for the gate) and shares the FULL
    * clustering's oracle — agreement proves the incremental merge
    * reproduces the from-scratch answer exactly. A deployment feeds
    * [[clustersIncrementalFromState]] persisted labels + a persisted
    * delta instead (the pair-index store loop), paying only the delta
    * mine + the label-graph CC per batch. */
  def dedupClustersIncremental(documents: DataFrame,
                               batchMod: Long = IncrementalBatchMod,
                               threshold: Double = JaccardThreshold,
                               maxIters: Int = 20): DataFrame = {
    val corpus = documents.filter(col("doc_id") % batchMod =!= 0)
    val oldLabels = dedupClusters(corpus, threshold, maxIters)
      .select(col("doc_id"), col("cluster_id"))
    val deltaPairs = pairsFromIndex(pairIndexDelta(documents, batchMod), threshold)
      .select(col("id1"), col("id2"))
    clustersIncrementalFromState(documents, oldLabels, deltaPairs,
      batchMod, maxIters)
  }

  /** The deployment form: persisted corpus labels + the thresholded
    * batch-touching delta pairs in, full updated labels out. */
  def clustersIncrementalFromState(documents: DataFrame,
                                   oldLabels: DataFrame,
                                   deltaPairs: DataFrame,
                                   batchMod: Long = IncrementalBatchMod,
                                   maxIters: Int = 20): DataFrame =
    clustersIncrementalFromFrames(oldLabels,
      documents.filter(col("doc_id") % batchMod === 0).select(col("doc_id")),
      deltaPairs, maxIters)

  /** [[clustersIncrementalFromState]] with the batch identified by FRAME
    * (its doc-id spine) rather than id arithmetic — the streaming
    * label-maintenance form (round 15): old labels + the new batch's ids
    * + the thresholded batch-touching pairs in, full updated labels
    * out. */
  def clustersIncrementalFromFrames(oldLabels: DataFrame,
                                    batchIds: DataFrame,
                                    deltaPairs: DataFrame,
                                    maxIters: Int = 20): DataFrame = {
    // label of an endpoint: its old component label (corpus doc) or
    // itself (batch doc). oldLabels feeds the edge projection AND the
    // final join-back — checkpoint per the multi-consumer invariant.
    val lbl = oldLabels
      .select(col("doc_id"), col("cluster_id").as("lbl"))
      .unionAll(batchIds.select(col("doc_id"), col("doc_id").as("lbl")))
      .localCheckpoint()
    // labelEdges feeds BOTH halves of the symmetrized edge union AND the
    // iterated CC loop re-reads `edges` every round — without a checkpoint
    // the whole delta-pair lineage (the delta MINE, for the registered
    // incremental queries) re-runs ~2× per round (round 18, measured:
    // dedup_cluster_incremental 13.8 s full vs 5.3 s for the mine itself).
    // clustersFromPairs already checkpoints its pair frame for exactly
    // this reason; this path had forgotten to. Catalog-sized frame
    // (≤ |delta pairs| label pairs), so the materialization is cheap.
    val labelEdges = deltaPairs
      .join(lbl.select(col("doc_id").as("id1"), col("lbl").as("l1")), Seq("id1"))
      .join(lbl.select(col("doc_id").as("id2"), col("lbl").as("l2")), Seq("id2"))
      .select(col("l1").as("id1"), col("l2").as("id2"))
      .filter(col("id1") =!= col("id2"))
      .localCheckpoint()
    val superVertices = lbl.select(col("lbl").as("doc_id")).distinct()
    val edges = labelEdges
      .unionAll(labelEdges.select(col("id2").as("id1"), col("id1").as("id2")))
    val (newLbl, _) = propagateMinLabels(superVertices, edges, maxIters)
    lbl
      .join(newLbl.select(col("doc_id").as("lbl"), col("label")), Seq("lbl"))
      .select(col("doc_id"), col("label").as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Near-dup clustering with QUALITY-AWARE canonical choice (round 8):
    * the member a pipeline actually keeps from a near-dup cluster is the
    * BEST copy, not the lowest id — near-dup members genuinely differ
    * (truncations, boilerplate-injected variants), so "which copy
    * survives" changes the shipped corpus. Canonical per cluster =
    * highest ROUNDED quality score ([[TextOps.textQuality]], the §6
    * integer-domain key so the rank is cross-engine stable), doc_id
    * tie-break. Note this is only meaningful ABOVE exact-dup
    * granularity: byte-identical-after-normalization copies share their
    * token stream and therefore their score, which is why
    * [[TextOps.dedupExact]]'s min-id canonical needs no quality variant.
    *
    * Shape: [[dedupClusters]]' labels (checkpointed, ≤|docs| rows) join
    * the quality map pass doc_id-keyed, then one FIRST_VALUE window per
    * cluster — clusters are tiny (pair-graph components), so the window
    * partition is never a hot reducer. */
  def dedupClusterKeepBest(documents: DataFrame,
                           threshold: Double = JaccardThreshold): DataFrame =
    keepBestOverLabels(documents,
      dedupClusters(documents, threshold).select("doc_id", "cluster_id"))

  /** Shared tail of the keep-best forms: quality map pass + one
    * FIRST_VALUE window over the given (doc_id, cluster_id) labels. */
  private def keepBestOverLabels(documents: DataFrame,
                                 labels: DataFrame): DataFrame = {
    val scored = TextOps.textQuality(documents)
      .withColumn("qs4", expr("CAST(round(quality_score * 10000.0) AS BIGINT)"))
      .select(col("doc_id"), col("qs4"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("qs4").desc, col("doc_id"))
    labels.join(scored, Seq("doc_id"))
      .withColumn("best_id", org.apache.spark.sql.functions.first("doc_id").over(w))
      .withColumn("keep", col("doc_id") === col("best_id"))
      .select(col("doc_id"), col("cluster_id"), col("best_id"), col("keep"),
        Parity.r("quality_score", 4))
  }

  def dedupClusterKeepBestQ(documents: DataFrame): DataFrame =
    dedupClusterKeepBest(documents).orderBy("doc_id")

  /** DuckDB twin: the [[dedupClustersSql]] closure + the shared quality
    * CTEs + the same FIRST_VALUE window text. */
  val dedupClusterKeepBestSql: String = {
    val pairsCte = ngramJaccardSqlBody
    s"""WITH RECURSIVE $pairsCte, edges AS (
       |  SELECT id1 AS u, id2 AS v FROM jpairs
       |  UNION ALL
       |  SELECT id2 AS u, id1 AS v FROM jpairs
       |), reach AS (
       |  SELECT doc_id AS doc, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.u AS doc, reach.r FROM edges e JOIN reach ON reach.doc = e.v
       |), cc AS (
       |  SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc
       |), ${TextOps.qualityScoreCtes(Seq.empty)}, scored AS (
       |  SELECT doc_id, CAST(round(quality_score * 10000.0) AS BIGINT) AS qs4,
       |         quality_score
       |  FROM q3
       |)
       |SELECT d.doc_id, cc.cluster_id,
       |       FIRST_VALUE(d.doc_id) OVER (PARTITION BY cc.cluster_id
       |         ORDER BY s.qs4 DESC, d.doc_id) AS best_id,
       |       d.doc_id = FIRST_VALUE(d.doc_id) OVER (PARTITION BY cc.cluster_id
       |         ORDER BY s.qs4 DESC, d.doc_id) AS keep,
       |       ${Parity.rsql("s.quality_score", 4, "quality_score")}
       |FROM documents d
       |JOIN cc ON cc.doc = d.doc_id
       |JOIN scored s ON s.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Stand-in for "today's ingest partition" in [[dedupIncremental]]:
    * doc_id % this == 0 is the new batch, the rest is the existing corpus. */
  val IncrementalBatchMod = 5L

  /** Incremental near-dup ADMISSION — the operator a corpus-scale ingest
    * pipeline runs per batch: dedup NEW documents against the EXISTING
    * corpus without re-pairing the corpus with itself. For each batch doc:
    * `is_new` = no corpus doc within Jaccard ≥ τ, `dup_of` = the min-id
    * matching corpus doc (deterministic representative) else null.
    *
    * Scale shape: the candidate join generates only batch×corpus shingle
    * matches — cost Σ_s df_batch(s)·df_corpus(s), LINEAR in batch size
    * for bounded-df vocabulary, not Σ df² over the whole corpus; batch-
    * batch and corpus-corpus pairs never exist. The batch's exploded
    * shingle index is the small side and is broadcast (a daily batch is
    * ≪ corpus; at 100 TB the corpus index is the pre-bucketed big side
    * and the batch ships to every bucket). Batch docs with no shingle
    * overlap at all never reach the aggregation — they re-enter at the
    * final left join as `is_new = true`. Complements the exact-key
    * `incremental_new_keys` (A10) the way near-dup complements equality.
    *
    * `broadcastBatch` is the DEGRADE dial (round 7): a genuinely large
    * batch (a backfill, a merged week of ingest) must fall back to a
    * shuffled equi-join rather than OOM assembling the broadcast relation
    * the hint forces. false drops every batch-side hint — the candidate
    * join and the n1 sizes dim plan as shuffles (or whatever AQE picks
    * from real sizes) — with row-identical output (spec-pinned both
    * settings). Measured crossover (PERF.md "Incremental-batch broadcast
    * dial"): on the 10× corpus the broadcast wins at a 20% batch and
    * already LOSES at a 50% backfill batch (6.6 s shuffled vs 7.7 s
    * broadcast) — the dial's
    * threshold arrives well before broadcast memory does. */
  def dedupIncremental(documents: DataFrame,
                       batchMod: Long = IncrementalBatchMod,
                       threshold: Double = JaccardThreshold,
                       broadcastBatch: Boolean = true): DataFrame = {
    def batchSide(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    // inline-explode shape (see shingleExploded) — and the candidate rows
    // stay (sh, id)-narrow: BOTH sides' shingle counts join back after the
    // pair aggregation (|pairs| rows, broadcast-sized batch dim) instead of
    // riding through the candidate join
    val exh = shingleExploded(documents)
      .select(col("doc_id"), expr("xxhash64(s)").as("sh"))
    val sizes = shingleSets(documents).select(col("doc_id"), col("nsh"))
    val batch = exh.filter(col("doc_id") % batchMod === 0)
      .select(col("doc_id").as("bid"), col("sh"))
    val corpus = exh.filter(col("doc_id") % batchMod =!= 0)
      .select(col("doc_id").as("cid"), col("sh"))
    val dups = batchSide(batch).join(corpus, Seq("sh"))
      .groupBy("bid", "cid")
      .agg(count(lit(1)).as("inter"))
      .join(batchSide(sizes.filter(col("doc_id") % batchMod === 0)
        .select(col("doc_id").as("bid"), col("nsh").as("n1"))), Seq("bid"))
      .join(sizes.filter(col("doc_id") % batchMod =!= 0)
        .select(col("doc_id").as("cid"), col("nsh").as("n2")), Seq("cid"))
      .filter(expr(s"CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= $threshold"))
      .groupBy("bid").agg(min("cid").as("dup_of"))
    documents.filter(col("doc_id") % batchMod === 0).select(col("doc_id"))
      .join(dups, col("doc_id") === col("bid"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("is_new"), col("dup_of"))
  }

  def dedupIncrementalQ(documents: DataFrame): DataFrame =
    dedupIncremental(documents).orderBy("doc_id")

  /** The shipping-scale twin of [[dedupIncremental]]: the corpus side is a
    * banded minhash-LSH bucket index (at 100 TB: PRECOMPUTED once and
    * stored bucketed by band key — amortized across every future batch,
    * which is the whole economics of incremental ingest), and the batch
    * probes only its own band keys. Candidates are Σ_bkey |batch bucket| ×
    * |corpus bucket| — never a shingle-level join against the corpus —
    * then exact-verified on candidate shingle sets. Output is identical to
    * the exact form whenever banded recall is 1 on the batch×corpus pairs
    * (gate corpus: spec-pinned row equality, which is what lets it share
    * the exact operator's SQL oracle, same argument as
    * [[dedupClustersLsh]]). `broadcastBatch` is the same degrade dial as
    * [[dedupIncremental]]'s: false drops the batch-side hint so an
    * oversized batch probe shuffles instead of OOMing the broadcast. */
  def dedupIncrementalLsh(documents: DataFrame,
                          batchMod: Long = IncrementalBatchMod,
                          threshold: Double = JaccardThreshold,
                          broadcastBatch: Boolean = true): DataFrame = {
    val buckets = Lsh.bandedBuckets(documents)
    val batchB = buckets.filter(col("doc_id") % batchMod === 0)
      .select(col("doc_id").as("bid"), col("bkey"))
    val corpusB = buckets.filter(col("doc_id") % batchMod =!= 0)
      .select(col("doc_id").as("cid"), col("bkey"))
    // cand localCheckpoint (round 18): same economics as
    // [[Lsh.minhashLshPairs]]' candidate checkpoint — batch×corpus banded
    // candidates are |batch near-dup|-sized, and composed lazily the
    // verify stage re-plans the signature+bucket lineage around the
    // array joins (measured there: 4.4 s → verify 0.5 s materialized).
    val cand = (if (broadcastBatch) broadcast(batchB) else batchB).join(corpusB, Seq("bkey"))
      .select("bid", "cid").distinct()
      .localCheckpoint()
    val sh = shingleSets(documents)
    val dups = cand
      .join(sh.select(col("doc_id").as("bid"), col("shingles").as("sh1"), col("nsh").as("n1")), "bid")
      .join(sh.select(col("doc_id").as("cid"), col("shingles").as("sh2"), col("nsh").as("n2")), "cid")
      .withColumn("inter", expr("size(array_intersect(sh1, sh2))"))
      .filter(expr(s"CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= $threshold"))
      .groupBy("bid").agg(min("cid").as("dup_of"))
    documents.filter(col("doc_id") % batchMod === 0).select(col("doc_id"))
      .join(dups, col("doc_id") === col("bid"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("is_new"), col("dup_of"))
  }

  def dedupIncrementalLshQ(documents: DataFrame): DataFrame =
    dedupIncrementalLsh(documents).orderBy("doc_id")

  /** DuckDB twin: same split, same candidate restriction (batch×corpus
    * only), same double-division threshold and min-id representative. */
  val dedupIncrementalSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |         list_distinct([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS shingles
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM sh
       |), cand AS (
       |  SELECT b.doc_id AS bid, c.doc_id AS cid,
       |         any_value(b.nsh) AS n1, any_value(c.nsh) AS n2, count(*) AS inter
       |  FROM ex b JOIN ex c ON b.s = c.s
       |  WHERE b.doc_id % $IncrementalBatchMod = 0 AND c.doc_id % $IncrementalBatchMod <> 0
       |  GROUP BY 1, 2
       |), dups AS (
       |  SELECT bid, min(cid) AS dup_of FROM cand
       |  WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= $JaccardThreshold
       |  GROUP BY bid
       |)
       |SELECT d.doc_id, dup_of IS NULL AS is_new, dup_of
       |FROM documents d LEFT JOIN dups ON dups.bid = d.doc_id
       |WHERE d.doc_id % $IncrementalBatchMod = 0
       |ORDER BY d.doc_id""".stripMargin

  def dedupClustersQ(documents: DataFrame): DataFrame =
    dedupClusters(documents).orderBy("doc_id")

  def dedupClustersLshQ(documents: DataFrame): DataFrame =
    dedupClustersLsh(documents).orderBy("doc_id")

  /** DuckDB twin: transitive closure by recursive CTE, min reachable id
    * per doc (identical labels: both compute the component minimum). */
  val dedupClustersSql: String = {
    val pairsCte = ngramJaccardSqlBody
    s"""WITH RECURSIVE $pairsCte, edges AS (
       |  SELECT id1 AS u, id2 AS v FROM jpairs
       |  UNION ALL
       |  SELECT id2 AS u, id1 AS v FROM jpairs
       |), reach AS (
       |  SELECT doc_id AS doc, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.u AS doc, reach.r FROM edges e JOIN reach ON reach.doc = e.v
       |), cc AS (
       |  SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc
       |)
       |SELECT d.doc_id, cc.cluster_id, d.doc_id = cc.cluster_id AS is_canonical
       |FROM documents d JOIN cc ON cc.doc = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Shared CTE body producing `jpairs(id1, id2)` — the exact pair set
    * (rawpairs carries n1/n2/inter for consumers that need the scores). */
  private[operators] lazy val ngramJaccardSqlBody: String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
       |), sh2 AS (
       |  SELECT doc_id,
       |         list_distinct([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS shingles
       |  FROM toks
       |), ex2 AS (
       |  SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM sh2
       |), rawpairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |         any_value(a.nsh) AS n1, any_value(b.nsh) AS n2,
       |         count(*) AS inter
       |  FROM ex2 a JOIN ex2 b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), jpairs AS (
       |  SELECT id1, id2 FROM rawpairs
       |  WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= $JaccardThreshold
       |)""".stripMargin

  /** Oracle for [[pairIndexDelta]]: the FULL τ=0 pair stats, filtered
    * to batch-touching pairs — the delta mine must equal the full
    * mine's increment exactly. */
  val pairIndexDeltaSql: String =
    s"""WITH $ngramJaccardSqlBody
       |SELECT id1, id2, CAST(inter AS BIGINT) AS inter,
       |       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2
       |FROM rawpairs
       |WHERE id1 % $IncrementalBatchMod = 0 OR id2 % $IncrementalBatchMod = 0
       |ORDER BY id1, id2""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |         list_distinct([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS shingles
       |  FROM toks
       |), ex AS (
       |  SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS s FROM sh
       |), pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |         any_value(a.nsh) AS n1, any_value(b.nsh) AS n2,
       |         count(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), j AS (
       |  SELECT id1, id2, n1, n2, inter,
       |         CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
       |  FROM pairs
       |)
       |SELECT id1, id2, n1, n2, inter, ${rsql("jaccard", 4, "jaccard")}
       |FROM j
       |WHERE jaccard >= $JaccardThreshold
       |ORDER BY id1, id2""".stripMargin
}
