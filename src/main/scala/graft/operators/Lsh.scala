package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sub-quadratic near-duplicate and ANN operators (SURVEY.md §2.C 29/30/32)
  * — the 100 TB paths that replace the exact all-pairs forms in
  * [[Dedup]]/[[Similarity]]. All three follow the same scale shape:
  * per-item signature (map-only) → explode banded keys → hash self-join on
  * the band key → verify candidates exactly. Cost is Σ bucket² over
  * buckets, never n² over items.
  *
  * Signatures are engine-specific hashes, so there is no literal DuckDB
  * twin; gates are either specs (recall against the exact operators on the
  * same data) or — where a spec proves the approximate output EQUALS the
  * exact operator on the gate corpus (minhash-LSH, knn at
  * [[MultiProbeGate]]) — the exact operator's own SQL as oracle.
  */
object Lsh {

  // --------------------------------------------------------- minhash + LSH

  /** MinHash geometry: K hash functions in B bands of R rows. For Jaccard
    * j=0.8 candidates: P(candidate) = 1-(1-j^4)^8 ≈ 0.986; the planted
    * near-dups here sit at j≈0.98 where recall is 1-1e-11. */
  val MinhashK = 32
  val MinhashBands = 8
  val MinhashRows = 4

  /** Per-doc MinHash signature columns mh_0…mh_K-1: min over shingles of
    * xxhash64(j, shingle) — one seeded hash family, no stored permutations.
    *
    * Shape: explode distinct shingles → repartition → groupBy(doc) with K
    * codegen'd min(xxhash64(j, s)) aggregates. The explode+agg form keeps
    * the hashing inside WholeStageCodegen (a per-row lambda would be
    * interpreted); the repartition spreads the work when the input arrives
    * as one file/partition (local single-file tables; at 100 TB inputs are
    * already split). */
  def minhashSignatures(documents: DataFrame): DataFrame = {
    // inline-explode shape (Dedup.shingleExploded): exploding a named
    // shingle column pays InferFiltersFromGenerate's 3× array recompute
    val ex = Dedup.shingleExploded(documents)
      .repartition(col("doc_id"))
    val mins = (0 until MinhashK).map(j =>
      min(expr(s"xxhash64($j, s)")).as(s"mh_$j"))
    ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, bkey) banded bucket memberships — the index/probe unit
    * shared by the self-join pair miner and the incremental
    * batch-vs-corpus probe ([[Dedup.dedupIncrementalLsh]]). Signatures
    * are materialized once: Catalyst plans no ReusedExchange across a
    * bucket self-join, so without the checkpoint both consumers would
    * recompute the whole signature aggregation. `(bands, rows)` is the
    * S-curve geometry dial (round 14, [[MinhashBandPlan]]'s output):
    * b·r ≤ K signature hashes split into b keys of r hashes each. */
  def bandedBuckets(documents: DataFrame,
                    bands: Int = MinhashBands,
                    rows: Int = MinhashRows): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= MinhashK,
      s"banding $bands x $rows exceeds the $MinhashK-hash signature")
    val sigs = minhashSignatures(documents).localCheckpoint()
    val bandKeys = (0 until bands).map { b =>
      val cols = (0 until rows).map(i => s"mh_${b * rows + i}").mkString(", ")
      s"xxhash64($b, $cols)"
    }.mkString(", ")
    sigs.select(col("doc_id"), explode(expr(s"array($bandKeys)")).as("bkey"))
  }

  /** Banded-LSH candidate pairs, verified with exact Jaccard ≥ τ. */
  def minhashLshPairs(documents: DataFrame,
                      threshold: Double = Dedup.JaccardThreshold,
                      bands: Int = MinhashBands,
                      rows: Int = MinhashRows): DataFrame = {
    val buckets = bandedBuckets(documents, bands, rows)
    // cand is localCheckpoint'd (round 18, guide §1/§5): banded candidates
    // are |near-dup pairs|-sized (598 rows on the sf0.1 gate corpus), but
    // composed lazily the verify stage re-plans the whole signature+bucket
    // lineage around the array joins and the measured query read 4.4 s
    // where the verify itself costs 0.5 s on the materialized frame
    // (OPTIMIZATION_r18.md §7). Materializing a candidate-pair id frame is
    // the same economics as clustersFromPairs' pair checkpoint.
    val cand = buckets.as("a")
      .join(buckets.as("b"), col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
      .localCheckpoint()
    // exact verification; at corpus scale this join ships only candidate
    // shingle sets (|candidates| << n²). Round-18 restructure (measured
    // 4.4 → 0.5 s on the verify stage, OPTIMIZATION_r18.md §7): sizes ride a
    // CHECKPOINTED scalar frame and the candidate pairs are
    // SIZE-FEASIBILITY-pruned BEFORE the array joins — jaccard ≤
    // min(n)/max(n), so `100·min ≥ floor(τ·100)·max` is implied by the
    // final jaccard ≥ τ filter (floor keeps it implied for any τ) and
    // drops infeasible pairs while they are still two longs wide. The
    // checkpoint matters beyond economics: n1/n2 derived lazily from
    // shingleSets makes InferFiltersFromConstraints push
    // isnotnull(<whole shingle transform>) into the parquet scan Filter
    // — the corpus-wide recompute pathology the explode invariant
    // documents, here through a scalar projection.
    val pctFloor = math.floor(threshold * 100).toLong
    val sizes = Dedup.shingleSets(documents)
      .select(col("doc_id"), col("nsh")).localCheckpoint()
    val feas = cand
      .join(sizes.select(col("doc_id").as("id1"), col("nsh").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("nsh").as("n2")), "id2")
      .filter(expr(s"least(n1, n2) * 100 >= $pctFloor * greatest(n1, n2)"))
    val sh = Dedup.shingleSets(documents).select(col("doc_id"), col("shingles"))
    feas
      .join(sh.select(col("doc_id").as("id1"), col("shingles").as("sh1")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("shingles").as("sh2")), "id2")
      .withColumn("inter", expr("size(array_intersect(sh1, sh2))"))
      .withColumn("jaccard", expr("CAST(inter AS DOUBLE) / (n1 + n2 - inter)"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("inter"), Parity.r("jaccard", 4))
  }

  def minhashLshQ(documents: DataFrame): DataFrame =
    minhashLshPairs(documents).orderBy("id1", "id2")

  /** DuckDB twin: the EXACT Jaccard pair set. Valid as an oracle because
    * banded-LSH recall at this corpus' near-dup similarity (j≈0.98) is
    * 1-(1-j⁴)⁸ ≈ 1-1e-11 and candidates are exactly verified — the
    * RowsOnlyOpsSpec pins set equality, this pins values too. */
  /** CTE chain ending at `j(id1, id2, inter, jaccard)` — nested by
    * [[minhashLshSql]] and DedupDegree's oracle (one-text rule). */
  private[operators] val exactPairCtes: String =
    s"""toks AS (
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
       |  SELECT id1, id2, inter,
       |         CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
       |  FROM pairs
       |)""".stripMargin

  val minhashLshSql: String =
    s"""WITH $exactPairCtes
       |SELECT id1, id2, inter, ${Parity.rsql("jaccard", 4, "jaccard")}
       |FROM j
       |WHERE jaccard >= ${Dedup.JaccardThreshold}
       |ORDER BY id1, id2""".stripMargin

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash from shingle hashes: bit i is set when the sum of
    * ±1 contributions of bit i across shingle hashes is positive.
    *
    * Shape: explode shingles → hash once per shingle → repartition →
    * groupBy(doc) with 64 codegen'd per-bit sums → OR the bit columns
    * together (never summed, so no overflow). Same explode+agg rationale
    * as [[minhashSignatures]]. */
  def simhashes(documents: DataFrame): DataFrame = {
    // inline-explode shape — see minhashSignatures
    val ex = Dedup.shingleExploded(documents)
      .withColumn("h", expr("xxhash64(s)"))
      .repartition(col("doc_id"))
    val bitSums = (0 until 64).map(i =>
      sum(expr(s"CASE WHEN (shiftright(h, $i) & 1) = 1 THEN 1 ELSE -1 END")).as(s"b$i"))
    val orBits = (0 until 64)
      .map(i => s"(CASE WHEN b$i > 0 THEN shiftleft(1L, $i) ELSE 0L END)")
      .mkString(" | ")
    ex.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", expr(orBits))
      .select("doc_id", "simhash")
  }

  val SimhashBands = 4
  val MaxHamming = 3

  /** Hamming ≤ 3 pairs via 4×16-bit band partition: ≤3 differing bits
    * cannot touch all 4 bands, so one band always matches — recall is
    * exactly 1 (pigeonhole), no probabilistic miss. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = MaxHamming): DataFrame = {
    // materialized once — see minhashLshPairs
    val hs = simhashes(documents).select("doc_id", "simhash").localCheckpoint()
    val buckets = hs.select(col("doc_id"), col("simhash"),
      explode(expr(s"transform(sequence(0, ${SimhashBands - 1}), b -> " +
        "named_struct('band', b, 'key', shiftright(simhash, b * 16) & 65535))")).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.simhash").as("h1"), col("b.simhash").as("h2"))
      .distinct()
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  def simhashQ(documents: DataFrame): DataFrame =
    simhashPairs(documents).orderBy("id1", "id2")

  // -------------------------------------------------- hyperplane LSH kNN

  /** L tables × NBits random hyperplanes, fixed seed. */
  val LshTables = 8
  val LshBits = 5
  val LshSeed = 42

  /** Deterministic hyperplane family for any (tables, bits) geometry:
    * same seed, same fill order — `planesFor(LshTables, LshBits)` is
    * bit-identical to the historical fixed matrix. The GEOMETRY is the
    * 100 TB dial every LSH doc here cites ("raise NBits so buckets stay
    * ~constant-size"): round 14 made it a real parameter after the
    * mutual-kNN 10× measurement showed the fixed 32-bucket keyspace
    * losing to brute at 10× corpus (buckets grow with n ⇒ Σ bucket²
    * grows with n² — the dial, not the algorithm, was the bottleneck). */
  def planesFor(tables: Int, bits: Int): IndexedSeq[IndexedSeq[Double]] = {
    val rnd = new scala.util.Random(LshSeed)
    IndexedSeq.fill(tables * bits)(IndexedSeq.fill(64)(rnd.nextGaussian()))
  }

  /** Deterministic hyperplanes: LshTables*LshBits planes × 64 dims. */
  lazy val Planes: IndexedSeq[IndexedSeq[Double]] = planesFor(LshTables, LshBits)

  /** vec → L bucket keys (sign pattern of NBits plane dots per table).
    * The plane matrix rides as ONE typed literal (array<array<double>>),
    * not 2,560 doubles of expression text — same plan, no parse bloat. */
  def lshBuckets(embeddings: DataFrame,
                 tables: Int = LshTables, bits: Int = LshBits): DataFrame =
    Similarity.withNorm(embeddings)
      .withColumn("planes", typedLit(planesFor(tables, bits).map(_.toSeq)))
      // bucket expression INLINE as the Generate child (not a named column
      // first): a named column would get InferFiltersFromGenerate's
      // size>0/isnotnull filter, and pushdown would inline the whole
      // 40-hyperplane graft_dot computation into a scan-side Filter — 3×
      // the dot products per vector (same pathology as Dedup.shingleExploded)
      .select(col("vec_id"), col("label"), col("vd"), col("norm"),
        explode(expr(
          s"""transform(sequence(0, ${tables - 1}), t ->
             |  named_struct('t', t, 'key',
             |    aggregate(sequence(0, ${bits - 1}), 0L, (acc, p) ->
             |      acc | (CASE WHEN graft_dot(vd, planes[t * $bits + p]) > 0.0
             |                  THEN shiftleft(1L, p) ELSE 0L END))))""".stripMargin)).as("bk"))
      .select(col("vec_id"), col("label"), col("vd"), col("norm"),
        col("bk.t").as("t"), col("bk.key").as("key"))

  /** ANN top-k: bucket-join candidates (same table, same key), exact
    * cosine rerank within candidates. The scale path: the join touches
    * Σ bucket² pairs instead of |Q|·n.
    *
    * `multiProbe`: classic multi-probe LSH — each query additionally
    * probes the buckets at Hamming distance ≤ multiProbe from its own key
    * (flip subsets of the NBits sign bits), trading candidates for recall
    * WITHOUT growing the table count or re-hashing the corpus. multiProbe=1
    * probes (1+NBits) keys per table; the corpus side is untouched, so the
    * index cost is unchanged — the right dial at 100 TB where re-bucketing
    * the corpus is the expensive side. */
  def knnCosineLsh(embeddings: DataFrame, k: Int = Similarity.KnnK,
                   multiProbe: Int = 0,
                   tables: Int = LshTables, bits: Int = LshBits): DataFrame = {
    val b = lshBuckets(embeddings, tables, bits)
    val qb0 = b.filter(col("vec_id") % Similarity.QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"),
        col("t"), col("key"))
    val qb =
      if (multiProbe <= 0) qb0
      else {
        // all key variants with ≤ multiProbe of the NBits bits flipped
        val masks = (0 until (1 << bits))
          .filter(m => Integer.bitCount(m) <= multiProbe)
        qb0.withColumn("key",
          explode(expr(s"transform(array(${masks.mkString(", ")}), m -> " +
            "CAST(key AS BIGINT) ^ CAST(m AS BIGINT))")))
      }
    val cand = b.join(qb, Seq("t", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id", "label", "vd", "norm", "qv", "qn")
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    cand
      .withColumn("cos", expr(s"${Similarity.DotF} / (norm * qn)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        Parity.r("cos", 4), col("label"))
  }

  /** Registered-query probe width. Measured on the gate corpus (sf0.01,
    * SURVEY.md row #32): mp=0 recall 0.64, mp=1 recall 0.96, mp=2 recall 1.0
    * with the top-k set EXACTLY equal to brute — so at mp=2 the brute
    * oracle is valid (candidates ⊇ true top-k, and the rerank is the same
    * codegen'd graft_dot + (cos DESC, vec_id) window as brute, so agreement
    * on membership forces bit-identical rows). AnnOracleSpec pins the
    * equality; a corpus change that breaks it fails loudly there.
    *
    * Honest geometry note: at NBits=5 (32 buckets/table), mp=2 probes
    * C(5,≤2)=16 of 32 key variants per table — this corpus-sized keyspace
    * makes recall 1 reachable cheaply. At 100 TB you raise NBits so buckets
    * stay ~constant-size and retune mp; the dial is the same, only the
    * operating point moves. */
  val MultiProbeGate = 2

  def knnCosineLshQ(embeddings: DataFrame): DataFrame =
    knnCosineLsh(embeddings, multiProbe = MultiProbeGate).orderBy("query_id", "rank")

  /** DuckDB twin: the brute-force top-k (valid at [[MultiProbeGate]] — see
    * its doc; spec-pinned set equality makes the rows bit-identical). */
  val knnCosineLshSql: String = Similarity.knnCosineBruteSql

  /** Near-duplicate pair mining at cos ≥ τ through the hyperplane buckets —
    * the sub-quadratic twin of [[Similarity.embeddingDedup]]: candidates
    * share at least one (table, bucket) key, then verify exactly. Precision
    * is exact (verified); recall is the LSH collision probability
    * (spec-measured against the exact operator).
    *
    * `multiProbe`: same dial as [[knnCosineLsh]], applied to ONE side of
    * the pair self-join — side-2 rows additionally land in every bucket at
    * Hamming ≤ m from their own key, so a pair whose keys differ in ≤ m of
    * the NBits sign bits in some table still collides. One-sided probing
    * suffices (collision needs a1.key = probed a2.key), keeps the exploded
    * side |corpus|·C(NBits,≤m) instead of squaring the growth, and leaves
    * precision exact since every candidate is cosine-verified. */
  def embeddingDedupLsh(embeddings: DataFrame,
                        threshold: Double = Similarity.DedupCosThreshold,
                        multiProbe: Int = 0,
                        tables: Int = LshTables, bits: Int = LshBits): DataFrame = {
    // Candidate generation is ID-ONLY: the bucket self-join and the pair
    // dedup carry two longs per row, and the 64-dim double vectors join
    // back AFTER dropDuplicates — only |distinct pairs| rows ever carry
    // arrays (the Dedup.ngramJaccardPairs join-back economics). Carrying
    // vd/norm/qv/qn THROUGH the join cost ~3× at the wide probe widths
    // (42 s → measured re-run at mp=2 on sf0.1, where the probe explosion
    // makes the candidate stream ~16× the corpus-bucket product). The
    // per-pair cosine and output rows are unchanged (same verify
    // expression, same rounding).
    // `e` feeds two join-back consumers (and lshBuckets re-derives the
    // norms separately) WITHOUT a localCheckpoint — a deliberate
    // qualitySelect-style exception to the multi-consumer invariant:
    // upstream is a bare scan+map, and materializing a corpus-sized
    // frame of 64-dim arrays to save two cheap map passes is the wrong
    // trade at 100 TB (economics only; correctness is unaffected).
    val e = Similarity.withNorm(embeddings)
      .select(col("vec_id"), col("vd"), col("norm"))
    val b = lshBuckets(embeddings, tables, bits)
      .select(col("vec_id"), col("t"), col("key"))
    val a1 = b.select(col("vec_id").as("id1"), col("t"), col("key"))
    val a2base = b.select(col("vec_id").as("id2"), col("t"), col("key"))
    val a2 =
      if (multiProbe <= 0) a2base
      else {
        val masks = (0 until (1 << bits))
          .filter(m => Integer.bitCount(m) <= multiProbe)
        a2base.withColumn("key",
          explode(expr(s"transform(array(${masks.mkString(", ")}), m -> " +
            "CAST(key AS BIGINT) ^ CAST(m AS BIGINT))")))
      }
    // SHJ hint on the bucket self-join (round 18, guide §3.1): the probe
    // side a2 is the multi-probe-EXPLODED stream (C(bits,≤mp) ≈ 16× a1 at
    // the registered width) while the build side a1 is one 24-byte row
    // per (vec, table) — SMJ paid a per-partition sort of the exploded
    // stream plus duplicate-bucket-group buffering. Measured
    // (OPTIMIZATION_r18.md "Baseline measurement", sf0.1):
    // candidates+dropDuplicates 7.24 s → 3.10 s with the hint.
    // Same honesty note as Dedup.ngramJaccardPairs' candidate hint: the
    // hint is unconditional where AQE's own SMJ→SHJ rewrite is size-gated
    // — but here the build is the UN-exploded id-only bucket frame
    // (corpus-buckets/shuffle.partitions rows per partition), the bounded
    // side by construction at any probe width.
    a1.hint("shuffle_hash").join(a2, Seq("t", "key"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
      .select("id1", "id2")
      .join(e.select(col("vec_id").as("id1"), col("vd"), col("norm")), Seq("id1"))
      .join(e.select(col("vec_id").as("id2"), col("vd").as("qv"),
        col("norm").as("qn")), Seq("id2"))
      .withColumn("cos", expr(s"${Similarity.DotF} / (norm * qn)"))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), Parity.r("cos", 4))
  }

  /** Probe width at which pair mining provably equals the exact operator
    * on the gate corpus — measured (SURVEY.md row #36): mp=0 recall 0.53, mp=1
    * recall 0.98, mp=2 recall 1.0, full-row equality spec-pinned
    * (AnnOracleSpec).
    *
    * History of the registered config: rounds 4–8 kept the query at mp=0
    * (rows-only) because mp=2 measured 116 s at sf0.1 vs 1.2 s exact —
    * but that cost was NOT inherent to the probe width: the old plan
    * carried four 64-dim double arrays through the 16×-exploded
    * candidate join and its dropDuplicates. With the round-9 id-only
    * join-back (arrays attach AFTER pair dedup), mp=2 measures ~6 s at
    * sf0.1 — so the recall-1 width is now economical, the registered
    * query runs it, and the operator is sql-oracled against the exact
    * twin's SQL (the same promotion knn_cosine_lsh earned at its mp=2).
    * At 100 TB, large NBits (constant-size buckets) remains the
    * operating point; the dial is unchanged. */
  val PairProbeRecallOne = 2

  def embeddingDedupLshQ(embeddings: DataFrame): DataFrame =
    embeddingDedupLsh(embeddings, multiProbe = PairProbeRecallOne)
      .orderBy("id1", "id2")

  /** Valid at [[PairProbeRecallOne]] — AnnOracleSpec pins full-row
    * equality with the exact miner. */
  val embeddingDedupLshSql: String = Similarity.embeddingDedupSql

  /** INCREMENTAL semantic admission through the hyperplane buckets
    * (round 14) — the LSH twin of [[Similarity
    * .embeddingDedupIncremental]], completing the incremental matrix
    * cell the shingle side closed in round 6 ([[Dedup
    * .dedupIncrementalLsh]]'s precedent): the corpus bucket index is
    * the PRECOMPUTED side (at 100 TB: stored bucketed by (t, key),
    * amortized across every future batch — the whole economics of
    * incremental ingest), and only the BATCH side explodes multi-probe
    * key variants — candidates are Σ_key |batch bucket|×|corpus
    * bucket|, never batch×corpus. Candidates are id-only (vectors
    * attach AFTER the distinct — the round-9 join-back economics),
    * then exact-verified, and the per-batch-vec aggregate (n_matches /
    * min-id dup_of / best cos) is the SAME tail as the exact twin.
    * Output equals the exact operator whenever bucket recall is 1 on
    * the batch×corpus qualifying pairs — a SUBSET of the pair set
    * [[PairProbeRecallOne]] already certifies (n_matches counts EVERY
    * match, so per-pair recall is the needed condition, same as the
    * pair miner's — not just best-match recall); AnnOracleSpec pins
    * full-row equality, which lets the registered query share the
    * exact twin's oracle. */
  def embeddingDedupIncrementalLsh(embeddings: DataFrame,
                                   threshold: Double = Similarity.DedupCosThreshold,
                                   batchMod: Long = Dedup.IncrementalBatchMod,
                                   multiProbe: Int = 0,
                                   tables: Int = LshTables,
                                   bits: Int = LshBits): DataFrame = {
    val b = lshBuckets(embeddings, tables, bits)
      .select(col("vec_id"), col("t"), col("key"))
    val batchB0 = b.filter(col("vec_id") % batchMod === 0)
      .select(col("vec_id").as("bid"), col("t"), col("key"))
    val batchB =
      if (multiProbe <= 0) batchB0
      else {
        val masks = (0 until (1 << bits))
          .filter(m => Integer.bitCount(m) <= multiProbe)
        batchB0.withColumn("key",
          explode(expr(s"transform(array(${masks.mkString(", ")}), m -> " +
            "CAST(key AS BIGINT) ^ CAST(m AS BIGINT))")))
      }
    val corpusB = b.filter(col("vec_id") % batchMod =!= 0)
      .select(col("vec_id").as("cid"), col("t"), col("key"))
    val cand = broadcast(batchB).join(corpusB, Seq("t", "key"))
      .select("bid", "cid").distinct()
    val e = Similarity.withNorm(embeddings)
      .select(col("vec_id"), col("vd"), col("norm"))
    val stats = cand
      .join(e.select(col("vec_id").as("bid"), col("vd").as("qv"),
        col("norm").as("qn")), Seq("bid"))
      .join(e.select(col("vec_id").as("cid"), col("vd"), col("norm")), Seq("cid"))
      .withColumn("cos", expr(s"${Similarity.DotF} / (norm * qn)"))
      .filter(col("cos") >= threshold)
      .groupBy("bid")
      .agg(count(lit(1)).as("nm"), min("cid").as("dup_of"),
        max("cos").as("best_cos"))
    embeddings.filter(col("vec_id") % batchMod === 0).select(col("vec_id"))
      .join(stats, col("vec_id") === col("bid"), "left")
      .withColumn("n_matches", coalesce(col("nm"), lit(0L)))
      .withColumn("is_new", col("dup_of").isNull)
      .select(col("vec_id"), col("n_matches"), col("dup_of"),
        col("best_cos"), col("is_new"))
  }

  def embeddingDedupIncrementalLshQ(embeddings: DataFrame): DataFrame =
    embeddingDedupIncrementalLsh(embeddings, multiProbe = PairProbeRecallOne)
      .select(col("vec_id"), col("n_matches"), col("dup_of"),
        Parity.r("best_cos", 4), col("is_new"))
      .orderBy("vec_id")

  /** Valid at [[PairProbeRecallOne]] — AnnOracleSpec pins full-row
    * equality with the exact incremental twin. */
  val embeddingDedupIncrementalLshSql: String =
    Similarity.embeddingDedupIncrementalSql
}
