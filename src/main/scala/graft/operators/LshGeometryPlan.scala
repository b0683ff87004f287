package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hyperplane-LSH GEOMETRY advisor (round 15 — the r14 verdict's #1
  * order, its one weak finding): every other geometry choice in this
  * repo is plan-as-data ([[BandPlan]], [[SaltingPlan]],
  * [[MinhashBandPlan]], [[PartitionPlan]]) while the hyperplane family's
  * (tables, bits, multiProbe) lived in PERF.md prose. This advisor
  * scores every bits arm against the corpus's OWN difficulty and
  * recommends a geometry — or, honestly, BRUTE: the repo's measurements
  * show LSH loses to the exact operators below a corpus-size crossover
  * (sf0.1: mutual exact 7.3 s vs best LSH 10.2 s), and an advisor that
  * cannot beat brute must say so (the MinhashBandPlan "cannot certify ⇒
  * do not pick cheapest anyway" discipline).
  *
  * TWO data inputs, everything else literal arithmetic:
  *  - `n_vectors` — the corpus count (drives the cost model);
  *  - `kth_cos` — the sampled k-th-neighbor cosine FLOOR: the minimum
  *    rank-k cosine over the [[Similarity.QueryMod]] query sample (the
  *    established #31 sample), i.e. the hardest pair the mutual-kNN
  *    contract must recall. The round-15 measurement that motivates it:
  *    on sf0.1's natural vectors the mutual graph needs multiProbe=3
  *    (mp=2 misses 1 of 3800 pairs) while on the 10× replica corpus —
  *    whose k-th neighbors are all cos≈0.9999 replicas — every width
  *    down to mp=0 recalls fully. The recall-1 width is a CORPUS
  *    property, readable from this one sampled statistic. (Sample
  *    caveat, stated: the floor certifies the sampled queries exactly
  *    and estimates the corpus floor — the distinct_diff_sketch
  *    honesty convention.)
  *
  * CERTIFICATE (§6-exact, no transcendentals): a hyperplane agrees on a
  * pair at angle θ with p = 1 − θ/π (Charikar 2002, public). Engines
  * never compute acos: the advisor uses the exact-rational lower bound
  * `p ≥ 1 − sqrt(1 − cos)/2` (valid on cos ∈ [0, 1] — equivalent to
  * acos(c) ≤ (π/2)·sqrt(1−c), equality at c=0 and c=1; a negative
  * sampled floor yields NO certificate and the advisor says brute).
  * IEEE sqrt is correctly rounded in both engines, so `p_ppm =
  * floor((1 − sqrt(1 − kth_cos)/2)·10⁶)` is bit-identical cross-engine
  * given the shared rounded-4 cosine. From p_ppm everything is the
  * [[MinhashBandPlan]] integer machinery: per-table multi-probe match
  * `P = Σ_{i≤mp} C(bits,i)·p^{bits−i}·q^i` and the certificate
  * `1 − (1−P)^tables`, in truncating ppm folds — conservative (≤ the
  * real probability) at every step, so a certified arm is certified.
  * The pair-miner family's certificate is evaluated at the FIXED
  * threshold cosine τ = [[Similarity.DedupCosThreshold]] — a pure
  * Scala-precomputed literal per arm (the BloomSizing convention).
  *
  * COST MODEL (integer milli-rows): expected rerank candidates per item
  * `est = tables · probe_keys(bits, mp) · (n·1000 div 2^bits)` versus
  * brute's `(n−1)·1000`. Recommended = the cheapest certified arm whose
  * keyspace fits the corpus (2^bits ≤ n) and whose estimate beats
  * brute; no such arm ⇒ no recommendation ⇒ consumers run the exact
  * operator. BIGINT-safe to ~10¹² vectors (stated bound).
  *
  * The planned consumers ([[knnMutualPlanned]] /
  * [[embeddingDedupPlanned]]) read the recommendation and run either
  * the LSH candidate path at the certified width or the exact operator
  * — registered against the exact operators' own oracles (the
  * hybridJaccardPlanned pattern): at the gate SFs the honest
  * recommendation IS brute; the LSH arm's end-to-end equality is
  * pinned on a planted replica corpus (LshGeometrySpec) and measured
  * at 10× (PERF.md "Round-15: the LSH geometry advisor"). */
object LshGeometryPlan {

  /** Per-pair certificate floor: miss probability below 10⁻⁶. */
  val RecallFloorPpm = 999999L

  /** Candidate keyspace widths. 2^bits buckets per table; larger arms
    * serve larger corpora (fits = 2^bits ≤ n). Multi-probe key
    * enumeration caps the practical top end (C(bits,≤mp) key variants
    * per item). */
  val ArmBits: Seq[Int] = Seq(5, 6, 7, 8, 10, 12, 16, 20, 24)

  /** Widest probe the certificate search tries. */
  val MpMax = 4

  private def choose(n: Int, k: Int): Long = {
    var r = BigInt(1)
    (0 until k).foreach(i => r = r * (n - i) / (i + 1))
    r.toLong
  }

  /** Σ_{i≤mp} C(bits,i) — probe key variants per item per table. */
  def probeKeys(bits: Int, mp: Int): Long =
    (0 to mp).map(choose(bits, _)).sum

  /** `10⁶ − (10⁶ − Σ_{i≤mp} C(b,i)·p^{b−i}·q^i)^tables` as one generated
    * integer-ppm expression over ppm columns `p`/`q` — CONSERVATIVE at
    * every step (cert ≤ the real probability, spec-pinned): the match
    * terms round DOWN (truncating folds, the MinhashBandPlan powPpm
    * shape) so the per-table match P is underestimated and the miss
    * overestimated, and the miss power rounds UP (ceiling division —
    * `+999999` before the divide) so the total miss stays an
    * overestimate. `div` is the integer-division token (`div` Spark,
    * `//` DuckDB). */
  private def certText(b: Int, mp: Int, p: String, q: String,
                       div: String): String = {
    val terms = (0 to mp).map { i =>
      val pf = (1 to (b - i)).foldLeft("CAST(1000000 AS BIGINT)")(
        (acc, _) => s"(($acc) * ($p) $div 1000000)")
      val f = (1 to i).foldLeft(pf)(
        (acc, _) => s"(($acc) * ($q) $div 1000000)")
      s"(${choose(b, i)} * ($f))"
    }
    val miss = s"(1000000 - (${terms.mkString(" + ")}))"
    val missT = (2 to Lsh.LshTables).foldLeft(miss)(
      (acc, _) => s"((($acc) * ($miss) + 999999) $div 1000000)")
    s"(1000000 - ($missT))"
  }

  /** The same truncating fold in Scala longs (identical truncation) —
    * for the pair family's FIXED-τ certificates, precomputed to
    * literals. */
  private[graft] def certPpm(b: Int, mp: Int, pPpm: Long): Long = {
    val q = 1000000L - pPpm
    val pTable = (0 to mp).map { i =>
      var f = 1000000L
      (1 to (b - i)).foreach(_ => f = f * pPpm / 1000000L)
      (1 to i).foreach(_ => f = f * q / 1000000L)
      choose(b, i) * f
    }.sum
    val miss = 1000000L - pTable
    var m = miss
    (2 to Lsh.LshTables).foreach(_ => m = (m * miss + 999999L) / 1000000L)
    1000000L - m
  }

  /** p lower bound at the pair-miner threshold, in ppm — a pure
    * constant (τ is a contract literal, not data). */
  private[operators] val PairPPpm: Long =
    math.floor((1.0 - math.sqrt(1.0 - Similarity.DedupCosThreshold) / 2.0)
      * 1000000.0).toLong

  /** (mp, cert, keys) for the pair family at `bits` — smallest certified
    * width, None when even [[MpMax]] cannot certify τ-recall. */
  private[operators] def pairWidth(bits: Int): Option[(Int, Long, Long)] =
    (0 to MpMax).map(m => (m, certPpm(bits, m, PairPPpm)))
      .find(_._2 >= RecallFloorPpm)
      .map { case (m, c) => (m, c, probeKeys(bits, m)) }

  /** The engine-side p-lower-bound text over the sampled floor —
    * sqrt is correctly rounded IEEE in both engines, all other steps
    * exact, so the ppm is bit-identical cross-engine. */
  private def pPpmText: String =
    // both bounds guarded (r15 advice): the Scala side requires
    // cos ∈ [0, 1] — the SQL CASE must share the exact validity domain,
    // or a rounded kth_cos above 1.0 would diverge the engines
    "CASE WHEN kth_cos >= 0.0 AND kth_cos <= 1.0 THEN " +
      "CAST(floor((1.0 - sqrt(1.0 - kth_cos) / 2.0) * 1000000.0) AS BIGINT) END"

  /** Sampled-query cap: the floor probe reads at most this many queries
    * (the smallest sampled vec_ids — deterministic), so the sampling
    * pass is n·[[SampleCap]]·k dots — LINEAR in the corpus, never the
    * #31 sample's n²/QueryMod. Every gate scale has ≤ 50 sampled
    * queries, so the cap changes nothing there (oracle-identical); it
    * is the 100 TB bound. */
  val SampleCap = 64

  /** rank-k rows (cos column, unrounded) for the capped query sample —
    * the knnCosineBrute contract restricted to the [[SampleCap]]
    * smallest sampled queries. */
  private def sampledKth(embeddings: DataFrame): DataFrame = {
    val e = Similarity.withNorm(embeddings)
    val qIds = embeddings
      .filter(col("vec_id") % Similarity.QueryMod === 0)
      .select(col("vec_id").as("query_id"))
      .orderBy("query_id").limit(SampleCap) // TakeOrdered, never a sort
    val q = e.join(broadcast(qIds), col("vec_id") === col("query_id"))
      .select(col("query_id"), col("vd").as("qv"), col("norm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    e.select(col("vec_id"), col("vd"), col("norm"))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(s"${Similarity.DotF} / (norm * qn)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === Similarity.KnnK)
      .select("query_id", "cos")
  }

  /** One arm of the report — the full output row shape. */
  private case class Arm(bits: Long, tables: Long, buckets: Long,
                         n: Long, kthCos: Option[Double], pPpm: Option[Long],
                         mpMutual: Option[Long], keysMutual: Option[Long],
                         certMutual: Option[Long],
                         mpPair: Option[Long], keysPair: Option[Long],
                         certPair: Option[Long])

  def lshGeometryPlan(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    // the TWO data inputs, via one bounded driver probe each (the
    // documented 1-row-aggregate collect class): the corpus count, and
    // the sampled k-th-neighbor floor — min rank-k cosine over the #31
    // query sample, min AFTER the shared round-4 (identical both
    // engines). Everything downstream is literal integer arithmetic
    // over a 9-arm catalog frame, so it runs DRIVER-SIDE with the SAME
    // truncating folds the DuckDB oracle evaluates in SQL (certPpm is
    // one Scala/SQL-identical function; an in-engine expression form
    // measured identical but blew the 64 KB codegen method limit on the
    // 9-row frame — metadata-scale work belongs at metadata altitude).
    val statsRow = embeddings.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(sampledKth(embeddings)
        .agg(min(expr(Parity.rexpr("cos", 4))).as("kth_cos")))
      .head()
    val n = statsRow.getLong(0)
    val kthCos: Option[Double] =
      if (statsRow.isNullAt(1)) None else Some(statsRow.getDouble(1))
    // p lower bound (see the scaladoc): valid only on cos ∈ [0, 1]
    val pPpm: Option[Long] = kthCos.filter(c => c >= 0.0 && c <= 1.0)
      .map(c => math.floor((1.0 - math.sqrt(1.0 - c) / 2.0) * 1000000.0).toLong)
    val arms = ArmBits.map { b =>
      val mutual = pPpm.flatMap(p =>
        (0 to MpMax).map(m => (m, certPpm(b, m, p)))
          .find(_._2 >= RecallFloorPpm))
      val pair = pairWidth(b)
      Arm(b.toLong, Lsh.LshTables.toLong, 1L << b, n, kthCos, pPpm,
        mutual.map(_._1.toLong), mutual.map(x => probeKeys(b, x._1)),
        mutual.map(_._2),
        pair.map(_._1.toLong), pair.map(_._3), pair.map(_._2))
    }
    def est(a: Arm, keys: Option[Long]): Option[Long] =
      keys.map(k => a.tables * k * ((a.n * 1000L) / a.buckets))
    val brute = math.max(n - 1, 0L) * 1000L
    def recommendedBits(getKeys: Arm => Option[Long],
                        getMp: Arm => Option[Long]): Option[Long] = {
      val qual = arms.filter(a => a.buckets <= a.n && getMp(a).isDefined &&
        est(a, getKeys(a)).exists(_ < brute))
      if (qual.isEmpty) None
      else {
        val bestEst = qual.flatMap(a => est(a, getKeys(a))).min
        Some(qual.filter(a => est(a, getKeys(a)).contains(bestEst))
          .map(_.bits).min)
      }
    }
    val bestM = recommendedBits(_.keysMutual, _.mpMutual)
    val bestP = recommendedBits(_.keysPair, _.mpPair)
    def l(v: Option[Long]): Any = v.map(Long.box).orNull
    val rows = arms.map { a =>
      org.apache.spark.sql.Row(
        a.bits, a.tables, a.buckets, a.n,
        a.kthCos.map(Double.box).orNull, l(a.pPpm),
        l(a.mpMutual), l(a.keysMutual), l(a.certMutual),
        l(a.mpPair), l(a.keysPair), l(a.certPair),
        l(est(a, a.keysMutual)), l(est(a, a.keysPair)),
        brute, a.buckets <= a.n,
        bestM.contains(a.bits), bestP.contains(a.bits))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("bits", LongType, nullable = false),
      StructField("tables", LongType, nullable = false),
      StructField("buckets_per_table", LongType, nullable = false),
      StructField("n_vectors", LongType, nullable = false),
      StructField("kth_cos", DoubleType),
      StructField("p_ppm", LongType),
      StructField("mp_mutual", LongType),
      StructField("probe_keys_mutual", LongType),
      StructField("cert_mutual_ppm", LongType),
      StructField("mp_pair", LongType),
      StructField("probe_keys_pair", LongType),
      StructField("cert_pair_ppm", LongType),
      StructField("est_mutual_mrows", LongType),
      StructField("est_pair_mrows", LongType),
      StructField("brute_mrows", LongType, nullable = false),
      StructField("fits", BooleanType, nullable = false),
      StructField("recommended_mutual", BooleanType, nullable = false),
      StructField("recommended_pair", BooleanType, nullable = false)))
    // day-one totality: an EMPTY corpus has no geometry to advise —
    // zero rows (the MinhashBandPlan convention), not 9 degenerate arms
    val out = if (n == 0) Seq.empty[org.apache.spark.sql.Row] else rows
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema)
  }

  /** The advisor frame from the fingerprint-keyed store (round 16 — the
    * r15 verdict's #6 order): the plan pass (corpus count + the
    * SampleCap-bounded sampled floor) is deterministic per (embedding
    * content, dials), and FOUR registered queries consume it (#259 and
    * the three planned consumers) — so it runs ONCE per corpus and is
    * read back afterwards (the mutualLshPairsFor economics: one linear
    * pass instead of four; at gate ~3-4 s, at 100 TB the difference
    * between one corpus pass and four). Keyed by every dial that shapes
    * the report (k, query sample, cap, tables — ArmBits/MpMax are code
    * constants that change only with the code) + the embedding content
    * fingerprint, so a changed corpus or dial mines fresh by path
    * construction. Store == inline row identity is pinned in
    * LshGeometrySpec. */
  private[graft] def planFor(embeddings: DataFrame): DataFrame =
    PairIndexStore.cachedFrameKeyed(
      s"lshplan-v1-k${Similarity.KnnK}-q${Similarity.QueryMod}" +
        s"-c$SampleCap-t${Lsh.LshTables}-" +
        PairIndexStore.fingerprintOf(embeddings, "vec_id", "embedding"),
      embeddings.sparkSession)(lshGeometryPlan(embeddings))

  def lshGeometryPlanQ(embeddings: DataFrame): DataFrame =
    planFor(embeddings)
      .select(col("bits"), col("tables"), col("buckets_per_table"),
        col("n_vectors"), Parity.r("kth_cos", 4), col("p_ppm"),
        col("mp_mutual"), col("probe_keys_mutual"), col("cert_mutual_ppm"),
        col("mp_pair"), col("probe_keys_pair"), col("cert_pair_ppm"),
        col("est_mutual_mrows"), col("est_pair_mrows"), col("brute_mrows"),
        col("fits"), col("recommended_mutual"), col("recommended_pair"))
      .orderBy("bits")

  /** Recommended (bits, mp) for a family from a (possibly persisted)
    * plan frame — one bounded driver probe of the |ArmBits|-row report;
    * None = run the exact operator (the advisor could not certify a
    * cheaper-than-brute geometry). */
  def geometryFromPlan(plan: DataFrame, family: String): Option[(Int, Int)] = {
    val rec = plan.filter(col(s"recommended_$family"))
      .select(col("bits"), col(s"mp_$family")).collect()
    rec.headOption.map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
  }

  /** PLAN-AS-DATA mutual-kNN: the LSH candidate path at the plan's
    * certified geometry, or the exact operator when the plan recommends
    * brute — same output contract either way, so it shares
    * [[KnnMutual.knnMutualSql]]. */
  def knnMutualPlanned(embeddings: DataFrame, plan: DataFrame): DataFrame =
    geometryFromPlan(plan, "mutual") match {
      case Some((b, mp)) => KnnMutual.knnMutualLsh(embeddings,
        multiProbe = mp, bits = b)
      case None => KnnMutual.knnMutual(embeddings)
    }

  /** PLAN-AS-DATA τ-threshold pair miner — shares
    * [[Similarity.embeddingDedupSql]]. */
  def embeddingDedupPlanned(embeddings: DataFrame, plan: DataFrame): DataFrame =
    geometryFromPlan(plan, "pair") match {
      case Some((b, mp)) => Lsh.embeddingDedupLsh(embeddings,
        multiProbe = mp, bits = b)
      case None => Similarity.embeddingDedup(embeddings)
    }

  /** PLAN-AS-DATA top-k ANN — the third consumer family: the mutual
    * certificate is exactly the top-k recall condition (min rank-k
    * cosine over the query sample — and here the queries ARE the
    * sample), so the mutual-family geometry serves it; shares
    * [[Similarity.knnCosineBruteSql]]. */
  def knnCosinePlanned(embeddings: DataFrame, plan: DataFrame): DataFrame =
    geometryFromPlan(plan, "mutual") match {
      case Some((b, mp)) => Lsh.knnCosineLsh(embeddings,
        multiProbe = mp, bits = b)
      case None => Similarity.knnCosineBrute(embeddings)
    }

  // the three planned consumers read the STORED plan (round 16 — one
  // advisor pass per corpus, not one per consumer); outputs unchanged,
  // so each keeps its exact twin's oracle
  def knnCosinePlannedQ(embeddings: DataFrame): DataFrame =
    knnCosinePlanned(embeddings, planFor(embeddings))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        Parity.r("cos", 4), col("label"))
      .orderBy("query_id", "rank")

  def knnMutualPlannedQ(embeddings: DataFrame): DataFrame =
    knnMutualPlanned(embeddings, planFor(embeddings))
      .select(col("id1"), col("id2"), col("rank12"), col("rank21"),
        Parity.r("cos", 4))
      .orderBy("id1", "id2")

  def embeddingDedupPlannedQ(embeddings: DataFrame): DataFrame =
    embeddingDedupPlanned(embeddings, planFor(embeddings))
      .select(col("id1"), col("id2"), Parity.r("cos", 4))
      .orderBy("id1", "id2")

  /** DuckDB twin: the same stats → p_ppm → per-arm integer folds →
    * windows, generated from the SAME Scala constants and fold
    * generators (one-text rule). */
  val lshGeometryPlanSql: String = {
    val armSelects = ArmBits.map { b =>
      val certs = (0 to MpMax).map(m => certText(b, m, "p_ppm", "q_ppm", "//"))
      val mpCase = "CASE " + (0 to MpMax).map(m =>
        s"WHEN ${certs(m)} >= $RecallFloorPpm THEN CAST($m AS BIGINT)")
        .mkString(" ") + " END"
      val certCase = "CASE mp_mutual " + (0 to MpMax).map(m =>
        s"WHEN $m THEN ${certs(m)}").mkString(" ") + " END"
      val keysCase = "CASE mp_mutual " + (0 to MpMax).map(m =>
        s"WHEN $m THEN CAST(${probeKeys(b, m)} AS BIGINT)").mkString(" ") +
        " END"
      val pair = pairWidth(b)
      val (mpP, certP, keysP) = pair match {
        case Some((m, c, k)) =>
          (s"CAST($m AS BIGINT)", s"CAST($c AS BIGINT)", s"CAST($k AS BIGINT)")
        case None => ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS BIGINT)")
      }
      s"""SELECT CAST($b AS BIGINT) AS bits,
         |       CAST(${Lsh.LshTables} AS BIGINT) AS tables,
         |       CAST(${1L << b} AS BIGINT) AS buckets_per_table,
         |       n_vectors, kth_cos, p_ppm,
         |       mp_mutual,
         |       $certCase AS cert_mutual_ppm,
         |       $keysCase AS probe_keys_mutual,
         |       $mpP AS mp_pair, $certP AS cert_pair_ppm,
         |       $keysP AS probe_keys_pair
         |FROM (SELECT *, $mpCase AS mp_mutual FROM p2) arm_$b""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${Similarity.VecCteBody}, qs AS (
       |  SELECT vec_id FROM embeddings
       |  WHERE vec_id % ${Similarity.QueryMod} = 0
       |  ORDER BY vec_id LIMIT $SampleCap
       |), scored AS (
       |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
       |         ${Similarity.DotSqlF} / (a.norm * q.norm) AS cos
       |  FROM n a JOIN n q
       |    ON q.vec_id IN (SELECT vec_id FROM qs) AND a.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored
       |), stats AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
       |         min(${Parity.rexpr("cos", 4)}) AS kth_cos
       |  FROM ranked WHERE rank = ${Similarity.KnnK}
       |), p2 AS (
       |  SELECT n_vectors, kth_cos, p_ppm, 1000000 - p_ppm AS q_ppm
       |  FROM (SELECT *, $pPpmText AS p_ppm FROM stats) p1
       |), arms AS (
       |  $armSelects
       |), est AS (
       |  SELECT *,
       |         tables * probe_keys_mutual * ((n_vectors * 1000) // buckets_per_table) AS est_mutual_mrows,
       |         tables * probe_keys_pair * ((n_vectors * 1000) // buckets_per_table) AS est_pair_mrows,
       |         greatest(n_vectors - 1, 0) * 1000 AS brute_mrows,
       |         buckets_per_table <= n_vectors AS fits
       |  FROM arms
       |), qm AS (
       |  SELECT *,
       |         fits AND mp_mutual IS NOT NULL AND est_mutual_mrows < brute_mrows AS qual_m,
       |         fits AND mp_pair IS NOT NULL AND est_pair_mrows < brute_mrows AS qual_p
       |  FROM est
       |), flagged AS (
       |  SELECT *,
       |         min(CASE WHEN qual_m THEN est_mutual_mrows END) OVER () AS best_em,
       |         min(CASE WHEN qual_p THEN est_pair_mrows END) OVER () AS best_ep
       |  FROM qm
       |), flagged2 AS (
       |  SELECT *,
       |         min(CASE WHEN qual_m AND est_mutual_mrows = best_em THEN bits END) OVER () AS best_bm,
       |         min(CASE WHEN qual_p AND est_pair_mrows = best_ep THEN bits END) OVER () AS best_bp
       |  FROM flagged
       |)
       |SELECT bits, tables, buckets_per_table, n_vectors,
       |       ${Parity.rsql("kth_cos", 4, "kth_cos")}, p_ppm,
       |       mp_mutual, probe_keys_mutual, cert_mutual_ppm,
       |       mp_pair, probe_keys_pair, cert_pair_ppm,
       |       est_mutual_mrows, est_pair_mrows, brute_mrows, fits,
       |       qual_m AND COALESCE(est_mutual_mrows = best_em AND bits = best_bm, FALSE) AS recommended_mutual,
       |       qual_p AND COALESCE(est_pair_mrows = best_ep AND bits = best_bp, FALSE) AS recommended_pair
       |FROM flagged2
       |WHERE n_vectors > 0
       |ORDER BY bits""".stripMargin
  }

  val knnMutualPlannedSql: String = KnnMutual.knnMutualSql
  val embeddingDedupPlannedSql: String = Similarity.embeddingDedupSql
  val knnCosinePlannedSql: String = Similarity.knnCosineBruteSql
}
