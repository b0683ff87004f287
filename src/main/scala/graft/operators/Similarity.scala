package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Parity.{r, rsql}

/** Embedding similarity over the `embeddings` table (SURVEY.md §2.C 31/33):
  * exact top-k cosine neighbors (the ANN baseline) and near-duplicate pair
  * mining at a cosine threshold. The hyperplane-LSH variant (C32) is the
  * 100 TB path; these exact operators are its oracle.
  *
  * Plan shapes:
  *  - knn brute: the query set is a small fraction of the corpus
  *    (vec_id % 100 == 0) and is BROADCAST against one linear corpus scan —
  *    scan × |Q| dot products, one narrow window for the per-query top-k,
  *    no corpus×corpus product.
  *  - embedding_dedup: corpus×corpus is inherent to the exact-threshold
  *    contract; at scale the LSH bucket join (knnCosineLsh in Lsh.scala)
  *    replaces the cross join and this exact form verifies its recall on
  *    samples.
  *
  * Oracle parity: dot/norm are left-assoc folds over CAST-to-double
  * elements; the DuckDB twin uses list_reduce with the same association
  * order, so cosines are bit-identical and the rank window is fully
  * deterministic (ties broken by vec_id).
  */
object Similarity {

  val KnnK = 5
  val QueryMod = 100
  val DedupCosThreshold = 0.4

  /** embedding as double array + its L2 norm. The fold runs through the
    * native codegen'd [[graft.functions.ArrayDotProduct]] (same left-assoc
    * order as the declarative aggregate/zip_with form, bit-identical
    * results, ~100× less per-element overhead on the pair hot path). */
  def withNorm(embeddings: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(embeddings.sparkSession)
    embeddings
      // local tables are one parquet file → one partition; the pair joins
      // parallelize over this side's partitions, so spread it (at 100 TB
      // the input is already split and this is a no-op cost-wise)
      .repartition(col("vec_id"))
      .withColumn("vd", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm", expr("sqrt(graft_dot(vd, vd))"))
  }

  private[operators] val DotF = "graft_dot(vd, qv)"

  /** Exact top-k cosine neighbors for every query vector. */
  def knnCosineBrute(embeddings: DataFrame, k: Int = KnnK): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("norm").as("qn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    e.select(col("vec_id"), col("label"), col("vd"), col("norm"))
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(s"$DotF / (norm * qn)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("cos"), col("label"))
  }

  def knnCosineBruteQ(embeddings: DataFrame): DataFrame =
    knnCosineBrute(embeddings)
      .select(col("query_id"), col("neighbor_id"), col("rank"), r("cos", 4), col("label"))
      .orderBy("query_id", "rank")

  /** Near-duplicate pairs at cos ≥ τ. τ defaults to 0.4: this corpus'
    * top pairwise cosine is ~0.51, so the reference-style 0.95 cut would be
    * vacuous here; the contract (exact threshold pairs) is unchanged. */
  def embeddingDedup(embeddings: DataFrame, threshold: Double = DedupCosThreshold): DataFrame = {
    val e = withNorm(embeddings)
    val a = e.select(col("vec_id").as("id1"), col("vd"), col("norm"))
    val b = e.select(col("vec_id").as("id2"), col("vd").as("qv"), col("norm").as("qn"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos", expr(s"$DotF / (norm * qn)"))
      .filter(col("cos") >= threshold)
      .select("id1", "id2", "cos")
  }

  def embeddingDedupQ(embeddings: DataFrame): DataFrame =
    embeddingDedup(embeddings)
      .select(col("id1"), col("id2"), r("cos", 4))
      .orderBy("id1", "id2")

  // ------------------------------------------------------------ oracle SQL

  /** Shared DuckDB vector CTE: double list + left-assoc norm fold (matches
    * Spark aggregate's 0.0 + x1 + x2 + … order; 0.0 + x1 == x1 exactly).
    * Split body/prefix so [[embeddingClustersSql]] can open the same chain
    * with `WITH RECURSIVE`. */
  private[operators] val VecCteBody =
    """e AS (
      |  SELECT vec_id, label,
      |         [CAST(x AS DOUBLE) for x in embedding] AS vd
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, label, vd,
      |         sqrt(list_reduce(list_transform(vd, x -> x * x), (a, b) -> a + b)) AS norm
      |  FROM e
      |)""".stripMargin

  private[operators] val VecCte = "WITH " + VecCteBody

  private[operators] val DotSqlF =
    "list_reduce([a.vd[i] * q.vd[i] for i in range(1, len(a.vd) + 1)], (x, y) -> x + y)"

  val knnCosineBruteSql: String =
    s"""$VecCte, scored AS (
       |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.label,
       |         $DotSqlF / (a.norm * q.norm) AS cos
       |  FROM n a JOIN n q
       |    ON q.vec_id % $QueryMod = 0 AND a.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, rank, ${rsql("cos", 4, "cos")}, label
       |FROM ranked
       |WHERE rank <= $KnnK
       |ORDER BY query_id, rank""".stripMargin

  val embeddingDedupSql: String =
    s"""$VecCte, pairs AS (
       |  SELECT a.vec_id AS id1, q.vec_id AS id2,
       |         $DotSqlF / (a.norm * q.norm) AS cos
       |  FROM n a JOIN n q ON a.vec_id < q.vec_id
       |)
       |SELECT id1, id2, ${rsql("cos", 4, "cos")}
       |FROM pairs
       |WHERE cos >= $DedupCosThreshold
       |ORDER BY id1, id2""".stripMargin

  // ---------------------------------------- embedding_dedup_incremental

  /** Per-batch SEMANTIC admission (round 8) — the embedding-side member of
    * the incremental family ([[Dedup.dedupIncremental]] for documents,
    * [[ParagraphDedup.paragraphIncremental]] for windows): each BATCH
    * vector ([[Dedup.IncrementalBatchMod]] stand-in) is admitted iff no
    * CORPUS vector sits within cosine ≥ τ; `dup_of` is the min-id match
    * (the family's deterministic representative), `best_cos` the closest
    * match. Batch×batch is never compared and corpus×corpus never runs —
    * the incremental economics.
    *
    * Shape: |batch| × |corpus| dot products via one broadcast nested loop
    * (a documented exact-contract product, the [[knnCosineBrute]] class);
    * at 100 TB the probe side becomes the hyperplane-LSH bucket index
    * ([[Lsh]]) exactly as text admission's `_lsh` twin probes its bucket
    * index, with this exact form as its recall oracle. Map-side cos +
    * one batch-keyed agg; the no-match batch rows re-enter at a final
    * left join (the family's 0-hit convention). */
  def embeddingDedupIncremental(embeddings: DataFrame,
                                threshold: Double = DedupCosThreshold,
                                batchMod: Long = Dedup.IncrementalBatchMod): DataFrame = {
    val e = withNorm(embeddings)
    val batch = e.filter(col("vec_id") % batchMod === 0)
      .select(col("vec_id").as("bid"), col("vd").as("qv"), col("norm").as("qn"))
    val corpus = e.filter(col("vec_id") % batchMod =!= 0)
      .select(col("vec_id"), col("vd"), col("norm"))
    val stats = corpus.crossJoin(broadcast(batch))
      .withColumn("cos", expr(s"$DotF / (norm * qn)"))
      .filter(col("cos") >= threshold)
      .groupBy("bid")
      .agg(count(lit(1)).as("nm"), min("vec_id").as("dup_of"),
        max("cos").as("best_cos"))
    e.filter(col("vec_id") % batchMod === 0).select(col("vec_id"))
      .join(stats, col("vec_id") === col("bid"), "left")
      .withColumn("n_matches", coalesce(col("nm"), lit(0L)))
      .withColumn("is_new", col("dup_of").isNull)
      .select(col("vec_id"), col("n_matches"), col("dup_of"),
        col("best_cos"), col("is_new"))
  }

  def embeddingDedupIncrementalQ(embeddings: DataFrame): DataFrame =
    embeddingDedupIncremental(embeddings)
      .select(col("vec_id"), col("n_matches"), col("dup_of"),
        r("best_cos", 4), col("is_new"))
      .orderBy("vec_id")

  val embeddingDedupIncrementalSql: String = {
    val mod = Dedup.IncrementalBatchMod
    s"""$VecCte, pairs AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS bid, a.vec_id AS cid,
       |           $DotSqlF / (a.norm * q.norm) AS cos
       |    FROM n a JOIN n q
       |      ON q.vec_id % $mod = 0 AND a.vec_id % $mod <> 0
       |  ) WHERE cos >= $DedupCosThreshold
       |), stats AS (
       |  SELECT bid, CAST(count(*) AS BIGINT) AS nm,
       |         min(cid) AS dup_of, max(cos) AS best_cos
       |  FROM pairs GROUP BY bid
       |)
       |SELECT b.vec_id, COALESCE(nm, 0) AS n_matches, dup_of,
       |       ${rsql("best_cos", 4, "best_cos")},
       |       dup_of IS NULL AS is_new
       |FROM (SELECT vec_id FROM embeddings WHERE vec_id % $mod = 0) b
       |LEFT JOIN stats ON stats.bid = b.vec_id
       |ORDER BY b.vec_id""".stripMargin
  }

  // ------------------------------------------------------- embedding_cluster

  /** Semantic near-dup CLUSTERS (round 8) — connected components over the
    * [[embeddingDedup]] cos ≥ τ pair graph, every vector labeled with its
    * component's min vec_id: the embedding-side member of the cluster
    * family, completing the symmetry [[Dedup.dedupClusters]] (shingle
    * pairs → clusters) established for text. SemDeDup-style pipelines
    * consume exactly this: pairwise semantic duplicates are not actionable
    * until they are grouped and one representative per group survives.
    *
    * Shape: the pair stage is the documented exact-contract |n|² product
    * (embedding_dedup's class — at 100 TB the hyperplane-LSH bucket join
    * [[Lsh.embeddingDedupLsh]] generates the same candidates at Σ bucket²
    * cost, mirroring dedupClusters → dedupClustersLsh); the CC stage is
    * [[Dedup.propagateMinLabels]] verbatim — min-label propagation with
    * pointer jumping, O(log d) rounds, each round's frame localCheckpoint'd
    * per the multi-consumer invariant. Cluster count and sizes are bounded
    * by the pair graph, never materialized driver-side. */
  def embeddingClusters(embeddings: DataFrame,
                        threshold: Double = DedupCosThreshold,
                        maxIters: Int = 20): DataFrame = {
    val pairs = embeddingDedup(embeddings, threshold)
      .select(col("id1"), col("id2")).localCheckpoint()
    val edges = pairs
      .unionAll(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val vertices = embeddings.select(col("vec_id").as("doc_id"))
    val (labels, _) = Dedup.propagateMinLabels(vertices, edges, maxIters)
    labels
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
  }

  def embeddingClustersQ(embeddings: DataFrame): DataFrame =
    embeddingClusters(embeddings).orderBy("vec_id")

  /** LSH twin of [[embeddingClusters]] — closes the semantic-cluster
    * family's scale gap the same way the shingle side closed #38 → #39
    * (dedup_cluster → dedup_cluster_lsh): the pair stage is
    * [[Lsh.embeddingDedupLsh]]'s hyperplane-bucket join (Σ bucket², the
    * 100 TB path) instead of the exact |n|² product; the CC stage is
    * unchanged.
    *
    * Oracle argument (the dedup_cluster_lsh argument, adapted):
    * connected components need CONNECTIVITY, not every edge — a missed
    * pair is harmless whenever the component stays connected through
    * other collisions. [[ClusterProbeGate]] is the measured probe width
    * where the LSH pair graph induces the IDENTICAL component labeling
    * on the gate corpus (SURVEY.md row #187; spec-pinned
    * row-identity in AnnOracleSpec — a corpus change that breaks it
    * fails loudly there), so the registered query shares
    * [[embeddingClustersSql]]'s recursive-closure oracle verbatim. */
  def embeddingClustersLsh(embeddings: DataFrame,
                           threshold: Double = DedupCosThreshold,
                           multiProbe: Int = 0,
                           maxIters: Int = 20): DataFrame = {
    val pairs = Lsh.embeddingDedupLsh(embeddings, threshold, multiProbe)
      .select(col("id1"), col("id2")).localCheckpoint()
    val edges = pairs
      .unionAll(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val vertices = embeddings.select(col("vec_id").as("doc_id"))
    val (labels, _) = Dedup.propagateMinLabels(vertices, edges, maxIters)
    labels
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
  }

  /** Probe width at which the LSH pair graph provably induces the exact
    * component labeling on the gate corpus — measured (SURVEY.md row
    * #187): mp=0 diverges on 27 labels, mp=1 on 1, mp=2 on 0;
    * pinned end-to-end in AnnOracleSpec. Affordable because the pair
    * stage's id-only join-back (see [[Lsh.PairProbeRecallOne]]) collapsed
    * the mp=2 cost from 42 s to ~7 s at sf0.1. */
  val ClusterProbeGate = 2

  def embeddingClustersLshQ(embeddings: DataFrame): DataFrame =
    embeddingClustersLsh(embeddings, multiProbe = ClusterProbeGate)
      .orderBy("vec_id")

  /** INCREMENTAL semantic-cluster maintenance (round 14) — the LAST cell
    * of the incremental matrix: shingle admission (#41), shingle labels
    * (#250), semantic admission (#74/#251) exist; this answers "what do
    * the SEMANTIC labels become when a batch arrives" without re-pairing
    * the corpus with itself. Same super-vertex merge as
    * [[Dedup.clustersIncrementalFromState]] (old component labels are
    * super-vertices, min-ids compose): the only new pair work is
    * batch-TOUCHING cosine pairs — batch×corpus (the #74 broadcast
    * product; at 100 TB the [[Lsh.embeddingDedupIncrementalLsh]] bucket
    * probe mines the same candidates at Σ bucket² cost) plus
    * batch×batch (two new vectors forming a brand-new cluster —
    * admission never needs this edge class, the CC merge does). CC runs
    * on the LABEL GRAPH — |components|+|batch| vertices, catalog-sized
    * next to the corpus. The registered query derives old labels
    * in-query (self-contained for the gate) and shares the FULL
    * clustering's oracle, so the gate PROVES the merge reproduces the
    * from-scratch labeling exactly — the #250 precedent on the
    * embedding side. */
  def embeddingClustersIncremental(embeddings: DataFrame,
                                   threshold: Double = DedupCosThreshold,
                                   batchMod: Long = Dedup.IncrementalBatchMod,
                                   maxIters: Int = 20): DataFrame = {
    val oldLabels = embeddingClusters(
      embeddings.filter(col("vec_id") % batchMod =!= 0), threshold, maxIters)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    clustersIncrementalFromLabels(embeddings, oldLabels, threshold,
      batchMod, maxIters)
  }

  /** Batch-TOUCHING cosine pairs — the only live pair work of the
    * incremental merge: batch×corpus (the #74 broadcast product) plus
    * batch×batch (the edge class admission never needs but CC does). */
  private[operators] def batchTouchingSemanticPairs(
      embeddings: DataFrame, threshold: Double, batchMod: Long): DataFrame = {
    val e = withNorm(embeddings)
    val batch = e.filter(col("vec_id") % batchMod === 0)
      .select(col("vec_id").as("bid"), col("vd").as("qv"), col("norm").as("qn"))
    val corpusN = e.filter(col("vec_id") % batchMod =!= 0)
      .select(col("vec_id"), col("vd"), col("norm"))
    val bc = corpusN.crossJoin(broadcast(batch))
      .withColumn("cos", expr(s"$DotF / (norm * qn)"))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("id1"), col("bid").as("id2"))
    val bb = embeddingDedup(
      embeddings.filter(col("vec_id") % batchMod === 0), threshold)
      .select(col("id1"), col("id2"))
    bc.unionAll(bb)
  }

  /** The deployment form: persisted corpus labels in (doc_id = vec_id,
    * cluster_id), live delta mine, full updated labels out — the
    * semantic face of [[Dedup.clustersIncrementalFromState]]. */
  private[operators] def clustersIncrementalFromLabels(
      embeddings: DataFrame, oldLabels: DataFrame, threshold: Double,
      batchMod: Long, maxIters: Int): DataFrame =
    Dedup.clustersIncrementalFromState(
      embeddings.select(col("vec_id").as("doc_id")),
      oldLabels,
      batchTouchingSemanticPairs(embeddings, threshold, batchMod),
      batchMod, maxIters)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_canonical"))

  /** DuckDB twin: the [[embeddingDedupSql]] pair CTEs + the recursive-CTE
    * transitive closure of [[Dedup.dedupClustersSql]] — min reachable id
    * per vector. */
  /** Chain ending at `cc(doc, cluster_id)` — must be opened with
    * `WITH RECURSIVE`. One text for [[embeddingClustersSql]] and every
    * oracle composing on the semantic clusters (semantic_keep_best). */
  private[operators] lazy val clusterChainBody: String =
    s"""$VecCteBody, pairs AS (
       |  SELECT * FROM (
       |    SELECT a.vec_id AS id1, q.vec_id AS id2,
       |           $DotSqlF / (a.norm * q.norm) AS cos
       |    FROM n a JOIN n q ON a.vec_id < q.vec_id
       |  ) WHERE cos >= $DedupCosThreshold
       |), edges AS (
       |  SELECT id1 AS u, id2 AS v FROM pairs
       |  UNION ALL
       |  SELECT id2 AS u, id1 AS v FROM pairs
       |), reach AS (
       |  SELECT vec_id AS doc, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT e.u AS doc, reach.r FROM edges e JOIN reach ON reach.doc = e.v
       |), cc AS (
       |  SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc
       |)""".stripMargin

  val embeddingClustersSql: String =
    s"""WITH RECURSIVE $clusterChainBody
       |SELECT doc AS vec_id, cluster_id, doc = cluster_id AS is_canonical
       |FROM cc
       |ORDER BY vec_id""".stripMargin
}
