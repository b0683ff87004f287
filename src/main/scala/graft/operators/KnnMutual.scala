package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Parity.{r, rsql}

/** MUTUAL k-NN pairs (round 13) — the standard near-duplicate GRAPH
  * builder the one-directional family implies: [[Similarity
  * .knnCosineBrute]] answers "who are my neighbors", [[Similarity
  * .embeddingDedup]] "who crosses a global threshold"; mutual-kNN keeps
  * the pair (a, b) only when EACH is in the OTHER's top-k — the
  * asymmetric-hub filter (a cluster centroid is everyone's neighbor
  * but reciprocates only its true peers), the edge set semantic-dedup
  * and graph-clustering pipelines actually build on (public: mutual
  * kNN graphs, e.g. Brito et al. 1997).
  *
  * §6 / determinism: cosines ride the established bit-identical fold
  * ([[Similarity.withNorm]]'s left-assoc dot, one shared formula text);
  * ranks are row_number over the total (cos DESC, id) order; cos(a,b)
  * is computed once per DIRECTION and is bit-identical both ways
  * (per-element products commute, same summation order), so the pair
  * carries the id1-side value. Emission is the canonical id1 < id2 row
  * with BOTH ranks — the asymmetry survives as data.
  *
  * Scale shape: the ranked top-k frame is the [[Similarity
  * .knnCosineBrute]] contract over ALL vectors (corpus×corpus dot
  * products — inherent to the exact contract). [[knnMutualLsh]] is the
  * shipped 100 TB candidate path (round 14): hyperplane-bucket pairs,
  * exact rerank within candidates, with this as its recall oracle.
  * After the rank filter the frame is n·k rows — the mutual join is
  * tiny and self-joins the CHECKPOINTED frame (2 consumers per the
  * invariant). */
object KnnMutual {

  val K = 5

  def knnMutual(embeddings: DataFrame, k: Int = K): DataFrame = {
    val e = Similarity.withNorm(embeddings)
    val a = e.select(col("vec_id").as("src"), col("vd"), col("norm"))
    val b = e.select(col("vec_id").as("dst"), col("vd").as("qv"),
      col("norm").as("qn"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val ranked = a.join(b, col("src") =!= col("dst"))
      .withColumn("cos", expr(s"${Similarity.DotF} / (norm * qn)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src", "dst", "rank", "cos")
      .localCheckpoint() // 2 consumers: both sides of the mutual join
    mutualJoin(ranked)
  }

  /** Shared mutual-join tail over a checkpointed per-direction top-k
    * frame (src, dst, rank, cos): canonical id1 < id2 rows with BOTH
    * ranks; cos carried from the id1 side (bit-identical both ways). */
  private def mutualJoin(ranked: DataFrame): DataFrame =
    ranked
      .filter(col("src") < col("dst"))
      .select(col("src").as("id1"), col("dst").as("id2"),
        col("rank").cast("long").as("rank12"), col("cos"))
      .join(ranked.filter(col("src") > col("dst"))
        .select(col("dst").as("id1"), col("src").as("id2"),
          col("rank").cast("long").as("rank21")), Seq("id1", "id2"))
      .select("id1", "id2", "rank12", "rank21", "cos")

  /** Sub-quadratic CANDIDATE-PATH twin (round 14 — the r13 verdict's #1
    * order): mine candidate pairs through the hyperplane buckets (the
    * [[Lsh.embeddingDedupLsh]] id-only economics: the bucket self-join
    * and pair dedup carry two longs per row; vectors attach AFTER), then
    * run the SAME exact cosine rerank + mutual join over the candidate
    * graph only. `multiProbe` widens one side of the bucket join by all
    * key variants within Hamming ≤ m (collision is symmetric in Hamming
    * distance, so one-sided probing suffices — the pair-miner argument).
    *
    * Exactness condition: output equals [[knnMutual]] whenever the
    * candidate set contains every true top-k neighbor pair — then each
    * src's top-k WITHIN candidates is exactly its true top-k (any extra
    * candidate ranks below the k-th), ranks/cosines are computed by the
    * same codegen'd expression over the same (cos DESC, dst) order, and
    * the mutual join sees identical inputs. Honesty note: BELOW that
    * width this operator differs from the verified pair miners in kind —
    * a missed true neighbor SHIFTS ranks within candidates, so the
    * mutual filter can also emit FALSE pairs (measured mp=1 at sf0.01:
    * 924 pairs vs 921 exact), not just miss true ones; precision is
    * exact only at recall 1. Measured (SURVEY.md row #238, sf0.01 and
    * sf0.1): mp=0 recall 0.49; mp=1 0.97 (3 false
    * pairs); mp=2 full-row equal at sf0.01 but 1 of 3800 pairs short at
    * sf0.1 — the mutual contract needs ALL top-k neighbors including
    * mid-cosine ones the threshold miner never looks at, so its
    * recall-1 width is wider than [[Lsh.PairProbeRecallOne]]; mp=3 =
    * [[MutualProbeGate]] FULL-ROW equality at BOTH gate SFs —
    * spec-pinned (AnnOracleSpec), which is what lets the registered
    * query share `knnMutualSql` as its oracle (the #36
    * embedding_dedup_lsh promotion pattern). At 100 TB you raise `bits`
    * so buckets stay ~constant-size and retune mp — and since round 14
    * that dial is a REAL parameter, measured (PERF.md "Round-14:
    * mutual-kNN candidate path", 10×
    * vectors): the registered bits=5 geometry loses to brute at 10×
    * (76 vs 38 s — buckets grow with n, so Σ bucket² grows with n²),
    * while bits=8/mp=2 reads 35 s, crossing UNDER exact while staying
    * full-row equal; the gap widens quadratically with n from there.
    * Cost is Σ bucket² id-pairs + |candidates| rerank rows, never
    * corpus². */
  def knnMutualLsh(embeddings: DataFrame, k: Int = K,
                   multiProbe: Int = 0,
                   tables: Int = Lsh.LshTables,
                   bits: Int = Lsh.LshBits): DataFrame =
    mutualOverCandidates(embeddings,
      lshCandidates(embeddings, multiProbe, tables, bits), k)

  /** Canonical (id1 < id2) candidate pairs through the hyperplane
    * buckets — id-only. `(tables, bits)` is the corpus-size dial
    * ([[Lsh.planesFor]]): buckets per table are 2^bits, so bits grows
    * with log₂(corpus) to keep Σ bucket² linear-ish in n. */
  private def lshCandidates(embeddings: DataFrame, multiProbe: Int,
                            tables: Int, bits: Int): DataFrame = {
    val b = Lsh.lshBuckets(embeddings, tables, bits)
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
    a1.join(a2, Seq("t", "key"))
      .filter(col("id1") < col("id2"))
      .dropDuplicates("id1", "id2")
      .select("id1", "id2")
  }

  /** Exact rerank + mutual join over a canonical candidate pair frame:
    * symmetrize to directional (src, dst) candidates, attach vectors by
    * key (after the dedup — the id-only join-back), rank per src with
    * the same window as the exact form. */
  private def mutualOverCandidates(embeddings: DataFrame, cand: DataFrame,
                                   k: Int): DataFrame = {
    val e = Similarity.withNorm(embeddings)
      .select(col("vec_id"), col("vd"), col("norm"))
    val dirCand = cand
      .select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(cand.select(col("id2").as("src"), col("id1").as("dst")))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val ranked = dirCand
      .join(e.select(col("vec_id").as("src"), col("vd"), col("norm")), Seq("src"))
      .join(e.select(col("vec_id").as("dst"), col("vd").as("qv"),
        col("norm").as("qn")), Seq("dst"))
      .withColumn("cos", expr(s"${Similarity.DotF} / (norm * qn)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src", "dst", "rank", "cos")
      .localCheckpoint() // 2 consumers: both sides of the mutual join
    mutualJoin(ranked)
  }

  /** Probe width at which the mutual graph provably equals the exact
    * operator at BOTH gate SFs — measured (SURVEY.md row #238;
    * see [[knnMutualLsh]]'s doc for the per-width numbers): full-row
    * equality spec-pinned (AnnOracleSpec); a corpus change that breaks
    * it fails loudly there. One step wider than the threshold miner's
    * [[Lsh.PairProbeRecallOne]] — the top-k contract reaches deeper
    * into mid-cosine space than the τ-threshold one. */
  val MutualProbeGate = 3

  def knnMutualLshQ(embeddings: DataFrame): DataFrame =
    knnMutualLsh(embeddings, multiProbe = MutualProbeGate)
      .select(col("id1"), col("id2"), col("rank12"), col("rank21"), r("cos", 4))
      .orderBy("id1", "id2")

  def knnMutualQ(embeddings: DataFrame): DataFrame =
    knnMutual(embeddings)
      .select(col("id1"), col("id2"), col("rank12"), col("rank21"), r("cos", 4))
      .orderBy("id1", "id2")

  /** Chain ending at `topk(src, dst, cos, rank)` — the per-direction
    * top-k lists; composed by [[knnMutualSql]] and the cluster oracle. */
  private lazy val topkChainBody: String =
    s"""scored AS (
       |  SELECT a.vec_id AS src, q.vec_id AS dst,
       |         ${Similarity.DotSqlF} / (a.norm * q.norm) AS cos
       |  FROM n a JOIN n q ON a.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY src
       |              ORDER BY cos DESC, dst) AS BIGINT) AS rank
       |  FROM scored
       |), topk AS (
       |  SELECT * FROM ranked WHERE rank <= $K
       |)""".stripMargin

  val knnMutualSql: String =
    s"""${Similarity.VecCte}, $topkChainBody
       |SELECT f.src AS id1, f.dst AS id2,
       |       f.rank AS rank12, g.rank AS rank21,
       |       ${rsql("f.cos", 4, "cos")}
       |FROM topk f JOIN topk g ON f.src = g.dst AND f.dst = g.src
       |WHERE f.src < f.dst
       |ORDER BY id1, id2""".stripMargin

  /** CONNECTED COMPONENTS over the mutual-kNN graph (round 13) — the
    * classic density-adaptive clustering the mutual filter exists for
    * (Brito et al. 1997): unlike [[Similarity.embeddingClusters]]'
    * global cosine threshold, the mutual graph adapts to LOCAL density
    * (a sparse region's reciprocal neighbors cluster at cosines a dense
    * region would reject), and the hub filter keeps centroids from
    * welding unrelated clusters into one giant component. Same
    * pointer-jumping CC machinery ([[Dedup.propagateMinLabels]],
    * O(log d) rounds, per-round checkpoint), same recursive-closure
    * oracle technique; min-id labels, `is_canonical` convention. */
  def knnMutualClusters(embeddings: DataFrame, k: Int = K,
                        maxIters: Int = 20): DataFrame =
    clustersOverMutualPairs(embeddings, knnMutual(embeddings, k), maxIters)

  /** CC over the mutual graph fed by the LSH candidate path (round 14):
    * identical labels to [[knnMutualClusters]] whenever the pair set is
    * identical (it is at [[MutualProbeGate]] — and components need only
    * CONNECTIVITY, so the labeling can survive even a sub-recall-1 width;
    * the gate pins full pair equality, the stronger condition). Shares
    * `knnMutualClustersSql` as oracle. */
  def knnMutualClustersLsh(embeddings: DataFrame, k: Int = K,
                           multiProbe: Int = 0,
                           maxIters: Int = 20): DataFrame =
    clustersOverMutualPairs(embeddings,
      knnMutualLsh(embeddings, k, multiProbe), maxIters)

  /** Shared CC tail: symmetrize the mutual pairs, propagate min labels
    * (pointer jumping, per-round checkpoints), emit the #81 convention. */
  private[operators] def clustersOverMutualPairs(embeddings: DataFrame,
                                                 mutualPairs: DataFrame,
                                                 maxIters: Int = 20): DataFrame = {
    val pairs = mutualPairs
      .select(col("id1"), col("id2")).localCheckpoint()
    val edges = pairs
      .unionAll(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val vertices = embeddings.select(col("vec_id").as("doc_id"))
    val (labels, _) = Dedup.propagateMinLabels(vertices, edges, maxIters)
    labels
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
      .withColumn("is_canonical", col("vec_id") === col("cluster_id"))
  }

  def knnMutualClustersLshQ(embeddings: DataFrame): DataFrame =
    knnMutualClustersLsh(embeddings, multiProbe = MutualProbeGate)
      .orderBy("vec_id")

  def knnMutualClustersQ(embeddings: DataFrame): DataFrame =
    knnMutualClusters(embeddings).orderBy("vec_id")

  val knnMutualClustersSql: String =
    s"""WITH RECURSIVE ${Similarity.VecCteBody}, $topkChainBody, mpairs AS (
       |  SELECT f.src AS id1, f.dst AS id2
       |  FROM topk f JOIN topk g ON f.src = g.dst AND f.dst = g.src
       |  WHERE f.src < f.dst
       |), edges AS (
       |  SELECT id1 AS u, id2 AS v FROM mpairs
       |  UNION ALL
       |  SELECT id2 AS u, id1 AS v FROM mpairs
       |), reach AS (
       |  SELECT vec_id AS doc, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT e.u AS doc, reach.r FROM edges e JOIN reach ON reach.doc = e.v
       |), cc AS (
       |  SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc
       |)
       |SELECT em.vec_id, cc.cluster_id, em.vec_id = cc.cluster_id AS is_canonical
       |FROM embeddings em JOIN cc ON cc.doc = em.vec_id
       |ORDER BY em.vec_id""".stripMargin
}
