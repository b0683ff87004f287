package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors — the second scale
  * path for similarity search besides hyperplane LSH (SURVEY.md §2.C 31
  * names it as the ANN alternative): a KMeans coarse quantizer partitions
  * the corpus into NumCentroids cells; each query probes its NProbe
  * closest cells and reranks those candidates exactly.
  *
  * Scale shape: clustering cost is one ML fit (sampled at real scale);
  * search cost is |Q| × (NumCentroids centroid dots + corpus/NumCentroids
  * × NProbe rerank dots) — the classic recall/cost dial. The cell
  * assignment is a corpus-partitioning key, so at 100 TB the index is a
  * bucketed table on `cluster` and a probe is a partition-pruned scan.
  */
object Ivf {

  val NumCentroids = 16
  val NProbe = 4
  /** Driver-side quantizer sample cap: NumCentroids × 64. At corpus scale
    * this stays a constant-size driver collect — the quantizer is fit on a
    * deterministic sample, never the full table. */
  val SampleMax = 1024

  /** Why this operator stays rows-only — CLOSED round 6 with measurements.
    * Two separate obstacles existed; the fixable one is fixed:
    *
    * 1. (fixed) spark.ml KMeans made the cell assignment depend on input
    *    PARTITIONING (seeded init samples per partition), so any probe
    *    width's recall was environment-dependent — recall 1 from nProbe=10
    *    under local[8] yet a miss at nProbe=12 under local[4]. The
    *    deterministic spherical k-means below replaces it: every step is a
    *    pure function of the data VALUES, and the measured assignment
    *    fingerprint is identical across local[4]/local[8] (the
    *    partitioning-independence spec in AnnOracleSpec pins it).
    *
    * 2. (inherent) the corpus itself is unclustered (top cosine ~0.5, no
    *    cluster structure), so true neighbors spread across cells and
    *    sub-full probing must miss some. Measured with the deterministic
    *    quantizer, the now-stable recall curve reaches 1.0 only at
    *    nProbe=15 of 16 cells (sf0.01: 0.28→0.92 over np=1..14;
    *    sf0.1: 0.26→0.99) — "promoting" at a width that scans 94% of the
    *    corpus would be a brute scan wearing an index, so the oracle row
    *    stays closed and the spec gate remains (a) recall at the
    *    production width and (b) EXACT brute equality at
    *    nProbe = NumCentroids, which proves the probe/dedup/rerank
    *    machinery loses nothing. On a corpus with real cluster structure
    *    the same machinery would hold a sub-full-probe oracle. */

  /** Deterministic spherical k-means centroids, fit on the driver over a
    * data-keyed sample:
    *  - sample = first [[SampleMax]] rows by (xxhash64(vec_id), vec_id) — a
    *    deterministic pseudo-random draw, independent of partitioning
    *    (TakeOrderedAndProject), summed in vec_id order;
    *  - init = greedy farthest-point on the unit sphere starting from the
    *    min-vec_id sample row (ties → first sample index);
    *  - Lloyd rounds with fixed iteration order, assignment ties → lowest
    *    centroid index, centroids re-normalized to the sphere each round
    *    (empty cells keep their previous centroid). */
  private[graft] def deterministicCentroids(unit: DataFrame, k: Int): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = unit
      .select(col("vec_id"), col("u"))
      .orderBy(expr("xxhash64(vec_id)"), col("vec_id"))
      .limit(SampleMax)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    // empty corpus → no centroids (caller yields an empty result: day-one
    // totality, EmptyInputSpec); a NON-empty corpus smaller than k stays a
    // loud config error — an index with more centroids than vectors is
    // ill-defined, not a degenerate case to paper over
    if (sample.isEmpty) return Array.empty
    require(sample.length >= k, s"corpus smaller than k=$k")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // farthest-point init: next centroid = sample row minimizing its max
    // dot (= maximizing its min sphere distance) to the chosen set
    val init = scala.collection.mutable.ArrayBuffer(sample(0))
    while (init.length < k) {
      var bestIdx = 0; var bestMaxDot = Double.PositiveInfinity
      var i = 0
      while (i < sample.length) {
        var maxDot = Double.NegativeInfinity
        init.foreach { c => val d = dot(sample(i), c); if (d > maxDot) maxDot = d }
        if (maxDot < bestMaxDot) { bestMaxDot = maxDot; bestIdx = i }
        i += 1
      }
      init += sample(bestIdx)
    }
    val centroids = init.toArray
    val assign = Array.fill(sample.length)(-1)
    var changed = true; var iter = 0
    while (changed && iter < 30) {
      changed = false
      val dim = sample(0).length
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      for (i <- sample.indices) {
        var best = 0; var bd = dot(sample(i), centroids(0))
        var c = 1
        while (c < k) {
          val d = dot(sample(i), centroids(c))
          if (d > bd) { bd = d; best = c } // strict > : ties keep lowest index
          c += 1
        }
        if (assign(i) != best) { changed = true; assign(i) = best }
        counts(best) += 1
        val s = sums(best); val v = sample(i)
        var j = 0; while (j < dim) { s(j) += v(j); j += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val s = sums(c)
          var nrm = 0.0; var j = 0
          while (j < s.length) { nrm += s(j) * s(j); j += 1 }
          nrm = math.sqrt(nrm)
          if (nrm > 0) {
            j = 0; while (j < s.length) { s(j) /= nrm; j += 1 }
            centroids(c) = s
          }
        }
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** corpus with unit vectors and deterministic cell assignment. Keeps the
    * raw double vector + norm beside the unit vector: probing uses the unit
    * form, but the rerank cosine is computed from (vd, norm) with the SAME
    * expression as the brute operator, so agreeing candidate sets give
    * bit-identical output. Assignment = argmax dot(u, centroid) via one
    * broadcast-centroid map pass + a partial-agg min (ties → lowest
    * cluster id) — no shuffle beyond the vec_id partitioning withNorm
    * already established. */
  def assign(embeddings: DataFrame): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    graft.functions.VectorExprs.register(spark)
    import spark.implicits._
    val unit = Similarity.withNorm(embeddings)
      .withColumn("u", expr("transform(vd, x -> x / norm)"))
    val centroids = deterministicCentroids(unit, NumCentroids)
      .zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cluster", "cvec")
    val best = unit.select(col("vec_id"), col("u"))
      .crossJoin(broadcast(centroids))
      .groupBy("vec_id")
      .agg(min(struct(negate(expr("graft_dot(u, cvec)")).as("nd"),
        col("cluster").as("c"))).as("m"))
      .select(col("vec_id"), col("m.c").as("cluster"))
    val assigned = unit.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("vd"), col("norm"), col("u"), col("cluster"))
    (assigned, centroids)
  }

  /** Prebuilt IVF index: the quantized corpus plus its centroid table.
    * At 100 TB this is built once and PERSISTED as a table bucketed by
    * `cluster` (a probe is then a partition-pruned scan); locally the
    * assignment is checkpointed so repeated searches don't refit KMeans. */
  case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  def buildIndex(embeddings: DataFrame): IvfIndex = {
    graft.functions.VectorExprs.register(embeddings.sparkSession)
    val (assigned, centroids) = assign(embeddings)
    IvfIndex(assigned.localCheckpoint(), centroids)
  }

  /** ANN top-k over a prebuilt index: probe the nProbe nearest cells per
    * query, exact cosine rerank inside them (brute-identical cosine
    * expression). */
  def searchIndex(index: IvfIndex, k: Int = Similarity.KnnK,
                  nProbe: Int = NProbe): DataFrame = {
    val IvfIndex(assigned, centroids) = index
    val queries = assigned.filter(col("vec_id") % Similarity.QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("u").as("qu"),
        col("vd").as("qv"), col("norm").as("qn"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("cdot").desc, col("cluster"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("cdot", expr("graft_dot(qu, cvec)"))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbe)
      .select("query_id", "qv", "qn", "cluster")
    val wRank = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(s"${Similarity.DotF} / (norm * qn)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        Parity.r("cos", 4), col("label"))
  }

  /** One-shot convenience: fit + search in a single call. */
  def knnCosineIvf(embeddings: DataFrame, k: Int = Similarity.KnnK,
                   nProbe: Int = NProbe): DataFrame = {
    graft.functions.VectorExprs.register(embeddings.sparkSession)
    val (assigned, centroids) = assign(embeddings)
    searchIndex(IvfIndex(assigned, centroids), k, nProbe)
  }

  def knnCosineIvfQ(embeddings: DataFrame): DataFrame =
    knnCosineIvf(embeddings).orderBy("query_id", "rank")
}
