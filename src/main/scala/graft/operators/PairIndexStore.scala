package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.ParquetFooter

/** PERSISTED pair-index store (round 14 — the r13 verdict's #3 order):
  * the registered plan-as-data loop for [[Dedup.pairIndex]], so the
  * driver gate checks the form a 100 TB deployment actually runs.
  *
  * Six of the bench's slowest-8 (ngram_jaccard, cluster, keep_best,
  * threshold_sweep, split_leakage, source_dup_rate) are τ=0 exact
  * re-miners of the SAME Σ df² inverted-index join. The round-12 answer
  * (InfraSpec + PERF.md "Persisted pair index": 123.9 s inline vs 24.2 s
  * build+consume at sf0.1) was mine-once-consume-many — but only the
  * INLINE forms were driver-gated. The `*_indexed` twins below close
  * that: each mines the τ=0 index ONCE per corpus into an on-disk
  * parquet store, and every consumer (and every later query over the
  * same corpus) reads the
  * stored stats — row-identical to its inline twin BY CONSTRUCTION
  * (the inline forms all end in a jaccard filter over exactly these five
  * columns; InfraSpec pins identity), so each shares its twin's oracle.
  *
  * STALENESS GUARD — the part a persisted store must get right: the
  * store path is keyed by a CONTENT FINGERPRINT of the corpus (row count
  * + two independent commutative XOR folds of per-row content hashes —
  * order-free, so partitioning/file-split changes don't move it). A
  * changed corpus therefore CANNOT silently reuse a stale index: it
  * hashes to a different path and mines fresh. The fingerprint pass is
  * one map+agg corpus scan — noise next to the Σ df² mine it guards. At
  * 100 TB the store is a [[graft.sources.CommitLog]] table keyed by the
  * corpus table's version (the InfraSpec commit-log index row), kept
  * fresh at batch cost by [[Dedup.pairIndexDelta]]; the fingerprint is
  * the local-gate stand-in for that version key.
  *
  * CONCURRENCY: build into a temp dir, atomic-rename into place; a lost
  * race keeps the winner's copy (same fingerprint ⇒ same corpus ⇒
  * identical rows — appends commute the CommitLog way) and drops its own
  * staging.
  */
object PairIndexStore {

  /** Order-free corpus content fingerprint: (count, xor of
    * xxhash64(doc_id, text), xor under a second seed). XOR is
    * commutative/associative and overflow-free (ANSI-safe, unlike sum),
    * and the second seed breaks the pairwise-cancellation weakness of a
    * single XOR word. */
  private[graft] def fingerprint(documents: DataFrame): String =
    fingerprintOf(documents, "doc_id", "coalesce(text, '')")

  /** The same order-free content fingerprint over ANY (id, content)
    * column pair — xxhash64 hashes arrays element-wise, so an embedding
    * column works as content directly. */
  private[graft] def fingerprintOf(df: DataFrame, id: String,
                                   content: String): String = {
    val r = df.agg(
      count(lit(1)).as("n"),
      coalesce(expr(s"bit_xor(xxhash64($id, $content))"), lit(0L)),
      coalesce(expr(s"bit_xor(xxhash64(1, $id, $content))"), lit(0L)))
      .head()
    f"${r.getLong(0)}%x-${r.getLong(1)}%016x-${r.getLong(2)}%016x"
  }

  private def storeRoot: Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft_pair_index")

  /** Generic fingerprint-keyed derived-frame store: `mk` runs ONCE per
    * (tag, corpus content) pair and is read back afterwards — the same
    * staleness/concurrency guarantees for ANY expensive derivation
    * (pair index, cluster labels, …): a changed corpus changes the
    * fingerprint, so a stale frame is unreachable by path
    * construction. */
  private[graft] def cachedFrame(tag: String, documents: DataFrame)
                                (mk: => DataFrame): DataFrame =
    cachedFrameKeyed(s"$tag-${fingerprint(documents)}",
      documents.sparkSession)(mk)

  /** [[cachedFrame]] with the fingerprint key precomputed — for frames
    * whose content lives in non-document columns (embeddings). */
  private[graft] def cachedFrameKeyed(key: String,
                                      spark: org.apache.spark.sql.SparkSession)
                                     (mk: => DataFrame): DataFrame = {
    val dir = storeRoot.resolve(key)
    if (!Files.exists(dir)) {
      val mined = mk
      // day-one totality: an EMPTY mine (empty corpus, or no shared
      // shingles) is served directly — an AQE-empty write can produce a
      // schema-less file-less directory that parquet cannot read back,
      // and there is nothing to amortize anyway
      if (mined.isEmpty) return mined
      Files.createDirectories(storeRoot)
      val tmp = storeRoot.resolve(
        s".build-${java.util.UUID.randomUUID().toString.take(8)}")
      mined.write.mode("overwrite").parquet(tmp.toString)
      try Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          if (Files.exists(dir)) deleteRecursively(tmp) // lost the race
          else throw e
      }
    }
    spark.read.schema(ParquetFooter.footerSchema(spark, dir.toString))
      .parquet(dir.toString)
  }

  /** The τ=0 pair index for this corpus, from the store — mined and
    * persisted on first use, read back (no re-mine) afterwards. */
  def indexFor(documents: DataFrame): DataFrame =
    cachedFrame("v1", documents)(Dedup.pairIndex(documents))

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = {
        val s = Files.list(p)
        try {
          val b = Vector.newBuilder[Path]
          s.iterator().forEachRemaining(c => b += c)
          b.result()
        } finally s.close()
      }
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }

  // ---- the six driver-gated from-store twins (projections/orderings
  // ---- identical to their inline twins; each shares that twin's oracle)

  def containmentIndexedQ(documents: DataFrame): DataFrame =
    Dedup.containmentFromIndex(indexFor(documents))
      .orderBy("id1", "id2")

  def containmentClustersIndexedQ(documents: DataFrame): DataFrame =
    Dedup.containmentClustersFromIndex(documents, indexFor(documents))
      .orderBy("doc_id")

  def ngramJaccardIndexedQ(documents: DataFrame): DataFrame =
    Dedup.pairsFromIndex(indexFor(documents))
      .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
        Parity.r("jaccard", 4))
      .orderBy("id1", "id2")

  def dedupClusterIndexedQ(documents: DataFrame): DataFrame =
    Dedup.dedupClustersFromIndex(documents, indexFor(documents))
      .orderBy("doc_id")

  def dedupClusterKeepBestIndexedQ(documents: DataFrame): DataFrame =
    Dedup.dedupClusterKeepBestFromIndex(documents, indexFor(documents))
      .orderBy("doc_id")

  def dedupThresholdSweepIndexedQ(documents: DataFrame): DataFrame =
    ThresholdSweep.dedupThresholdSweepFromIndex(indexFor(documents))
      .orderBy("tau_pct")

  def splitLeakageIndexedQ(documents: DataFrame): DataFrame =
    SplitLeakage.splitLeakageFromIndex(documents, indexFor(documents))
      .select(col("id1"), col("split1"), col("id2"), col("split2"),
        col("n1"), col("n2"), col("inter"), Parity.r("jaccard", 4))
      .orderBy("id1", "id2")

  def sourceDupRateIndexedQ(documents: DataFrame): DataFrame =
    SourceDupRate.sourceDupRateFromIndex(documents, indexFor(documents))
      .orderBy("source")

  /** [[MinhashBandPlan]] fed from the store — the registered form
    * (round 14): the advisor's only data-volume input IS the τ=0
    * stats, so the registered query must not re-mine what the store
    * holds (its own mine-once principle applied to itself). */
  def minhashBandPlanStoreQ(documents: DataFrame): DataFrame =
    MinhashBandPlan.minhashBandPlanFromIndex(indexFor(documents))
      .orderBy(col("bands").desc)

  /** [[Dedup.clustersIncrementalFromState]] with the corpus-side state
    * derived THROUGH the store — the registered form (round 14): the
    * corpus-only pair index is literally "yesterday's persisted index"
    * in the incremental story (fingerprint-keyed separately from the
    * full corpus), so the old labels come from stored stats and the
    * only live mining is the batch-touching delta. Row-identical to
    * the self-contained inline form (same oracle — the FULL
    * clustering). */
  def dedupClusterIncrementalStoreQ(documents: DataFrame): DataFrame = {
    val corpus = documents.filter(col("doc_id") % Dedup.IncrementalBatchMod =!= 0)
    // yesterday's LABELS are the persisted state of the incremental
    // story — stored fingerprint-keyed like the index they derive from,
    // so the per-batch cost is the delta mine + the label-graph CC only
    val oldLabels = cachedFrame("cclabels-v1", corpus) {
      Dedup.dedupClustersFromIndex(corpus, indexFor(corpus))
        .select(col("doc_id"), col("cluster_id"))
    }
    val delta = Dedup.pairsFromIndex(Dedup.pairIndexDelta(documents))
      .select(col("id1"), col("id2"))
    Dedup.clustersIncrementalFromState(documents, oldLabels, delta)
      .orderBy("doc_id")
  }

  /** The LSH-mined MUTUAL k-NN pair frame from the store (round 14):
    * the candidate+rerank pair stage is essentially the WHOLE cost of
    * both mutual-LSH queries (#238 emits the pairs; #239 runs a
    * catalog-sized CC over them), and it is deterministic per
    * (embedding content, geometry) — so it mines ONCE per corpus and
    * both consumers read it back, the same economics the τ=0 store
    * gives the shingle family. Keyed by the embedding fingerprint AND
    * the (k, mp, tables, bits) geometry — a dial change is a different
    * pair set, so it hashes to a different path. */
  private[graft] def mutualLshPairsFor(embeddings: DataFrame): DataFrame =
    cachedFrameKeyed(
      s"mutualknn-v1-k${KnnMutual.K}-mp${KnnMutual.MutualProbeGate}" +
        s"-t${Lsh.LshTables}b${Lsh.LshBits}-" +
        fingerprintOf(embeddings, "vec_id", "embedding"),
      embeddings.sparkSession) {
      KnnMutual.knnMutualLsh(embeddings,
        multiProbe = KnnMutual.MutualProbeGate)
    }

  /** #238 from the store — row-identical to the inline form by
    * construction (same miner, persisted), same shared exact oracle. */
  def knnMutualLshStoreQ(embeddings: DataFrame): DataFrame =
    mutualLshPairsFor(embeddings)
      .select(col("id1"), col("id2"), col("rank12"), col("rank21"),
        Parity.r("cos", 4))
      .orderBy("id1", "id2")

  /** #239 from the store — the CC consumes the SAME stored pair frame
    * #238 emitted; the pair stage never runs twice. */
  def knnMutualClustersLshStoreQ(embeddings: DataFrame): DataFrame =
    KnnMutual.clustersOverMutualPairs(embeddings,
      mutualLshPairsFor(embeddings))
      .orderBy("vec_id")

  /** [[Similarity.embeddingClustersIncremental]]'s corpus-side labels
    * THROUGH the store — the registered form (round 14, the #250
    * pattern on the embedding side): the corpus clustering is
    * yesterday's persisted state (fingerprint-keyed over the embedding
    * content via [[fingerprintOf]]), so the per-batch cost is the
    * batch-touching pair mine + the catalog-sized label-graph CC; the
    * corpus×corpus pair stage never re-runs. Row-identical to the
    * self-contained inline form (IncrementalCcSpec pins it), same
    * oracle — the FULL clustering's closure SQL. */
  def embeddingClusterIncrementalStoreQ(embeddings: DataFrame): DataFrame = {
    val corpus = embeddings.filter(
      col("vec_id") % Dedup.IncrementalBatchMod =!= 0)
    val oldLabels = cachedFrameKeyed(
      s"semlabels-v1-${fingerprintOf(corpus, "vec_id", "embedding")}",
      embeddings.sparkSession) {
      Similarity.embeddingClusters(corpus)
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
    }
    Similarity.clustersIncrementalFromLabels(embeddings, oldLabels,
      Similarity.DedupCosThreshold, Dedup.IncrementalBatchMod, maxIters = 20)
      .orderBy("vec_id")
  }
}
