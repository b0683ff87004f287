package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, SignalOps}

/** §D sink/infrastructure behavior: partitioned-write + partition pruning
  * (the reference writes Delta partitioned by synset/channel,
  * /root/reference/main/silver.py:75-84 — parquet + deterministic layout
  * stands in offline), and temp-view + spark.sql parity. */
class InfraSpec extends AnyFunSuite {
  import SparkTestSession._

  test("partitionBy(channel) write prunes partitions on read-back") {
    val out = Files.createTempDirectory("graft-gold-part").toString
    val gold = SignalOps.goldTrialStats(SignalOps.silver(Tables.events(spark, sf)))
    gold.write.mode("overwrite").partitionBy("channel").parquet(out)

    // layout: one directory per channel
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("channel=")), dirs.mkString(","))

    val back = spark.read.parquet(out).filter(col("channel") === "click")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("channel"),
      s"no partition filter in scan:\n$plan")
    // pruning actually applied: only the matching partition is read
    val expected = gold.filter(col("channel") === "click").count()
    assert(back.count() == expected && expected > 0)
  }

  test("bucketed tables co-locate the fact-fact join: zero shuffle exchanges") {
    // SURVEY §5: fact-fact joins at 100 TB are pre-bucketed on the join key
    // so the sort-merge join reads co-located buckets instead of shuffling
    // either side. Broadcast disabled to force the join shape.
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_li_bucketed")
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_ord_bucketed")
      val joined = spark.table("graft_li_bucketed")
        .join(spark.table("graft_ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() == expected && expected > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_li_bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_ord_bucketed")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("LSH corpus index persists bucketed by band key; probe shuffles ONLY the batch side") {
    // dedup_incremental_lsh's economics claim made executable: at 100 TB the
    // corpus bucket index is PRECOMPUTED once, stored bucketed by bkey, and
    // every future batch probes it without re-shuffling (or re-hashing) the
    // corpus — only the incoming batch moves. Broadcast disabled so the
    // join shape is the real large-corpus one.
    import graft.operators.{Dedup, Lsh}
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf)
      val mod = Dedup.IncrementalBatchMod
      val corpus = docs.filter(col("doc_id") % mod =!= 0)
      Lsh.bandedBuckets(corpus)
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "bkey").sortBy("bkey")
        .saveAsTable("graft_lsh_idx")
      val batch = Lsh.bandedBuckets(docs.filter(col("doc_id") % mod === 0))
        .withColumnRenamed("doc_id", "bid")
      val probe = spark.table("graft_lsh_idx").join(batch, Seq("bkey"))
        .select("bid", "doc_id").distinct()
      val plan = probe.queryExecution.executedPlan.toString
      val joinShuffles = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") && l.contains("bkey"))
      assert(joinShuffles == 1,
        s"probe must shuffle exactly the batch side on bkey (corpus reads bucketed):\n$plan")
      // candidate parity with the inline (non-persisted) index
      val persisted = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inline = Lsh.bandedBuckets(corpus).join(batch, Seq("bkey"))
        .select("bid", "doc_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(persisted == inline && persisted.nonEmpty,
        s"persisted-index candidates diverge: ${persisted.size} vs ${inline.size}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lsh_idx")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("paragraph index persists bucketed by fp; admission probe shuffles ONLY the batch side") {
    // paragraph_dedup_incremental's economics claim made executable (the
    // round-8 sub-document analog of the LSH index test above): the corpus
    // paragraph-fingerprint index is precomputed once, stored bucketed by
    // fp, and each batch's window stream probes it without re-shuffling
    // (or re-fingerprinting) the corpus — only the batch moves.
    import graft.operators.{Dedup, ParagraphDedup}
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf)
      val mod = Dedup.IncrementalBatchMod
      ParagraphDedup.paragraphExploded(docs.filter(col("doc_id") % mod =!= 0))
        .select("fp").distinct()
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "fp").sortBy("fp")
        .saveAsTable("graft_para_idx")
      val batch = ParagraphDedup.paragraphExploded(docs.filter(col("doc_id") % mod === 0))
      val probe = batch.join(spark.table("graft_para_idx"), Seq("fp"))
        .select("doc_id", "para_idx")
      val plan = probe.queryExecution.executedPlan.toString
      val joinShuffles = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") && l.contains("fp"))
      assert(joinShuffles == 1,
        s"probe must shuffle exactly the batch side on fp (corpus reads bucketed):\n$plan")
      // hit parity with the inline (non-persisted) operator
      val persistedHits = probe.groupBy("doc_id").agg(count(lit(1)).as("nh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val inline = ParagraphDedup.paragraphIncremental(docs)
        .filter(col("n_hit") > 0).select("doc_id", "n_hit")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(persistedHits == inline && persistedHits.nonEmpty,
        s"persisted-index hits diverge: ${persistedHits.size} vs ${inline.size}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_para_idx")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("small-file compaction: rewrite to target-sized files, content preserved") {
    // 100 TB ingest reality: streaming / incremental writers leave
    // directories of tiny files, and scan cost is per-file (open + footer
    // + seek each). The compaction pass rewrites a directory to
    // ceil(rows / target) files; content is untouched. (Row-count stands
    // in for bytes here — same arithmetic with a bytes-per-row estimate.)
    val docs = Tables.documents(spark, sf)
    val small = Files.createTempDirectory("graft-small").toString
    docs.repartition(64).write.mode("overwrite").parquet(small)
    val nSmall = new java.io.File(small).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nSmall >= 32, s"precondition: many small files, got $nSmall")
    val rows = spark.read.parquet(small).count()
    val target = 200L
    val nFiles = math.ceil(rows.toDouble / target).toInt
    val compact = Files.createTempDirectory("graft-compact").toString
    spark.read.parquet(small).repartition(nFiles)
      .write.mode("overwrite").parquet(compact)
    val written = new java.io.File(compact).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(written == nFiles, s"expected $nFiles compacted files, got $written")
    val a = spark.read.parquet(small).collect().map(_.toString).sorted
    val b = spark.read.parquet(compact).collect().map(_.toString).sorted
    assert(a.sameElements(b), "compaction must not change content")
  }

  test("LM model persists bucketed by (x, y); scoring probe shuffles ONLY the pair stream") {
    // lm_score_incremental's train-once-score-many economics made
    // executable: the bigram count table (THE model — vocab²-bounded) is
    // persisted bucketed by its join key, and every future batch's scoring
    // probe reads it back without re-shuffling (or re-training); only the
    // batch's pair stream moves. Broadcast disabled so the join shape is
    // the open-vocabulary one.
    import graft.operators.{Dedup, LmScore}
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf)
      val mod = Dedup.IncrementalBatchMod
      val corpus = docs.filter(col("doc_id") % mod =!= 0)
      val batch = docs.filter(col("doc_id") % mod === 0)
      val (bc, cx, v) = LmScore.model(corpus)
      bc.write.mode("overwrite").format("parquet")
        .bucketBy(8, "x", "y").sortBy("x", "y")
        .saveAsTable("graft_lm_model")
      val persistedBc = spark.table("graft_lm_model")
      // cx/v derive from the persisted table — nothing retrains
      val persistedCx = persistedBc.groupBy("x").agg(sum("c_xy").as("c_x"))
      val scored = LmScore.scoreAgainst(batch, persistedBc, persistedCx, v)
      val plan = scored.queryExecution.executedPlan.toString
      val modelSideShuffles = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") &&
          l.contains("x#") && l.contains("y#"))
      assert(modelSideShuffles <= 1,
        s"model must read bucketed — at most the pair stream shuffles on (x, y):\n$plan")
      // score parity with the inline (non-persisted) model
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2))
      val persisted = scored.select("doc_id", "n_bigrams", "sum_w")
        .collect().map(key).sortBy(_._1)
      val inline = LmScore.lmScoreIncremental(docs)
        .select("doc_id", "n_bigrams", "sum_w")
        .collect().map(key).sortBy(_._1)
      assert(persisted.sameElements(inline) && persisted.nonEmpty,
        s"persisted-model scores diverge: ${persisted.length} vs ${inline.length}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lm_model")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("gram index persists bucketed by gh; substring admission probes shuffle ONLY the batch side") {
    // substring_incremental's economics claim made executable (the
    // suffix-granularity sibling of the LSH and paragraph index rows):
    // the corpus's distinct gram-key set is precomputed once, stored
    // bucketed by gh, and each batch's stride-1 gram stream probes it
    // without re-shuffling (or re-tokenizing) the corpus.
    import graft.operators.{Dedup, SubstringDedup}
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, sf)
      val mod = Dedup.IncrementalBatchMod
      SubstringDedup.gramStream(docs.filter(col("doc_id") % mod =!= 0))
        .select("gh").distinct()
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "gh").sortBy("gh")
        .saveAsTable("graft_gram_idx")
      val batch = SubstringDedup.gramStream(docs.filter(col("doc_id") % mod === 0))
      val probe = batch.join(spark.table("graft_gram_idx"), Seq("gh"), "left_semi")
      val plan = probe.queryExecution.executedPlan.toString
      val joinShuffles = plan.linesIterator
        .count(l => l.contains("Exchange hashpartitioning") && l.contains("gh"))
      assert(joinShuffles == 1,
        s"probe must shuffle exactly the batch side on gh (corpus reads bucketed):\n$plan")
      // duplicated-position parity with the inline (non-persisted) index
      val persisted = probe.select("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val inline = SubstringDedup.substringIncremental(docs)
        .select("doc_id", "span_start", "span_end").collect()
        .flatMap(r => (r.getLong(1) to r.getLong(2)).map(p => (r.getLong(0), p))).toSet
      assert(persisted == inline && persisted.nonEmpty,
        s"persisted-gram-index positions diverge: ${persisted.size} vs ${inline.size}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_gram_idx")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("persisted pair index feeds all six exact-pair consumers row-identically, no re-mining") {
    // The round-12 mine-once-consume-many row: six of the bench's
    // slowest-8 (ngram_jaccard, cluster, keep_best, threshold_sweep,
    // split_leakage, source_dup_rate) each independently re-run the SAME
    // Σ df² inverted-index join. At 100 TB the τ=0 pair index is mined
    // ONCE, persisted bucketed by id1, and every consumer reads the
    // stored stats — this spec pins (a) row identity of every from-index
    // form vs its registered inline twin and (b) that no from-index plan
    // contains the miner's xxhash64 signature (nothing re-mines).
    // Amortized cost at sf0.1: PERF.md "Persisted pair index (round 12)".
    import graft.operators.{Dedup, Parity, SourceDupRate, SplitLeakage, ThresholdSweep}
    val docs = Tables.documents(spark, sf)
    try {
      Dedup.pairIndex(docs)
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "id1").sortBy("id1", "id2")
        .saveAsTable("graft_pair_idx")
      val idx = spark.table("graft_pair_idx")

      // thresholding the stored stats is exchange-free (bucketed scan + map)
      val thresholded = Dedup.pairsFromIndex(idx)
      assert(!thresholded.queryExecution.executedPlan.toString.contains("Exchange"),
        "pairsFromIndex over the bucketed table must not shuffle")

      val fromIndex: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
        "dedup_ngram_jaccard" -> Dedup.pairsFromIndex(idx)
          .select(col("id1"), col("id2"), col("n1"), col("n2"), col("inter"),
            Parity.r("jaccard", 4))
          .orderBy("id1", "id2"),
        "dedup_cluster" -> Dedup.dedupClustersFromIndex(docs, idx).orderBy("doc_id"),
        "dedup_cluster_keep_best" ->
          Dedup.dedupClusterKeepBestFromIndex(docs, idx).orderBy("doc_id"),
        "dedup_threshold_sweep" ->
          ThresholdSweep.dedupThresholdSweepFromIndex(idx).orderBy("tau_pct"),
        "split_leakage" -> SplitLeakage.splitLeakageFromIndex(docs, idx)
          .select(col("id1"), col("split1"), col("id2"), col("split2"),
            col("n1"), col("n2"), col("inter"), Parity.r("jaccard", 4))
          .orderBy("id1", "id2"),
        "source_dup_rate" ->
          SourceDupRate.sourceDupRateFromIndex(docs, idx).orderBy("source"))
      fromIndex.foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("xxhash64"),
          s"$name from-index plan re-mines the pair stream:\n$plan")
        val a = df.collect().map(_.toString).sorted
        val b = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted
        assert(a.nonEmpty && a.sameElements(b),
          s"$name from-index diverges from the registered query " +
            s"(${a.length} vs ${b.length} rows)")
      }
      // non-vacuity: the inline miner itself DOES carry the signature
      assert(Dedup.ngramJaccardPairs(docs).queryExecution.executedPlan
        .toString.contains("xxhash64"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pair_idx")
    }
  }

  test("pair-index STORE: fingerprint-guarded build-once, reuse without re-mine, stale-proof on change") {
    // round 14 — the registered *_indexed twins' storage loop. (a) the
    // first indexFor call publishes the store; a second call over the
    // same corpus touches NO file (byte-listing identical — nothing
    // re-mines); (b) the read-back rows equal a fresh pairIndex mine;
    // (c) a CHANGED corpus (one doc dropped) hashes to a DIFFERENT store
    // path and mines fresh — stale reuse is impossible by construction,
    // not by cache discipline.
    import graft.operators.{Dedup, PairIndexStore}
    val docs = Tables.documents(spark, sf)
    def listing(): Seq[(String, Long)] = {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_pair_index")
      if (!java.nio.file.Files.isDirectory(root)) Seq.empty
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          val b = Seq.newBuilder[(String, Long)]
          s.iterator().forEachRemaining { p =>
            if (java.nio.file.Files.isRegularFile(p))
              b += ((p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis))
          }
          b.result().sortBy(_._1)
        } finally s.close()
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("id1", "id2", "inter", "n1", "n2")
        .collect().map(_.toString).toSet
    val first = rows(PairIndexStore.indexFor(docs))
    val after1 = listing()
    val second = rows(PairIndexStore.indexFor(docs))
    assert(listing() == after1, "second indexFor over the same corpus touched the store")
    assert(first == second && first == rows(Dedup.pairIndex(docs)),
      "store read-back diverges from a fresh mine")
    // changed corpus → different fingerprint path, fresh correct mine
    val changed = docs.filter(col("doc_id") =!= docs.select(min("doc_id")).head().getLong(0))
    assert(PairIndexStore.fingerprint(changed) != PairIndexStore.fingerprint(docs))
    assert(rows(PairIndexStore.indexFor(changed)) == rows(Dedup.pairIndex(changed)),
      "changed-corpus store read-back diverges from its fresh mine")
  }

  test("pair-index maintenance: corpus index + batch delta == full mine, appended through the commit log") {
    // round 12: the mine-once shape past day one. (a) set identity —
    // the delta mine (batch-touching pairs only, never corpus²) plus
    // the corpus-only index reproduces the full-corpus index exactly;
    // (b) run the maintenance literally through the owned table format:
    // base index appended at v0, delta appended at v1, read-back at
    // HEAD equals the full mine (and read-at-v0 still answers the old
    // corpus — time travel over index versions for free).
    import graft.operators.Dedup
    import graft.sources.CommitLog
    val docs = Tables.documents(spark, sf)
    val mod = Dedup.IncrementalBatchMod
    type Stat = (Long, Long, Long, Long, Long)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Stat] = df
      .select("id1", "id2", "inter", "n1", "n2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Number](3).longValue, r.getAs[Number](4).longValue)).toSet
    val full = rows(Dedup.pairIndex(docs))
    val corpusOnly = rows(Dedup.pairIndex(docs.filter(col("doc_id") % mod =!= 0)))
    val delta = rows(Dedup.pairIndexDelta(docs))
    assert(delta.nonEmpty && corpusOnly.nonEmpty, "fixture vacuous")
    assert((corpusOnly & delta).isEmpty, "delta re-mined corpus-corpus pairs")
    assert(corpusOnly ++ delta == full,
      s"corpus∪delta != full: missing=${(full -- corpusOnly -- delta).take(3)} " +
        s"extra=${((corpusOnly ++ delta) -- full).take(3)}")
    // (b) through the log
    val t = java.nio.file.Files.createTempDirectory("graft_pairidx_log").toString
    val v0 = CommitLog.append(spark, t,
      Dedup.pairIndex(docs.filter(col("doc_id") % mod =!= 0)))
    CommitLog.append(spark, t, Dedup.pairIndexDelta(docs))
    assert(rows(CommitLog.read(spark, t)) == full,
      "log-maintained index diverges from the full mine")
    assert(rows(CommitLog.read(spark, t, asOf = Some(v0))) == corpusOnly,
      "time travel to the pre-batch index broke")
  }

  test("planned band closes the loop: dedup_prefix through a PERSISTED prefix_band_plan frame, row-identical") {
    import graft.operators.{BandPlan, PrefixJoin}
    val docs = Tables.documents(spark, sf)
    // report → storage: the plan frame IS prefixBandPlan's output,
    // written to parquet like a real deployment would keep it next to
    // the corpus (mine once, consume every run)
    val out = Files.createTempDirectory("graft-band-plan").toString
    BandPlan.prefixBandPlan(docs).write.mode("overwrite").parquet(out)
    val persisted = spark.read.parquet(out)
    // band extracted from DISK, not recomputed — and it matches the
    // in-memory calibrator
    val band = BandPlan.bandFromPlan(persisted)
    assert(band > 0 && band == BandPlan.recommendedBand(docs),
      s"persisted band $band diverges from in-memory recommendation")
    // storage → mechanism: identical rows to the constant-band hybrid
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toVector).toSet
    val viaPlan = rows(PrefixJoin.hybridJaccardPlanned(docs, persisted)
      .select(col("id1"), col("id2"), col("inter")))
    val constant = rows(PrefixJoin.hybridJaccardPairs(docs)
      .select(col("id1"), col("id2"), col("inter")))
    assert(viaPlan == constant && constant.nonEmpty,
      s"planned hybrid diverges: ${viaPlan.size} vs ${constant.size}")
    // …and the registered auto form calibrates to the SAME band the
    // persisted plan recommends (hash-keyed histogram ≡ string-keyed)
    val auto = rows(PrefixJoin.hybridJaccardAuto(docs)
      .select(col("id1"), col("id2"), col("inter")))
    assert(auto == constant, s"auto hybrid diverges: ${auto.size} vs ${constant.size}")
  }

  test("planned partitioning closes the loop: write partitionBy the advisor's recommendation, pruned read-back") {
    import graft.operators.{KAnonymity, PartitionPlan}
    val docs = Tables.documents(spark, sf)
    // report → dial: the recommendation comes OFF the plan frame (the
    // candidate name is the contract), not from re-derivation
    val rec = PartitionPlan.partitionPlan(docs)
      .filter(col("recommended") === 1).select("candidate")
      .collect()(0).getString(0)
    val partCols = rec match {
      case "lang" => Seq("lang")
      case "source" => Seq("source")
      case "lang_source" => Seq("lang", "source")
      case "len_bucket" => Seq("len_bucket")
    }
    // dial → mechanism: materialize the derived bucket column (a real
    // deployment writes it as a generated column), write partitioned by
    // the recommendation, and prove partition pruning applies
    val out = Files.createTempDirectory("graft-part-plan").toString
    val withBucket = docs.withColumn("len_bucket", expr(KAnonymity.BucketExpr))
    withBucket.write.mode("overwrite").partitionBy(partCols: _*).parquet(out)
    val probe = withBucket.select(partCols.map(col): _*).first()
    val filt = partCols.zipWithIndex
      .map { case (c, i) => col(c) === lit(probe.get(i)) }
      .reduce(_ && _)
    val back = spark.read.parquet(out).filter(filt)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      partCols.exists(plan.contains), s"no partition pruning:\n$plan")
    assert(back.count() == withBucket.filter(filt).count() && back.count() > 0)
  }

  test("planned salt closes the loop: q3/q5 fact join through saltingPlan's frame, row-identical at heavy skew") {
    import graft.operators.{SaltingPlan, Skew}
    // skew one REAL orderkey ~100×: replicate its lineitem rows (replicas
    // keep the key — the adversarial direction for a key-hashed join)
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val hotKey = li.groupBy("l_orderkey").count()
      .orderBy(col("count").desc, col("l_orderkey")).head().getLong(0)
    val skewed = li.withColumn("rep", explode(expr(
        s"sequence(1, CASE WHEN l_orderkey = ${hotKey}L THEN 100 ELSE 1 END)")))
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    // report → dial: the plan frame IS saltingPlan's output, unmodified
    val plan = SaltingPlan.saltingPlan(skewed, col("l_orderkey")).localCheckpoint()
    val saltBy = plan.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(saltBy.get(hotKey).exists(_ > 1),
      s"plan did not split the hot key — fixture vacuous: $saltBy")
    // dial → mechanism: same rows as the plain join, as a multiset
    val viaPlan = Skew.saltedJoinPlanned(skewed, orders, "l_orderkey", plan)
    val direct = skewed.join(orders, Seq("l_orderkey"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("l_orderkey", "l_linenumber", "l_quantity", "rep", "o_totalprice")
      .count().collect().map(_.toSeq.toVector).toSet
    assert(direct.count() > 0 && canon(viaPlan) == canon(direct))
  }

  test("temp-view spark.sql runs the oracle SQL dialect for shared queries") {
    // these oracle strings are ANSI enough to run unmodified on Spark —
    // same text, DataFrame plan vs spark.sql plan, identical results
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    Tables.orders(spark, sf).createOrReplaceTempView("orders")

    val viaSql = spark.sql(Relational.q1AggSql).collect().map(_.toString).sorted
    val viaDf = Relational.q1Agg(Tables.lineitem(spark, sf)).collect().map(_.toString).sorted
    assert(viaSql.sameElements(viaDf))

    val topkSql = spark.sql(Relational.windowTopKPerGroupSql).collect().map(_.toString).sorted
    val topkDf = Relational.windowTopKPerGroup(Tables.orders(spark, sf)).collect().map(_.toString).sorted
    assert(topkSql.sameElements(topkDf))
  }
}
