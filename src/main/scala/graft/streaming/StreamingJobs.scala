package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Dedup, Retention, Sessionize}
import graft.sources.ParquetFooter

/** Structured Streaming twins of the batch event and document operators
  * (SURVEY.md §2.D), each declared over an unbounded file source.
  *
  * Every stream starts from one of two sources: [[eventsStream]] (events
  * files, `ts` normalized by [[graft.Tables.normalizeTs]] exactly as the
  * batch loader does) or [[documentsStream]] (documents files), the
  * latter often beside its static twin [[documentsSnapshot]]. The
  * families built on them:
  *  - watermarked aggregation and dedup: [[windowAggStream]],
  *    [[eventDedupStream]], [[dedupExactStream]];
  *  - keyed-state folds (flatMapGroupsWithState, one small record per
  *    key): the [[sessionizeStream]] family over one session fold,
  *    [[asofJoinStream]], [[attributionStream]], [[cusumStream]] and the
  *    seeded [[ivmStream]];
  *  - stream-static ingest gates, verdict final at arrival: the arriving
  *    documents probe a static snapshot taken at query (re)start
  *    ([[arrivalsAndCorpus]], usually as one row joined by
  *    [[withStaticRow]]);
  *  - the stream-stream click–purchase range-join matrix and its batch
  *    twins;
  *  - exactly-once `foreachBatch` sinks into [[graft.sources.CommitLog]]
  *    tables ([[commitLogSinkBatch]], [[clusterMaintainBatch]]).
  *
  * Each job's spec drives it with Trigger.AvailableNow over real or
  * planted data and asserts parity with its batch twin.
  */
object StreamingJobs {

  /** Raw schema of events.parquet for the given physical `ts` form — a
    * stream needs its schema up front, so [[eventsStream]] reads one
    * footer to choose between the int64-nanos form (nanosAsLong session)
    * and the timestamp[us] form (read as TIMESTAMP_NTZ);
    * [[graft.Tables.events]] documents the dual contract. */
  def eventsRawSchema(tsIsLong: Boolean): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (tsIsLong) LongType else TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  // ------------------------------------------------------ the two sources

  /** The events file source under `dir`, `ts` normalized as in
    * [[graft.Tables.events]]; `unix_micros(ts)` is then the integer-µs
    * event time for either physical form. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val tsIsLong = ParquetFooter.footerSchema(spark, dir)("ts").dataType == LongType
    Tables.normalizeTs(spark.readStream.schema(eventsRawSchema(tsIsLong)).parquet(dir))
  }

  /** Raw schema of documents.parquet. */
  val documentsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The documents files under `dir` as a file stream, at most
    * `filesPerTrigger` files per micro-batch when positive. */
  private def documentsStream(spark: SparkSession, dir: String,
                              filesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(documentsRawSchema)
    (if (filesPerTrigger > 0) r.option("maxFilesPerTrigger", filesPerTrigger) else r)
      .parquet(dir)
  }

  /** The documents files under `dir` as the static snapshot a
    * stream-static join probes: its file listing is fixed when the plan
    * is built, i.e. at query (re)start. */
  private def documentsSnapshot(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(documentsRawSchema).parquet(dir)

  /** The arriving documents (those matching `arriving`, streamed) and the
    * static corpus they are judged against (the rest, a snapshot). The
    * incremental operators' split is the default: every
    * `Dedup.IncrementalBatchMod`-th doc_id arrives. */
  private def arrivalsAndCorpus(spark: SparkSession, dir: String,
                                arriving: Column = col("doc_id") % Dedup.IncrementalBatchMod === 0)
      : (DataFrame, DataFrame) =
    (documentsStream(spark, dir).filter(arriving),
      documentsSnapshot(spark, dir).filter(!arriving))

  /** `arrivals` with the columns of the one-row static frame `row`: a
    * stream-static LEFT join on a constant key `k`, so every arriving row
    * sees the snapshot taken at query (re)start. */
  private def withStaticRow(arrivals: DataFrame, row: DataFrame): DataFrame =
    arrivals.withColumn("k", lit(1)).join(row.withColumn("k", lit(1)), Seq("k"), "left")

  /** An [[eventsStream]] row's integer-µs event time and value in cents. */
  private val TUs = expr("unix_micros(ts)")
  private val Cents = expr("CAST(round(value * 100.0) AS BIGINT)")

  // ------------------------------------------------- streaming window agg

  /** Streaming tumbling-window counts. The watermark delay defaults to
    * 2 h; production sizes it from the data instead —
    * [[graft.operators.LateArrival.globalLateness]] reports the maximum
    * arrival lateness vs the global high-watermark (exactly the
    * statistic `withWatermark` compares against), and WatermarkSpec
    * pins that a delay read off that audit drops zero events while an
    * unsized delay provably drops — the audit → dial wiring. */
  def windowAggStream(spark: SparkSession, dir: String,
                      delay: String = "2 hours"): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  // ------------------------------------------------- streaming exact dedup

  /** Streaming exact dedup — the unbounded-ingestion twin of
    * [[graft.operators.TextOps.dedupExact]]: each arriving document's
    * normalized-text fingerprint is checked against the state store and
    * only first-seen fingerprints pass. This is how the batch dedup
    * operator runs on a 100 TB firehose: state is partitioned by
    * fingerprint hash across executors, per-batch work is one state
    * lookup per doc. (Batch keeps min doc_id per fingerprint; a stream
    * keeps the FIRST-seen — the distinct fingerprint set is identical,
    * which is what the parity spec pins.) */
  def dedupExactStream(spark: SparkSession, dir: String): DataFrame =
    documentsStream(spark, dir)
      .withColumn("fingerprint",
        expr("md5(lower(trim(regexp_replace(text, '\\\\s+', ' '))))"))
      .dropDuplicates("fingerprint")
      .select("doc_id", "fingerprint")

  // ----------------------------------- streaming event delivery dedup

  /** Streaming at-least-once delivery repair — the unbounded twin of
    * [[graft.operators.EventDedup.eventDedupReport]]: arriving events
    * dedup on the CONTENT key (user, type, µs-time, cents) against the
    * state store; only first-arrivals pass. Batch keeps min event_id
    * per key, a stream keeps the FIRST-seen id — the distinct
    * content-key set is identical, which is what the parity spec pins
    * (the [[dedupExactStream]] contract, on events). */
  def eventDedupStream(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withColumn("t_us", TUs)
      .withColumn("cents", Cents)
      .dropDuplicates("user_id", "event_type", "t_us", "cents")
      .select("event_id", "user_id", "event_type", "t_us", "cents")

  // --------------------------- stream-static incremental admission

  /** Stream-static near-dup ADMISSION — the streaming half of
    * [[graft.operators.Dedup.dedupIncremental]]: new documents arrive as
    * an unbounded stream and probe a STATIC corpus LSH bucket index
    * (bkey → member list with shingle sets; at 100 TB this is the
    * precomputed, bucketed index every batch amortizes).
    *
    * The whole job is APPEND-MODE STATELESS — no streaming aggregation,
    * no watermark, no state store: the minhash signature and band keys
    * are PURE per-row expressions (array_min ∘ transform over the
    * shingle array — value-identical to the batch explode+min-agg form,
    * same xxhash64 family in the same order), the index probe is
    * [[graft.operators.Lsh.MinhashBands]] stream-static left equi-joins,
    * and the exact-Jaccard verification + min-id pick run inside
    * higher-order filter/transform on the collected member arrays. A
    * doc's verdict is FINAL at arrival, and arriving docs never pair
    * with each other — exactly the batch operator's contract (batch docs
    * never pair either), so parity is row-for-row, not modulo ordering
    * (spec-pinned).
    *
    * Scale notes: one index probe per band per doc; per-bucket member
    * lists are bounded by LSH bucket balance — the same Σ bucket²
    * economics as the batch twin (broadcast at daily-batch sizes,
    * bucket-pruned at corpus scale).
    *
    * Static-side REFRESH contract (round 7, spec-pinned): the corpus
    * index snapshot is captured at query (re)START — the batch
    * DataFrame's file listing is fixed when the plan is built, so files
    * added to the corpus mid-run are NOT seen by later micro-batches of
    * the same run. An index rebuild is picked up by restarting the query
    * (the natural shape: one AvailableNow run per scheduled ingest batch,
    * checkpoint skipping already-processed stream files), and emitted
    * verdicts are FINAL (append mode): a doc judged against an older
    * index is never retroactively re-judged. */
  def incrementalAdmissionStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Lsh
    val (arrivals, corpus) = arrivalsAndCorpus(spark, dir)
    val index = Lsh.bandedBuckets(corpus)
      .join(Dedup.shingleSets(corpus), "doc_id")
      .groupBy("bkey")
      .agg(collect_list(struct(col("doc_id").as("cid"), col("shingles"), col("nsh")))
        .as("members"))
    val mh = (0 until Lsh.MinhashK)
      .map(j => s"array_min(transform(shingles, s -> xxhash64($j, s)))")
    val bandKeyCols = (0 until Lsh.MinhashBands).map { b =>
      val rows = (0 until Lsh.MinhashRows).map(i => mh(b * Lsh.MinhashRows + i)).mkString(", ")
      expr(s"xxhash64($b, $rows)").as(s"bkey_$b")
    }
    val stream = arrivals
      .withColumn("w", expr("split(lower(trim(text)), '\\\\s+')"))
      .withColumn("shingles",
        expr("array_distinct(transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i + 1])))"))
      .withColumn("nsh", expr("size(shingles)"))
    val probed = (0 until Lsh.MinhashBands).foldLeft(
      stream.select(Seq(col("doc_id"), col("shingles"), col("nsh")) ++ bandKeyCols: _*)) {
      (df, b) =>
        df.join(index.select(col("bkey").as(s"bk_$b"), col("members").as(s"m_$b")),
          col(s"bkey_$b") === col(s"bk_$b"), "left")
    }
    val memberArrays = (0 until Lsh.MinhashBands).map(b => s"m_$b").mkString(", ")
    probed
      .withColumn("cands",
        expr(s"array_distinct(flatten(filter(array($memberArrays), x -> x IS NOT NULL)))"))
      .withColumn("scored",
        expr("transform(cands, c -> struct(c.cid AS cid, size(array_intersect(shingles, c.shingles)) AS inter, c.nsh AS n2))"))
      .withColumn("matches",
        expr(s"filter(scored, c -> CAST(c.inter AS DOUBLE) / (nsh + c.n2 - c.inter) >= ${Dedup.JaccardThreshold})"))
      .withColumn("dup_of", expr("array_min(transform(matches, c -> c.cid))"))
      .select(col("doc_id"), col("dup_of").isNull.as("is_new"), col("dup_of"))
  }

  // --------------------------- stream-static eval-set decontamination

  /** Stream-static DECONTAMINATION — the streaming half of
    * [[graft.operators.Curation.contaminationCheck]]: documents arrive as
    * an unbounded stream and are checked against the STATIC held-out
    * benchmark gram set at ingest time — the decontamination gate in the
    * ingest path, verdict FINAL at arrival.
    *
    * Append-mode STATELESS end to end: the doc's distinct 8-grams are a
    * pure per-row expression, the benchmark set rides as ONE static row
    * (its distinct gram hashes, sorted) joined in on a constant key, and
    * n_hit is a per-row array_intersect size — no aggregation, no
    * watermark, no state store. Value-identical to the batch probe-join +
    * per-doc count: both count the DISTINCT gram hashes of the doc present
    * in the benchmark set (row-for-row parity spec-pinned).
    *
    * Scale notes: the static side is exactly what the batch operator
    * broadcasts — a few MB of benchmark gram hashes against a 100 TB
    * corpus; the membership test is O(|doc grams| + |bench|) per doc via
    * the sorted intersect. If the benchmark ever outgrew broadcast size,
    * the probe becomes the batch operator's hash join keyed on gram — the
    * dial moves, the contract doesn't. Static-side refresh follows the
    * same contract as [[incrementalAdmissionStream]]: benchmark snapshot
    * captured at query (re)start, emitted verdicts final. */
  def contaminationStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val n = Curation.ContamN
    val (arrivals, bench) = arrivalsAndCorpus(spark, dir,
      col("doc_id") % Curation.ContamBenchMod =!= Curation.ContamBenchRem)
    val benchSet = Curation.ngramSets(bench, n)
      .select(explode(col("grams")).as("gram"))
      .select(expr("xxhash64(gram)").as("gh")).distinct()
      .agg(sort_array(collect_set(col("gh"))).as("bench_ghs"))
    val grams = arrivals
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), expr(Curation.gramArrayExpr(n)).as("grams"))
      .select(col("doc_id"), expr("size(grams)").as("n_grams"),
        expr("transform(grams, g -> xxhash64(g))").as("ghs"))
    withStaticRow(grams, benchSet)
      .withColumn("n_hit",
        expr("CAST(coalesce(size(array_intersect(ghs, bench_ghs)), 0) AS BIGINT)"))
      .withColumn("overlap_ratio", expr("CAST(n_hit AS DOUBLE) / greatest(n_grams, 1)"))
      .withColumn("contaminated", col("overlap_ratio") >= Curation.ContamThreshold)
      .select("doc_id", "n_grams", "n_hit", "overlap_ratio", "contaminated")
  }

  // --------------------------- stream-static paragraph admission

  /** Stream-static SUB-document admission — the streaming half of
    * [[graft.operators.ParagraphDedup.paragraphIncremental]]: documents
    * arrive as an unbounded stream and each is scored against the STATIC
    * corpus paragraph-fingerprint index at ingest time, verdict FINAL at
    * arrival.
    *
    * Append-mode STATELESS end to end, same architecture as
    * [[contaminationStream]]: the doc's window fingerprints are a pure
    * per-row expression (the same filtered-index-transform window array,
    * md5 per window), the corpus index rides as ONE static row (sorted
    * distinct fps) joined on a constant key, and n_hit is a per-row
    * filter-count over the window INSTANCES — a doc repeating a known
    * window twice scores 2 hits, exactly the batch rollup convention
    * (row-for-row parity spec-pinned). Arriving docs never count against
    * each other — the batch contract.
    *
    * Scale notes: the gate corpus's distinct window set fits one row; a
    * 100 TB corpus's does not, and there the probe becomes the batch
    * operator's fp-keyed join against the persisted bucketed index — the
    * dial moves, the contract doesn't (same sentence as the
    * decontamination twin, and the same static-side refresh contract:
    * snapshot at query (re)start, emitted verdicts final). */
  def paragraphAdmissionStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ParagraphDedup
    val (arrivals, corpus) = arrivalsAndCorpus(spark, dir)
    val corpusSet = ParagraphDedup.paragraphExploded(corpus)
      .select(col("fp")).distinct()
      .agg(sort_array(collect_set(col("fp"))).as("corpus_fps"))
    val fps = arrivals
      .select(col("doc_id"),
        expr("coalesce(split(lower(trim(text)), '\\\\s+'), array())").as("w"))
      .select(col("doc_id"),
        expr(s"transform(${ParagraphDedup.paraArrayExpr(ParagraphDedup.ParaWindowTokens)}, p -> md5(p))")
          .as("fps"))
    withStaticRow(fps, corpusSet)
      .withColumn("n_paras", expr("CAST(size(fps) AS BIGINT)"))
      .withColumn("n_hit", expr(
        "CAST(coalesce(size(filter(fps, p -> array_contains(corpus_fps, p))), 0) AS BIGINT)"))
      .withColumn("hit_frac", expr("CAST(n_hit AS DOUBLE) / greatest(n_paras, 1)"))
      .withColumn("is_new", col("hit_frac") <= ParagraphDedup.DupParaMax)
      .select("doc_id", "n_paras", "n_hit", "hit_frac", "is_new")
  }

  // --------------------------- stream-static substring admission

  /** Stream-static SUBSTRING admission (round 12) — the streaming half
    * of [[graft.operators.SubstringDedup.substringIncremental]]: each
    * arriving document reports, at ingest time and FINAL at arrival,
    * the maximal ≥L-token runs it shares with the STATIC corpus
    * partition. Append-mode stateless, the paragraph-admission
    * architecture: the corpus's distinct gram-key set rides as ONE
    * static row (sorted hash array) joined on a constant key; the
    * per-doc islands merge needs no window AT ALL here because a doc's
    * positions already sit in one row — a bounded `aggregate` fold over
    * the hit flags (the header-decoder walker pattern) extends or
    * opens spans in order. Same scale note as the paragraph twin: the
    * one-row set is gate geometry — at corpus scale the probe becomes
    * [[graft.operators.SubstringDedup.substringIncremental]]'s semi
    * join against the gh-bucketed index (InfraSpec row), the contract
    * doesn't move. Row-for-row batch parity is spec-pinned. */
  def substringAdmissionStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.SubstringDedup
    val l = SubstringDedup.MinRunTokens
    val (arrivals, corpus) = arrivalsAndCorpus(spark, dir)
    val corpusSet = SubstringDedup.gramStream(corpus)
      .select(col("gh")).distinct()
      .agg(sort_array(collect_set(col("gh"))).as("corpus_ghs"))
    // the batch operator's OWN gram expression (incl. its greatest()
    // guards) — shared text, so the twin cannot silently drift from it
    val gramArr = SubstringDedup.gramArrayExpr(l)
    val spansExpr =
      """aggregate(
        |  transform(ghs, (g, i) -> named_struct('p', CAST(i + 1 AS BIGINT),
        |                                        'hit', array_contains(corpus_ghs, g))),
        |  CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>),
        |  (acc, f) -> CASE
        |    WHEN NOT f.hit THEN acc
        |    WHEN size(acc) > 0 AND element_at(acc, -1).e = f.p - 1 THEN
        |      concat(slice(acc, 1, size(acc) - 1),
        |             array(named_struct('s', element_at(acc, -1).s, 'e', f.p)))
        |    ELSE concat(acc, array(named_struct('s', f.p, 'e', f.p))) END)""".stripMargin
    val ghs = arrivals
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), expr(gramArr).as("ghs"))
    withStaticRow(ghs, corpusSet)
      .select(col("doc_id"), explode(expr(spansExpr)).as("sp"))
      .select(col("doc_id"),
        col("sp.s").as("span_start"), col("sp.e").as("span_end"),
        expr("sp.e - sp.s + 1").as("n_grams"),
        col("sp.s").as("start_token"),
        expr(s"sp.e + ${l - 1}").as("end_token"))
  }

  // --------------------------- stream-static LM-score admission

  /** Stream-static LM SCORING — the streaming half of
    * [[graft.operators.LmScore.lmScoreIncremental]]: documents arrive as
    * an unbounded stream and each is scored at ingest time against the
    * STATIC bigram model trained on the existing corpus partition,
    * verdict FINAL at arrival.
    *
    * Append-mode STATELESS end to end, the [[contaminationStream]]
    * architecture: the model rides as ONE static row — a bigram→count
    * map, a context→mass map, and the vocabulary size — joined in on a
    * constant key, and the doc's score is a pure per-row `aggregate`
    * fold over its pair array (same integer ppm algebra: add-one
    * smoothing, floor division; `element_at` misses are the unseen-pair
    * path). No aggregation, no watermark, no state store — row-for-row
    * parity with the batch operator is spec-pinned.
    *
    * Scale notes: the maps are the model — vocab²-bounded, NOT
    * corpus-bounded (the n-gram-LM scale property), the same thing the
    * batch form's unhinted join probes; if the vocabulary outgrew one
    * row the probe becomes the batch operator's hash join keyed on
    * (x, y) — the dial moves, the contract doesn't. Same static-side
    * refresh contract: model snapshot at query (re)start, verdicts
    * final. */
  def lmScoreStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.LmScore
    val (arrivals, corpus) = arrivalsAndCorpus(spark, dir)
    val (bc, cx, v) = LmScore.model(corpus)
    val bgRow = bc.agg(map_from_entries(collect_list(
      struct(concat_ws(" ", col("x"), col("y")), col("c_xy")))).as("bg_map"))
    val cxRow = cx.agg(map_from_entries(collect_list(
      struct(col("x"), col("c_x")))).as("cx_map"))
    val ps = arrivals
      .select(col("doc_id"),
        expr("coalesce(split(lower(trim(text)), '\\\\s+'), array())").as("w"))
      .select(col("doc_id"),
        expr("transform(slice(w, 1, greatest(size(w) - 1, 0)), (t, i) -> struct(concat(t, ' ', w[i + 1]) AS xy, t AS x))")
          .as("ps"))
    withStaticRow(ps, bgRow.crossJoin(cxRow).crossJoin(v))
      .withColumn("n_bigrams", expr("CAST(size(ps) AS BIGINT)"))
      .withColumn("sum_w", expr(
        s"""aggregate(ps, 0L, (acc, p) ->
           |  acc + ((coalesce(element_at(bg_map, p.xy), 0L) + 1L) * ${LmScore.Scale})
           |        div (coalesce(element_at(cx_map, p.x), 0L) + v))""".stripMargin))
      .withColumn("lm_ppm", expr("CAST(sum_w AS DOUBLE) / greatest(n_bigrams, 1)"))
      .select("doc_id", "n_bigrams", "sum_w", "lm_ppm")
  }

  // ------------------------------------------------- stateful sessionize

  /** c is Option: a NULL value must not kill the stream — the batch twin
    * counts the row and skips it in the sum, mirrored here. */
  case class SessEvent(user_id: Long, t_us: Long, c: Option[Long])
  case class SessState(startUs: Long, lastUs: Long, nEvents: Long,
                       sumC: Long, nC: Long)
  /** sum_value is Option: a session whose events ALL carry NULL value emits
    * NULL, exactly like the batch twin's sum(c) over all-NULL — not 0.0. */
  case class ClosedSession(user_id: Long, session_start_us: Long,
                           session_end_us: Long, n_events: Long,
                           sum_value: Option[Double])

  /** Closes the open session whenever a gap > GapUs arrives; emits closed
    * sessions, keeps the open one in state. Events inside a micro-batch are
    * time-sorted before folding (arrival order within a batch is
    * unordered).
    *
    * Cross-batch out-of-order CONTRACT (spec-pinned in StreamingSpec):
    * batch parity holds when arrival respects event-time order
    * batch-to-batch. Under violation, already-emitted sessions are FINAL
    * (append mode cannot retract) and the open session absorbs the late
    * event with a monotone span — startUs = min, lastUs = max — so a late
    * event INSIDE the open session's span (or within gap of its start)
    * folds in batch-identically. A late event older than that merges into
    * the open session instead of re-opening a closed one: DOCUMENTED
    * DIVERGENCE from the batch twin, the price of O(1) state per user.
    * Closing retroactive sessions correctly would need a watermark-sized
    * event buffer per user, which is the windowed-buffer operator, not
    * this one. */
  def sessionizeFn(gapUs: Long)(
      userId: Long,
      events: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[ClosedSession] = {
    val (closed, open) = foldSessions(userId, gapUs, state.getOption,
      events.map(e => (e.t_us, e.c)))
    open.foreach(state.update)
    closed.iterator
  }

  /** The session fold both sessionizers share: `events` ((t_us, cents)
    * pairs) sorted by time and folded onto the `open` session; returns
    * the sessions a gap closed and the session left open. */
  private def foldSessions(userId: Long, gapUs: Long, open: Option[SessState],
                           events: Iterator[(Long, Option[Long])])
      : (Seq[ClosedSession], Option[SessState]) = {
    val closed = Seq.newBuilder[ClosedSession]
    val last = events.toArray.sortBy(_._1).foldLeft(open) { case (cur, (t, cOpt)) =>
      val c = cOpt.getOrElse(0L)
      val nc = if (cOpt.isDefined) 1L else 0L
      Some(cur match {
        case Some(s) if t - s.lastUs <= gapUs => SessState(math.min(s.startUs, t),
          math.max(s.lastUs, t), s.nEvents + 1, s.sumC + c, s.nC + nc)
        case _ =>
          cur.foreach(s => closed += closedSession(userId, s))
          SessState(t, t, 1, c, nc)
      })
    }
    (closed.result(), last)
  }

  private def closedSession(userId: Long, s: SessState): ClosedSession =
    ClosedSession(userId, s.startUs, s.lastUs, s.nEvents,
      if (s.nC == 0) None else Some(s.sumC / 100.0))

  /** [[SessEvent]] plus the watermark-bearing timestamp column (the
    * event-time column must survive into the Dataset for
    * EventTimeTimeout). */
  case class SessEventWm(user_id: Long, t_us: Long, c: Option[Long],
                         ts: java.sql.Timestamp)

  /** [[sessionizeFn]] plus watermark-driven closure: on EventTimeTimeout
    * (the watermark passed open-session end + gap) the open session is
    * emitted and the state removed. */
  def sessionizeWmFn(gapUs: Long)(
      userId: Long,
      events: Iterator[SessEventWm],
      state: GroupState[SessState]): Iterator[ClosedSession] = {
    if (state.hasTimedOut) {
      val cur = state.get
      state.remove()
      Iterator.single(closedSession(userId, cur))
    } else {
      val (closed, open) = foldSessions(userId, gapUs, state.getOption,
        events.map(e => (e.t_us, e.c)))
      open.foreach { cur =>
        state.update(cur)
        // close when the EVENT-TIME watermark strictly passes end + gap:
        // at that point no event that could extend this session can
        // still arrive (it would be later than the watermark permits)
        state.setTimeoutTimestamp(cur.lastUs / 1000 + gapUs / 1000 + 1)
      }
      closed.iterator
    }
  }

  /** WATERMARK-CLOSED sessionization — the audit-wired upgrade of
    * [[sessionizeStream]]: the NoTimeout form can never close a user's
    * FINAL session (closure needs a later event from the same user), so
    * tail sessions sit in state forever and the batch twin's last row
    * per user is structurally unreachable. Here the watermark — `delay`
    * sized from [[graft.operators.LateArrival.globalLateness]]
    * (WatermarkSpec derives it and pins both directions) — drives
    * EventTimeTimeout eviction: a session closes exactly when the
    * watermark passes its end + gap, i.e. when the audit certifies no
    * extending event can still arrive. Emitted set = batch sessions
    * closed by a successor PLUS final sessions the watermark has passed
    * — nothing dropped, nothing closed early (spec-pinned). */
  def sessionizeStreamWm(spark: SparkSession, dir: String, delay: String,
                         gapUs: Long = Sessionize.GapUs): Dataset[ClosedSession] = {
    import spark.implicits._
    eventsStream(spark, dir)
      .withWatermark("ts", delay)
      .select(col("user_id"), TUs.as("t_us"), Cents.as("c"), col("ts"))
      .as[SessEventWm]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        sessionizeWmFn(gapUs))
  }

  /** NATIVE streaming sessionization — Catalyst's own `session_window`
    * aggregate in append mode, the streaming face of
    * [[graft.operators.Sessionize.sessionizeNative]] and the declarative
    * twin of [[sessionizeStreamWm]]: the state store, merge logic and
    * watermark eviction all come from the engine (no
    * flatMapGroupsWithState). A session emits when the watermark passes
    * its window end (= last event + gap — the same closure instant
    * [[sessionizeWmFn]] schedules via EventTimeTimeout), so after an
    * arrival-ordered replay drains, the two forms' closed sets are
    * row-identical (spec-pinned; tail sessions the watermark never
    * passed stay open in BOTH). Column mapping is the batch native
    * twin's: start = window.start, last = unix_micros(window.end) − gap;
    * sum_value NULL when no event carried a value (SUM over all-NULL),
    * matching the hand-rolled Option. */
  def sessionizeStreamNative(spark: SparkSession, dir: String, delay: String,
                             gapUs: Long = Sessionize.GapUs): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", delay)
      .withColumn("c", Cents)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapUs microseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sum_c"))
      .select(col("user_id"),
        expr("unix_micros(sw.start)").as("session_start_us"),
        expr(s"unix_micros(sw.end) - $gapUs").as("session_end_us"),
        col("n_events"),
        expr("CAST(sum_c AS DOUBLE) / 100.0").as("sum_value"))

  /** Streaming sessionization over the same file source. */
  def sessionizeStream(spark: SparkSession, dir: String,
                       gapUs: Long = Sessionize.GapUs): Dataset[ClosedSession] = {
    import spark.implicits._
    eventsStream(spark, dir)
      .select(col("user_id"), TUs.as("t_us"), Cents.as("c"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        sessionizeFn(gapUs))
  }

  // ---------------------------------------------------- streaming as-of join

  /** value is Option: NULL event values ride through, as in the batch LOCF. */
  case class AsofEvent(user_id: Long, event_id: Long, t_us: Long,
                       value: Option[Double], side: Int)
  /** t_us = max event time over purchases seen; (valT_us, value) = the
    * max-event-time NON-NULL-valued purchase — tracked with its own
    * timestamp so the two LOCF fields stay monotone independently even
    * under out-of-order arrival (valT_us = Long.MinValue until the first
    * non-null value). */
  case class PurchaseState(t_us: Long, valT_us: Long, value: Option[Double])
  case class AsofMatch(user_id: Long, event_id: Long, t_us: Long,
                       value: Option[Double], last_purchase_us: Option[Long],
                       last_purchase_value: Option[Double])

  /** Per-user fold: purchases update the one-record state, clicks emit the
    * state as their as-of match. Events are time-sorted per micro-batch
    * (same (t_us, side, event_id) order as the batch window, purchases
    * first on ties); across batches the state carries the latest purchase,
    * so parity with the batch twin holds when arrival respects event-time
    * order batch-to-batch — the same contract as [[sessionizeFn]].
    *
    * The two state fields advance INDEPENDENTLY, mirroring the batch twin's
    * two separate ignoreNulls LOCF windows: a NULL-valued purchase advances
    * last_purchase_us but must NOT clobber the last non-null purchase
    * value (batch `last(..., ignoreNulls)` skips the NULL and keeps the
    * earlier value).
    *
    * Cross-batch out-of-order CONTRACT (spec-pinned in StreamingSpec):
    * parity with the batch twin is exact when arrival respects event-time
    * order batch-to-batch. Under violation, (a) already-emitted matches
    * are FINAL — append mode cannot retract, so a late purchase that
    * batch-wise belonged between a past purchase and an already-emitted
    * click is a DOCUMENTED DIVERGENCE for that click; (b) state is
    * MONOTONE in event time — a late purchase OLDER than the one in state
    * updates neither field, so every FUTURE click still matches the true
    * latest purchase (without the max() guards a late purchase would
    * silently rewind the state clock, wrong for all subsequent clicks).
    * Re-matching past clicks correctly would need a watermark-sized
    * purchase buffer per user; this operator trades that for O(1) state. */
  def asofFn(userId: Long, events: Iterator[AsofEvent],
             state: GroupState[PurchaseState]): Iterator[AsofMatch] = {
    val sorted = events.toArray.sortBy(e => (e.t_us, e.side, e.event_id))
    var cur = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[AsofMatch]
    for (e <- sorted) {
      if (e.side == 0) {
        cur =
          if (cur == null)
            PurchaseState(e.t_us, if (e.value.isDefined) e.t_us else Long.MinValue, e.value)
          else {
            val (vt, v) =
              if (e.value.isDefined && e.t_us >= cur.valT_us) (e.t_us, e.value)
              else (cur.valT_us, cur.value)
            PurchaseState(math.max(cur.t_us, e.t_us), vt, v)
          }
      } else out += AsofMatch(userId, e.event_id, e.t_us, e.value,
        Option(cur).map(_.t_us), Option(cur).flatMap(_.value))
    }
    if (cur != null) state.update(cur)
    out.iterator
  }

  /** Streaming as-of join — the unbounded twin of
    * [[graft.operators.Sessionize.asofJoin]]: state is ONE small record per
    * user (latest purchase), per-batch work is a sort + linear fold per
    * user — the LOCF window re-expressed as keyed state, which is exactly
    * what survives on an infinite stream where the batch window's
    * UNBOUNDED PRECEDING frame cannot. */
  def asofJoinStream(spark: SparkSession, dir: String): Dataset[AsofMatch] = {
    import spark.implicits._
    eventsStream(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), TUs.as("t_us"), col("value"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("side"))
      .as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(asofFn)
  }

  // ------------------------------- stream-static corpus version diff

  /** Stream-static VERSION CLASSIFICATION — the streaming half of
    * [[graft.operators.CorpusDiff.corpusDiff]]: new-snapshot documents
    * arrive as a stream and are classified against the STATIC previous
    * snapshot at ingest time — `added` (no prior row), `changed`
    * (fingerprint differs), `unchanged`. `removed` is structurally
    * undetectable in a stream (a doc that never arrives produces no row);
    * removal detection is the batch reconciliation the batch operator
    * exists for, so the parity contract is row-for-row equality with the
    * batch diff MINUS its `removed` rows (spec-pinned).
    *
    * Append-mode stateless: per-row fingerprint expression + ONE
    * stream-static LEFT join on doc_id — no watermark, no state store;
    * verdict FINAL at arrival. Static-side refresh follows
    * [[incrementalAdmissionStream]]'s contract: old-snapshot file listing
    * captured at query (re)start. Scale notes: the static side carries
    * (doc_id, 32-hex) only — the same never-ship-text rule as the batch
    * join — and at corpus scale the static probe is the bucketed doc_id
    * index the batch form would use. */
  def corpusDiffStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusDiff
    val old = CorpusDiff.oldSnapshot(documentsSnapshot(spark, dir))
      .select(col("doc_id"), expr(CorpusDiff.FpExpr).as("old_fp"))
    val stream = CorpusDiff.newSnapshot(documentsStream(spark, dir))
      .select(col("doc_id"), expr(CorpusDiff.FpExpr).as("new_fp"), col("source"))
    stream.join(old, Seq("doc_id"), "left")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col("doc_id"), col("status"), col("old_fp"), col("new_fp"),
        col("source"))
  }

  /** Stream-static CDC APPLY twin — the canonical streaming shape: a CDC
    * change feed arrives continuously and each change is verdicted against
    * the static snapshot (one stream-static LEFT join on the key, per-row,
    * stateless, append-mode — verdict final at arrival). Contract vs the
    * batch [[graft.operators.Cdc.cdcApply]]: the stream emits one verdict
    * PER ARRIVING CHANGE (upserts match the batch status; deletes — which
    * the batch MERGE drops from its output — are observable here because
    * the delete row itself arrives); 'kept' rows have no arriving change
    * and are structurally absent. Spec-pinned row-for-row.
    */
  def cdcApplyStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Cdc
    val snap = documentsSnapshot(spark, dir)
      .select(col("doc_id"), expr(Cdc.FpExpr).as("old_fp"))
    val changes = Cdc.changeBatch(documentsStream(spark, dir))
    changes.withColumnRenamed("fp", "new_fp")
      .join(snap, Seq("doc_id"), "left")
      .select(col("doc_id"), col("op"), col("new_fp"), col("old_fp"),
        when(col("op") === "insert", lit("inserted"))
          .when(col("op") === "delete", lit("deleted"))
          .otherwise(lit("updated")).as("status"))
  }

  /** upd_seq counts refreshes applied to the group (0 = seeded base,
    * k = k micro-batches touched it) — the spec's latest-row selector
    * and a DESCRIBE-HISTORY-ish refresh version. */
  case class ViewState(n_docs: Long, fp_mass: Long, upd_seq: Long)
  case class ViewRow(source: String, n_docs: Long, fp_mass: Long, upd_seq: Long)

  /** STATEFUL IVM twin — the per-source aggregate view of
    * [[graft.operators.Ivm]] maintained as STREAMING STATE: the change
    * feed arrives continuously, each change is turned into its
    * (dn, dv) delta (inserts self-contained; deletes/updates fetch the
    * before-image via a stateless stream-static key join — the batch
    * operator's probe, verbatim), and a keyed mapGroupsWithState folds
    * deltas into the view. The state is SEEDED from the batch base view
    * through the INITIAL-STATE overload — the exact production shape:
    * bootstrap the materialized view once, then keep it fresh from the
    * stream without ever rescanning the base. Update mode: each
    * micro-batch emits the refreshed rows for sources it touched; the
    * latest emission per source after the replay drains equals the
    * batch [[graft.operators.Ivm.incrementalViewMaintainQ]] row set
    * (for sources still live — the batch form drops net-zero groups;
    * spec-pinned, including a CHUNKED replay where deltas accumulate
    * across micro-batches). State: one 2-long record per source —
    * grows with the group universe, not the stream. */
  def ivmStream(spark: SparkSession, dir: String,
                filesPerTrigger: Int = 0): Dataset[ViewRow] = {
    import spark.implicits._
    import graft.operators.Ivm
    val rows = documentsSnapshot(spark, dir).select(col("doc_id"), col("source"),
      expr(Ivm.FpExpr).as("fp"))
    val before = rows.select(col("doc_id"), col("source").as("old_source"),
      expr(Ivm.hexValExpr("fp")).as("old_val"))
    val initial = Ivm.viewOf(rows)
      .selectExpr("source", "n_docs", "fp_mass", "CAST(0 AS BIGINT) AS upd_seq")
      .as[ViewRow]
      .groupByKey(_.source)
      .mapValues(r => ViewState(r.n_docs, r.fp_mass, 0L))
    val changes = Ivm.syntheticBatch(
      documentsStream(spark, dir, filesPerTrigger)
        .select(col("doc_id"), col("source"), expr(Ivm.FpExpr).as("fp"))
        .withColumn("k", expr(Ivm.KeyExpr)))
    val mutations = changes.filter(col("op") =!= "insert")
      .join(before, Seq("doc_id"))
      .select(col("old_source").as("source"),
        when(col("op") === "delete", -1L).otherwise(0L).as("dn"),
        when(col("op") === "delete", -col("old_val"))
          .otherwise(expr(Ivm.hexValExpr("fp")) - col("old_val")).as("dv"))
    val inserts = changes.filter(col("op") === "insert")
      .select(col("src").as("source"), lit(1L).as("dn"),
        expr(Ivm.hexValExpr("fp")).as("dv"))
    mutations.unionAll(inserts)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout, initial) {
        (source: String, deltas: Iterator[(String, Long, Long)],
         state: GroupState[ViewState]) =>
          val s0 = state.getOption.getOrElse(ViewState(0L, 0L, 0L))
          val (dn, dv) = deltas.foldLeft((0L, 0L)) { case ((a, b), d) =>
            (a + d._2, b + d._3)
          }
          val s1 = ViewState(s0.n_docs + dn, s0.fp_mass + dv, s0.upd_seq + 1)
          state.update(s1)
          ViewRow(source, s1.n_docs, s1.fp_mass, s1.upd_seq)
      }
  }

  // --------------------------------------- idempotent commit-log sink

  /** EXACTLY-ONCE streaming sink into a [[graft.sources.CommitLog]]
    * table (round 12) — the last missing piece of the owned lake story:
    * foreachBatch is at-least-once (a crash between the write and the
    * streaming checkpoint re-delivers the batch), so a plain append sink
    * duplicates rows on recovery. Each micro-batch commits through
    * [[graft.sources.CommitLog.appendIdempotent]] with the streaming
    * `batchId` as the transaction version (monotone per query by
    * contract), so a re-delivered batch — same-process retry, recovery
    * replay, or a full from-scratch re-run of the query — is skipped by
    * the log's own atomically-recorded watermark, not by sink-side
    * state. This is Delta's idempotent-writes design (txnAppId/
    * txnVersion, public docs) on the owned format.
    *
    * Returns a function suitable for `writeStream.foreachBatch`. */
  def commitLogSinkBatch(table: String, appId: String): (DataFrame, Long) => Unit =
    commitLogSinkBatchPartitioned(table, appId, Nil)

  /** [[commitLogSinkBatch]] into a PARTITIONED layout (round 17): each
    * micro-batch lands through [[graft.sources.CommitLog
    * .appendIdempotent]]'s partitioned path — value-pure partition
    * files with riding stats, under the same txn watermark, so the
    * standard production shape "stream into a partitioned lake table,
    * exactly-once" is one line of foreachBatch. Generated partition
    * columns compose: a derived partition column absent from the
    * stream materializes at the sink ([[graft.sources.CommitLog
    * .addGeneratedColumn]]). */
  def commitLogSinkBatchPartitioned(table: String, appId: String,
                                    partCols: Seq[String])
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    graft.sources.CommitLog.appendIdempotent(
      batch.sparkSession, table, batch, appId, batchId,
      partitionBy = partCols)
    ()
  }

  /** STREAMING INCREMENTAL CLUSTERING (round 15; STORE-BACKED round 16
    * — the r15 verdict's #1 order, its weak finding): near-dup LABEL
    * MAINTENANCE as a foreachBatch sink over the exactly-once pipe, the
    * §D twin of `dedup_cluster_incremental` (#250). State = THREE
    * [[graft.sources.CommitLog]] tables:
    *  - `docsTable` — the arrived corpus, landed exactly-once by the
    *    idempotent-append watermark;
    *  - the GRAM-INDEX table (`<labelsTable>_grams`) — the
    *    corpus's persisted shingle index ([[graft.operators.Dedup
    *    .gramIndex]] rows: doc_id, sh, nsh), APPENDED per batch with
    *    the batch's own grams only. This is the round-16 store-back:
    *    the r15 form re-read and RE-SHINGLED the whole arrived corpus
    *    every micro-batch (a structural full-corpus scan per batch —
    *    K corpus scans per day at 100 TB); now each document is
    *    shingled exactly once, ever, and the per-batch mine joins the
    *    batch's grams against STORED integers
    *    ([[graft.operators.Dedup.pairIndexDeltaFromGrams]] — Σ df_B·df
    *    per shingle, never corpus², no text on the corpus side).
    *    Round 17 (the r16 residual weak finding): the per-batch corpus
    *    probe is PRUNED through the format's own stats skipping —
    *    grams appends carry per-file `sh` min/max stats, the
    *    `compactGramsEvery` OPTIMIZE is [[graft.sources.CommitLog
    *    .compactClustered]] BY `sh` (disjoint per-file sh ranges), and
    *    each batch reads only the index files whose [min_sh, max_sh]
    *    intersect the batch's own sh BANDS (the high
    *    `64 − ProbeBandShift` bits of each batch gram — ≤ 2^12 bands
    *    by construction, batch-bounded driver metadata; above
    *    `MaxProbeBands` the batch is index-scale and a full scan is
    *    proportional). The probe goes through [[graft.sources
    *    .CommitLog.readPruned]] — file skipping WITHOUT the residual
    *    row filter, because the sh equi-join already implies it — so
    *    per-batch corpus cost tracks TOUCHED index files, not index
    *    size (census in PERF.md "Round-17: the pruned gram-index
    *    probe"). Pruning is a
    *    NECESSARY-condition file cut: store==fresh mine identity is
    *    unchanged (ClusterStreamSpec);
    *  - `labelsTable` — the label CATALOG ((doc_id, cluster_id) only:
    *    never pair state, never text — the state-growth claim the
    *    stress row measures), copy-on-write-replaced per batch.
    *
    * EXACTLY-ONCE across ALL THREE: each table carries its own
    * (appId, batchId) txn watermark, commits ordered docs → grams →
    * labels, so a replay after ANY crash point is safe:
    *  - all landed → the labels watermark short-circuits FIRST (r15
    *    advice: the check precedes any recovery walk, so a fully-landed
    *    replay costs one watermark read);
    *  - crash between docs and grams → docs skips and its version is
    *    recovered via [[graft.sources.CommitLog.versionOfTxn]] (one
    *    commit file per step — the r15 advice fix for the O(head²)
    *    walk); the batch rows re-read from THAT commit, grams mined
    *    from them (identical inputs ⇒ identical grams), then labels;
    *  - crash between grams and labels → both skip, the batch's grams
    *    re-read from the grams commit carrying the txn, labels retry
    *    on identical inputs.
    * Retention (round 17, the r16 optional order): with
    * `gramsRetainVersions > 0` a retention vacuum runs on the gram
    * table right after each compaction. Replay-safe because a grams
    * commit's files are only ever re-read when ITS batch replays, and
    * a batch replays only while the labels watermark is below it — the
    * compaction (and therefore the vacuum) runs strictly AFTER that
    * batch's labels commit, so every file the sweep can retire belongs
    * to a recovery window that is already closed by the watermark
    * short-circuit (ClusterStreamSpec pins the full replay as a no-op
    * on all three tables after compact+vacuum). Without it the index
    * grows monotonically: compaction keeps content but old commits pin
    * their files forever.
    *
    * Append-only unique doc ids are the incremental contract (same as
    * the batch twin's). */
  def clusterMaintainBatch(docsTable: String, labelsTable: String,
                           appId: String,
                           compactGramsEvery: Int = 0,
                           gramsTargetFiles: Int = 64,
                           gramsRetainVersions: Int = 0)
      : (DataFrame, Long) => Unit = { (batch: DataFrame, batchId: Long) =>
    val spark = batch.sparkSession
    import graft.sources.CommitLog
    val gramsT = s"${labelsTable}_grams"
    // the labels watermark short-circuit comes FIRST: commit order
    // docs→grams→labels means a labels hit proves all three landed
    if (CommitLog.txnLatest(labelsTable, appId) >= batchId) ()
    else {
      def landedVersion(table: String, appended: Option[Long]): Long =
        appended.orElse(CommitLog.versionOfTxn(table, appId, batchId))
          .getOrElse(throw new IllegalStateException(
            s"watermark of $table claims batch $batchId landed " +
              "but no commit carries it"))
      val docsV = landedVersion(docsTable,
        CommitLog.appendIdempotent(spark, docsTable, batch, appId, batchId))
      // the batch's own rows from ITS docs commit (identical to the
      // delivered frame on first run; the recovery source on replay)
      val (batchRows, _) = CommitLog.readIncremental(
        spark, docsTable, docsV - 1, docsV)
      // MIGRATION backfill (r16 advice): a pre-gram-index maintainer
      // state (docs + labels exist, gram table has no commits — the
      // r15-era layout) must not silently mine batch-internal pairs
      // only. Shingle the ALREADY-ARRIVED corpus (everything before
      // this batch's docs commit) once into the index before this
      // batch's own grams land. Idempotent across crash-replay: after
      // the backfill commit the gram table has a commit, so the guard
      // never re-fires; a fresh pipeline's first batch has docsV == 0
      // (no pre-batch corpus) and skips.
      if (CommitLog.latestVersion(gramsT) < 0 && docsV > 0) {
        val arrived = CommitLog.read(spark, docsTable, Some(docsV - 1))
        if (arrived.columns.nonEmpty)
          CommitLog.appendWithStats(spark, gramsT, Dedup.gramIndex(arrived))
      }
      // the batch's grams land next (batch-sized shingling — the only
      // text work this maintainer ever does per batch); per-file sh
      // min/max stats ride the add actions so the per-batch probe below
      // can prune (round 17)
      val gramsV = landedVersion(gramsT,
        CommitLog.appendIdempotent(spark, gramsT,
          Dedup.gramIndex(batchRows), appId, batchId, withStats = true))
      def gramsOrEmpty(df: DataFrame): DataFrame =
        if (df.columns.nonEmpty) df
        else Dedup.gramIndex(batchRows).limit(0) // schema-only (empty commit)
      val (batchGramsRaw, _) = CommitLog.readIncremental(
        spark, gramsT, gramsV - 1, gramsV)
      // feeds the band census AND the delta mine's three join sides —
      // batch-sized, one materialization (the multi-consumer invariant)
      val batchGrams = gramsOrEmpty(batchGramsRaw).localCheckpoint()
      // the batch's sh BANDS (high 64−ProbeBandShift bits of each gram
      // hash): ≤ 2^(64−ProbeBandShift) distinct values by construction, so
      // the census is bounded driver metadata regardless of batch size.
      // Each band is a contiguous SIGNED sh range (band<<ProbeBandShift
      // keeps the sign bit, and within a band signed order == unsigned
      // order), so the per-band range predicates prune against the
      // files' signed min/max stats.
      val corpusGrams =
        if (gramsV == 0) batchGrams.limit(0)
        else if (batchGrams.isEmpty) batchGrams.limit(0) // gram-free: probe nothing
        else gramBandPredicate(batchGrams) match {
          case Some(c) =>
            // file skipping WITHOUT the row-level residual: the sh
            // equi-join in the delta mine already implies it, and a
            // many-band OR evaluated per corpus row would be pure
            // waste (necessary-condition cut — identity unchanged)
            gramsOrEmpty(CommitLog.readPruned(spark, gramsT, c, Some(gramsV - 1)))
          case None => // index-scale batch: a full scan is proportional
            gramsOrEmpty(CommitLog.read(spark, gramsT, Some(gramsV - 1)))
        }
      val lHead = CommitLog.latestVersion(labelsTable)
      val oldLabels =
        if (lHead < 0)
          batchRows.select(col("doc_id"), col("doc_id").as("cluster_id")).limit(0)
        else CommitLog.read(spark, labelsTable, Some(lHead))
      val delta = Dedup.pairsFromIndex(
        Dedup.pairIndexDeltaFromGrams(corpusGrams, batchGrams), Dedup.JaccardThreshold)
        .select(col("id1"), col("id2"))
      val newLabels = Dedup.clustersIncrementalFromFrames(oldLabels,
        batchRows.select(col("doc_id")), delta)
        .select(col("doc_id"), col("cluster_id"))
      val adds = CommitLog.stage(labelsTable, newLabels)
      val removes = if (lHead < 0) Nil else CommitLog.liveFiles(labelsTable, lHead)
      // single maintenance writer per catalog (the streaming-sink
      // contract); a lost race here means a second maintainer — loud
      if (!CommitLog.tryCommit(labelsTable, lHead + 1, adds, removes,
        txn = Some((appId, batchId))))
        throw new IllegalStateException(
          s"label catalog $labelsTable has a concurrent writer at ${lHead + 1}")
      // gram-table hygiene (round 16, dial; round 17: CLUSTERED): one
      // tiny append per batch means the index accretes small files —
      // the stored-integer scan the per-batch mine rides pays per-file
      // overhead as batches accumulate. The format's own OPTIMIZE is
      // the answer, and since round 17 it clusters BY `sh` (disjoint
      // per-file sh ranges + recomputed stats) — exactly the layout the
      // band-pruned probe above skips files with. Replay stays safe —
      // a batch's own grams commit keeps its FILES on disk (compaction
      // removes references, vacuum removes files), so the recovery read
      // of commit gv still serves; runs AFTER the labels commit so a
      // compaction conflict can never lose a batch.
      if (compactGramsEvery > 0 && (gramsV + 1) % compactGramsEvery == 0) {
        CommitLog.compactClustered(spark, gramsT, _ => col("sh"),
          targetFiles = gramsTargetFiles) match {
          case Right(_) => ()
          case Left(c) => throw new IllegalStateException(
            s"gram index $gramsT has a concurrent writer: $c")
        }
        // retention (round 17, dial — see the scaladoc's replay-safety
        // argument): sweep files no retained snapshot references; every
        // per-batch file the compaction just de-referenced belongs to a
        // batch whose labels already committed, so its recovery window
        // is closed by the watermark short-circuit
        if (gramsRetainVersions > 0)
          CommitLog.vacuum(gramsT, gramsRetainVersions.toLong)
      }
    }
    ()
  }

  /** Gram-probe pruning geometry: a band is the high `64 − ProbeBandShift`
    * bits of a gram hash; a batch in more than `MaxProbeBands` bands is
    * index-scale and scans the whole index. */
  private val ProbeBandShift = 52
  private val MaxProbeBands = 512

  /** The per-batch gram-probe pruning predicate (round 17): the batch's
    * sh BANDS as a balanced OR of per-band signed ranges, matched against
    * the gram index's per-file sh min/max stats. None = the batch
    * occupies more than `MaxProbeBands` bands; Some(lit) never happens —
    * a gram-free batch is handled by the caller (nothing to probe at
    * all). */
  private def gramBandPredicate(batchGrams: DataFrame): Option[Column] = {
    import graft.sources.CommitLog
    val bands = batchGrams
      .select(shiftrightunsigned(col("sh"), ProbeBandShift).as("b"))
      .distinct().collect().map(_.getLong(0))
    if (bands.isEmpty || bands.length > MaxProbeBands) None
    else Some(CommitLog.balancedOr(bands.toSeq.map { b =>
      val lo = b << ProbeBandShift
      val hi = lo + ((1L << ProbeBandShift) - 1L)
      col("sh") >= lo && col("sh") <= hi
    }))
  }

  // ------------------------------------------- stream-stream range join

  /** STREAM-STREAM inner join — the one Structured Streaming join class
    * the §D suite lacked (stream-static and keyed-state twins exist):
    * purchases ⋈ clicks by user within a trailing attribution window
    * (`click_ts ∈ [purch_ts − window, purch_ts]`), BOTH sides unbounded.
    * The engine keeps both join states; the two watermarks + the range
    * condition bound click-state retention to window + delay (the
    * documented state-cleanup contract of stream-stream joins) — without
    * the range bound the click state would grow forever. An INNER join
    * emits a pair as soon as both sides have arrived (watermarks gate
    * eviction, not emission), so after an arrival-ordered replay drains,
    * the emitted pair set equals the batch twin's exactly
    * ([[batchClickPurchasePairs]]; StreamStreamJoinSpec pins it). */
  def clickPurchaseJoinStream(spark: SparkSession, dir: String, delay: String,
                              windowUs: Long = 3600000000L): DataFrame =
    clickPurchaseJoined(spark, dir, delay, windowUs, "inner")

  /** LEFT-OUTER stream-stream range join (round 12) — the remaining
    * Structured Streaming join contract after the inner twin: every
    * purchase emits, attributed clicks attached where they exist, one
    * NULL-click row where none does. The semantics worth pinning (public
    * Spark contract): MATCHED pairs emit as soon as both sides arrive —
    * exactly the inner join's emission — but an UNMATCHED purchase's
    * NULL row is withheld until the global watermark passes the last
    * instant a matching click could still arrive (its own purch_ts, the
    * top of the trailing window); only then is "no match" final rather
    * than "no match yet". Consequence: the NULL rows surface one
    * micro-batch AFTER the watermark passes (eviction uses the previous
    * batch's watermark), and a drained replay whose watermark has moved
    * past every purchase equals the batch LEFT JOIN row-for-row
    * (StreamStreamOuterSpec pins both the withheld-then-emitted timing
    * on a planted fixture and full batch parity at gate). */
  def clickPurchaseOuterJoinStream(spark: SparkSession, dir: String, delay: String,
                                   windowUs: Long = 3600000000L): DataFrame =
    clickPurchaseJoined(spark, dir, delay, windowUs, "left_outer")

  /** FULL-OUTER stream-stream range join (round 13) — completes the
    * outer half of the streaming join matrix. Emission timing is the
    * left-outer contract applied to BOTH sides, with per-side
    * finalization instants derived from the range condition: matched
    * pairs emit on arrival; an unmatched PURCHASE's NULL-click row
    * finalizes when the watermark passes its own `purch_ts` (top of the
    * trailing window); an unmatched CLICK's NULL-purchase row finalizes
    * only when the watermark passes `click_ts + window` — the last
    * instant a purchase it could attribute to may still arrive. Both
    * directions + the asymmetry (the click side waits a full window
    * longer) are pinned on a planted replay; a drained replay equals
    * the batch FULL JOIN row-for-row (StreamStreamMatrixSpec). */
  def clickPurchaseFullOuterJoinStream(spark: SparkSession, dir: String,
                                       delay: String,
                                       windowUs: Long = 3600000000L): DataFrame =
    clickPurchaseJoined(spark, dir, delay, windowUs, "full_outer")

  /** LEFT-SEMI stream-stream range join (round 13) — the existence
    * contract: each purchase with ≥1 attributing click emits EXACTLY
    * ONCE (on its FIRST match's arrival — matched emission is the inner
    * join's, deduplicated by state), purchases with none NEVER emit, no
    * click columns leak. Clicks arriving after the purchase already
    * emitted add nothing (spec-pinned); a drained replay equals the
    * batch LEFT SEMI join row-for-row. */
  def clickPurchaseSemiJoinStream(spark: SparkSession, dir: String,
                                  delay: String,
                                  windowUs: Long = 3600000000L): DataFrame =
    clickPurchaseJoinedRaw(spark, dir, delay, windowUs, "left_semi")
      .select(col("p_user_id").as("user_id"), col("purch_id"),
        expr("unix_micros(purch_ts)").as("purch_us"))

  private def clickPurchaseJoined(spark: SparkSession, dir: String, delay: String,
                                  windowUs: Long, joinType: String): DataFrame =
    clickPurchaseJoinedRaw(spark, dir, delay, windowUs, joinType)
      // coalesce: full-outer click-only rows carry a NULL p_user_id —
      // for inner/left_outer the purchase side is never NULL, so this is
      // the identity projection there
      .select(coalesce(col("p_user_id"), col("user_id")).as("user_id"),
        col("purch_id"), col("click_id"),
        expr("unix_micros(purch_ts)").as("purch_us"),
        expr("unix_micros(click_ts)").as("click_us"))

  private def clickPurchaseJoinedRaw(spark: SparkSession, dir: String, delay: String,
                                     windowUs: Long, joinType: String): DataFrame = {
    def side(tpe: String, idAs: String, tsAs: String) = eventsStream(spark, dir)
      .filter(col("event_type") === tpe)
      .select(col("user_id"), col("event_id").as(idAs), col("ts").as(tsAs))
    val clicks = side("click", "click_id", "click_ts")
      .withWatermark("click_ts", delay)
    val purchases = side("purchase", "purch_id", "purch_ts")
      .withColumnRenamed("user_id", "p_user_id")
      .withWatermark("purch_ts", delay)
    purchases.join(clicks,
      expr(s"""p_user_id = user_id
              |AND click_ts >= purch_ts - INTERVAL ${windowUs / 1000000} SECONDS
              |AND click_ts <= purch_ts""".stripMargin), joinType)
  }

  /** Batch twin of [[clickPurchaseJoinStream]] — same frames, same range
    * join, over the full table. */
  def batchClickPurchasePairs(events: org.apache.spark.sql.DataFrame,
                              windowUs: Long = 3600000000L): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        expr("unix_micros(ts)").as("click_us"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purch_id"),
        expr("unix_micros(ts)").as("purch_us"))
    purchases.join(clicks, Seq("user_id"))
      .filter(col("click_us") >= col("purch_us") - windowUs &&
        col("click_us") <= col("purch_us"))
      .select("user_id", "purch_id", "click_id", "purch_us", "click_us")
  }

  /** Batch twin of [[clickPurchaseOuterJoinStream]]: purchases LEFT JOIN
    * clicks on the same key + range condition. */
  def batchClickPurchaseOuterPairs(events: org.apache.spark.sql.DataFrame,
                                   windowUs: Long = 3600000000L): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        expr("unix_micros(ts)").as("click_us"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purch_id"),
        expr("unix_micros(ts)").as("purch_us"))
    purchases.join(clicks,
      purchases("user_id") === clicks("user_id") &&
        col("click_us") >= col("purch_us") - windowUs &&
        col("click_us") <= col("purch_us"), "left_outer")
      .select(purchases("user_id"), col("purch_id"), col("click_id"),
        col("purch_us"), col("click_us"))
  }

  /** Batch twin of [[clickPurchaseFullOuterJoinStream]]: same key +
    * range condition, FULL JOIN, user from whichever side is present. */
  def batchClickPurchaseFullOuterPairs(events: org.apache.spark.sql.DataFrame,
                                       windowUs: Long = 3600000000L): DataFrame = {
    // explicit per-side user columns: coalescing attributes from a
    // full-outer self-derived join trips DetectAmbiguousSelfJoin
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        expr("unix_micros(ts)").as("click_us"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purch_id"),
        expr("unix_micros(ts)").as("purch_us"))
    purchases.join(clicks,
      col("p_user_id") === col("c_user_id") &&
        col("click_us") >= col("purch_us") - windowUs &&
        col("click_us") <= col("purch_us"), "full_outer")
      .select(coalesce(col("p_user_id"), col("c_user_id")).as("user_id"),
        col("purch_id"), col("click_id"), col("purch_us"), col("click_us"))
  }

  /** Batch twin of [[clickPurchaseSemiJoinStream]]: LEFT SEMI on the
    * same key + range condition — purchase columns only, one row per
    * attributed purchase. */
  def batchClickPurchaseSemiPairs(events: org.apache.spark.sql.DataFrame,
                                  windowUs: Long = 3600000000L): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), expr("unix_micros(ts)").as("click_us"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purch_id"),
        expr("unix_micros(ts)").as("purch_us"))
    purchases.join(clicks,
      purchases("user_id") === clicks("user_id") &&
        col("click_us") >= col("purch_us") - windowUs &&
        col("click_us") <= col("purch_us"), "left_semi")
      .select(purchases("user_id"), col("purch_id"), col("purch_us"))
  }

  // --------------------------------- streaming last-touch attribution

  case class TouchEvent(user_id: Long, event_id: Long, t_us: Long,
                        cents: Long, side: Int, event_type: String)
  case class TouchState(t_us: Long, event_id: Long, channel: String)
  case class AttributedPurchase(user_id: Long, event_id: Long, t_us: Long,
                                cents: Long, channel: String)

  /** Per-user fold: touches (view/click) update the ONE-record last-touch
    * state, purchases emit an attributed row. Per batch, events are sorted
    * by the batch twin's (t_us, side, event_id) order — touches before a
    * same-instant purchase, so zero-latency touches attribute; across
    * batches the state is MONOTONE in (t_us, event_id) (the [[asofFn]]
    * guard): a late touch older than the state updates nothing, so every
    * FUTURE purchase still credits the true latest touch, while
    * already-emitted attributions are final (append mode — the same
    * documented out-of-order contract as the as-of twin). */
  def attributionFn(userId: Long, events: Iterator[TouchEvent],
                    state: GroupState[TouchState]): Iterator[AttributedPurchase] = {
    val sorted = events.toArray.sortBy(e => (e.t_us, e.side, e.event_id))
    var cur = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[AttributedPurchase]
    for (e <- sorted) {
      if (e.side == 0) {
        if (cur == null || e.t_us > cur.t_us ||
          (e.t_us == cur.t_us && e.event_id > cur.event_id))
          cur = TouchState(e.t_us, e.event_id, e.event_type)
      } else out += AttributedPurchase(userId, e.event_id, e.t_us, e.cents,
        Option(cur).map(_.channel).getOrElse("_none"))
    }
    if (cur != null) state.update(cur)
    out.iterator
  }

  /** Streaming last-touch attribution — the unbounded twin of
    * [[graft.operators.Attribution.attributionLastTouch]]'s per-purchase
    * credit assignment: state is ONE small record per user (latest touch
    * type), purchases emit final attributed rows at arrival. The batch
    * operator's channel ROLLUP is a downstream aggregation of this
    * stream (complete-mode agg or a batch query over the sink) — the
    * spec pins exactly that: grouping the emitted rows reproduces the
    * batch rollup's counts and cents per channel. */
  def attributionStream(spark: SparkSession, dir: String): Dataset[AttributedPurchase] = {
    import spark.implicits._
    eventsStream(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), TUs.as("t_us"), Cents.as("cents"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
        col("event_type"))
      .as[TouchEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(attributionFn)
  }

  // ------------------------------------------------------- streaming CUSUM

  private val CusumMsPerDay = 86400000L

  case class CusumEvent(event_type: String, t_us: Long, ts: java.sql.Timestamp)
  case class CusumDayRow(event_type: String, day: Long, n_events: Long,
                         cusum_milli: Long, alarm: Int)
  /** lastClosed = newest day already emitted; open = per-day counts the
    * watermark has not yet passed (bounded by the DELAY window in days —
    * state grows with the lateness model, never with volume). */
  case class CusumStreamState(lastClosed: Long, s: Long, open: Map[Long, Long])

  /** Per-type fold: a day CLOSES (its CUSUM row emits, exactly once) when
    * the event-time watermark passes its end — from then on no admissible
    * event can change its count. Closure densifies: every day between the
    * last closed one and the watermark emits, a silent day as x = 0 (the
    * batch operator's hole contract — for a monitoring stream, silence IS
    * evidence of downward drift). A row below the watermark whose day
    * already closed is DROPPED (the standard watermark contract; stated,
    * spec-pinned). The textbook recursion is the RIGHT shape here — state
    * is one (S, day) pair per type and each closure is O(1) — where the
    * batch twin needed the reflection identity to avoid serializing a
    * partition through one task. */
  def cusumStreamFn(mu: Map[String, Long], h: Long = graft.operators.Cusum.H)(
      tpe: String, events: Iterator[CusumEvent],
      state: GroupState[CusumStreamState]): Iterator[CusumDayRow] = {
    val m = mu.getOrElse(tpe, 0L)
    val slack = m / 2
    val gate = h * math.max(m, 1000L)
    val wmDay = state.getCurrentWatermarkMs() / CusumMsPerDay
    // materialize this batch's arrivals once (single-pass iterator;
    // per-type per-batch volume is micro-batch-bounded)
    val arrivals = if (state.hasTimedOut) Seq.empty[CusumEvent] else events.toSeq
    val st0 = state.getOption.getOrElse {
      val firstDay =
        if (arrivals.isEmpty) wmDay
        else arrivals.iterator.map(_.t_us / Retention.UsPerDay).min
      CusumStreamState(firstDay - 1, 0L, Map.empty)
    }
    val withCounts = arrivals.foldLeft(st0) { (st, e) =>
      val d = e.t_us / Retention.UsPerDay
      if (d <= st.lastClosed) st // below an already-closed day: dropped
      else st.copy(open = st.open.updated(d, st.open.getOrElse(d, 0L) + 1L))
    }
    // close (and densify) every day the watermark has passed
    val out = scala.collection.mutable.ArrayBuffer.empty[CusumDayRow]
    var s = withCounts.s
    var open = withCounts.open
    var d = withCounts.lastClosed + 1
    while (d < wmDay) {
      val x = open.getOrElse(d, 0L)
      open -= d
      s = math.max(0L, s + (x * 1000L - m - slack))
      out += CusumDayRow(tpe, d, x, s, if (s > gate) 1 else 0)
      d += 1
    }
    state.update(CusumStreamState(
      math.max(wmDay - 1, withCounts.lastClosed), s, open))
    // re-arm: fire when the watermark enters the NEXT day — strictly
    // ahead of the current watermark by construction (wm < (wmDay+1)·day)
    state.setTimeoutTimestamp((wmDay + 1) * CusumMsPerDay + 1)
    out.iterator
  }

  /** Streaming CUSUM drift alarm — the ONLINE deployment of
    * [[graft.operators.Cusum.cusumAlarm]] (§D): per-type daily counts
    * accumulate in keyed state, each day's CUSUM row emits EXACTLY ONCE
    * when the watermark passes it, and the alarm fires the day the
    * evidence crosses the gate — while the batch twin re-reads the whole
    * series per run. The baseline μ is the STREAM-STATIC half (the
    * lm_score/contamination refresh contract): CUSUM against a KNOWN
    * baseline is the textbook form, and at run (re)start the caller
    * derives `mu` per type from the batch operator over the static
    * corpus snapshot — the self-calibrating global μ cannot exist over
    * an unbounded stream (stated divergence; the spec wires exactly
    * that derivation). State: one (S, lastClosed, open-day counts)
    * record per type, open bounded by the delay window. */
  def cusumStream(spark: SparkSession, dir: String, delay: String,
                  mu: Map[String, Long]): Dataset[CusumDayRow] = {
    import spark.implicits._
    eventsStream(spark, dir)
      .select(col("event_type"), TUs.as("t_us"), col("ts"))
      .withWatermark("ts", delay)
      .as[CusumEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        cusumStreamFn(mu))
  }
}
