package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT-SUBSTRING dedup at suffix granularity (round 12) — the duplicate
  * runs the fixed window GRID structurally misses: [[DupSpans]] merges
  * [[ParagraphDedup]]'s stride-8 windows, so a duplicated run that
  * straddles window boundaries is truncated to the grid-aligned windows
  * it fully covers, and a ≥8-token duplicate that covers NO full grid
  * window (offset 8k+4, say) is invisible. The suffix-array literature's
  * contract (Lee et al. 2021, "Deduplicating Training Data Makes
  * Language Models Better" — public) is alignment-free: report every
  * maximal token run of length ≥ L that occurs ≥2 times anywhere in the
  * corpus (within- or cross-document — a suffix array doesn't care whose
  * suffix it was).
  *
  * Equivalence that makes this Spark-expressible WITHOUT building the
  * suffix array imperatively: two suffixes share a prefix of length ≥ L
  * iff their leading L-grams are equal, so "duplicated run of length
  * m ≥ L at position p" ⟺ "the m−L+1 consecutive STRIDE-1 L-grams at
  * p..p+m−L are each duplicated". Sorting the corpus's L-gram stream IS
  * the suffix sort truncated at depth L (the sorted-rotations view), the
  * group sizes are the LCP≥L buckets, and the per-doc gaps-and-islands
  * merge of duplicated positions reconstructs exactly the maximal
  * extents the suffix-array + LCP walk would report. Output per doc:
  * maximal spans [start_token, end_token] (1-based, inclusive) with the
  * covering gram count.
  *
  * Scale shape (100 TB): the gram stream is |tokens| rows of
  * (doc_id, pos, 64-bit gram hash) — stride 1 is width× the grid's
  * volume, which IS the exactness contract's price, and 8× fewer bytes
  * per row than carrying gram text (the pair-miner hash-not-string
  * discipline; a 64-bit collision would mark one position duplicated —
  * the exact-string DuckDB oracle guards it). The duplicated-position
  * verdict is a map-combinable GROUP-BY df + LEFT SEMI join back, NOT
  * a count-per-gram window: a boilerplate gram's occurrences under a
  * window all land in ONE un-splittable WindowExec partition, while
  * the groupBy collapses map-side and the semi join's hot probe
  * partitions are exactly what AQE skew-join splits (the round-12
  * invariant; the window twin is kept private, row-identity-pinned,
  * for measurement). Price: two corpus map passes over the gram stream
  * — the qualitySelect two-pass trade. Everything after runs on the
  * SPARSE duplicated-position frame: one doc-keyed exchange feeds both
  * the islands row_number window and the (doc, grp) aggregation
  * (hash(doc_id) satisfies the grp aggregation's clustered
  * distribution — the [[DupSpans]] argument). Hot grams (boilerplate)
  * = skewed probe keys, AQE-splittable; the `maxDf` dial drops them
  * lossily (coverage-subset contract — see [[substringDedup]]).
  *
  * Reference relation: extends §2.C sub-document dedup like
  * [[DupSpans]]/[[DupPassages]] — the reference's records are atomic.
  */
object SubstringDedup {

  /** Minimum duplicated run length in tokens — the grid family's window
    * width, so grid-aligned answers are directly comparable. */
  val MinRunTokens: Int = ParagraphDedup.ParaWindowTokens

  /** Stride-1 L-gram hash array over the token array `w`, inline at the
    * generator per the explode invariant; the `greatest(..., 1)` inside
    * sequence + the `greatest(..., 0)` outer slice length keep short and
    * null docs total (Spark's sequence(1, 0) would DESCEND — the
    * documented CASE-free guard shape). `private[graft]` so the
    * stream-static admission twin ([[graft.streaming.StreamingJobs]])
    * references THIS text instead of a copy that could silently
    * drift. */
  private[graft] def gramArrayExpr(l: Int): String =
    s"slice(transform(sequence(1, greatest(size(w) - $l + 1, 1)), " +
      s"i -> xxhash64(concat_ws(' ', slice(w, i, $l)))), " +
      s"1, greatest(size(w) - $l + 1, 0))"

  /** (doc_id, pos, gh): the stride-1 gram-hash stream, pos 1-based. */
  private[graft] def gramStream(documents: DataFrame,
                                l: Int = MinRunTokens): DataFrame =
    documents
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), posexplode(expr(gramArrayExpr(l))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("gh"))

  /** Maximal duplicated substrings of length ≥ l tokens, per document.
    *
    * The duplicated-position verdict is a GROUP-BY df + LEFT SEMI join
    * back, NOT a count-per-gram window, for a hot-key reason: a
    * boilerplate 8-gram at corpus scale (df 10⁷⁺) puts every occurrence
    * in ONE WindowExec partition, and a skewed window partition cannot
    * be split — while the groupBy collapses map-side (partial agg ⇒ the
    * count exchange carries ~distinct grams per partition, not
    * positions) and the semi join's hot probe partitions are exactly
    * what AQE skew-join splits. Price: the gram stream is computed
    * twice (count pass + probe pass — two corpus map passes, the
    * qualitySelect two-pass trade; materializing a |tokens|-row frame
    * at 100 TB is the wrong alternative). Both forms are row-identical
    * (spec-pinned vs [[substringDedupViaWindow]]) and measured
    * equivalent at gate scale (PERF.md) — the semi form is chosen for
    * the skew headroom, not gate wall.
    *
    * `maxDf` is the LOSSY volume dial, same spirit as
    * [[Dedup.ngramJaccardPairs]]'s: grams with df above the cap are
    * dropped from the duplicate-key set BEFORE the probe, so
    * boilerplate grams (every doc's license header) stop flagging
    * positions at all. The subset contract is TOKEN COVERAGE, not
    * rows: the set of duplicated POSITIONS (hence covered tokens) can
    * only shrink or vanish, never grow — but a hot gram INTERIOR to an
    * otherwise-cold duplicated run SPLITS one exact span into two
    * narrower rows (the islands merge re-groups around the hole), so
    * capped output rows are NOT a row-subset of the exact answer
    * (spec-pinned with an interior-hot-gram fixture). What a cap drops
    * is precisely the most-duplicated content, which a pipeline
    * usually strips by other means first. Default None = exact
    * contract. */
  def substringDedup(documents: DataFrame, l: Int = MinRunTokens,
                     maxDf: Option[Long] = None): DataFrame =
    spansFromDupPositions(dupPositionsSemi(documents, l, maxDf), l)

  /** (doc_id, pos) whose gram occurs ≥2 times corpus-wide — semi-join
    * form (the production verdict; see [[substringDedup]]). */
  private def dupPositionsSemi(documents: DataFrame, l: Int,
                               maxDf: Option[Long] = None): DataFrame = {
    val dupKeys = gramStream(documents, l)
      .groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && maxDf.map(col("df") <= _).getOrElse(lit(true)))
      .select("gh")
    gramStream(documents, l)
      .join(dupKeys, Seq("gh"), "left_semi")
      .select("doc_id", "pos")
  }

  /** The count-window twin (one corpus scan, one full shuffle + sort,
    * un-splittable hot partitions), kept as SubstringDedupSpec's
    * row-identity reference for the semi-join form; the A/B between the
    * two is PERF.md "dedup_substring at 10×". */
  private[graft] def substringDedupViaWindow(documents: DataFrame,
                                             l: Int = MinRunTokens): DataFrame =
    spansFromDupPositions(
      gramStream(documents, l)
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("gh")))
        .filter(col("cnt") >= 2)
        .select("doc_id", "pos"),
      l)

  /** Gaps-and-islands merge of duplicated positions into maximal spans. */
  private def spansFromDupPositions(dup: DataFrame, l: Int): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").as("span_start"), max("pos").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"),
        col("span_start").as("start_token"),
        (col("span_end") + lit(l.toLong - 1L)).as("end_token"))
  }

  def substringDedupQ(documents: DataFrame): DataFrame =
    substringDedup(documents).orderBy("doc_id", "span_start")

  // --- incremental admission (substring_incremental) ----------------------

  /** Batch-vs-corpus duplicate spans at suffix granularity (round 12) —
    * the substring row of the incremental-admission matrix (document
    * [[Dedup.dedupIncremental]], window [[ParagraphDedup
    * .paragraphIncremental]], embedding, LM-model): for each BATCH doc,
    * the maximal token runs ≥ l that already exist anywhere in the
    * CORPUS, alignment-free. Same islands algebra as [[substringDedup]]
    * but the duplicated-position verdict is a semi join of the batch's
    * gram stream against the corpus's DISTINCT gram-key set — only the
    * batch stream shuffles when the corpus index is persisted bucketed
    * by gh (the LSH/paragraph InfraSpec economics); batch-internal
    * repeats deliberately do NOT count (admission asks "is this new
    * versus what we HAVE", the dedupIncremental contract). */
  def substringIncremental(documents: DataFrame,
                           l: Int = MinRunTokens,
                           batchMod: Long = Dedup.IncrementalBatchMod): DataFrame = {
    val batch = gramStream(documents.filter(col("doc_id") % batchMod === 0), l)
    val corpusIdx = gramStream(documents.filter(col("doc_id") % batchMod =!= 0), l)
      .select("gh").distinct()
    val dup = batch.join(corpusIdx, Seq("gh"), "left_semi")
      .select("doc_id", "pos")
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").as("span_start"), max("pos").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_grams"),
        col("span_start").as("start_token"),
        (col("span_end") + lit(l.toLong - 1L)).as("end_token"))
  }

  def substringIncrementalQ(documents: DataFrame): DataFrame =
    substringIncremental(documents).orderBy("doc_id", "span_start")

  /** DuckDB twin: exact gram strings, corpus side as a DISTINCT gram
    * set, EXISTS probe, same islands merge. */
  val substringIncrementalSql: String = {
    val l = MinRunTokens
    val mod = Dedup.IncrementalBatchMod
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |), pg AS (
       |  SELECT doc_id,
       |         unnest([{'p': i, 'g': array_to_string(w[i:i+${l - 1}], ' ')}
       |                 for i in range(1, len(w) - ${l - 2})]) AS s
       |  FROM toks
       |), posg AS (
       |  SELECT doc_id, CAST(s.p AS BIGINT) AS pos, s.g AS gram FROM pg
       |), cidx AS (
       |  SELECT DISTINCT gram FROM posg WHERE doc_id % $mod <> 0
       |), dup AS (
       |  SELECT doc_id, pos FROM posg
       |  WHERE doc_id % $mod = 0
       |    AND EXISTS (SELECT 1 FROM cidx c WHERE c.gram = posg.gram)
       |), isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup
       |)
       |SELECT doc_id,
       |       min(pos) AS span_start, max(pos) AS span_end,
       |       CAST(count(*) AS BIGINT) AS n_grams,
       |       min(pos) AS start_token,
       |       max(pos) + ${l - 1} AS end_token
       |FROM isl
       |GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // --- the removal pass (substring_clean) ---------------------------------

  /** KEEP-FIRST verdicts at suffix granularity: a gram position is a
    * duplicate-of-earlier iff an equal gram occurs at a lexicographically
    * smaller (doc_id, pos) — [[ParagraphDedup]]'s first-occurrence
    * convention, so exactly one copy of every duplicated run survives
    * the clean. Same hot-gram shape as [[substringDedup]]'s verdict: the
    * per-gram FIRST occurrence is a map-combinable min(struct) aggregate
    * (df ≥ 2 filter shrinks the build side to duplicated grams), joined
    * back to the position stream — AQE-skew-splittable where a
    * row_number window over gh would pin a boilerplate gram's every
    * occurrence to one un-splittable partition. */
  private def dupOfEarlierPositions(documents: DataFrame, l: Int): DataFrame = {
    val firsts = gramStream(documents, l)
      .groupBy("gh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("gh", "first")
    gramStream(documents, l)
      .join(firsts, Seq("gh"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select("doc_id", "pos")
  }

  /** Cleaned corpus: every non-first maximal duplicated run ≥ l tokens
    * excised (the Lee et al. removal pass at the paper's own
    * granularity), survivors re-joined. The documents scan runs twice —
    * once under the gram index, once as the reassembly spine — the
    * [[Curation.qualitySelect]] two-pass trade [[ParagraphClean]] also
    * makes: rescanning beats shuffling full text through the gram
    * exchange. The cut-interval frame is sparse (docs with removals
    * only) and joins back doc-keyed, unhinted per the
    * no-corpus-proportional-broadcast rule. */
  def substringClean(documents: DataFrame, l: Int = MinRunTokens): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val cuts = dupOfEarlierPositions(documents, l)
      .withColumn("grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").as("s"), (max("pos") + lit(l.toLong - 1L)).as("e"))
      .groupBy("doc_id") // reuses the doc_id partitioning — no new exchange
      .agg(collect_list(struct(col("s"), col("e"))).as("cu"))
    documents
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .join(cuts, Seq("doc_id"), "left")
      // `cu IS NULL OR` keeps no-removal docs total (a typed empty-array
      // coalesce would need a struct literal; null-guarding the lambda is
      // the clearer form)
      .withColumn("clean_arr",
        expr("""transform(
               |  filter(transform(w, (t, i) -> struct(t AS t, i + 1 AS p)),
               |         s -> cu IS NULL OR NOT exists(cu, c -> s.p >= c.s AND s.p <= c.e)),
               |  s -> s.t)""".stripMargin))
      .select(col("doc_id"),
        expr("coalesce(array_join(clean_arr, ' '), '')").as("clean_text"),
        expr("CAST(coalesce(size(w), 0) AS BIGINT)").as("n_tokens"),
        expr("CAST(coalesce(size(w), 0) - coalesce(size(clean_arr), 0) AS BIGINT)")
          .as("n_removed"))
  }

  def substringCleanQ(documents: DataFrame): DataFrame =
    substringClean(documents).orderBy("doc_id")

  /** DuckDB twin of the clean: exact gram strings, row_number keep-first,
    * islands → cut intervals, NOT-EXISTS token filter, string_agg
    * reassembly (empty survivor set pinned to '' — the line_filter
    * NULL-vs-'' convention). */
  val substringCleanSql: String = {
    val l = MinRunTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |), pg AS (
       |  SELECT doc_id,
       |         unnest([{'p': i, 'g': array_to_string(w[i:i+${l - 1}], ' ')}
       |                 for i in range(1, len(w) - ${l - 2})]) AS s
       |  FROM toks
       |), posg AS (
       |  SELECT doc_id, CAST(s.p AS BIGINT) AS pos, s.g AS gram FROM pg
       |), dup AS (
       |  SELECT doc_id, pos
       |  FROM (SELECT doc_id, pos,
       |               row_number() OVER (PARTITION BY gram
       |                 ORDER BY doc_id, pos) AS rn
       |        FROM posg)
       |  WHERE rn >= 2
       |), isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup
       |), cuts AS (
       |  SELECT doc_id, min(pos) AS s, max(pos) + ${l - 1} AS e
       |  FROM isl GROUP BY doc_id, grp
       |), tok AS (
       |  SELECT doc_id, CAST(s.p AS BIGINT) AS p, s.t AS t
       |  FROM (SELECT doc_id,
       |               unnest([{'p': i, 't': w[i]} for i in range(1, len(w) + 1)]) AS s
       |        FROM toks)
       |), kept AS (
       |  SELECT tok.doc_id, tok.p, tok.t
       |  FROM tok
       |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
       |                    WHERE c.doc_id = tok.doc_id
       |                      AND tok.p >= c.s AND tok.p <= c.e)
       |), keptagg AS (
       |  SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS clean_text,
       |         CAST(count(*) AS BIGINT) AS n_kept
       |  FROM kept GROUP BY doc_id
       |), counts AS (
       |  SELECT doc_id, CAST(COALESCE(len(w), 0) AS BIGINT) AS n_tokens
       |  FROM toks
       |)
       |SELECT c.doc_id,
       |       COALESCE(k.clean_text, '') AS clean_text,
       |       c.n_tokens,
       |       c.n_tokens - COALESCE(k.n_kept, 0) AS n_removed
       |FROM counts c LEFT JOIN keptagg k USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin
  }

  /** DuckDB twin over EXACT gram strings (the collision guard): the same
    * stride-1 positions via a struct list comprehension, count-per-gram
    * window, and the same islands merge. */
  val substringDedupSql: String = {
    val l = MinRunTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |), pg AS (
       |  SELECT doc_id,
       |         unnest([{'p': i, 'g': array_to_string(w[i:i+${l - 1}], ' ')}
       |                 for i in range(1, len(w) - ${l - 2})]) AS s
       |  FROM toks
       |), posg AS (
       |  SELECT doc_id, CAST(s.p AS BIGINT) AS pos, s.g AS gram FROM pg
       |), dup AS (
       |  SELECT doc_id, pos
       |  FROM (SELECT doc_id, pos,
       |               count(*) OVER (PARTITION BY gram) AS cnt
       |        FROM posg)
       |  WHERE cnt >= 2
       |), isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup
       |)
       |SELECT doc_id,
       |       min(pos) AS span_start, max(pos) AS span_end,
       |       CAST(count(*) AS BIGINT) AS n_grams,
       |       min(pos) AS start_token,
       |       max(pos) + ${l - 1} AS end_token
       |FROM isl
       |GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }
}
