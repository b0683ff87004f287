package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.CommitLog

/** The commit-log table format, driven END-TO-END as a driver-gate query
  * (reference surface: delta_bronze.py:4 / check.py:4 `DeltaTable` —
  * versioned reads over a transaction log): build a real on-disk
  * [[CommitLog]] table from the corpus, run the full verb set against
  * it, and emit every version's row set. The oracle computes the same
  * frames directly from `documents`, so the protocol's read-at-version
  * answers are checked row-for-row by DuckDB — not just by sbt specs.
  *
  * Version ↔ verb script (all deterministic functions of doc_id):
  *  - v0 APPEND           rows with doc_id % 3 = 0
  *  - v1 APPEND           rows with doc_id % 3 = 1
  *  - v2 REPLACE (DELETE) copy-on-write rewrite keeping doc_id % 2 = 1
  *  -    CHECKPOINT at v2 (v2+ reads fold from it — exercised, not traced)
  *  - v3 APPEND           rows with doc_id % 3 = 2
  *  - v4 RESTORE to v1    (un-deletes via a new commit; history intact)
  *  - v5 OPTIMIZE         compaction — content-identical to v4
  *
  * Scale note: the table build is |documents|-sized parquet writes plus
  * O(commits) driver-side log-file creates — the log fold never touches
  * data (the CommitLog design); each versioned read hands Spark a closed
  * file list, so the union below is six pruned scans, not a directory
  * walk. The v2 rewrite here replaces the FULL live set (a DELETE-via-
  * compaction); the file-granular copy-on-write (rewrite only affected
  * files) is CommitLogSpec's replay fixture.
  */
object CommitLogRead {

  /** The committed version; the gate scripts run single-writer, so a
    * [[CommitLog.Conflict]] is a bug. */
  private def must(r: Either[CommitLog.Conflict, Long]): Long = r match {
    case Right(v) => v
    case Left(c) => throw new IllegalStateException(s"unexpected conflict: $c")
  }

  /** Builds the six-version verb-script table from the corpus and returns
    * its path — shared by the read-at query and [[commitLogHistoryQ]]. */
  private[graft] def buildScriptTable(documents: DataFrame): String = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_q").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 1)) // v1
    val kept = CommitLog.read(spark, table, Some(1L))
    val keptRows =
      if (kept.columns.isEmpty) base.limit(0) // empty-corpus table: no data files yet
      else kept.filter(col("doc_id") % 2 === 1)
    val adds = CommitLog.stage(table, keptRows)
    must(CommitLog.replaceFiles(table, 1L, CommitLog.liveFiles(table, 1L), adds)) // v2
    CommitLog.checkpoint(table, 2L)
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 2)) // v3
    must(CommitLog.restore(table, 1L)) // v4
    must(CommitLog.compact(spark, table, targetFiles = 2)) // v5
    table
  }

  def commitLogReadQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = buildScriptTable(documents)
    (0L to 5L).map { v =>
      val df = CommitLog.read(spark, table, Some(v))
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(v).as("version"), col("doc_id"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** DESCRIBE HISTORY for the same verb-script table (the Delta surface
    * delta_bronze.py's `DeltaTable.history()` implies): one row per
    * commit — the verb from the SCRIPT (the log stores actions, not
    * operation names; the classifier below derives what IS derivable),
    * the log's own add/remove action counts, and the live ROW count at
    * that version (a distributed count over the version's pruned file
    * list, no directory walk). Verb classification from the log alone:
    * adds-only = APPEND, removes+adds = REPLACE (v2 delete, v5
    * optimize), removes+re-adds of historical files = RESTORE — emitted
    * as the derived `action` column so the oracle (which knows the
    * script) checks the classifier too. n_adds/n_removes are FILE
    * counts, partitioning-dependent — deliberately NOT emitted; row
    * counts are the engine-neutral surface. */
  def commitLogHistoryQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val table = buildScriptTable(documents)
    (0L to 5L).map { v =>
      val c = CommitLog.commits(table, v).last
      val action =
        if (c.removes.isEmpty) "append"
        else if (c.adds.forall(f => CommitLog.commits(table, v - 1)
          .exists(_.adds.contains(f)))) "restore"
        else "replace"
      val df = CommitLog.read(spark, table, Some(v))
      val n = if (df.columns.isEmpty) spark.range(0).toDF("doc_id") else df
      n.agg(count(lit(1)).as("n_live_rows"))
        .select(lit(v).as("version"), lit(action).as("action"), col("n_live_rows"))
    }.reduce(_ unionByName _)
      .orderBy("version")
  }

  /** The round-13 protocol additions IN the driver gate (the read-at
    * precedent): the INCREMENTAL SOURCE's exactly-once cursor pulls,
    * ACROSS a schema evolution, with both new- and old-schema writers.
    * Script (all deterministic functions of doc_id):
    *  - v0 APPEND thirds-0 (pre-evolution schema)
    *  - PULL 1 (cursor −1 → 0): must deliver exactly thirds-0
    *  - v1 EVOLVE  + `score` BIGINT (metadata-only — emits nothing)
    *  - v2 APPEND thirds-1 with score = 2·n_chars (new-schema writer)
    *  - v3 APPEND thirds-2 WITHOUT score (old-schema writer)
    *  - PULL 2 (cursor 0 → 3): must deliver thirds-1 ∪ thirds-2 — and
    *    ONLY them (exactly-once vs pull 1) — under the evolved schema
    *    (thirds-2 reads NULL in the added column)
    * The oracle derives both pulls directly from `documents`, so
    * exactly-once partitioning, metadata-quiet evolution, and the
    * old-writer NULL fill are DuckDB-checked row-for-row. Pull 1 runs
    * BEFORE the evolution exists anywhere, so its frame carries the
    * old schema; the emitted row normalizes with a NULL score column
    * (the consumer-side union convention). */
  def commitLogIncrementalQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_inc").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    val (b1, c1) = CommitLog.readIncremental(spark, table, -1L)
    val pull1 = (if (b1.columns.isEmpty) base.limit(0) else b1)
      .select(lit(1L).as("pull_id"), col("doc_id"), col("source"),
        col("n_chars"), lit(null).cast("long").as("score"))
    val evolved = org.apache.spark.sql.types.StructType(
      base.schema.fields :+ org.apache.spark.sql.types.StructField(
        "score", org.apache.spark.sql.types.LongType))
    // baseline = the written frame's schema: first evolutions have no
    // committed schema to validate against (round-14 widening check)
    CommitLog.evolveSchema(table, evolved, baseline = Some(base.schema)) // v1
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 1)
      .withColumn("score", col("n_chars") * 2)) // v2
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 2)) // v3
    val (b2, _) = CommitLog.readIncremental(spark, table, c1)
    val pull2 = b2.select(lit(2L).as("pull_id"), col("doc_id"), col("source"),
      col("n_chars"), col("score"))
    pull1.unionByName(pull2).orderBy("pull_id", "doc_id")
  }

  /** The round-14 non-widening evolution verbs IN the driver gate (the
    * #194/#235 precedent): RENAME and DROP COLUMN as copy-on-write +
    * metadata commits, with every version's read checked under ITS OWN
    * schema. Script (deterministic functions of doc_id):
    *  - v0 APPEND thirds-0 as (doc_id, source, n_chars)
    *  - v1 RENAME n_chars → len  (rewrite + meta in one commit)
    *  - v2 APPEND thirds-1 under the renamed schema
    *  - v3 DROP source           (rewrite + meta)
    * Emits each version's rows normalized to (version, doc_id, source,
    * len): v0 reads the OLD column name (emitted as len by the consumer
    * — the schema statement is that the version READ has `n_chars`,
    * asserted in-query), v3 reads NULL source. The oracle derives all
    * four row sets from `documents`, so value survival across BOTH
    * rewrites and the versioned schema reads are DuckDB-checked. */
  def commitLogRenameQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_ren").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    // empty-corpus table: an all-empty append stages no data files, so
    // there is no schema to rewrite — the normalized output is empty
    // (the commitLogReadQ day-one convention)
    if (CommitLog.read(spark, table, Some(0L)).columns.isEmpty)
      return base.limit(0)
        .select(lit(0L).as("version"), col("doc_id"), col("source"),
          col("n_chars").as("len"))
    must(CommitLog.renameColumn(spark, table, "n_chars", "len")) // v1
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 1)
      .withColumnRenamed("n_chars", "len")) // v2
    must(CommitLog.dropColumn(spark, table, "source")) // v3
    val v0 = CommitLog.read(spark, table, Some(0L))
    require(v0.columns.toSeq == Seq("doc_id", "source", "n_chars"),
      s"v0 must read the pre-rename schema, got ${v0.columns.toSeq}")
    val v3 = CommitLog.read(spark, table, Some(3L))
    require(v3.columns.toSeq == Seq("doc_id", "len"),
      s"v3 must read the post-drop schema, got ${v3.columns.toSeq}")
    Seq(
      v0.select(lit(0L).as("version"), col("doc_id"), col("source"),
        col("n_chars").as("len")),
      CommitLog.read(spark, table, Some(1L))
        .select(lit(1L).as("version"), col("doc_id"), col("source"), col("len")),
      CommitLog.read(spark, table, Some(2L))
        .select(lit(2L).as("version"), col("doc_id"), col("source"), col("len")),
      v3.select(lit(3L).as("version"), col("doc_id"),
        lit(null).cast("string").as("source"), col("len")))
      .reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** FILE-GRANULAR DELETE in the gate (round 14): the [[CommitLog
    * .deleteWhere]] verb on a deterministic script, with the
    * granularity claim asserted IN-QUERY (file names are partitioning-
    * dependent, so the oracle checks VALUES; the untouched-file
    * survival is a require):
    *  - v0 APPEND thirds-0                  (contains doc_id%5==0 rows)
    *  - v1 APPEND thirds-1 WITHOUT %5==0    (contains none)
    *  - v2 DELETE WHERE doc_id % 5 == 0     (must rewrite only v0 files)
    *  - DELETE WHERE doc_id < 0             (no-op: commits NOTHING)
    * Emits versions 0..2 normalized. */
  def commitLogDeleteQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_del").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    val untouched = CommitLog.append(spark, table,
      base.filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 =!= 0)) // v1
    val v1Files = CommitLog.commits(table, untouched).last.adds.toSet
    // v2 — if the corpus holds no %5==0 rows (a degenerate tiny corpus),
    // deleteWhere no-ops WITHOUT committing (the Delta convention) and
    // the "v2" emission reads the unchanged head: the oracle's v2 set
    // equals its v1 set exactly then, so the rows still agree
    val v2 = must(CommitLog.deleteWhere(spark, table, col("doc_id") % 5 === 0))
    val afterDelete = CommitLog.liveFiles(table, CommitLog.latestVersion(table)).toSet
    require(v1Files.subsetOf(afterDelete),
      s"file-granular delete rewrote match-free files: ${v1Files -- afterDelete}")
    // no-op delete: no commit, snapshot unchanged
    val headBefore = CommitLog.latestVersion(table)
    require(CommitLog.deleteWhere(spark, table, col("doc_id") < 0) == Right(headBefore),
      "no-op delete must not commit")
    require(CommitLog.latestVersion(table) == headBefore)
    Seq(0L -> 0L, 1L -> 1L, 2L -> v2).map { case (tag, v) =>
      val df = CommitLog.read(spark, table, Some(v))
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(tag).as("version"), col("doc_id"), col("source"),
        col("n_chars"))
    }.reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** FILE-GRANULAR UPDATE in the gate (round 14, completing the DML
    * verb set next to [[commitLogDeleteQ]]): the [[CommitLog
    * .updateWhere]] verb on the same deterministic script shape, with
    * the granularity claim asserted IN-QUERY (file names are
    * partitioning-dependent, so the oracle checks VALUES):
    *  - v0 APPEND thirds-0                  (contains doc_id%5==0 rows)
    *  - v1 APPEND thirds-1 WITHOUT %5==0    (contains none)
    *  - v2 UPDATE WHERE doc_id % 5 == 0
    *       SET n_chars = n_chars*10+7, source = 'redacted'
    *       (must rewrite only v0 files; non-matching rows of those
    *        files survive verbatim — value-checked by the oracle)
    *  - UPDATE WHERE doc_id < 0 SET n_chars = 0   (no-op: commits NOTHING)
    * Emits versions 0..2 normalized — v0/v1 prove pre-update snapshots
    * read the ORIGINAL values after the copy-on-write. */
  def commitLogUpdateQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_upd").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    val untouched = CommitLog.append(spark, table,
      base.filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 =!= 0)) // v1
    val v1Files = CommitLog.commits(table, untouched).last.adds.toSet
    // v2 — a corpus with no %5==0 rows no-ops WITHOUT committing (the
    // delete convention): the "v2" emission then reads the unchanged
    // head and the oracle's v2 set equals its v1 set (update of zero
    // rows), so the rows still agree
    val v2 = must(CommitLog.updateWhere(spark, table, col("doc_id") % 5 === 0,
      Seq("n_chars" -> (col("n_chars") * 10 + 7), "source" -> lit("redacted"))))
    val afterUpdate = CommitLog.liveFiles(table, CommitLog.latestVersion(table)).toSet
    require(v1Files.subsetOf(afterUpdate),
      s"file-granular update rewrote match-free files: ${v1Files -- afterUpdate}")
    // no-op update: no commit, snapshot unchanged
    val headBefore = CommitLog.latestVersion(table)
    require(CommitLog.updateWhere(spark, table, col("doc_id") < 0,
      Seq("n_chars" -> lit(0L))) == Right(headBefore),
      "no-op update must not commit")
    require(CommitLog.latestVersion(table) == headBefore)
    Seq(0L -> 0L, 1L -> 1L, 2L -> v2).map { case (tag, v) =>
      val df = CommitLog.read(spark, table, Some(v))
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(tag).as("version"), col("doc_id"), col("source"),
        col("n_chars"))
    }.reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** PARTITIONED LAYOUT in the gate (round 17) — [[CommitLog
    * .appendPartitioned]] with its pruning contract require'd on the
    * actual directory:
    *  - v0 PARTITIONED APPEND evens by `source`
    *  - v1 PARTITIONED APPEND odds  by `source` (partitions accumulate)
    *  - CHECKPOINT, then probe `source = min(source)`
    * In-query requires (≥ 2 distinct sources): the pruned census is
    * strictly smaller than the live set, the kept files are EXACTLY
    * the probe partition's (the pruned read carries ZERO non-matching
    * rows — value purity makes equality pruning exact, not a band),
    * and the census is checkpoint-stable. Emits the head (tag 0) and
    * the probe partition (tag 1), both DuckDB-checked. */
  def commitLogPartitionQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_prt").resolve("t").toString
    if (base.isEmpty)
      return base.limit(0).select(lit(0L).as("version"), col("doc_id"),
        col("source"), col("n_chars"))
    CommitLog.appendPartitioned(spark, table,
      base.filter(col("doc_id") % 2 === 0), Seq("source")) // v0
    CommitLog.appendPartitioned(spark, table,
      base.filter(col("doc_id") % 2 === 1), Seq("source")) // v1
    val probe = base.agg(min("source")).head().getString(0)
    val cond = col("source") === probe
    val nLive = CommitLog.liveFiles(table, CommitLog.latestVersion(table)).size
    val kept = CommitLog.prunedLiveFiles(spark, table, cond)
    val nSources = base.select("source").distinct().count()
    if (nSources >= 2) {
      require(kept.size < nLive,
        s"partition pruning must cut the live set: kept ${kept.size} of $nLive")
      require(CommitLog.readPruned(spark, table, cond)
        .filter(!cond).isEmpty,
        "value-pure layout must make equality pruning EXACT (zero " +
          "non-matching rows in the kept files)")
    }
    CommitLog.checkpoint(table)
    require(CommitLog.prunedLiveFiles(spark, table, cond).sorted == kept.sorted,
      "partition stats must fold through checkpoints unchanged")
    CommitLog.read(spark, table)
      .select(lit(0L).as("version"), col("doc_id"), col("source"), col("n_chars"))
      .unionByName(CommitLog.readWhere(spark, table, cond)
        .select(lit(1L).as("version"), col("doc_id"), col("source"),
          col("n_chars")))
      .orderBy("version", "doc_id")
  }

  /** Oracle: the full corpus (tag 0) + the min-source partition
    * (tag 1). */
  val commitLogPartitionSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, doc_id, source, n_chars
      |  FROM base
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), doc_id, source, n_chars FROM base
      |  WHERE source = (SELECT min(source) FROM base)
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** PARTITION-SCOPED OPTIMIZE in the gate (round 17) —
    * [[CommitLog.compactWhere]] with both sides of the scope require'd
    * on the actual directory:
    *  - v0/v1 PARTITIONED APPENDs by `source` (each partition now holds
    *    ≥ 2 small files)
    *  - OPTIMIZE WHERE source = min(source): that partition's files
    *    collapse to ONE; every OTHER partition's file list is
    *    byte-for-byte the same names (require'd — the cold 99% never
    *    moves)
    * Emits the head (tag 0) + the optimized partition (tag 1) — content
    * identity through a scoped compaction, DuckDB-checked. */
  def commitLogOptimizeWhereQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_ow").resolve("t").toString
    if (base.isEmpty)
      return base.limit(0).select(lit(0L).as("version"), col("doc_id"),
        col("source"), col("n_chars"))
    CommitLog.appendPartitioned(spark, table,
      base.filter(col("doc_id") % 2 === 0), Seq("source")) // v0
    CommitLog.appendPartitioned(spark, table,
      base.filter(col("doc_id") % 2 === 1), Seq("source")) // v1
    val probe = base.agg(min("source")).head().getString(0)
    val cond = col("source") === probe
    val headBefore = CommitLog.latestVersion(table)
    val selectedBefore = CommitLog.prunedLiveFiles(spark, table, cond).toSet
    val othersBefore =
      CommitLog.liveFiles(table, headBefore).filterNot(selectedBefore).sorted
    val v = must(CommitLog.compactWhere(spark, table, cond))
    val liveAfter = CommitLog.liveFiles(table, v)
    val othersAfter = liveAfter.filterNot(selectedBefore).sorted
    val newFiles = liveAfter.filter(f =>
      !selectedBefore.contains(f) && !othersBefore.contains(f))
    require(newFiles.size == 1,
      s"scoped OPTIMIZE must collapse the partition to one file: $newFiles")
    require(othersBefore == othersAfter.filterNot(newFiles.contains),
      "scoped OPTIMIZE must not move any other partition's files")
    CommitLog.read(spark, table)
      .select(lit(0L).as("version"), col("doc_id"), col("source"), col("n_chars"))
      .unionByName(CommitLog.readWhere(spark, table, cond)
        .select(lit(1L).as("version"), col("doc_id"), col("source"),
          col("n_chars")))
      .orderBy("version", "doc_id")
  }

  /** Oracle: identical to the partition gate's — a scoped compaction
    * changes layout, never content. (lazy: the shared text initializes
    * below this point.) */
  lazy val commitLogOptimizeWhereSql: String = commitLogPartitionSql

  /** GENERATED COLUMNS in the gate (round 17) — Delta's `GENERATED
    * ALWAYS AS`, driver-checked end-to-end with the canonical use (a
    * derived partition column):
    *  - v0 APPEND thirds-0 WITH a `len_kb` column (= n_chars div 1000)
    *  - ADD GENERATED len_kb = n_chars div 1000 (existing rows conform)
    *  - PARTITIONED APPEND thirds-1 WITHOUT len_kb — materialized by
    *    the definition, routed into value-pure partition files
    *  - a WRONG len_kb append is rejected un-committed (require'd)
    *  - probe len_kb = 0 via readWhere — pruning rides the generated
    *    partition values (census cut require'd when both buckets exist)
    * Emits the head (tag 0) + the probe (tag 1); the oracle derives
    * len_kb straight from n_chars. */
  def commitLogGencolQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_gen").resolve("t").toString
    if (base.isEmpty)
      return base.limit(0).select(lit(0L).as("version"), col("doc_id"),
        col("source"), col("n_chars"), col("n_chars").as("len_kb"))
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)
      .withColumn("len_kb", expr("n_chars div 1000"))) // v0
    must(CommitLog.addGeneratedColumn(spark, table, "len_kb", "n_chars div 1000"))
    // the canonical use: the writer OMITS the derived column; the
    // definition materializes it and the partition router uses it
    CommitLog.appendPartitioned(spark, table,
      base.filter(col("doc_id") % 3 === 1), Seq("len_kb"))
    val headBefore = CommitLog.latestVersion(table)
    val rejected =
      try {
        CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 2)
          .withColumn("len_kb", lit(-1L)))
        false
      } catch { case _: IllegalStateException => true }
    require(rejected, "a wrong generated value must be rejected loudly")
    require(CommitLog.latestVersion(table) == headBefore,
      "the rejected append must not commit")
    val cond = col("len_kb") === 0L
    val nLive = CommitLog.liveFiles(table, headBefore).size
    val kept = CommitLog.prunedLiveFiles(spark, table, cond)
    val buckets = CommitLog.read(spark, table).select("len_kb").distinct().count()
    if (buckets >= 2)
      require(kept.size < nLive,
        s"generated-partition pruning must cut the live set: ${kept.size}/$nLive")
    CommitLog.read(spark, table)
      .select(lit(0L).as("version"), col("doc_id"), col("source"),
        col("n_chars"), col("len_kb"))
      .unionByName(CommitLog.readWhere(spark, table, cond)
        .select(lit(1L).as("version"), col("doc_id"), col("source"),
          col("n_chars"), col("len_kb")))
      .orderBy("version", "doc_id")
  }

  /** Oracle: thirds-0 ∪ thirds-1 with len_kb derived; the probe keeps
    * the sub-1000-char rows. */
  val commitLogGencolSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars, n_chars // 1000 AS len_kb
      |  FROM documents
      |  WHERE doc_id % 3 = 0 OR doc_id % 3 = 1
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, doc_id, source, n_chars, len_kb
      |  FROM base
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), doc_id, source, n_chars, len_kb
      |  FROM base WHERE len_kb = 0
      |)
      |SELECT version, doc_id, source, n_chars, len_kb
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** MERGE INTO in the gate (round 17) — the upsert verb with on-disk
    * evidence ([[CommitLog.mergeInto]] — until now MERGE semantics were
    * gate-checked only through cdc_apply's in-memory form):
    *  - v0 APPEND thirds-0
    *  - v1 APPEND thirds-1 minus fifths (files the merge must not touch)
    *  - v2 MERGE  source = fifths-of-thirds-0 (matched → full-image
    *              update: source='merged', n_chars·2+1) ∪
    *              sevenths-of-thirds-2 (unmatched → insert, same
    *              transform)
    * In-query require: v1's files survive the merge untouched (no
    * thirds-1 key is in the source — the file-granular contract on the
    * actual directory). Emits all three versions tagged; the oracle
    * recomputes them as a LEFT-JOIN CASE fold + anti-join insert set. */
  def commitLogMergeQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_mrg").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    val untouched = CommitLog.append(spark, table,
      base.filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 =!= 0)) // v1
    val v1Files = CommitLog.commits(table, untouched).last.adds.toSet
    val src = base
      .filter((col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0) ||
        (col("doc_id") % 3 === 2 && col("doc_id") % 7 === 0))
      .select(col("doc_id"), lit("merged").as("source"),
        (col("n_chars") * 2 + 1).as("n_chars"))
    val v2 = must(CommitLog.mergeInto(spark, table, src, "doc_id"))
    val afterMerge = CommitLog.liveFiles(table, CommitLog.latestVersion(table)).toSet
    require(v1Files.subsetOf(afterMerge),
      s"file-granular merge rewrote match-free files: ${v1Files -- afterMerge}")
    Seq(0L -> 0L, 1L -> 1L, 2L -> v2).map { case (tag, v) =>
      val df = CommitLog.read(spark, table, Some(v))
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(tag).as("version"), col("doc_id"), col("source"),
        col("n_chars"))
    }.reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** Oracle: v0/v1 as the update gate; v2 = v1 with the matched fifths
    * taking the source image, plus the thirds-2 sevenths inserts. */
  val commitLogMergeSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v01 AS (
      |  SELECT doc_id, source, n_chars FROM base
      |  WHERE doc_id % 3 = 0 OR (doc_id % 3 = 1 AND doc_id % 5 <> 0)
      |), src AS (
      |  SELECT doc_id, 'merged' AS source, n_chars * 2 + 1 AS n_chars
      |  FROM base
      |  WHERE (doc_id % 3 = 0 AND doc_id % 5 = 0)
      |     OR (doc_id % 3 = 2 AND doc_id % 7 = 0)
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, doc_id, source, n_chars
      |  FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), doc_id, source, n_chars FROM v01
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), t.doc_id,
      |         COALESCE(s.source, t.source),
      |         COALESCE(s.n_chars, t.n_chars)
      |  FROM v01 t LEFT JOIN src s ON s.doc_id = t.doc_id
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), s.doc_id, s.source, s.n_chars
      |  FROM src s WHERE s.doc_id NOT IN (SELECT doc_id FROM v01)
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** RETENTION VACUUM in the gate (round 14, late) — the last lake verb
    * without driver-checked evidence ([[CommitLog.vacuum]] was
    * spec-only; vacuum_plan is the advisor): run a real retention sweep
    * and prove BOTH sides of the horizon on disk —
    *  - v0 APPEND thirds-0               (contains even doc_ids)
    *  - v1 DELETE WHERE doc_id % 2 == 0  (rewrites affected files; the
    *                                      originals are now referenced
    *                                      ONLY by v0)
    *  - VACUUM retain=1                  (v0 leaves the window)
    * In-query requires (file-level facts; the oracle checks VALUES):
    * the sweep returned a NON-empty deletable set and those files are
    * physically GONE (a post-vacuum read at v0 fails loudly — the
    * horizon contract, eager-checked), while the head read stays
    * intact. Emits the head's rows — the retained snapshot survives its
    * own vacuum byte-for-byte, DuckDB-checked. */
  def commitLogVacuumQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_vac").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    val v0r = CommitLog.read(spark, table, Some(0L))
    if (v0r.columns.isEmpty || v0r.isEmpty)
      return base.limit(0)
        .select(lit(1L).as("version"), col("doc_id"), col("source"), col("n_chars"))
    val v1 = must(CommitLog.deleteWhere(spark, table, col("doc_id") % 2 === 0))
    // a corpus whose thirds-0 subset has no even ids makes the delete a
    // no-op (Right(0), nothing committed) — there is then nothing to
    // sweep and no horizon to prove; emit the unchanged head tagged
    // version 1, which equals the oracle's thirds-0-minus-evens exactly
    // (r14 advice: keep the query total over corpus shapes)
    if (v1 == 0L)
      return CommitLog.read(spark, table, Some(0L))
        .select(lit(1L).as("version"), col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    val swept = CommitLog.vacuum(table, retainVersions = 1L)
    require(swept.nonEmpty, "retention sweep must retire v0's replaced files")
    swept.foreach { f =>
      require(!Files.exists(java.nio.file.Paths.get(table, f)),
        s"vacuum reported but did not delete $f")
    }
    // past the horizon: the v0 snapshot's files are gone — reading it
    // must fail LOUDLY, never silently return partial rows
    val v0Fails =
      try { CommitLog.read(spark, table, Some(0L)).count(); false }
      catch { case _: Throwable => true }
    require(v0Fails, "pre-horizon read must fail loudly after vacuum")
    CommitLog.read(spark, table, Some(1L))
      .select(lit(1L).as("version"), col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** TIMESTAMP AS OF in the gate (round 15 — the r14 verdict's #3
    * order, extending #194's script-oracle pattern): a three-append
    * script with INJECTED commit timestamps — including an
    * out-of-order one, so the monotonization contract itself is
    * DuckDB-checked:
    *  - v0 APPEND thirds-0 at cts=1000
    *  - v1 APPEND thirds-1 at cts=3000
    *  - v2 APPEND thirds-2 at cts=2000  (wall clock ran BACKWARD —
    *    monotonized to v1's instant 3000: version order wins)
    * Probes (each emitted as that timestamp's resolved row set):
    *  - ts=1000 → v0;  ts=2500 → v0 (v2's RAW 2000 must not win —
    *    the monotonization pin);  ts=2999 → v0;  ts=3000 → v2 (last
    *    version at-or-before the instant both late commits share).
    * A probe BEFORE the first commit must fail loudly (require'd
    * in-query — there is no table state to serve there). */
  def commitLogReadAtTsQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_ts").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0),
      ctsMillis = Some(1000L)) // v0
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 1),
      ctsMillis = Some(3000L)) // v1
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 2),
      ctsMillis = Some(2000L)) // v2 — out of order
    val preFirstFails =
      try { CommitLog.versionAtTimestamp(table, 999L); false }
      catch { case _: IllegalArgumentException => true }
    require(preFirstFails, "a timestamp before the first commit must fail loudly")
    require(CommitLog.versionAtTimestamp(table, 1000L) == 0L)
    require(CommitLog.versionAtTimestamp(table, 2500L) == 0L,
      "v2's raw out-of-order timestamp must not resolve ahead of v1's")
    require(CommitLog.versionAtTimestamp(table, 3000L) == 2L)
    Seq(1000L, 2500L, 2999L, 3000L).map { ts =>
      val df = CommitLog.readAtTimestamp(spark, table, ts)
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(ts).as("probe_ts"), col("doc_id"), col("source"),
        col("n_chars"))
    }.reduce(_ unionByName _)
      .orderBy("probe_ts", "doc_id")
  }

  /** Oracle: probes 1000/2500/2999 resolve the thirds-0 snapshot, 3000
    * the full union — derived straight from `documents`. */
  val commitLogReadAtTsSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT CAST(1000 AS BIGINT) AS probe_ts, * FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(2500 AS BIGINT), * FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(2999 AS BIGINT), * FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(3000 AS BIGINT), * FROM base
      |)
      |SELECT probe_ts, doc_id, source, n_chars
      |FROM v
      |ORDER BY probe_ts, doc_id""".stripMargin

  /** DATA-SKIPPING file stats in the gate (round 15 — the r14 verdict's
    * #2 order): per-file min/max stats committed IN the add actions
    * ([[CommitLog.appendWithStats]]), then a selective range read through
    * [[CommitLog.readWhere]] with the pruning proved on the ACTUAL file
    * census (the commitlog_zorder pattern — file-level facts are
    * require'd in-query, the oracle checks VALUES):
    *  - v0 APPEND-WITH-STATS, range-clustered by doc_id into 8 files
    *    (disjoint per-file doc_id ranges — the layout stats skipping
    *    exists for; [[CommitLog.compactClustered]] produces it at scale)
    *  - CHECKPOINT — the stats must FOLD THROUGH it (the census is
    *    re-taken after and require'd identical)
    *  - READ WHERE doc_id in the corpus's middle [span/4, span/2] band
    * Requires: the pruned census is STRICTLY smaller than the live set
    * (when the corpus can distinguish: ≥2 files and a ≥8-wide id span),
    * and is unchanged when resolved from the checkpoint. Emits the
    * pruned read's rows — row-identical to an unpruned filter by the
    * oracle. */
  def commitLogSkippingQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_skip").resolve("t").toString
    CommitLog.appendWithStats(spark, table,
      base.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")) // v0
    val v0r = CommitLog.read(spark, table, Some(0L))
    if (v0r.columns.isEmpty || v0r.isEmpty)
      return base.limit(0)
        .select(col("doc_id"), col("source"), col("n_chars"))
    val b = v0r.agg(min("doc_id"), max("doc_id")).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    val cond = col("doc_id") >= lo && col("doc_id") <= hi
    val nLive = CommitLog.liveFiles(table, 0L).size
    val kept = CommitLog.prunedLiveFiles(spark, table, cond)
    if (nLive >= 2 && mx - mn >= 8)
      require(kept.size < nLive,
        s"stats must prune a disjoint-range layout: kept ${kept.size} of $nLive")
    CommitLog.checkpoint(table)
    val keptFromCp = CommitLog.prunedLiveFiles(spark, table, cond)
    require(keptFromCp.sorted == kept.sorted,
      "per-file stats must fold through checkpoints unchanged")
    CommitLog.readWhere(spark, table, cond)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Oracle: the same middle band straight from `documents` — integer
    * bound arithmetic shared with the engine side. */
  val commitLogSkippingSql: String =
    """WITH b AS (
      |  SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents
      |)
      |SELECT d.doc_id, d.source, d.n_chars
      |FROM documents d, b
      |WHERE d.doc_id >= b.mn + (b.mx - b.mn) // 4
      |  AND d.doc_id <= b.mn + (b.mx - b.mn) // 2
      |ORDER BY d.doc_id""".stripMargin

  /** TIMESTAMP data skipping in the gate (round 16 — the r15 verdict's
    * #3 order, extending the [[commitLogSkippingQ]] pattern to the
    * events table, its canonical use case): per-file timestamp min/max
    * ride the add actions encoded as integer EPOCH-MICROS (the §6
    * integer-µs parity rule applied to stats metadata — never
    * timezone-dependent JSON timestamp text), so a TIME-BAND read over
    * a time-clustered layout prunes files on pure integer compares:
    *  - v0 APPEND-WITH-STATS, range-clustered by `ts` into 8 files
    *  - CHECKPOINT — the micros stats must fold through unchanged
    *  - READ WHERE ts in the corpus's middle [span/4, span/2] µs band
    * Same requires as the doc_id gate: strictly-smaller pruned census
    * (when distinguishable) and checkpoint stability; rows
    * DuckDB-checked against the band straight off `events`. */
  def commitLogSkippingTsQ(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val base = events.select(col("event_id"), col("user_id"),
      col("event_type"), col("ts"))
    def out(df: DataFrame): DataFrame =
      df.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val table = Files.createTempDirectory("graft_cl_skts").resolve("t").toString
    CommitLog.appendWithStats(spark, table,
      base.repartitionByRange(8, col("ts")).sortWithinPartitions("ts")) // v0
    val v0r = CommitLog.read(spark, table, Some(0L))
    if (v0r.columns.isEmpty || v0r.isEmpty)
      return out(base.limit(0))
    val b = v0r.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    val cond = col("ts") >= expr(s"timestamp_micros(CAST($lo AS BIGINT))") &&
      col("ts") <= expr(s"timestamp_micros(CAST($hi AS BIGINT))")
    val nLive = CommitLog.liveFiles(table, 0L).size
    val kept = CommitLog.prunedLiveFiles(spark, table, cond)
    if (nLive >= 2 && mx - mn >= 8)
      require(kept.size < nLive,
        s"ts stats must prune a time-clustered layout: kept ${kept.size} of $nLive")
    CommitLog.checkpoint(table)
    val keptFromCp = CommitLog.prunedLiveFiles(spark, table, cond)
    require(keptFromCp.sorted == kept.sorted,
      "epoch-micros stats must fold through checkpoints unchanged")
    out(CommitLog.readWhere(spark, table, cond))
      .orderBy("event_id")
  }

  /** Oracle: the same µs band straight from `events` — integer µs
    * arithmetic shared with the engine side. */
  val commitLogSkippingTsSql: String =
    """WITH b AS (
      |  SELECT min(epoch_us(date_trunc('microseconds', ts))) AS mn,
      |         max(epoch_us(date_trunc('microseconds', ts))) AS mx
      |  FROM events
      |)
      |SELECT e.event_id, e.user_id, e.event_type,
      |       epoch_us(date_trunc('microseconds', e.ts)) AS ts_us
      |FROM events e, b
      |WHERE epoch_us(date_trunc('microseconds', e.ts)) >= b.mn + (b.mx - b.mn) // 4
      |  AND epoch_us(date_trunc('microseconds', e.ts)) <= b.mn + (b.mx - b.mn) // 2
      |ORDER BY e.event_id""".stripMargin

  /** DELETION VECTORS in the gate (round 16 — the r15 verdict's #9
    * order; Delta's merge-on-read design, public): a SCATTERED delete
    * must stop rewriting every touched file — the DV verb attaches
    * position sidecars instead, and the gate REQUIRES the data-file
    * economics on the actual directory (the commitlog_zorder pattern:
    * file-level facts require'd in-query, values DuckDB-checked):
    *  - v0 APPEND, range-clustered into 8 files
    *  - v1 DV-DELETE doc_id % 7 = 0 (scattered: touches most files) —
    *    the live DATA file census must be IDENTICAL to v0's and every
    *    v0 file must still exist on disk (zero copy-on-write)
    *  - v2 DV-DELETE doc_id % 11 = 0 — the merge-on-re-delete path
    *  - v3 OPTIMIZE (compact) — REQUIRES the DV map rebased to empty
    * Emits every version's row set: v0 full, v1/v2 progressively
    * filtered, v3 content-identical to v2 (a maintenance verb never
    * changes rows). */
  def commitLogDvQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_dv").resolve("t").toString
    def out(df: DataFrame, v: Long): DataFrame = {
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(v).as("version"), col("doc_id"), col("source"),
        col("n_chars"))
    }
    CommitLog.append(spark, table,
      base.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")) // v0
    val v0r = CommitLog.read(spark, table, Some(0L))
    if (v0r.columns.isEmpty || v0r.isEmpty) return out(base.limit(0), 0L)
    val before = CommitLog.liveFiles(table, 0L)
    must(CommitLog.deleteWhereDv(spark, table, col("doc_id") % 7 === 0)) // v1
    require(CommitLog.liveFiles(table, 1L) == before,
      "a DV delete must not rewrite or remove any data file")
    before.foreach(f => require(
      Files.exists(java.nio.file.Paths.get(table, f)),
      s"v0 data file $f must survive a DV delete on disk"))
    must(CommitLog.deleteWhereDv(spark, table, col("doc_id") % 11 === 0)) // v2
    require(CommitLog.liveFiles(table, 2L) == before,
      "the merged re-delete must not move data files either")
    must(CommitLog.compact(spark, table, targetFiles = 2)) // v3
    require(CommitLog.liveDvs(table, 3L).isEmpty,
      "OPTIMIZE must rebase deletion vectors away")
    (0L to 3L).map(v => out(CommitLog.read(spark, table, Some(v)), v))
      .reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** Oracle: the four versions' row sets straight from `documents`. */
  val commitLogDvSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, * FROM base
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), * FROM base WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), * FROM base
      |  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), * FROM base
      |  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** MERGE-ON-READ UPDATE in the gate (round 17 — the r16 verdict's #5
    * order, the [[commitLogDvQ]] pattern applied to the new verb): a
    * scattered UPDATE must stop rewriting whole files — [[CommitLog
    * .updateWhereDv]] DVs the matched rows in place and appends only
    * their updated images, with the data-file economics require'd on
    * the actual directory:
    *  - v0 APPEND, range-clustered into 8 files
    *  - v1 DV-UPDATE doc_id % 7 = 0 SET n_chars = n_chars*10+7,
    *    source = 'redacted' (scattered: touches most files) — every v0
    *    data file must STILL BE LIVE and on disk (zero copy-on-write;
    *    the only new data files are the appended images)
    *  - v2 DV-UPDATE doc_id % 14 = 0 SET n_chars = n_chars + 1 — the
    *    merge-on-re-update path: rows that moved into image files at
    *    v1 get DV'd THERE; the row count must never change
    *  - v3 OPTIMIZE (compact) — REQUIRES the DV map rebased to empty
    * Emits every version's row set (v3 content-identical to v2);
    * OLD-row SET semantics and per-key uniqueness DuckDB-checked. */
  def commitLogUpdateDvQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_udv").resolve("t").toString
    def out(df: DataFrame, v: Long): DataFrame = {
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(v).as("version"), col("doc_id"), col("source"),
        col("n_chars"))
    }
    CommitLog.append(spark, table,
      base.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions("doc_id")) // v0
    val v0r = CommitLog.read(spark, table, Some(0L))
    if (v0r.columns.isEmpty || v0r.isEmpty) return out(base.limit(0), 0L)
    val before = CommitLog.liveFiles(table, 0L)
    val nRows = v0r.count()
    must(CommitLog.updateWhereDv(spark, table, col("doc_id") % 7 === 0,
      Seq("n_chars" -> (col("n_chars") * 10 + 7),
        "source" -> lit("redacted")))) // v1
    val live1 = CommitLog.liveFiles(table, 1L)
    require(before.forall(live1.contains),
      "a DV update must not rewrite or remove any data file")
    before.foreach(f => require(
      Files.exists(java.nio.file.Paths.get(table, f)),
      s"v0 data file $f must survive a DV update on disk"))
    must(CommitLog.updateWhereDv(spark, table, col("doc_id") % 14 === 0,
      Seq("n_chars" -> (col("n_chars") + 1)))) // v2 — re-update merges
    require(CommitLog.read(spark, table, Some(2L)).count() == nRows,
      "merge-on-re-update must never change the row count")
    must(CommitLog.compact(spark, table, targetFiles = 2)) // v3
    require(CommitLog.liveDvs(table, 3L).isEmpty,
      "OPTIMIZE must rebase the update's deletion vectors away")
    (0L to 3L).map(v => out(CommitLog.read(spark, table, Some(v)), v))
      .reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** Oracle: v0 raw; v1 applies the first SET to the %7 rows; v2 adds
    * +1 on the %14 rows (over v1's values — OLD-row semantics per
    * statement, sequential across commits); v3 = v2. */
  val commitLogUpdateDvSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v1 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 0 THEN 'redacted' ELSE source END AS source,
      |         CASE WHEN doc_id % 7 = 0 THEN n_chars * 10 + 7 ELSE n_chars END AS n_chars
      |  FROM base
      |), v2 AS (
      |  SELECT doc_id, source,
      |         CASE WHEN doc_id % 14 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
      |  FROM v1
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, * FROM base
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), * FROM v1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), * FROM v2
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), * FROM v2
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** CHANGE DATA FEED in the gate (round 16): [[CommitLog.tableChanges]]
    * — the derived row-level change feed (Delta's CDF read, public
    * design) — was spec-only; this drives it through every change class
    * the format produces and DuckDB-checks the emitted ops:
    *  - v0 APPEND thirds-0                 → inserts
    *  - v1 APPEND thirds-1                 → inserts
    *  - v2 UPDATE WHERE doc_id%2=0 SET n_chars+1 → updates for exactly
    *    the MATCHED rows (the rewrite carries unmatched rows of
    *    affected files verbatim — identical fingerprints emit nothing,
    *    the CDF contract)
    *  - v3 DV-DELETE doc_id%5=0            → deletes through the
    *    merge-on-read path (the feed reads snapshots, so deletion
    *    vectors surface as row deletions without any rewrite)
    *  - v4 DV-UPDATE doc_id%7=0 SET n_chars+5 (round 17 — the
    *    merge-on-read UPDATE in the feed: old image DV'd out + new
    *    image appended, same key, changed fingerprint → emitted as
    *    updates for exactly the matched surviving keys; +5 guarantees
    *    every matched row's value actually changes)
    * Emits (doc_id, version, op) — `row_fp` is an engine hash and stays
    * out of the oracle surface. */
  def commitLogCdfQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_cdf").resolve("t").toString
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 1)) // v1
    val v1r = CommitLog.read(spark, table, Some(1L))
    if (v1r.columns.isEmpty || v1r.isEmpty)
      return base.limit(0).select(col("doc_id"), lit(0L).as("version"),
        lit("insert").as("op"))
    must(CommitLog.updateWhere(spark, table, col("doc_id") % 2 === 0,
      Seq("n_chars" -> (col("n_chars") + 1)))) // v2
    must(CommitLog.deleteWhereDv(spark, table, col("doc_id") % 5 === 0)) // v3
    must(CommitLog.updateWhereDv(spark, table, col("doc_id") % 7 === 0,
      Seq("n_chars" -> (col("n_chars") + 5)))) // v4
    CommitLog.tableChanges(spark, table, "doc_id")
      .select(col("doc_id"), col("version"), col("op"))
      .orderBy("version", "doc_id")
  }

  /** Oracle: the five versions' change sets straight from `documents` —
    * inserts per arriving third, updates for the matched rows only,
    * deletes for the %5 keys still present, DV-updates for the %7 keys
    * surviving the delete. */
  val commitLogCdfSql: String =
    """WITH base AS (
      |  SELECT doc_id FROM documents WHERE doc_id % 3 <= 1
      |), v AS (
      |  SELECT doc_id, CAST(0 AS BIGINT) AS version, 'insert' AS op
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS BIGINT), 'insert'
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS BIGINT), 'update'
      |  FROM base WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(3 AS BIGINT), 'delete'
      |  FROM base WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(4 AS BIGINT), 'update'
      |  FROM base WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
      |)
      |SELECT doc_id, version, op
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** WRITE-TIME CHECK CONSTRAINTS in the gate (round 17 — the r16
    * verdict's #4 order; Delta's `ALTER TABLE ADD CONSTRAINT CHECK`,
    * public design — the enforcement half of expectations_report's
    * advisor). Script (deterministic functions of doc_id):
    *  - v0 APPEND thirds-0
    *  - v1 ADD CONSTRAINT nn_nonneg CHECK (n_chars >= 0) — existing
    *    rows validate first (require'd: a constraint existing rows
    *    VIOLATE is rejected without committing)
    *  - v2 APPEND thirds-1 (conforming — lands)
    *  - a VIOLATING append (thirds-2 with n_chars := −n_chars − 1) is
    *    REJECTED: require'd thrown, head unchanged, and NOTHING staged
    *    (validation precedes staging — the orphan census stays empty)
    *  - v3 DROP CONSTRAINT nn_nonneg
    *  - v4 the formerly-violating append now lands
    * Emits the three visible row sets (tags 0/2/4) — enforcement
    * visible as which rows exist at which version, DuckDB-checked. */
  def commitLogConstraintQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val table = Files.createTempDirectory("graft_cl_con").resolve("t").toString
    def out(df: DataFrame, tag: Long): DataFrame = {
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(tag).as("version"), col("doc_id"), col("source"),
        col("n_chars"))
    }
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 0)) // v0
    val v0r = CommitLog.read(spark, table, Some(0L))
    if (v0r.columns.isEmpty || v0r.isEmpty) return out(base.limit(0), 0L)
    // a constraint the existing rows VIOLATE must be rejected un-committed
    val preHead = CommitLog.latestVersion(table)
    val violatedAddFails =
      try { CommitLog.addConstraint(spark, table, "nn_neg", "n_chars < 0"); false }
      catch { case _: IllegalStateException => true }
    require(violatedAddFails, "a constraint existing rows violate must be rejected")
    require(CommitLog.latestVersion(table) == preHead)
    must(CommitLog.addConstraint(spark, table, "nn_nonneg", "n_chars >= 0")) // v1
    CommitLog.append(spark, table, base.filter(col("doc_id") % 3 === 1)) // v2
    val violating = base.filter(col("doc_id") % 3 === 2)
      .withColumn("n_chars", -col("n_chars") - 1)
    val rejected =
      try { CommitLog.append(spark, table, violating); false }
      catch { case _: IllegalStateException => true }
    require(rejected, "a violating append must be rejected loudly")
    require(CommitLog.latestVersion(table) == 2L,
      "the rejected append must not commit")
    require(CommitLog.orphanFiles(table, minAgeMs = 0L).isEmpty,
      "validation must precede staging — nothing to leak")
    must(CommitLog.dropConstraint(table, "nn_nonneg")) // v3
    CommitLog.append(spark, table, violating) // v4 — lands after the drop
    Seq(0L -> 0L, 2L -> 2L, 4L -> 4L).map { case (tag, v) =>
      out(CommitLog.read(spark, table, Some(v)), tag)
    }.reduce(_ unionByName _)
      .orderBy("version", "doc_id")
  }

  /** Oracle: tag 0 = thirds-0; tag 2 adds thirds-1; tag 4 adds the
    * negated thirds-2 rows the dropped constraint had been rejecting. */
  val commitLogConstraintSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, doc_id, source, n_chars
      |  FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), doc_id, source, n_chars
      |  FROM base WHERE doc_id % 3 <= 1
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), doc_id, source, n_chars
      |  FROM base WHERE doc_id % 3 <= 1
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), doc_id, source, -n_chars - 1
      |  FROM base WHERE doc_id % 3 = 2
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** SHALLOW CLONE in the gate (round 15 — the r14 verdict's #8 order):
    * [[CommitLog.shallowClone]] forks the source at a snapshot with
    * ZERO data copy (require'd in-query: the clone directory holds no
    * parquet at clone time — the v0 snapshot is served entirely through
    * external references), then both sides diverge independently:
    *  - SRC v0 APPEND thirds-0
    *  - TGT = clone(SRC)          (zero-copy fork)
    *  - TGT v1 APPEND thirds-1    (clone-local files)
    *  - SRC v1 APPEND thirds-2    (source moves under the clone)
    * Emits (side, version) row sets: the clone's v0 must still read the
    * SOURCE SNAPSHOT (thirds-0 — isolation from the source's later
    * append), its head the fork + its own write, the source's head its
    * own divergent history. The vacuum-on-source limitation (a source
    * vacuum can retire files a clone references — reads then fail
    * loudly) is CommitLogSpec's row, the Delta-documented behavior. */
  def commitLogCloneQ(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val base = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val root = Files.createTempDirectory("graft_cl_clone")
    val src = root.resolve("src").toString
    val tgt = root.resolve("tgt").toString
    CommitLog.append(spark, src, base.filter(col("doc_id") % 3 === 0)) // src v0
    CommitLog.shallowClone(src, tgt)
    // zero-copy: the clone directory holds log metadata only
    val copied = {
      val s = Files.list(java.nio.file.Paths.get(tgt))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    require(copied == 0, s"shallow clone copied $copied data files")
    CommitLog.append(spark, tgt, base.filter(col("doc_id") % 3 === 1)) // tgt v1
    CommitLog.append(spark, src, base.filter(col("doc_id") % 3 === 2)) // src v1
    def emit(side: String, table: String, v: Long): DataFrame = {
      val df = CommitLog.read(spark, table, Some(v))
      val withSchema = if (df.columns.isEmpty) base.limit(0) else df
      withSchema.select(lit(side).as("side"), lit(v).as("version"),
        col("doc_id"), col("source"), col("n_chars"))
    }
    Seq(emit("src", src, 1L), emit("tgt", tgt, 0L), emit("tgt", tgt, 1L))
      .reduce(_ unionByName _)
      .orderBy("side", "version", "doc_id")
  }

  /** Oracle: src head = thirds-0∪2; clone v0 = the forked snapshot
    * (thirds-0); clone head = thirds-0∪1. */
  val commitLogCloneSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT 'src' AS side, CAST(1 AS BIGINT) AS version, *
      |  FROM base WHERE doc_id % 3 = 0 OR doc_id % 3 = 2
      |  UNION ALL
      |  SELECT 'tgt', CAST(0 AS BIGINT), * FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT 'tgt', CAST(1 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1
      |)
      |SELECT side, version, doc_id, source, n_chars
      |FROM v
      |ORDER BY side, version, doc_id""".stripMargin

  /** Oracle: the retained head = thirds-0 minus its even rows. */
  val commitLogVacuumSql: String =
    """SELECT CAST(1 AS BIGINT) AS version, doc_id, source, n_chars
      |FROM documents
      |WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0
      |ORDER BY doc_id""".stripMargin

  /** CLUSTERED OPTIMIZE (ZORDER) in the gate (round 14) — the ZOrder
    * advisor loop CLOSED through the log (salting_plan→saltedJoinPlanned
    * precedent, applied to physical layout): [[ZOrder.mortonKeyExpr]]'s
    * generator text — the SAME one `zorder_plan` buckets its audit by —
    * feeds [[CommitLog.compactClustered]] for a real copy-on-write
    * rewrite, and the layout claim is then measured on the ACTUAL
    * parquet files, not on synthetic buckets:
    *  - v0 APPEND the (user_id, day) event projection
    *  - v1 OPTIMIZE clustered by the Morton key (targetFiles = 8)
    *  - v2 OPTIMIZE clustered by day (the time-sorted strawman)
    * In-query require (file-level facts are partitioning-dependent; the
    * oracle checks VALUES): the mean per-file user_id SPAN under the
    * z-order layout is STRICTLY smaller than under the time-sorted one
    * — the multi-dimensional-clustering claim, demonstrated on disk.
    * Emits all three versions' grouped counts — OPTIMIZE must never
    * change content, under either clustering key. */
  def commitLogZorderQ(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val base = ZOrder.baseFrame(events)
    val out = base.groupBy("user_id", "day").agg(count(lit(1)).as("n")).limit(0)
    val table = Files.createTempDirectory("graft_cl_zo").resolve("t").toString
    CommitLog.append(spark, table, base) // v0
    val v0r = CommitLog.read(spark, table, Some(0L))
    // day-one: an empty corpus (no schema, or schema over zero rows)
    // has no files to cluster and no layout claim to measure
    if (v0r.columns.isEmpty || v0r.isEmpty)
      return out.select(lit(0L).as("version"), col("user_id"), col("day"), col("n"))
    must(CommitLog.compactClustered(spark, table,
      df => ZOrder.mortonKeyExpr(df), targetFiles = 8)) // v1
    def meanUserSpan(v: Long): Double = {
      val spans = CommitLog.read(spark, table, Some(v))
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("user_id") - min("user_id")).as("span"))
        .collect().map(_.getLong(1))
      spans.sum.toDouble / spans.length
    }
    val zorderSpan = meanUserSpan(1L)
    must(CommitLog.compactClustered(spark, table, _ => col("day"), 8)) // v2
    val timeSpan = meanUserSpan(2L)
    // the strict layout claim needs a corpus that CAN distinguish
    // layouts: with a single user (or rows too few to fill the target
    // files) both spans tie at 0 and `<` would throw on a healthy verb
    // (r14 advice) — the content identity below still gate-checks
    val distinguishable = base.agg(
      countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))
      .head() match { case r => r.getLong(0) >= 2 && r.getLong(1) >= 16 }
    if (distinguishable)
      require(zorderSpan < timeSpan,
        f"z-order must bound the user dimension per file: $zorderSpan%.0f !< $timeSpan%.0f")
    (0L to 2L).map { v =>
      CommitLog.read(spark, table, Some(v))
        .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
        .select(lit(v).as("version"), col("user_id"), col("day"), col("n"))
    }.reduce(_ unionByName _)
      .orderBy("version", "user_id", "day")
  }

  /** Oracle: the same grouped counts straight from events, three times —
    * an OPTIMIZE never changes content. */
  val commitLogZorderSql: String =
    s"""WITH base AS (
      |  SELECT user_id,
      |         epoch_us(date_trunc('microseconds', ts)) // 86400000000 AS day
      |  FROM events
      |), g AS (
      |  SELECT user_id, day, CAST(count(*) AS BIGINT) AS n
      |  FROM base GROUP BY 1, 2
      |)
      |SELECT version, user_id, day, n FROM (
      |  SELECT CAST(0 AS BIGINT) AS version, * FROM g
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), * FROM g
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), * FROM g
      |)
      |ORDER BY version, user_id, day""".stripMargin

  /** Oracle: v0 = thirds-0; v1 adds match-free thirds-1; v2 = v1 with
    * the SET expressions applied to its %5==0 rows (which can only live
    * in thirds-0 — v1's append excluded them). */
  val commitLogUpdateSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v01 AS (
      |  SELECT doc_id, source, n_chars FROM base
      |  WHERE doc_id % 3 = 0 OR (doc_id % 3 = 1 AND doc_id % 5 <> 0)
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, doc_id, source, n_chars
      |  FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), doc_id, source, n_chars FROM v01
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), doc_id,
      |         CASE WHEN doc_id % 5 = 0 THEN 'redacted' ELSE source END,
      |         CASE WHEN doc_id % 5 = 0 THEN n_chars * 10 + 7 ELSE n_chars END
      |  FROM v01
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** Oracle: v0 = thirds-0; v1 adds match-free thirds-1; v2 = v1 minus
    * the %5==0 rows (which can only live in thirds-0). */
  val commitLogDeleteSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, * FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), * FROM base
      |  WHERE doc_id % 3 = 0 OR (doc_id % 3 = 1 AND doc_id % 5 <> 0)
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), * FROM base
      |  WHERE doc_id % 3 <= 1 AND doc_id % 5 <> 0
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** Oracle: the four versioned row sets straight from `documents` —
    * rename/drop must preserve every value across the rewrites. */
  val commitLogRenameSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |)
      |SELECT CAST(0 AS BIGINT) AS version, doc_id, source, n_chars AS len
      |FROM base WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), doc_id, source, n_chars
      |FROM base WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), doc_id, source, n_chars
      |FROM base WHERE doc_id % 3 <= 1
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), doc_id, CAST(NULL AS VARCHAR), n_chars
      |FROM base WHERE doc_id % 3 <= 1
      |ORDER BY version, doc_id""".stripMargin

  /** Oracle: both pulls derived directly from `documents` — pull 1 =
    * thirds-0 (no score yet), pull 2 = thirds-1 with the written score
    * ∪ thirds-2 with the old-writer NULL. */
  val commitLogIncrementalSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |)
      |SELECT CAST(1 AS BIGINT) AS pull_id, doc_id, source, n_chars,
      |       CAST(NULL AS BIGINT) AS score
      |FROM base WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), doc_id, source, n_chars,
      |       CAST(n_chars * 2 AS BIGINT)
      |FROM base WHERE doc_id % 3 = 1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), doc_id, source, n_chars, CAST(NULL AS BIGINT)
      |FROM base WHERE doc_id % 3 = 2
      |ORDER BY pull_id, doc_id""".stripMargin

  /** The same six versioned row sets derived directly from `documents`:
    * v0 = thirds-0; v1 = thirds-0∪1; v2 = v1 minus even ids; v3 = v2 plus
    * thirds-2; v4 = restore(v1) = v1; v5 = compaction of v4 = v1. */
  val commitLogReadSql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, * FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1 AND doc_id % 2 = 1
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), * FROM base
      |  WHERE (doc_id % 3 <= 1 AND doc_id % 2 = 1) OR doc_id % 3 = 2
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1
      |  UNION ALL
      |  SELECT CAST(5 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1
      |)
      |SELECT version, doc_id, source, n_chars
      |FROM v
      |ORDER BY version, doc_id""".stripMargin

  /** History oracle: the same six versioned row sets AGGREGATED, the verb
    * per version a literal from the known script — so the engine-side
    * log-derived action classifier is checked against ground truth. */
  val commitLogHistorySql: String =
    """WITH base AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |), v AS (
      |  SELECT CAST(0 AS BIGINT) AS version, * FROM base WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1 AND doc_id % 2 = 1
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), * FROM base
      |  WHERE (doc_id % 3 <= 1 AND doc_id % 2 = 1) OR doc_id % 3 = 2
      |  UNION ALL
      |  SELECT CAST(4 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1
      |  UNION ALL
      |  SELECT CAST(5 AS BIGINT), * FROM base WHERE doc_id % 3 <= 1
      |), c AS (
      |  SELECT version, count(*) AS n FROM v GROUP BY version
      |), spine(version, action) AS (
      |  VALUES (CAST(0 AS BIGINT), 'append'), (1, 'append'), (2, 'replace'),
      |         (3, 'append'), (4, 'restore'), (5, 'replace')
      |)
      |SELECT s.version, s.action, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_live_rows
      |FROM spine s LEFT JOIN c USING (version)
      |ORDER BY version""".stripMargin
}
