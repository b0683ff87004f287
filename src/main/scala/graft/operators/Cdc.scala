package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC MERGE + TIME TRAVEL (round 8, continuation) — the two Delta-lake
  * semantics the environment's missing Delta jars can't provide, emulated
  * relationally (the suite's documented stand-in is parquet + specs; this
  * adds the QUERY semantics):
  *
  *  - [[cdcApply]] = `MERGE INTO snapshot USING changes ON key` — apply
  *    an insert/update/delete batch to a keyed snapshot in ONE pass: a
  *    key-keyed outer join picks the change's fingerprint for upserts,
  *    drops deletes, carries everything untouched. The CDC-apply
  *    primitive of every lakehouse ingest loop.
  *  - [[snapshotAt]] = `VERSION AS OF v` — reconstruct table state at a
  *    version from an append-only change LOG: latest entry ≤ v per key
  *    wins (row_number over version DESC), delete entries erase.
  *
  * Cross-engine exactness (§6): fingerprints are md5 hex; ops/status are
  * strings from one shared CASE; versions are BIGINT; the winner rank is
  * total ((version, op) DESC per key — one entry per (key, version) by
  * construction, and op is carried only as payload). No float anywhere.
  *
  * Scale shape: cdcApply is one full-outer sort-merge join keyed on
  * doc_id carrying (id, 32-hex, op) — never document text (the
  * [[CorpusDiff]] map-side-fingerprint economics; bucketed snapshots
  * make it exchange-free per InfraSpec). snapshotAt is one key-keyed
  * exchange for the version window. Both are batch-size × snapshot-size
  * joins, the dedupIncremental economics.
  *
  * The synthetic change batch/log derives deterministically from the one
  * documents table (the corpusDiff convention): md5('graft-cdc:'||id)
  * first hex digit → 0-1 delete, 2-4 update, e-f insert (as id+10⁶).
  */
object Cdc {

  /** Normalized-content fingerprint; `private[graft]` so the streaming
    * twin ([[graft.streaming.StreamingJobs.cdcApplyStream]]) uses this
    * text instead of a copy. */
  private[graft] val FpExpr =
    "md5(lower(trim(regexp_replace(coalesce(text, ''), '\\\\s+', ' '))))"
  private val KeyExpr =
    "substring(md5(concat('graft-cdc:', CAST(doc_id AS STRING))), 1, 1)"

  /** Synthetic CDC batch over the documents table. */
  def changeBatch(documents: DataFrame): DataFrame = {
    val keyed = documents.select(col("doc_id"), expr(FpExpr).as("fp"),
      expr(KeyExpr).as("k"))
    val deletes = keyed.filter(col("k").isin("0", "1"))
      .select(col("doc_id"), lit("delete").as("op"), lit(null).cast("string").as("fp"))
    val updates = keyed.filter(col("k").isin("2", "3", "4"))
      .select(col("doc_id"), lit("update").as("op"),
        expr("md5(concat(fp, ':u'))").as("fp"))
    val inserts = keyed.filter(col("k").isin("e", "f"))
      .select((col("doc_id") + 1000000L).as("doc_id"), lit("insert").as("op"),
        expr("md5(concat(fp, ':i'))").as("fp"))
    deletes.unionAll(updates).unionAll(inserts)
  }

  /** MERGE INTO: apply the change batch to the snapshot. */
  def cdcApply(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    val s = snapshot.select(col("doc_id"), expr(FpExpr).as("s_fp"))
    s.join(changes.withColumnRenamed("fp", "c_fp"), Seq("doc_id"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "delete")
      .select(col("doc_id"),
        coalesce(col("c_fp"), col("s_fp")).as("fp"),
        when(col("op").isNull, lit("kept"))
          .when(col("op") === "insert", lit("inserted"))
          .otherwise(lit("updated")).as("status"))
  }

  def cdcApplyQ(documents: DataFrame): DataFrame =
    cdcApply(documents, changeBatch(documents)).orderBy("doc_id")

  /** Append-only change log: v1 base insert for every doc, v2 updates,
    * v3 deletes (same hex-digit fates). */
  def changeLog(documents: DataFrame): DataFrame = {
    val keyed = documents.select(col("doc_id"), expr(FpExpr).as("fp"),
      expr(KeyExpr).as("k"))
    val v1 = keyed.select(col("doc_id"), lit(1L).as("version"),
      lit("insert").as("op"), col("fp"))
    val v2 = keyed.filter(col("k").isin("2", "3", "4"))
      .select(col("doc_id"), lit(2L).as("version"), lit("update").as("op"),
        expr("md5(concat(fp, ':u'))").as("fp"))
    val v3 = keyed.filter(col("k").isin("0", "1"))
      .select(col("doc_id"), lit(3L).as("version"), lit("delete").as("op"),
        lit(null).cast("string").as("fp"))
    v1.unionAll(v2).unionAll(v3)
  }

  /** VERSION AS OF: latest non-deleted entry ≤ asOf per key. */
  def snapshotAt(log: DataFrame, asOf: Long): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("version").desc)
    log.filter(col("version") <= asOf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("doc_id"), col("version"), col("fp"))
  }

  /** SCD TYPE 2 dimension build from the append-only change log — the
    * third Delta-class semantic (after MERGE and VERSION AS OF): each
    * non-delete log entry becomes a validity interval
    * `[valid_from, valid_to)` in version space, where `valid_to` is the
    * NEXT entry's version for the same key (a delete closes the interval
    * without opening one) and an open interval (`valid_to` NULL) marks
    * the current row. One doc_id-keyed exchange for the lead window;
    * payload is (id, version, 32-hex) — never document text.
    *
    * Invariants (spec-pinned): per key the intervals tile
    * [first insert, last entry) with no gaps or overlaps; exactly one
    * open interval per LIVE key, zero per deleted key; and for every
    * version v, the rows whose interval contains v reproduce
    * [[snapshotAt]](v) exactly. */
  def scd2Build(log: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("version")
    log
      .withColumn("valid_to", lead(col("version"), 1).over(w))
      .filter(col("op") =!= "delete")
      .select(col("doc_id"), col("fp"), col("version").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  def scd2BuildQ(documents: DataFrame): DataFrame =
    scd2Build(changeLog(documents)).orderBy("doc_id", "valid_from")

  /** Registered at asOf = 2: updates visible, deletes not yet. */
  val AsOfVersion = 2L

  def snapshotAtQ(documents: DataFrame): DataFrame =
    snapshotAt(changeLog(documents), AsOfVersion).orderBy("doc_id")

  private val fpSql =
    "md5(lower(trim(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))))"
  private val keySql =
    "substring(md5('graft-cdc:' || CAST(doc_id AS VARCHAR)), 1, 1)"

  private val baseCte =
    s"""k AS (
       |  SELECT doc_id, $fpSql AS fp, $keySql AS k
       |  FROM documents
       |)""".stripMargin

  /** base + synthetic change-log CTEs, shared by the three log consumers
    * (SCD2 / snapshot / [[VacuumPlan]]) — one log text, can't drift. */
  private[operators] val changeLogCtes: String =
    s"""$baseCte, log AS (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS version, 'insert' AS op, fp FROM k
       |  UNION ALL
       |  SELECT doc_id, 2, 'update', md5(fp || ':u') FROM k WHERE k IN ('2', '3', '4')
       |  UNION ALL
       |  SELECT doc_id, 3, 'delete', CAST(NULL AS VARCHAR) FROM k WHERE k IN ('0', '1')
       |)""".stripMargin

  val cdcApplySql: String =
    s"""WITH $baseCte, changes AS (
       |  SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS c_fp
       |  FROM k WHERE k IN ('0', '1')
       |  UNION ALL
       |  SELECT doc_id, 'update', md5(fp || ':u') FROM k WHERE k IN ('2', '3', '4')
       |  UNION ALL
       |  SELECT doc_id + 1000000, 'insert', md5(fp || ':i') FROM k WHERE k IN ('e', 'f')
       |)
       |SELECT COALESCE(s.doc_id, c.doc_id) AS doc_id,
       |       COALESCE(c.c_fp, s.fp) AS fp,
       |       CASE WHEN c.op IS NULL THEN 'kept'
       |            WHEN c.op = 'insert' THEN 'inserted'
       |            ELSE 'updated' END AS status
       |FROM k s FULL JOIN changes c ON s.doc_id = c.doc_id
       |WHERE COALESCE(c.op, '') <> 'delete'
       |ORDER BY doc_id""".stripMargin

  val scd2BuildSql: String =
    s"""WITH $changeLogCtes, iv AS (
       |  SELECT doc_id, fp, op, version AS valid_from,
       |         lead(version) OVER (PARTITION BY doc_id ORDER BY version) AS valid_to
       |  FROM log
       |)
       |SELECT doc_id, fp, valid_from, valid_to, valid_to IS NULL AS is_current
       |FROM iv WHERE op <> 'delete'
       |ORDER BY doc_id, valid_from""".stripMargin

  val snapshotAtSql: String =
    s"""WITH $changeLogCtes, r AS (
       |  SELECT doc_id, version, op, fp,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
       |  FROM log WHERE version <= $AsOfVersion
       |)
       |SELECT doc_id, version, fp
       |FROM r WHERE rn = 1 AND op <> 'delete'
       |ORDER BY doc_id""".stripMargin
}
