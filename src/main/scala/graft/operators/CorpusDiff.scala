package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot diff (round 8) — the data-versioning primitive an
  * incremental 100 TB pipeline runs between two corpus versions before
  * reprocessing anything: classify every doc_id as `added` / `removed` /
  * `changed` / `unchanged` so only the added+changed slice flows into the
  * (expensive) downstream curation DAG. Identity is the doc_id; change
  * detection is the exact-dedup FINGERPRINT ([[TextOps.docFingerprint]]'s
  * md5 over whitespace-normalized lowercase text), so a byte-cosmetic
  * rewrite (spacing, case) does NOT count as a change — the same
  * normalization contract the dedup family keys on.
  *
  * Scale shape: fingerprints are computed in the per-side map pass, so the
  * doc_id-keyed FULL OUTER join carries (doc_id, 32-hex, source) — never
  * document text. One sort-merge join = one shuffle per side; with both
  * snapshots stored bucketed by doc_id (InfraSpec's bucketed-join pattern)
  * the join is zero-exchange. Output is |old ∪ new| rows, and the
  * downstream consumer filters `status IN ('added','changed')` — the same
  * batch-vs-corpus economics as [[Dedup.dedupIncremental]], one layer
  * earlier in the pipeline.
  *
  * Reference analog: the bronze→silver incremental loop re-derives "what's
  * new" by key anti-join each run (bronze-to-silver.py:31-58); this is that
  * capability generalized to full add/remove/change classification over
  * content hashes.
  */
object CorpusDiff {

  /** Normalized-content fingerprint, total on NULL text (empty-string
    * fingerprint), same text both engines; `private[graft]` so the
    * streaming twin ([[graft.streaming.StreamingJobs.corpusDiffStream]])
    * uses this text instead of a copy. */
  private[graft] val FpExpr =
    "md5(lower(trim(regexp_replace(coalesce(text, ''), '\\\\s+', ' '))))"

  /** Diff two snapshot frames (doc_id, text, source). */
  def corpusDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), expr(FpExpr).as("old_fp"),
      col("source").as("old_source"))
    val n = newSnap.select(col("doc_id"), expr(FpExpr).as("new_fp"),
      col("source").as("new_source"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(col("doc_id"), col("status"), col("old_fp"), col("new_fp"),
        coalesce(col("new_source"), col("old_source")).as("source"))
  }

  /** Deterministic synthetic version history over the one `documents`
    * table, identical on both engines: a doc's first hex digit of
    * md5('graft-ver:' || doc_id) selects its fate — '0'/'1' absent from
    * the old snapshot (⇒ added), 'e'/'f' absent from the new (⇒ removed),
    * '2'/'3' text-revised in the new (⇒ changed), rest unchanged. */
  private val VerKeyExpr =
    "substring(md5(concat('graft-ver:', CAST(doc_id AS STRING))), 1, 1)"

  def oldSnapshot(documents: DataFrame): DataFrame =
    documents.withColumn("ver_key", expr(VerKeyExpr))
      .filter(!col("ver_key").isin("0", "1"))
      .drop("ver_key")

  def newSnapshot(documents: DataFrame): DataFrame =
    documents.withColumn("ver_key", expr(VerKeyExpr))
      .filter(!col("ver_key").isin("e", "f"))
      .withColumn("text",
        when(col("ver_key").isin("2", "3"), expr("concat(text, ' [rev2]')"))
          .otherwise(col("text")))
      .drop("ver_key")

  def corpusDiffQ(documents: DataFrame): DataFrame =
    corpusDiff(oldSnapshot(documents), newSnapshot(documents))
      .orderBy("doc_id")

  val corpusDiffSql: String =
    s"""WITH vk AS (
       |  SELECT doc_id, text, source,
       |         substring(md5('graft-ver:' || CAST(doc_id AS VARCHAR)), 1, 1) AS ver_key
       |  FROM documents
       |), old AS (
       |  SELECT doc_id,
       |         md5(lower(trim(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g')))) AS old_fp,
       |         source AS old_source
       |  FROM vk WHERE ver_key NOT IN ('0', '1')
       |), new AS (
       |  SELECT doc_id,
       |         md5(lower(trim(regexp_replace(COALESCE(
       |           CASE WHEN ver_key IN ('2', '3') THEN text || ' [rev2]' ELSE text END,
       |           ''), '\\s+', ' ', 'g')))) AS new_fp,
       |         source AS new_source
       |  FROM vk WHERE ver_key NOT IN ('e', 'f')
       |)
       |SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       |       CASE WHEN old_fp IS NULL THEN 'added'
       |            WHEN new_fp IS NULL THEN 'removed'
       |            WHEN old_fp <> new_fp THEN 'changed'
       |            ELSE 'unchanged' END AS status,
       |       old_fp, new_fp,
       |       COALESCE(new_source, old_source) AS source
       |FROM old FULL JOIN new ON old.doc_id = new.doc_id
       |ORDER BY doc_id""".stripMargin
}
