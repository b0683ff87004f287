package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Parity.{rexpr, rsql}

/** Edit-distance-verified near-duplicate pairs (round 8, continuation) —
  * the third verification metric of the dedup family: [[Dedup]] verifies
  * candidates by set-overlap (Jaccard), [[Similarity]] by embedding
  * cosine; this verifies by CHARACTER-LEVEL Levenshtein similarity
  * `1 - dist / max(len)`, the metric that catches small in-place edits
  * (typo fixes, number substitutions, template fills) that shingle sets
  * blur and embeddings ignore.
  *
  * Scale shape: candidate generation is the inverted-index join of
  * [[Dedup.ngramJaccardPairs]] but over DISTINCT WORD-4-GRAMS with a
  * shared-count floor — 4-grams are orders rarer than the bigram
  * contract path, so Σ df² is tiny (37 candidate pairs at gate scale vs
  * the bigram path's millions of candidate rows); the self-join carries
  * a 64-bit xxhash of the gram only (string collisions guarded by the
  * exact-string oracle). The O(len·len) Levenshtein DP runs ONCE per
  * surviving candidate on the normalized text joined back AFTER the
  * pair aggregation — doc_id-keyed shuffle joins, no corpus-proportional
  * broadcast hints (AQE chooses). The DP is BOUNDED with Spark's
  * threshold form `levenshtein(l, r, k)` at k = floor((1−τ)·max(len))
  * (banded DP, O(len·k)) since round 18 — row-identical to the full DP
  * by the threshold algebra (survivors have dist ≤ k ⇒ exact; -1 rows
  * were τ-infeasible), measured 4.7 → 1.1 s at sf0.1. At open-web scale
  * you would additionally band candidates by |len1 − len2| ≤
  * (1−τ)·max(len) — a free pre-filter since lengths ride the sizes
  * frame; an economics dial, not semantics.
  *
  * Cross-engine exactness: Spark and DuckDB both implement classic
  * single-character-op Levenshtein on codepoints; the similarity is ONE
  * cast-divide `1.0 - CAST(dist AS DOUBLE) / greatest(len1, len2)`
  * written identically on both sides (§6).
  */
object EditDistance {

  /** Candidate floor: pairs must share ≥ this many distinct 4-grams. */
  val MinShared = 2L

  /** Levenshtein similarity admission threshold. */
  val EditSimThreshold = 0.9

  /** Distinct word-4-gram array over `w` (greatest-guarded slice length —
    * the Generate-path discipline; a CASE at the generator is
    * pathological). */
  private[operators] val Gram4ArrayExpr =
    "array_distinct(transform(slice(w, 1, greatest(size(w) - 3, 0)), " +
      "(x, i) -> concat(x, ' ', w[i + 1], ' ', w[i + 2], ' ', w[i + 3])))"

  /** Normalized text spine: doc_id, lowercased/trimmed text, its length. */
  private def norm(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), expr("lower(trim(text))").as("t"))

  def editDistancePairs(documents: DataFrame, minShared: Long = MinShared,
                        threshold: Double = EditSimThreshold): DataFrame = {
    val ex = documents
      .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
      .select(col("doc_id"), explode(expr(Gram4ArrayExpr)).as("g"))
      .select(col("doc_id"), expr("xxhash64(g)").as("gh"))
    // SHJ hint + pair-keyed exchange before the shared-gram count — the
    // round-17 Dedup.ngramJaccardPairs treatment applied here in round 18
    // (measured: 1.08 → 0.61 s on this stage at sf0.1, OPTIMIZATION_r18.md §6).
    // Build side is the 4-gram stream — low-df by construction (the
    // operator's whole premise), so the per-partition build is small.
    val cand = ex.select(col("doc_id").as("id1"), col("gh")).hint("shuffle_hash")
      .join(ex.select(col("doc_id").as("id2"), col("gh")), Seq("gh"))
      .filter(col("id1") < col("id2"))
      .repartition(col("id1"), col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val n = norm(documents)
    // BANDED Levenshtein (round 18, the dial this object's doc always
    // named): the full DP is O(len²) — ~10 KB texts made it the query's
    // measured cost center (4.68 s of the 5.12 s total at sf0.1). The
    // threshold form levenshtein(l, r, k) runs the O(len·k) banded DP and
    // returns -1 when dist > k. With k = floor((1-τ)·max(len)) per row:
    // a surviving row (edit_sim ≥ τ ⟺ dist ≤ (1-τ)·max) has dist ≤ k, so
    // its banded dist is EXACT; a -1 row has dist > k ≥ τ-infeasible and
    // was filtered anyway — output is row-identical to the full DP
    // (proven by in-run comparison at sf0.1: 255 rows, full equality;
    // OPTIMIZATION_r18.md §6) and the DuckDB oracle keeps the exact 2-arg form,
    // so the gate re-proves it every round. Measured 4.68 → 1.12 s.
    val kPct = math.round((1.0 - threshold) * 100)
    cand
      .join(n.select(col("doc_id").as("id1"), col("t").as("t1")), Seq("id1"))
      .join(n.select(col("doc_id").as("id2"), col("t").as("t2")), Seq("id2"))
      .withColumn("len1", length(col("t1")))
      .withColumn("len2", length(col("t2")))
      .withColumn("dist",
        expr(s"levenshtein(t1, t2, CAST((greatest(len1, len2) * $kPct) div 100 AS INT))"))
      .filter(col("dist") >= 0)
      .withColumn("edit_sim",
        expr("1.0 - CAST(dist AS DOUBLE) / greatest(len1, len2)"))
      .filter(col("edit_sim") >= threshold)
      .select(col("id1"), col("id2"), col("shared"), col("len1"), col("len2"),
        col("dist"), expr(rexpr("edit_sim", 4)).as("edit_sim"))
  }

  def editDistanceQ(documents: DataFrame): DataFrame =
    editDistancePairs(documents).orderBy("id1", "id2")

  val editDistanceSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lower(trim(text)) AS t,
       |         string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |), ex AS (
       |  SELECT doc_id,
       |         unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
       |                               for i in range(1, len(w) - 2)])) AS g
       |  FROM toks
       |), cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(count(*) AS BIGINT) AS shared
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $MinShared
       |), verified AS (
       |  SELECT id1, id2, shared,
       |         CAST(length(t1.t) AS INT) AS len1, CAST(length(t2.t) AS INT) AS len2,
       |         CAST(levenshtein(t1.t, t2.t) AS INT) AS dist
       |  FROM cand JOIN toks t1 ON id1 = t1.doc_id JOIN toks t2 ON id2 = t2.doc_id
       |), sim AS (
       |  SELECT *, 1.0 - CAST(dist AS DOUBLE) / greatest(len1, len2) AS edit_sim
       |  FROM verified
       |)
       |SELECT id1, id2, shared, len1, len2, dist, ${rsql("edit_sim", 4, "edit_sim")}
       |FROM sim
       |WHERE edit_sim >= CAST($EditSimThreshold AS DOUBLE)
       |ORDER BY id1, id2""".stripMargin
}
