package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, PrefixJoin}

class PrefixJoinSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf)

  test("prefix-filtered pairs are row-identical to the full inverted-index form") {
    val exact = Dedup.ngramJaccardQ(docs).collect().toSeq
    val pref = PrefixJoin.prefixJaccardQ(docs).collect().toSeq
    assert(pref == exact, s"prefix form diverges: ${pref.size} vs ${exact.size} rows")
    assert(exact.nonEmpty, "gate corpus produces no pairs — identity test is vacuous")
  }

  test("a universal hot shingle is excluded from every prefix: candidate set collapses") {
    // every doc shares the bigram "common token"; everything else is
    // per-doc unique. nsh = 4, prefix length = 4 - ceil(0.8*4) + 1 = 1, and
    // the hot bigram has the max df so it is ranked LAST — no doc's prefix
    // contains it. Plain inverted-index candidates: C(n,2); prefix: 0.
    val n = 40
    val hot = (0 until n)
      .map(i => (i.toLong, s"common token u$i v$i w$i"))
      .toDF("doc_id", "text")
    val fullCand = {
      val ex = hot
        .select(col("doc_id"), expr("split(lower(trim(text)), '\\\\s+')").as("w"))
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i + 1])))"))
          .as("s"))
        .select(col("doc_id"), expr("xxhash64(s)").as("sh"))
      ex.select(col("doc_id").as("id1"), col("sh"))
        .join(ex.select(col("doc_id").as("id2"), col("sh")), Seq("sh"))
        .filter(col("id1") < col("id2")).select("id1", "id2").distinct().count()
    }
    val prefCand = PrefixJoin.candidates(hot).count()
    assert(fullCand == n.toLong * (n - 1) / 2, s"fixture not universally hot: $fullCand")
    assert(prefCand == 0, s"hot shingle leaked into a prefix: $prefCand candidates")
    // and the exact answer on this corpus IS empty (J = 1/7 for every pair)
    assert(PrefixJoin.prefixJaccardPairs(hot).count() == 0)
  }

  test("near-threshold pair survives the prefix filter (exact-ceil soundness)") {
    // two docs sharing 9 of their 10 bigrams each: J = 9/11 ≈ 0.818 ≥ 0.8.
    // prefix length = 10 - ceil(8.0) + 1 = 3 — a float ceil that rounds
    // 0.8*10 up to 9 would shrink the prefix to 2 and could still pass, so
    // also pin the integer prefix arithmetic directly below.
    val words = (1 to 11).map(i => s"w$i")
    val d1 = words.mkString(" ")
    val d2 = (words.dropRight(1) :+ "zz").mkString(" ")
    val two = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val got = PrefixJoin.prefixJaccardQ(two).collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getLong(4) == 9L, s"inter: ${got(0).getLong(4)}")
    // integer prefix lengths: nsh − ((4·nsh + 4) div 5) + 1
    def p(nsh: Long) = nsh - ((PrefixJoin.ThrNum * nsh + PrefixJoin.ThrDen - 1)
      / PrefixJoin.ThrDen) + 1
    assert(p(10) == 3 && p(5) == 2 && p(4) == 1 && p(1) == 1)
  }

  test("df-banded hybrid is row-identical to the full inverted-index form") {
    val exact = Dedup.ngramJaccardQ(docs).collect().toSeq
    val hyb = PrefixJoin.hybridJaccardQ(docs).collect().toSeq
    assert(hyb == exact, s"hybrid diverges: ${hyb.size} vs ${exact.size} rows")
    assert(exact.nonEmpty, "gate corpus produces no pairs — identity test is vacuous")
  }

  test("hybrid: hot-only qualifying pairs flow through the hot-prefix branch") {
    // 10 identical docs (every bigram df = 10 > band = 3 → ALL hot; every
    // pair J = 1 and shares ONLY hot tokens — found iff the hot-heavy
    // prefix branch works), plus near-dup cold docs (unique-ish bigrams,
    // df ≤ 3 → plain-branch pairs), plus a universal hot bigram pasted
    // into otherwise-unique docs (hot but NOT hot-heavy → must produce
    // nothing). The plain form is the oracle for all three at once.
    val hotDup = (0 until 10).map(i => (100L + i, "alpha beta gamma delta epsilon"))
    val coldDup = Seq((200L, "p q r s t u v w x y zz"), (201L, "p q r s t u v w x y qq"))
    val pasted = (0 until 8).map(i => (300L + i, s"common token a$i b$i c$i d$i"))
    val mix = (hotDup ++ coldDup ++ pasted).toDF("doc_id", "text")
    val exact = Dedup.ngramJaccardPairs(mix)
      .select("id1", "id2", "inter").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hyb = PrefixJoin.hybridJaccardPairs(mix, dfBand = 3L)
      .select("id1", "id2", "inter").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hyb == exact, s"hybrid diverges at band 3: $hyb vs $exact")
    // the identical-doc pairs (hot-only) are present: C(10,2) = 45 of them
    assert(exact.count { case (a, b, _) => a >= 100 && b < 200 } == 45)
    // the cold near-dup pair is present too (exercises inter = ic + ih = ic)
    assert(exact.exists { case (a, b, _) => a == 200L && b == 201L })
  }

  test("hybrid: pasted hot shingle in non-hot-heavy docs yields zero pairs") {
    // every doc shares "common token" (df = 40 > band) but has only 1 hot
    // token out of 4 (1 < ⌈0.8·4⌉ = 4 → not hot-heavy): the hot branch is
    // empty by the hot-heavy bound, the cold join finds nothing, and the
    // exact answer IS empty (J = 1/7) — the quadratic hot mass is skipped.
    val n = 40
    val hot = (0 until n).map(i => (i.toLong, s"common token u$i v$i w$i"))
      .toDF("doc_id", "text")
    assert(PrefixJoin.hybridJaccardPairs(hot, dfBand = 3L).count() == 0)
  }

  test("hybrid dispatcher: all-cold corpus skips the hot apparatus; banded corpus plans it") {
    // the LIMIT-1 driver probe is load-bearing — on an all-cold corpus
    // the returned plan must contain NO rank window (row_number only
    // exists in the hot-heavy prefix branch; the df window is count())
    val cold = (0 until 40).map(i => (i.toLong, s"u${i}a u${i}b u${i}c u${i}d"))
      .toDF("doc_id", "text")
    // the rank window itself sits behind checkpoints (LogicalRDD in the
    // final tree), so the observable dispatcher evidence is the hot
    // PROBE stage: the fast path never plans the ih aggregation
    val coldPlan = PrefixJoin.hybridJaccardPairs(cold)
      .queryExecution.analyzed.toString
    assert(!coldPlan.contains("ih#"),
      "all-cold corpus still planned the hot probe stage")
    // and with hot shingles present the probe stage IS planned
    val hot = (0 until 10).map(i => (100L + i, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val hotPlan = PrefixJoin.hybridJaccardPairs(hot, dfBand = 3L)
      .queryExecution.analyzed.toString
    assert(hotPlan.contains("ih#"), "hot corpus lost the probe stage")
  }

  test("window-df measurement twin is row-identical to the join-back production form") {
    // round 14: production df moved to the map-combinable groupBy +
    // join-back (the unbounded-key skew invariant); the demoted window
    // twin stays private as the reference for the A/B in PERF.md
    // "Round-14: hybrid shingle-df A/B" — identity here keeps that
    // measurement honest (same rows, only the df PLUMBING differs)
    val a = PrefixJoin.hybridJaccardPairs(docs).collect().map(_.toString).sorted
    val b = PrefixJoin.hybridJaccardPairsWindowDf(docs).collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("plan: no cartesian/nested-loop join and no corpus-sized broadcast") {
    Seq(PrefixJoin.prefixJaccardQ(docs), PrefixJoin.hybridJaccardQ(docs))
      .foreach { q =>
        val plan = q.queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), "cartesian product in plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in plan")
      }
  }

  test("degenerate docs (0/1-word, NULL) are total and pair-free") {
    val deg = Seq((1L, ""), (2L, "one"), (3L, null.asInstanceOf[String]),
      (4L, "a b"), (5L, "a b")).toDF("doc_id", "text")
    Seq(PrefixJoin.prefixJaccardQ(deg), PrefixJoin.hybridJaccardQ(deg))
      .foreach { q =>
        val rows = q.collect()
        // only the identical 2-word docs pair up (J = 1)
        assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((4L, 5L)))
      }
  }
}
