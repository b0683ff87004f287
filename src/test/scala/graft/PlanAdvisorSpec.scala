package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GroupingSetsAgg, KnnMutual, PairIndexPlan, PartitionPlan}

/** Round-13 trio: GROUPING SETS semantics + single-scan plan, the
  * partition-column advisor's two penalty arms (hand-computed), and
  * mutual-kNN's hub filter. */
class PlanAdvisorSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("grouping sets: three set granularities from ONE Expand over one scan") {
    val li = Tables.lineitem(spark, sf)
    val got = GroupingSetsAgg.groupingSetsAggQ(li)
    val gids = got.select("gid").distinct().collect().map(_.getLong(0)).toSet
    // masks over (flag, status, yr): (flag,status)→001=1, (flag)→011=3, (yr)→110=6
    assert(gids == Set(1L, 3L, 6L), s"gid masks: $gids")
    // each set's total mass equals the table's (every row lands once per set)
    val massBySet = got.groupBy("gid").agg(sum("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = li.count()
    assert(massBySet.values.forall(_ == total), s"set masses: $massBySet vs $total")
    // ONE scan, ONE Expand — not three aggregates unioned
    val plan = got.queryExecution.executedPlan.toString
    assert("(?s)Expand".r.findAllIn(plan).size == 1, "expected exactly one Expand")
    assert("Scan parquet".r.findAllIn(plan).size == 1, "expected one scan")
  }

  private def docs(rows: (String, String, Long)*) =
    rows.zipWithIndex.map { case ((lang, src, n), i) => (i.toLong, lang, src, n) }
      .toDF("doc_id", "lang", "source", "n_chars")

  test("partition advisor: hot-partition arm vs small-files arm, hand-computed") {
    // lang: all 'en' → 1 partition, max_share 10⁶, no small → cost 10⁶.
    // source: s0 carries 37 docs, s1..s8 one each (100 chars/doc) →
    // 9 partitions, max_share = 37·10⁶ div 45 = 822222; each 1-doc
    // partition: 100·4·9 = 3600 < 4500 total → 8 small, small_share =
    // 8·10⁶ div 9 = 888888 → cost 1711110. The balanced-but-single
    // partitioning BEATS the skewed-and-fragmented one; bucket (all
    // docs 100 chars → one 128 bucket) ties lang's cost at 10⁶ and
    // lang_source mirrors source.
    val d = docs(
      (Seq.fill(37)(("en", "s0", 100L)) ++
        (1 to 8).map(i => ("en", s"s$i", 100L))): _*)
    val got = PartitionPlan.partitionPlan(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    assert(got("lang") == ((1L, 1000000L, 0L, 0L, 1000000L, 1L)),
      s"lang arm: ${got("lang")}")
    assert(got("source") == ((9L, 822222L, 8L, 888888L, 1711110L, 0L)),
      s"source arm: ${got("source")}")
    val rec = got.filter(_._2._6 == 1L).keySet
    // lang and len_bucket tie at 10⁶ with 1 partition each → name ASC
    assert(rec == Set("lang"), s"recommended: $rec")
  }

  test("pair-index advisor: hand-computed integer costs; a single consumer never indexes, two do on a shared-shingle corpus") {
    import spark.implicits._
    // dfs: "a b" -> 3, "b c"/"b d"/"b e" -> 1 each
    // mine_rows = 9 + 1 + 1 + 1 = 12; pair_rows = 3 + 0 + 0 + 0 = 3
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b e"))
      .toDF("doc_id", "text")
    val out = PairIndexPlan.pairIndexPlan(docs).collect()
    assert(out.length == PairIndexPlan.MaxConsumers)
    val byK = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(byK(1L) == ((12L, 15L, false)), s"k=1: ${byK(1L)}")
    assert(byK(2L) == ((24L, 18L, true)), s"k=2: ${byK(2L)}")
    assert(byK(6L) == ((72L, 30L, true)), s"k=6: ${byK(6L)}")
    // the gate corpus (six registered indexed twins exist): k=6 must
    // recommend the index — the measured answer in PERF.md "Persisted
    // pair index (round 12)"
    val gate = PairIndexPlan.pairIndexPlan(docs4Gate).collect()
      .find(_.getLong(0) == 6L).get
    assert(gate.getBoolean(3), "k=6 on the corpus must recommend indexing")
  }

  private lazy val docs4Gate = Tables.documents(spark, sf)

  test("mutual-kNN clusters: a midpoint hub welds threshold-CC into one blob but stays a SINGLETON under mutual-CC") {
    import graft.operators.Similarity
    // two tight pairs on the axes + a hub at the diagonal midpoint:
    // cos within a pair ≈ 0.99995, hub-to-anything ≈ 0.71, cross-pair 0.
    // Threshold CC at τ=0.4 welds ALL FIVE through the hub; mutual CC at
    // k=1 keeps the pairs (each is the other's top-1) and the hub alone
    // (its top-1's own top-1 is the pair partner — no reciprocation).
    val e = Seq(
      (1L, Seq(100f, 0f), "a1"), (2L, Seq(100f, 1f), "a2"),
      (3L, Seq(0f, 100f), "b1"), (4L, Seq(1f, 100f), "b2"),
      (5L, Seq(70f, 70f), "h"))
      .toDF("vec_id", "embedding", "label")
    val mutual = KnnMutual.knnMutualClusters(e, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mutual == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L),
      s"mutual clusters: $mutual")
    val welded = Similarity.embeddingClusters(e).collect()
      .map(_.getLong(1)).toSet
    assert(welded == Set(1L), s"fixture vacuous: threshold-CC did not weld: $welded")
  }

  test("mutual kNN: the hub filter — a reciprocated pair survives, a one-way fan does not") {
    // 2-D integer vectors, k=1: y and z both point AT x (their top-1),
    // but x's top-1 is y alone (cos ties broken by id) — so only (x, y)
    // is mutual; z's edge is one-way and must be filtered.
    val e = Seq(
      (1L, Seq(10f, 0f), "x"), (2L, Seq(10f, 1f), "y"), (3L, Seq(10f, -1f), "z"))
      .toDF("vec_id", "embedding", "label")
    val got = KnnMutual.knnMutual(e, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 2L, 1L, 1L)), s"mutual pairs: $got")
    // k=2 widens x's list to include z → (x, z) becomes mutual too,
    // with the asymmetry carried as data (rank12=2, rank21=1)
    val got2 = KnnMutual.knnMutual(e, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got2.contains((1L, 3L, 2L, 1L)) && got2.contains((1L, 2L, 1L, 1L)),
      s"k=2 mutual pairs: $got2")
  }
}
