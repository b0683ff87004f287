package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash BANDING advisor (round 14) — the S-curve calibrator the
  * minhash-LSH geometry was missing: [[BandPlan]] tunes dedup_prefix's
  * df band, [[SaltingPlan]] the salt factors, this tunes HOW the
  * [[Lsh.MinhashK]] signature hashes split into bands×rows. For a
  * banded family, a pair at Jaccard j collides with probability
  * `1 − (1 − j^r)^b` (the standard S-curve, Broder / MMDS, public) —
  * more rows per band sharpens the curve (fewer false candidates),
  * more bands raises recall AND candidate volume (each band is one
  * more bucket self-join). The advisor scores every factorization
  * (b, r) of K against the corpus's OWN observed near-dup pairs and
  * recommends the CHEAPEST geometry (fewest bands) whose worst
  * observed near-dup still collides with ≥ [[RecallFloorPpm]]
  * probability.
  *
  * §6 / integer discipline: per-pair similarity is exact integer ppm
  * (`inter·10⁶ div union` over the τ=0 sufficient stats); the S-curve
  * is evaluated in ppm by UNROLLED multiply-divide folds
  * (`acc ← acc·x div 10⁶`, r then b literal steps — identical
  * truncation both engines, no pow/log anywhere). The must-catch set
  * is the exact-τ pair set via the integer cross-multiplication
  * `(num+den)·inter ≥ num·(n1+n2)` (the PrefixJoin feasibility
  * identity — no float threshold). False-positive proxies evaluate the
  * same curve at fixed probe similarities j=0.5 / j=0.2 ("how much
  * mid/low-similarity junk collides").
  *
  * Gate finding (sf0.1): the worst near-dup sits at j≈0.909 where the
  * shipped (8,4) geometry certifies only 99.14% per-pair collision —
  * the advisor recommends (16,2) for the 99.9% floor, at ~99% FP
  * collision for j=0.5 junk. The REGISTERED miner stays (8,4): its
  * exact-verify step makes false candidates a cost, never an error,
  * and AnnOracleSpec pins that it empirically catches every gate pair;
  * the advisor's floor is the conservative CERTIFICATE a deployment
  * tunes against when it cannot afford the empirical check.
  *
  * Scale shape: the pair stats are the ONE Σ df² mine (or a persisted
  * [[Dedup.pairIndex]] via [[minhashBandPlanFromIndex]] — the store
  * loop); everything after is a |near-dups|-row aggregation per
  * factorization (grouped by the literal band count, so an empty
  * corpus yields zero rows — day-one totality), and the recommended
  * flag is a window over the ≤|divisors(K)|-row report (the allowed
  * catalog class). */
object MinhashBandPlan {

  /** Worst observed near-dup must collide with ≥ this probability. */
  val RecallFloorPpm = 999000L

  /** The factorizations of K = 32 with r ≥ 2 (r = 1 degenerates to
    * raw-hash equality probes, never banded-LSH's operating point). */
  val Factorizations: Seq[(Int, Int)] =
    Seq((16, 2), (8, 4), (4, 8), (2, 16), (1, 32))

  /** Unrolled `x^n` in ppm: n−1 multiply-divide folds. */
  private def powPpm(x: String, n: Int): String =
    (2 to n).foldLeft(x)((acc, _) => s"(($acc) * ($x) div 1000000)")

  /** `1 − (1 − j^r)^b` in ppm, as one generated integer expression. */
  private def collisionPpm(jPpm: String, b: Int, r: Int): String = {
    val miss1 = s"(1000000 - ${powPpm(jPpm, r)})"
    s"(1000000 - ${powPpm(miss1, b)})"
  }

  private def planOverStats(stats: DataFrame): DataFrame = {
    val num = PrefixJoin.ThrNum
    val den = PrefixJoin.ThrDen
    // must-catch pairs: J >= tau by exact integer cross-multiplication
    val jp = stats
      .filter(expr(s"($num + $den) * inter >= $num * (n1 + n2)"))
      .select(expr("inter * 1000000 div (n1 + n2 - inter)").as("j_ppm"))
      .localCheckpoint() // |Factorizations| consumers
    val arms = Factorizations.map { case (b, r) =>
      val coll = collisionPpm("j_ppm", b, r)
      // grouped by the literal so an empty pair set emits ZERO rows
      jp.groupBy(lit(b.toLong).as("bands"))
        .agg(count(lit(1)).as("n_pairs"),
          min(expr(coll)).as("min_recall_ppm"),
          expr(s"sum($coll) div count(1)").as("mean_recall_ppm"))
        .select(col("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_pairs"), col("min_recall_ppm"), col("mean_recall_ppm"),
          // BIGINT-cast probe literals: a bare 500000*500000 overflows
          // the default INT literal type under ANSI on both engines
          expr(collisionPpm("CAST(500000 AS BIGINT)", b, r)).as("fp_at_j50_ppm"),
          expr(collisionPpm("CAST(200000 AS BIGINT)", b, r)).as("fp_at_j20_ppm"))
    }
    val report = arms.reduce(_ unionByName _)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy()
    report
      .withColumn("best_bands",
        min(when(col("min_recall_ppm") >= RecallFloorPpm, col("bands")))
          .over(whole))
      .withColumn("recommended",
        col("min_recall_ppm") >= RecallFloorPpm &&
          col("bands") === col("best_bands"))
      .drop("best_bands")
  }

  def minhashBandPlan(documents: DataFrame): DataFrame =
    planOverStats(Dedup.pairIndex(documents))

  /** The advisor fed from a persisted [[Dedup.pairIndex]] — no re-mine
    * (the PairIndexStore loop). */
  def minhashBandPlanFromIndex(index: DataFrame): DataFrame =
    planOverStats(index)

  /** Geometry from a (possibly persisted) plan frame — the
    * saltedJoinPlanned / hybridJaccardPlanned pattern: one bounded
    * driver probe of the ≤|divisors(K)|-row report; falls back to the
    * shipped default when no factorization clears the floor (an
    * advisor that cannot certify recall must not silently pick the
    * cheapest anyway). */
  def geometryFromPlan(plan: DataFrame): (Int, Int) = {
    val rec = plan.filter(col("recommended"))
      .select("bands", "rows_per_band").collect()
    if (rec.isEmpty) (Lsh.MinhashBands, Lsh.MinhashRows)
    else (rec(0).getLong(0).toInt, rec(0).getLong(1).toInt)
  }

  /** PLAN-AS-DATA miner: [[Lsh.minhashLshPairs]] at the plan's
    * recommended geometry (InfraSpec pins plan → parquet → read-back →
    * row identity with the directly-parameterized miner). */
  def minhashLshPairsPlanned(documents: DataFrame, plan: DataFrame,
                             threshold: Double = Dedup.JaccardThreshold): DataFrame = {
    val (b, r) = geometryFromPlan(plan)
    Lsh.minhashLshPairs(documents, threshold, b, r)
  }

  val minhashBandPlanSql: String = {
    val num = PrefixJoin.ThrNum
    val den = PrefixJoin.ThrDen
    def powSql(x: String, n: Int): String =
      (2 to n).foldLeft(x)((acc, _) => s"(($acc) * ($x) // 1000000)")
    def collSql(j: String, b: Int, r: Int): String = {
      val miss1 = s"(1000000 - ${powSql(j, r)})"
      s"(1000000 - ${powSql(miss1, b)})"
    }
    val arms = Factorizations.map { case (b, r) =>
      val coll = collSql("j_ppm", b, r)
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(min($coll) AS BIGINT) AS min_recall_ppm,
         |       CAST(sum($coll) // count(*) AS BIGINT) AS mean_recall_ppm,
         |       CAST(${collSql("CAST(500000 AS BIGINT)", b, r)} AS BIGINT) AS fp_at_j50_ppm,
         |       CAST(${collSql("CAST(200000 AS BIGINT)", b, r)} AS BIGINT) AS fp_at_j20_ppm
         |FROM jp GROUP BY 1""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH ${Dedup.ngramJaccardSqlBody}, jp AS (
       |  SELECT inter * 1000000 // (n1 + n2 - inter) AS j_ppm
       |  FROM rawpairs
       |  WHERE ($num + $den) * inter >= $num * (n1 + n2)
       |), report AS (
       |  $arms
       |)
       |SELECT bands, rows_per_band, n_pairs, min_recall_ppm, mean_recall_ppm,
       |       fp_at_j50_ppm, fp_at_j20_ppm,
       |       min_recall_ppm >= $RecallFloorPpm AND bands =
       |         min(CASE WHEN min_recall_ppm >= $RecallFloorPpm THEN bands END)
       |           OVER () AS recommended
       |FROM report
       |ORDER BY bands DESC""".stripMargin
  }
}
