package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EQUI-DEPTH histogram (round 8, continuation) — the ANALYZE-stats
  * primitive: [[NumBuckets]] boundary values of `l_extendedprice` such
  * that each bucket holds ~1/B of the rows, plus the exact cumulative
  * row count at each boundary. This is the statistic an optimizer's
  * selectivity estimation stores per column, and the partner readout to
  * [[ZOrder]]'s zone maps and [[KeySkew]]'s heavy-key list when choosing
  * range-partition split points for a 100 TB sort/write.
  *
  * Cross-engine exactness (§6): boundaries are RANK-SELECTED exact
  * values in integer cents (the [[LengthQuantiles]] discipline — no
  * interpolated `quantile_cont` whose last-ulp is engine-private):
  * boundary b sits at row `((n-1)·b) div B + 1` of the value order. The
  * cumulative count uses the tie-closure identity: ordering by value,
  * `max(rn)` over rows EQUAL to a boundary value v is exactly
  * `count(rows ≤ v)` — well-defined under ties because it only reads the
  * value run's end, never which tied row got which rank.
  *
  * Scale shape: one scan → one ranked window. The global value order is
  * a single-reducer window at gate scale; the scale form is the
  * range-partitioned offset algebra already shipped in
  * [[Curation.tokenBudgetPackRange]] (same rank-from-offsets identity) —
  * the [[Curation.qualitySelect]] precedent: window form is the oracle
  * contract, the offset form is the deployment rewrite. The boundary
  * frame is B rows (broadcast-fact class) for the cum-count join.
  */
object EquidepthHist {

  val NumBuckets = 16

  def equidepthHist(lineitem: DataFrame, buckets: Int = NumBuckets): DataFrame = {
    val ranked = lineitem
      .select(expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").as("cents"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rn", row_number().over(Window.orderBy(col("cents"))))
      .localCheckpoint() // feeds boundary extraction AND the cum-count run scan
    val bIdx = (1 to buckets).map(b => s"((n - 1) * $b) div $buckets + 1")
    val bounds = ranked
      .filter(bIdx.map(i => expr(s"rn = $i")).reduce(_ || _))
      .select((1 to buckets).map(b =>
        max(when(expr(s"rn = ((n - 1) * $b) div $buckets + 1"), col("cents")))
          .as(s"b$b")): _*)
      .select(explode(expr(
        (1 to buckets).map(b => s"struct($b AS bucket, b$b AS boundary_cents)")
          .mkString("array(", ", ", ")"))).as("s"))
      .select(col("s.bucket").as("bucket"), col("s.boundary_cents").as("boundary_cents"))
    ranked
      .join(broadcast(bounds), col("cents") === col("boundary_cents"))
      .groupBy("bucket", "boundary_cents")
      .agg(max("rn").cast("long").as("cum_rows"), max("n").as("n_rows"))
      .select(col("bucket"), col("boundary_cents"), col("cum_rows"), col("n_rows"))
  }

  /** Range-partitioned SCALE form (round 9) — the deployment rewrite the
    * Scaladoc above promised and PERF.md "Relational classics at sf1" priced
    * (the window form's global sort is a single-reducer: 4.6× at 10×
    * volume and the only WindowExec-unpartitioned warning in the
    * battery; this form removes the ceiling). Two moves:
    *
    *  1. VALUE-DOMAIN COLLAPSE first: group to (cents, cnt) — the global
    *     order then runs over distinct values, not rows (already a big
    *     cut), and
    *  2. the [[Curation.tokenBudgetPackRange]] offset algebra:
    *     repartitionByRange over cents (ties can't split — one row per
    *     value), per-partition totals → a P-row prefix-sum frame (the
    *     only unpartitioned window left, over P ≈ shuffle-partitions
    *     rows — broadcast-fact class), broadcast the offsets back, local
    *     cumsum per partition. Global cum(v) = offset + local cum.
    *
    * Boundary b = the value run CONTAINING global rank
    * r_b = ((n−1)·b) div B + 1, i.e. `cum ≥ r_b AND cum − cnt < r_b` —
    * a 16-row broadcast predicate join (the documented zone_map_prune
    * fact-class nested loop). `cum(v)` = count(rows ≤ v) is exactly the
    * window form's tie-closure `max(rn)`, so the outputs are
    * row-identical (spec-pinned at several partition counts — the
    * tokenBudgetPackRange shared-oracle argument) and the registered
    * query shares [[equidepthHistSql]]. `pid` is DATA (the offset key):
    * the checkpoint after repartitionByRange is a CORRECTNESS
    * requirement (CLAUDE.md invariant). */
  def equidepthHistRange(lineitem: DataFrame, buckets: Int = NumBuckets,
                         numParts: Int = 0): DataFrame = {
    val parts =
      if (numParts > 0) numParts
      else lineitem.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "200").toInt.max(1)
    val vc = lineitem
      .select(expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").as("cents"))
      .groupBy("cents").agg(count(lit(1)).as("cnt"))
      .repartitionByRange(parts, col("cents"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val totals = vc.groupBy("pid").agg(sum("cnt").as("ptotal"))
    val wOff = Window.orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("offset", coalesce(sum("ptotal").over(wOff), lit(0L)))
      .select(col("pid").as("o_pid"), col("offset"))
    val wLocal = Window.partitionBy("pid").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vc.join(broadcast(offsets), col("pid") === col("o_pid"))
      .withColumn("cum", sum("cnt").over(wLocal) + col("offset"))
      .select("cents", "cnt", "cum")
    val targets = totals.agg(coalesce(sum("ptotal"), lit(0L)).as("n"))
      .select(explode(expr(
        (1 to buckets).map(b =>
          s"struct($b AS bucket, ((n - 1) * $b) div $buckets + 1 AS r, n)")
          .mkString("array(", ", ", ")"))).as("s"))
      .select(col("s.bucket").as("bucket"), col("s.r").as("r"), col("s.n").as("n"))
    cum.join(broadcast(targets),
        col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
      .select(col("bucket"), col("cents").as("boundary_cents"),
        col("cum").as("cum_rows"), col("n").as("n_rows"))
  }

  /** Registered form — the scale rewrite, sharing the window form's
    * oracle via the row-identity spec. */
  def equidepthHistQ(lineitem: DataFrame): DataFrame =
    equidepthHistRange(lineitem).orderBy("bucket")

  val equidepthHistSql: String = {
    val b = NumBuckets
    val boundsSel = (1 to b).map(i =>
      s"max(CASE WHEN rn = ((n - 1) * $i) // $b + 1 THEN cents END) AS b$i")
      .mkString(",\n       |         ")
    val unnestArms = (1 to b).map(i =>
      s"SELECT $i AS bucket, b$i AS boundary_cents FROM bounds")
      .mkString("\n       |  UNION ALL\n       |  ")
    s"""WITH t AS (
       |  SELECT CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents
       |  FROM lineitem
       |), ranked AS (
       |  SELECT cents,
       |         CAST(count(*) OVER () AS BIGINT) AS n,
       |         CAST(row_number() OVER (ORDER BY cents) AS BIGINT) AS rn
       |  FROM t
       |), bounds AS (
       |  SELECT $boundsSel
       |  FROM ranked
       |), bl AS (
       |  $unnestArms
       |)
       |SELECT bl.bucket, bl.boundary_cents,
       |       CAST(max(r.rn) AS BIGINT) AS cum_rows,
       |       CAST(max(r.n) AS BIGINT) AS n_rows
       |FROM bl JOIN ranked r ON r.cents = bl.boundary_cents
       |GROUP BY bl.bucket, bl.boundary_cents
       |ORDER BY bl.bucket""".stripMargin
  }
}
