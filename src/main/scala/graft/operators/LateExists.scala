package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Retention.UsPerDay

/** Correlated-EXISTS order screen (round 8, continuation) — the TPC-H Q4
  * shape: per order priority, how many orders have AT LEAST ONE late
  * line item (shipped ≥ [[LateDays]] days after the order date). The
  * suite's [[Relational.semiAntiJoin]] pins the pure key-membership
  * semi join; Q4's point is the CORRELATED CROSS-TABLE predicate inside
  * the EXISTS — the condition references both sides, so the decorrelated
  * plan is a semi join on (key AND predicate), which Spark executes as a
  * hash semi join with the date compare as a join residual: each order
  * counted ONCE however many late lines it has.
  *
  * Cross-engine exactness (§6): the date compare is integer µs
  * (`unix_micros(l_shipdate) ≥ unix_micros(o_orderdate) + days·86400e6`)
  * — no interval arithmetic whose month/DST conventions could diverge;
  * counts and the ppm share are exact integers.
  *
  * Scale shape: one hash LEFT SEMI join on l_orderkey (the fact-fact
  * equi key — shuffle on both sides, the once-per-order dedup is free in
  * the semi), then a map-side-combinable ≤|priorities| rollup and the
  * 1-row total fact (documented broadcast nested loop).
  */
object LateExists {

  /** A line is late if shipped this many days (or more) after the order. */
  val LateDays = 30

  def q4LateExists(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val late = orders.join(lineitem,
      col("o_orderkey") === col("l_orderkey") &&
        // order/line dates are TIMESTAMP_NTZ in the parquet; the UTC session
        // makes the CAST to TIMESTAMP instant-exact before the µs math
        expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) >= unix_micros(CAST(o_orderdate AS TIMESTAMP)) + ${LateDays.toLong * UsPerDay}"),
      "left_semi")
    val roll = late.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
    val tot = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
    tot.join(roll, Seq("o_orderpriority"), "left")
      .select(col("o_orderpriority"), col("n_orders"),
        coalesce(col("n_late_orders"), lit(0L)).as("n_late_orders"))
      .withColumn("late_ppm", expr("n_late_orders * 1000000 div n_orders"))
  }

  def q4LateExistsQ(orders: DataFrame, lineitem: DataFrame): DataFrame =
    q4LateExists(orders, lineitem).orderBy("o_orderpriority")

  val q4LateExistsSql: String =
    s"""WITH tot AS (
       |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
       |  FROM orders GROUP BY 1
       |), late AS (
       |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
       |  FROM orders o
       |  WHERE EXISTS (
       |    SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND epoch_us(date_trunc('microseconds', l.l_shipdate)) >=
       |          epoch_us(date_trunc('microseconds', o.o_orderdate)) + ${LateDays.toLong * UsPerDay}
       |  )
       |  GROUP BY 1
       |)
       |SELECT t.o_orderpriority, t.n_orders,
       |       COALESCE(l.n_late_orders, 0) AS n_late_orders,
       |       COALESCE(l.n_late_orders, 0) * 1000000 // t.n_orders AS late_ppm
       |FROM tot t LEFT JOIN late l ON t.o_orderpriority = l.o_orderpriority
       |ORDER BY t.o_orderpriority""".stripMargin
}
