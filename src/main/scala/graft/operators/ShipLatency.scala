package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Retention.UsPerDay

/** Order-to-first-ship LATENCY quantiles (round 8, continuation) — per
  * order priority, the exact distribution (min/p50/p90/max, integer
  * days) of the lag between an order and its FIRST shipped line: the
  * fulfillment-SLA readout, and the relational-table sibling of
  * [[FunnelLatency]]'s event-funnel hop latencies. The argmin step
  * (first ship per order) is a plain min-agg — not a window — so order
  * volume collapses before any ranking.
  *
  * Cross-engine exactness (§6): integer-µs date math on the
  * TIMESTAMP_NTZ columns (UTC-session CAST, the [[LateExists]]
  * convention). The synthetic data ships lines BEFORE their order date,
  * so latencies go negative and Spark's truncating `div` diverges from
  * DuckDB's flooring `//` — the day conversion therefore uses the
  * [[Lexicon]] signed-factoring: Spark `div` as-is, DuckDB
  * `sign-cased -((-x) // d)`, truncation-toward-zero on both. Quantiles
  * are rank-selected exact order statistics ([[LengthQuantiles]]
  * type-1, o_orderkey tie-break).
  *
  * Scale shape: one l_orderkey min-agg over lineitem (map-side
  * combinable), one hash join to orders, per-priority rank windows over
  * the ORDER frame (≤ |orders| rows, |priorities| partitions — the
  * histogram rewrite is the dial beyond that), one closing agg.
  */
object ShipLatency {

  def shipLatency(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val firstShip = lineitem
      .groupBy("l_orderkey")
      .agg(min(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))")).as("first_ship_us"))
    val lat = orders
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr(s"(first_ship_us - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div $UsPerDay")
          .as("lat_days"))
    val per = Window.partitionBy("o_orderpriority")
    val ord = Window.partitionBy("o_orderpriority")
      .orderBy(col("lat_days"), col("o_orderkey"))
    lat
      .withColumn("n", count(lit(1)).over(per))
      .withColumn("rn", row_number().over(ord))
      .groupBy("o_orderpriority")
      .agg(max("n").as("n_orders"),
        min("lat_days").as("min_days"),
        max(when(expr("rn = ((n - 1) * 50) div 100 + 1"), col("lat_days"))).as("p50_days"),
        max(when(expr("rn = ((n - 1) * 90) div 100 + 1"), col("lat_days"))).as("p90_days"),
        max("lat_days").as("max_days"))
  }

  def shipLatencyQ(orders: DataFrame, lineitem: DataFrame): DataFrame =
    shipLatency(orders, lineitem).orderBy("o_orderpriority")

  val shipLatencySql: String =
    s"""WITH fs AS (
       |  SELECT l_orderkey,
       |         min(epoch_us(date_trunc('microseconds', l_shipdate))) AS first_ship_us
       |  FROM lineitem GROUP BY 1
       |), lat AS (
       |  SELECT o.o_orderkey, o.o_orderpriority,
       |         CASE WHEN fs.first_ship_us < epoch_us(date_trunc('microseconds', o.o_orderdate))
       |              THEN -((epoch_us(date_trunc('microseconds', o.o_orderdate)) - fs.first_ship_us) // $UsPerDay)
       |              ELSE (fs.first_ship_us - epoch_us(date_trunc('microseconds', o.o_orderdate))) // $UsPerDay
       |         END AS lat_days
       |  FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
       |), ranked AS (
       |  SELECT *,
       |         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n,
       |         CAST(row_number() OVER (PARTITION BY o_orderpriority
       |               ORDER BY lat_days, o_orderkey) AS BIGINT) AS rn
       |  FROM lat
       |)
       |SELECT o_orderpriority,
       |       CAST(max(n) AS BIGINT) AS n_orders,
       |       min(lat_days) AS min_days,
       |       max(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN lat_days END) AS p50_days,
       |       max(CASE WHEN rn = ((n - 1) * 90) // 100 + 1 THEN lat_days END) AS p90_days,
       |       max(lat_days) AS max_days
       |FROM ranked
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
}
