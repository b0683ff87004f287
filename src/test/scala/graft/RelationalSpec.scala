package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(cores = 4)
  val sf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every query with an oracle has matching key in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries entry: $missing")
  }

  test("q1_agg aggregates are internally consistent") {
    val row = SparkEntry.queries("q1_agg")(spark, sf)
      .collect().head
    assert(row.getAs[Long]("count_order") > 0)
    assert(row.getAs[Double]("sum_disc_price") <= row.getAs[Double]("sum_base_price"))
  }

  test("window_topk_per_group emits at most 3 rows per group, ranked") {
    val rows = SparkEntry.queries("window_topk_per_group")(spark, sf).collect()
    val byGroup = rows.groupBy(_.getAs[String]("o_orderpriority"))
    byGroup.foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val prices = rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("o_totalprice"))
      assert(prices.sameElements(prices.sorted.reverse))
    }
  }

  test("semi_anti_join partitions customers exactly") {
    val df = SparkEntry.queries("semi_anti_join")(spark, sf)
    val total = Tables.customer(spark, sf).count()
    assert(df.count() == total)
    assert(df.select("c_custkey").distinct().count() == total)
  }
}
