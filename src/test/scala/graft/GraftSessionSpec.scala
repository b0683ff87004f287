package graft

import org.scalatest.funsuite.AnyFunSuite

/** The specs run on GraftSession, the session Bench times and Verify
  * checks, so they see the same physical plans. `replaceHashWithSortAgg` is
  * the conf that changes plan shape: gold_trial_stats feeds its per-trial
  * aggregation from a window sorted on the same key, which plans a
  * SortAggregate with the conf on and a HashAggregate without it. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("specs plan a window-fed aggregation as SortAggregate, as Bench does") {
    val plan = SparkEntry.queries("gold_trial_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortAggregate"), plan)
  }
}
