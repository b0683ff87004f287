package graft

/** Dev tool: dump formatted physical plans for registered queries.
  * `runMain graft.Explain [names…]` — no args = all queries. Used for the
  * per-round plan audit (pushdown, broadcasts, no stray cartesians,
  * WholeStageCodegen coverage). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
