package graftbench

import scala.collection.mutable

/** Folds one traced pass's spans, jobs, tasks and plans into the per-layer
  * metrics. Times are seconds summed over the pass unless the name says
  * otherwise; `exec.task_skew` is the worst stage of the pass. */
final class LayerAcc(cores: Int) {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  private var skew = 1.0
  private var taskRun = 0.0

  private def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def addOp(opWall: Double, spans: Seq[Span], jobs: Seq[Job], tasks: Seq[TaskRec],
            plans: Seq[PlanRec], gcS: Double, cachedMb: Double): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    def dur(s: Span): Double = s.end - s.start
    def named(n: String): Seq[Span] = spans.filter(_.name == n)
    def jobsUnder(ss: Seq[Span]): Seq[Job] = {
      val ids = ss.map(_.id).toSet
      // a job belongs to a span if its innermost span is it or a descendant
      def inside(id: Int): Boolean =
        id >= 0 && (ids(id) || byId.get(id).exists(s => inside(s.parent)))
      jobs.filter(j => inside(j.span))
    }
    def jobTime(ss: Seq[Span]): Double = {
      val iv = jobsUnder(ss).map(j => (j.start, j.end))
      ss.map(s => covered(iv, s.start, s.end)).sum
    }
    def spanTime(n: String): Double = named(n).map(dur).sum

    // Tables: jobs the loaders run while a plan is still being built
    val infer = jobs.filter(_.site.contains("Tables.scala"))
    add("Tables.infer_jobs", infer.size)
    add("Tables.infer_s", infer.map(j => j.end - j.start).sum)
    add("Tables.scan_mb", tasks.map(_.inputB).sum / 1048576.0)
    add("Tables.scan_rows", tasks.map(_.inputRows).sum.toDouble)

    // operators: the registry call (or CsvIngest) up to the returned frame
    val construct = named("operators.construct")
    val constructS = construct.map(dur).sum
    add("operators.construct_s", constructS)
    add("operators.construct_jobs", jobsUnder(construct).size)
    add("operators.construct_self_s", constructS - jobTime(construct))
    add("operators.checkpoint_jobs",
      jobs.count(_.site.toLowerCase.matches("(local)?checkpoint at .*")))
    add("operators.cached_mb", cachedMb)

    // catalyst: the planning phases of every query execution
    add("catalyst.analysis_ms", plans.map(_.analysisMs).sum)
    add("catalyst.optimization_ms", plans.map(_.optimizationMs).sum)
    add("catalyst.planning_ms", plans.map(_.planningMs).sum)
    add("catalyst.exchanges", plans.map(_.exchanges).sum.toDouble)

    // exec: scheduler and executors
    add("exec.write_s", spanTime("exec.action"))
    add("exec.jobs", jobs.size)
    add("exec.stages", tasks.map(_.stage).distinct.size)
    add("exec.tasks", tasks.size)
    add("exec.task_cpu_s", tasks.map(_.cpuS).sum)
    taskRun += tasks.map(_.runS).sum
    add("exec.shuffle_write_mb", tasks.map(_.shuffleWriteB).sum / 1048576.0)
    add("exec.shuffle_read_mb", tasks.map(_.shuffleReadB).sum / 1048576.0)
    add("exec.fetch_wait_s", tasks.map(_.fetchWaitS).sum)
    add("exec.spill_mb", tasks.map(_.spillB).sum / 1048576.0)
    add("exec.gc_s", gcS)
    add("exec.failed_tasks", tasks.count(_.failed).toDouble)
    tasks.groupBy(_.stage).values.filter(_.size >= 2).foreach { ts =>
      val run = ts.map(_.runS).sorted
      val med = run(run.size / 2)
      if (med > 0) skew = skew.max(run.last / med)
    }

    // StreamingJobs and CommitLog (lake_ingest only; zero elsewhere)
    val sinks = named("StreamingJobs.sink")
    add("StreamingJobs.sink_s", sinks.map(dur).sum)
    val replays = named("StreamingJobs.replay")
    add("StreamingJobs.replay_skip_s", replays.map(dur).sum)
    add("StreamingJobs.replays_attempted", replays.size)
    // a skipped replay runs no Spark job after the batch is built
    add("StreamingJobs.replays_skipped", replays.count(r => jobsUnder(Seq(r)).isEmpty))
    val sinkJobS = jobTime(sinks)
    add("CommitLog.driver_s", sinks.map(dur).sum - sinkJobS)
    add("CommitLog.job_s", sinkJobS)
    add("CommitLog.read_construct_s", spanTime("CommitLog.read"))
    add("CommitLog.delete_dv_s", spanTime("CommitLog.deleteWhereDv"))
    add("CommitLog.checkpoint_s", spanTime("CommitLog.checkpoint"))
    add("CommitLog.compact_s", spanTime("CommitLog.compact"))

    // what the op spent outside every layer span the benchmark opened
    val roots = spans.filter(s => s.parent < 0 || !byId.contains(s.parent))
    val rootIds = roots.map(_.id).toSet
    val layerS = spans.filter(s => rootIds(s.parent)).map(dur).sum
    add("trace.unattributed_s", (opWall - layerS).max(0.0))
  }

  def result(passWall: Double): Map[String, Double] =
    m.toMap ++ Map(
      "exec.task_skew" -> skew,
      "exec.core_busy" -> (if (passWall > 0) taskRun / (passWall * cores) else 0.0))
}
