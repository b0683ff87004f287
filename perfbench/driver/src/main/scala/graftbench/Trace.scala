package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch seconds at nanosecond resolution, so spans (timed
  * here) and Spark job intervals (epoch milliseconds from the listener
  * bus) share one time base. */
object Clock {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** CPU time of the work an operation caused: every Java thread of the
  * JVM, so the driver thread, the executor task threads and Spark's own
  * workers (DAG scheduler, task-result getters, broadcast exchange,
  * listener bus) all count. The JIT compiler and GC threads are not
  * visible as Java threads, so they stay out: on identical passes,
  * compiler activity swung process CPU by 70%. The traced run reports
  * collection time as `exec.gc_s`. A thread that ends within the op
  * loses the CPU it spent since `start`. */
final class WorkCpu {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private var before = Map.empty[Long, Long]

  private def sample(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  def start(): Unit = before = sample()
  def seconds(): Double =
    sample().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
}

/** Heap still in use after a full collection: the live data an
  * operation left behind (caches, broadcasts, metadata), without the
  * garbage that makes a raw `used` reading depend on GC timing. Some
  * state is released by Spark's background threads only once a first
  * collection has run, so the reading is taken after a second one: with
  * one, the heap right after lake_ingest's `compact` read 17 MB more in
  * some runs, and 300 ms later that was gone. It forces
  * collections and sleeps, so it is taken only in untimed passes. */
object HeapPeak {
  def afterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

case class Span(id: Int, name: String, parent: Int, run: String,
                start: Double, var end: Double = Double.NaN)

case class Job(id: Int, span: Int, site: String, start: Double, var end: Double = Double.NaN)

case class TaskRec(stage: Int, runS: Double, cpuS: Double, shuffleWriteB: Long,
                   shuffleReadB: Long, fetchWaitS: Double, spillB: Long,
                   inputB: Long, inputRows: Long, failed: Boolean)

case class PlanRec(analysisMs: Double, optimizationMs: Double, planningMs: Double,
                   exchanges: Int)

/** Opens a named span around a layer call. */
trait Spanner {
  def apply[T](name: String)(body: => T): T
}

/** Tracing switched off: the same call shape, no spans, no listeners. */
object NoTrace extends Spanner {
  def apply[T](name: String)(body: => T): T = body
}

/** Spans around each layer call the benchmark makes, plus the Spark jobs,
  * tasks and query plans those calls caused. Jobs are attributed to the
  * innermost open span through the `perfbench.span` local property, which
  * Spark copies into every job the driver thread submits. Everything is
  * kept in memory and written out once, at the end of the run. */
final class Tracer(spark: SparkSession) extends Spanner {
  val SpanProp = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var run = ""

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  private object planHelper extends AdaptiveSparkPlanHelper

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs.add(Job(e.jobId, span, site, e.time / 1e3))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time / 1e3)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      if (m == null) tasks.add(TaskRec(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, failed))
      else tasks.add(TaskRec(e.stageId, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime / 1e3,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
        .getOrElse(0.0)
      val exchanges = planHelper.collectWithSubqueries(qe.executedPlan) {
        case x: ShuffleExchangeLike => x
      }.size
      plans.add(PlanRec(ms("analysis"), ms("optimization"), ms("planning"), exchanges))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Blocks until the listener buses have delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def beginRun(id: String): Unit = run = id

  /** Everything the listeners saw since the last harvest, after draining
    * the buses. Ops run one at a time, so a harvest right after an op
    * holds exactly that op's jobs, tasks and plans. */
  def harvest(): (Seq[Job], Seq[TaskRec], Seq[PlanRec]) = {
    drain()
    def take[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
      val b = Seq.newBuilder[A]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    (take(jobs), take(tasks), take(plans))
  }

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), run, Clock.now())
    spans += s
    stack.push(s)
    spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = Clock.now()
      stack.pop()
      spark.sparkContext.setLocalProperty(SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start" -> s.start, "end" -> s.end)
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
