package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, Spark at `local[cores]`, one
  * closed-loop client. Started by run.py, which generates the inputs
  * before and turns the raw samples written here into the reported
  * metrics after.
  *
  * Order of a run: set-up (session start plus the workload's first
  * operation) five times in fresh sessions; one untimed verification
  * pass; the workload's untimed warm-up passes; timed passes until
  * `seconds` is spent (at least the workload's minimum);
  * untimed finishing work.
  * With tracing on, passes alternate untraced and traced, so the same run
  * also measures what tracing costs.
  *
  * Usage: Driver --workload W --data DIR --out DIR --seconds S --trace 0|1
  *                --cores N
  */
object Driver {
  /** The medallion flow from raw drop to epoch features and channel
    * correlation, plus the IIR filter, which has no SQL oracle and is
    * checked by run-to-run digest instead. */
  val EegQueries = Seq("csv_ingest", "bronze_ingest", "silver_zscore", "gold_epoch_features",
    "channel_correlation", "signal_iir_filtfilt")

  def session(cores: Int, scratch: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    // the same session settings as graft.Bench
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.execution.replaceHashWithSortAgg", "true")
    .config("spark.ui.enabled", "false")
    // everything Spark writes stays under the run's own directory
    .config("spark.local.dir", scratch.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val dataDir = Paths.get(opt("data")).toAbsolutePath
    val outDir = Paths.get(opt("out")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    Files.createDirectories(outDir)

    val workload: Workload = workloadName match {
      case "eeg_medallion" =>
        new QueryWorkload(EegQueries, dataDir.toString, dataDir.resolve("drop").toString, outDir,
          warmPasses = 2, minPasses = 3)
      case "lake_ingest" =>
        val files = Source.fromFile(dataDir.resolve("drops.tsv").toFile).getLines()
          .map(_.split('\t')).map { a =>
            DropFile(a(0).toInt, a(1), a(2).toInt, a(3).toInt, a(4), a(5).toLong, a(6).toLong)
          }.toVector
        new LakeWorkload(files, outDir.resolve("lake"), cadence = 2)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up, repeated in fresh sessions
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until 5) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = Clock.now()
      spark = session(cores, outDir)
      spark.sparkContext.setLogLevel("ERROR")
      workload.warm(spark)
      setupS += Clock.now() - t0
      cleanup(spark)
    }

    phase("set-up")
    val checks = new Checks
    workload.verify(spark, checks)
    cleanup(spark)
    // the passes right after verification still run slower while the JIT
    // compiles their hot paths; untimed passes keep that out of the timing.
    // They run the timed passes' operations, so the live-heap probe (a
    // forced collection) is taken in the first, where it costs the clock
    // nothing.
    var liveHeapMb = 0.0
    for (w <- 0 until workload.warmPasses) workload.pass(spark, -2 - w, checks).foreach { op =>
      try op.run(NoTrace)
      catch { case e: Exception => checks.check(ok = false, s"warm-up ${op.name}: ${e.getMessage}") }
      if (w == 0 && op.heapProbe) liveHeapMb = liveHeapMb.max(HeapPeak.afterFullGcMb())
      cleanup(spark)
    }

    phase("verification and warm-up")
    // ---- timed passes
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val opRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val passWalls = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val workCpu = new WorkCpu
    val tStart = Clock.now()
    var k = 0
    var lastPass = 0.0
    // a traced run alternates untraced and traced passes
    val minPasses = if (trace) 2 else workload.minPasses
    while (k < minPasses || Clock.now() - tStart + lastPass <= seconds) {
      val traced = trace && k % 2 == 1
      val spanner: Spanner = if (traced) tracer.get else NoTrace
      if (traced) tracer.get.install()
      val layer = new LayerAcc(cores)
      var passWall = 0.0
      val ops = workload.pass(spark, k, checks)
      for ((op, idx) <- ops.zipWithIndex) {
        val firstSpan = tracer.map(_.spans.size).getOrElse(0)
        if (traced) tracer.get.beginRun(s"p$k/$idx/${op.name}")
        workCpu.start()
        val gc0 = Clock.gcSeconds()
        val t0 = Clock.now()
        val ok =
          try { spanner(s"op:${op.name}")(op.run(spanner)); true }
          catch { case e: Exception =>
            checks.check(ok = false, s"pass $k ${op.name}: ${e.getMessage}"); false
          }
        val wall = Clock.now() - t0
        val gcS = Clock.gcSeconds() - gc0
        val cpu = workCpu.seconds()
        checks.attempted += (if (ok) 1 else 0)
        passWall += wall
        opRecs += Map("pass" -> k, "idx" -> idx, "name" -> op.name, "wall" -> wall,
          "cpu" -> cpu, "traced" -> traced)
        if (traced) {
          val cachedMb = spark.sparkContext.getRDDStorageInfo
            .map(r => r.memSize + r.diskSize).sum / 1048576.0
          val (jobs, tasks, plans) = tracer.get.harvest()
          val spans = tracer.get.spans.drop(firstSpan).toSeq
          layer.addOp(wall, spans, jobs, tasks, plans, gcS, cachedMb)
        }
        cleanup(spark)
      }
      if (traced) {
        tracer.get.uninstall()
        layerPasses += layer.result(passWall) ++ workload.passState(k)
      }
      passWalls += traced -> passWall
      lastPass = passWall
      k += 1
    }
    val measuredS = Clock.now() - tStart
    phase(s"$k timed passes")
    workload.finish(spark, checks)
    cleanup(spark)

    val calib = if (trace) Some(calibrate(spark)) else None
    tracer.foreach(_.writeSpans(outDir.resolve("spans.jsonl")))
    phase("finishing")

    val result = Json.obj(
      "workload" -> workloadName,
      "cores" -> cores,
      "setup_s" -> setupS.toSeq,
      "measured_s" -> measuredS,
      "passes" -> passWalls.map { case (t, w) => Map("traced" -> t, "wall" -> w) }.toSeq,
      "ops" -> opRecs.toSeq,
      "layers" -> layerPasses.toSeq,
      "calib_s" -> calib,
      "peak_heap_mb" -> liveHeapMb,
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "messages" -> checks.messages.toSeq,
      "manifest" -> workload.manifest)
    Files.writeString(outDir.resolve("driver.json"), result)
    spark.stop()
  }

  private val t0 = Clock.now()
  private var lastPhase = t0
  /** Logs how long each phase of the run took, to stderr. */
  def phase(name: String): Unit = {
    val t = Clock.now()
    System.err.println(f"[perfbench] $name: ${t - lastPhase}%.1f s")
    lastPhase = t
  }

  /** Drops what an operation left cached, outside the clock, as Bench.run does. */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** A fixed shuffle and aggregation that touches no graft code: if it
    * moves between two runs, the machine moved. Median of three after one
    * warm-up. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = Clock.now()
      spark.range(0L, 3000000L, 1L, 8)
        .selectExpr("id % 100000 AS k", "pmod(xxhash64(id), 1000000) AS h")
        .groupBy("k").agg(sum("h").as("s"), count(lit(1)).as("c"))
        .orderBy(desc("s"))
        .write.format("noop").mode("overwrite").save()
      Clock.now() - t0
    }
    once()
    Seq.fill(3)(once()).sorted.apply(1)
  }
}
