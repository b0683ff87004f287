package graft
import java.nio.file.{Files, Paths}

/** Benchmark main. Runs every registered query against a `noop`-format
  * write so the full plan executes — `count()` would let Catalyst prune
  * computed columns out of the plan and under-report. One warmup pass over
  * the whole suite (JVM/JIT + codegen), then each query is timed
  * REPEAT times (`--repeat N`, default 3) and the
  * MEDIAN is reported (plus the per-query MIN in `queries_min` — the
  * noise-floor number cross-round diffs should compare, since medians
  * still absorb this box's 33% same-code drift): single-pass suite
  * numbers on this box suffer
  * 5-10× one-off stalls (PERF.md), and the median of three rejects any
  * single stall while keeping the run cheap. Timed passes run round-robin
  * across queries (not back-to-back per query) so a SUSTAINED stall —
  * minutes long, the round-4 failure mode — cannot span all of one
  * query's passes and defeat the median.
  *
  * Emits ONE JSON line on stdout AND writes the same line to
  * `BENCH_OUT.json` in the cwd (sbt log noise makes stdout alone
  * unparseable). Query failures are reported in an `"errors"` object, never
  * as fake timings.
  *
  * `calib_s` (round 17): a fixed synthetic shuffle+sort+agg probe run
  * before and after the sweep — the box-state scalar cross-round
  * comparisons NORMALIZE by (this box's same-code totals have read
  * 342.7 vs 455.9 s across runs; two rounds paid a worktree A/B to
  * prove it was the machine). Compare `total/calib_s` across rounds,
  * not raw totals.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // BOX-STATE CALIBRATION (round 17 — the r16 verdict's process order):
    // two rounds have paid a worktree A/B to adjudicate same-code bench
    // drift. This fixed synthetic probe — deterministic generated frame →
    // hash shuffle → agg → global sort, zero I/O, no code under test —
    // measures THE MACHINE, before and after the sweep; cross-round
    // artifact comparisons divide `calib_s` out instead of re-running
    // old HEADs. Median of three passes after one warmup (the suite's
    // own discipline).
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 30000000L, 1L, 32)
        // pmod keeps the per-key sum far from Long range (ANSI overflow)
        .selectExpr("id % 1000000 AS k", "pmod(xxhash64(id), 1000000) AS h")
        .groupBy("k").agg(
          org.apache.spark.sql.functions.sum("h").as("s"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("c"))
        .orderBy(org.apache.spark.sql.functions.desc("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def calib(): Double = {
      calibOnce() // warmup
      val ts = Seq.fill(3)(calibOnce()).sorted
      ts(1)
    }

    def run(name: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        // strip every char that could break the JSON string literal,
        // including backslashes (Spark errors often quote regexes)
        case e: Throwable => Left(e.toString.replaceAll("[\\\\\"\\n\\r\\t]", " ").take(300))
      } finally {
        // drop this query's leftovers (localCheckpoint RDDs, caches) so a
        // long suite doesn't let one query's residue distort the next
        // query's timing — cleanup runs after the clock stops
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
      }
    }

    // --repeat N / --repeat=N controls timed passes
    // per query; malformed values fall back to the default rather than
    // killing the run before any timing happens
    val (repeatArg, nameArgs) = {
      var rep = Option.empty[String]
      val names = Seq.newBuilder[String]
      var i = 0
      while (i < args.length) {
        args(i) match {
          case "--repeat" if i + 1 < args.length => rep = Some(args(i + 1)); i += 2
          case a if a.startsWith("--repeat=") => rep = Some(a.stripPrefix("--repeat=")); i += 1
          case a => names += a; i += 1
        }
      }
      (rep, names.result())
    }
    val repeat = repeatArg
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .getOrElse(3).max(1)
    // a typo'd name must surface in "errors", not silently shrink the run
    val (names, unknown) =
      if (nameArgs.nonEmpty) nameArgs.distinct.sorted.partition(SparkEntry.queries.contains)
      else (SparkEntry.queries.keys.toSeq.sorted, Seq.empty[String])
    names.foreach(run) // warmup
    val calibPre = calib()
    // median of `repeat` timed passes per query; first error wins if any
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Passes are INTERLEAVED round-robin (pass 1 of every query, then pass
    // 2 of every query, …) rather than back-to-back per query: this box's
    // stalls are sustained (minutes), and three consecutive passes of a
    // 30 s query all fit inside one stall — which defeats the median
    // (PERF.md round-4 suite-window contention). Round-robin separates a
    // query's passes by a full suite sweep, so one stall can contaminate
    // at most one pass per query.
    val passesByName: Map[String, Seq[Either[String, Double]]] = {
      val acc = scala.collection.mutable.Map.empty[String, Vector[Either[String, Double]]]
      for (_ <- 1 to repeat; n <- names)
        acc(n) = acc.getOrElse(n, Vector.empty) :+ run(n)
      acc.toMap
    }
    val results: Seq[(String, Either[String, Double])] = names.map { n =>
      val passes = passesByName(n)
      val errs = passes.collect { case Left(e) => e }
      n -> (if (errs.nonEmpty) Left(errs.head)
            else Right(median(passes.collect { case Right(t) => t })))
    }
    val timings = results.collect { case (n, Right(t)) => n -> t }
    // per-query MIN of the same passes (r12 verdict item 5): medians of
    // interleaved repeats still absorb box drift — this box's same-code
    // totals have read 342.7 vs 455.9 s across runs — so cross-round
    // diffs should compare noise-FLOOR numbers; the min is that floor.
    // "queries" stays the median (the headline's total and the driver's
    // schema are unchanged); "queries_min" is additive.
    // built from the SAME error-free set as `timings` (first-error-wins):
    // a query with any failed pass must not surface a noise-floor number
    // while the same file counts it in "errors" (benchdiff would diff a
    // time for a query the run considers failed)
    val minTimings = results.collect { case (n, Right(_)) =>
      n -> passesByName(n).collect { case Right(t) => t }.min
    }
    val calibPost = calib()
    val errors = results.collect { case (n, Left(e)) => n -> e } ++
      unknown.map(n => n -> "unknown query name")
    // Locale.ROOT: the f-interpolator is default-locale-sensitive and a
    // comma decimal separator would break the JSON
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = timings.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val qmin = minTimings.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val total = timings.map(_._2).sum
    // calib_s = min of the two probes: the machine's best observed state
    // this run (a mid-sweep stall inflates one side; the min is the
    // floor the queries could have seen)
    val calibS = math.min(calibPre, calibPost)
    val calibJson = s""""calib_s":${fmt(calibS)},"calib_pre_s":${fmt(calibPre)},"calib_post_s":${fmt(calibPost)}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$calibJson,"queries":$qs,"queries_min":$qmin,"errors":$es,"n_ok":${timings.size},"n_err":${errors.size},"repeat":$repeat,"sf":"$sfDir"}"""
    val outPath = Paths.get("BENCH_OUT.json").toAbsolutePath
    Files.writeString(outPath, line + "\n")
    // stdout gets a COMPACT summary line only: the full per-query map is
    // >2 KB at 189 queries and the driver's log-tail window is ~2 KB, so
    // printing the full line guarantees it arrives truncated (r08's
    // "parsed": null). The short line always fits; the full map lives at
    // the path it names.
    val slow = timings.sortBy(-_._2).take(8)
      .map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$calibJson,"n_ok":${timings.size},"n_err":${errors.size},"repeat":$repeat,"sf":"$sfDir","slowest":$slow,"queries_file":"$outPath"}"""
    println(compact)
    System.out.flush()
    // r09's driver artifact still recorded "parsed": null even with the
    // compact line present mid-tail — re-emit it AFTER spark.stop() so it
    // is the last application output on BOTH streams (nothing but sbt's
    // own [success] line can follow), maximizing the chance the driver's
    // tail parser sees an unprefixed JSON line wherever it reads.
    spark.stop()
    println(compact)
    System.out.flush()
    System.err.println(compact)
    System.err.flush()
  }
}
