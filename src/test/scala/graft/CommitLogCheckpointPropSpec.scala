package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CommitLog

/** Checkpoints are pure caches of the fold: over random histories of
  * adds (with and without stats, re-adds included), removes, deletion
  * vectors and their clears, txn watermarks, schema metadata, CHECK
  * constraints and generated columns, every reader answers the same at
  * every version with or without a checkpoint at any earlier version —
  * TIMESTAMP AS OF included, over random non-monotone commit timestamps
  * — and a checkpoint folded from an earlier checkpoint is byte-identical
  * to one folded from genesis. Only the log is touched: synthetic file
  * names, [[CommitLog.tryCommit]] directly, no Spark session. */
class CommitLogCheckpointPropSpec extends AnyFunSuite {

  private case class Step(adds: Seq[String], statsFor: Set[String], removes: Seq[String],
                          txnApp: Option[String], meta: Option[String],
                          dvs: Seq[(String, String)], dvRms: Seq[String],
                          constraints: Seq[String], constraintRms: Seq[String],
                          gencols: Seq[String], gencolRms: Seq[String], cts: Long)

  private val files = (0 until 6).map(i => s"f$i.parquet")
  private val dvFiles = (0 until 4).map(i => s"dv$i.parquet")
  private val names = Seq("n0", "n1", "n2")
  private val apps = Seq("a", "b")
  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private val schemas = Seq("x", "y", "z").map { c =>
    b64(new org.apache.spark.sql.types.StructType().add(c, "long").json)
  }

  private def some[A](xs: Seq[A]): Gen[Seq[A]] =
    Gen.frequency(2 -> Gen.const(Seq.empty[A]), 1 -> Gen.someOf(xs).map(_.toSeq))

  private val step: Gen[Step] = for {
    adds <- some(files)
    statsFor <- Gen.someOf(adds).map(_.toSet)
    removes <- some(files)
    txnApp <- Gen.option(Gen.oneOf(apps))
    meta <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.oneOf(schemas).map(Some(_)))
    dvs <- Gen.listOf(Gen.zip(Gen.oneOf(dvFiles), Gen.oneOf(files))).map(_.take(3))
    dvRms <- some(files)
    constraints <- some(names)
    constraintRms <- some(names)
    gencols <- some(names)
    gencolRms <- some(names)
    cts <- Gen.choose(0L, 1000L)
  } yield Step(adds, statsFor, removes, txnApp, meta, dvs, dvRms, constraints,
    constraintRms, gencols, gencolRms, cts)

  private val history: Gen[Seq[Step]] =
    Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, step))

  /** Every reader's answer at version v, and TIMESTAMP AS OF at each
    * of `probes` (resolved against the whole log, so the same at every
    * v; a probe before the first commit answers its refusal). */
  private def views(t: String, probes: Seq[Long])(v: Long): Seq[Any] = Seq(
    CommitLog.liveAdds(t, v), CommitLog.liveDvs(t, v),
    (apps :+ "nobody").map(CommitLog.txnLatest(t, _, v)),
    CommitLog.schemaAt(t, v), CommitLog.constraintsAt(t, v), CommitLog.generatedAt(t, v),
    probes.map(ts =>
      try Right(CommitLog.versionAtTimestamp(t, ts))
      catch {
        case e: IllegalArgumentException if e.getMessage.contains("predates") =>
          Left(e.getMessage)
      }))

  private def cpFile(t: String, v: Long): Path =
    Paths.get(t, "_graft_log", f"$v%020d.checkpoint.json")

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }

  private def holds(h: Seq[Step]): Boolean = {
    val t = Files.createTempDirectory("graft_cl_prop").toString
    try {
      h.zipWithIndex.foreach { case (s, i) =>
        // txn versions grow with the step index: monotone per app, as
        // appendIdempotent requires
        assert(CommitLog.tryCommit(t, i.toLong, s.adds, s.removes,
          txn = s.txnApp.map(_ -> i.toLong), meta = s.meta,
          addStats = s.statsFor.map(f => f -> b64(s"stats of $f at $i")).toMap,
          ctsMillis = Some(s.cts), dvs = s.dvs, dvRms = s.dvRms,
          constraints = s.constraints.map(n => n -> b64(s"$n > $i")),
          constraintRms = s.constraintRms,
          gencols = s.gencols.map(n => n -> b64(s"$n + $i")), gencolRms = s.gencolRms))
      }
      val versions = h.indices.map(_.toLong)
      // each step's cts and the instant before it; the random, non-monotone
      // cts make the running max decide where a probe lands
      val probes = h.flatMap(s => Seq(s.cts, s.cts - 1)).distinct :+ Long.MaxValue
      val expected = versions.map(views(t, probes))
      // a probe resolves to the last version whose running cts max is at or before it
      val runningMax = h.map(_.cts).scanLeft(-1L)(math.max).tail
      assert(expected.head.last == probes.map { ts =>
        val v = runningMax.lastIndexWhere(_ <= ts)
        if (v >= 0) Right(v.toLong)
        else Left(s"requirement failed: timestamp $ts predates the first commit of $t")
      }, "TIMESTAMP AS OF resolved off the running cts max")
      // one checkpoint at a time, each folded from genesis
      val fromGenesis = versions.map { cp =>
        CommitLog.checkpoint(t, cp)
        val body = Files.readAllBytes(cpFile(t, cp)).toSeq
        assert(versions.map(views(t, probes)) == expected, s"checkpoint at $cp changed a reader")
        Files.delete(cpFile(t, cp))
        body
      }
      // checkpoints at every version, each folded from the one before
      versions.foreach { cp =>
        CommitLog.checkpoint(t, cp)
        assert(Files.readAllBytes(cpFile(t, cp)).toSeq == fromGenesis(cp.toInt),
          s"checkpoint at $cp folded from an earlier checkpoint differs")
      }
      assert(versions.map(views(t, probes)) == expected, "stacked checkpoints changed a reader")
      true
    } finally deleteTree(Paths.get(t))
  }

  test("readers agree at every version with and without a checkpoint at each earlier version") {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(60),
      Prop.forAll(history)(holds))
    assert(res.passed, res.status.toString)
  }
}
