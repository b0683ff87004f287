package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CommitLog

/** Crash atomicity of the commit log. A writer publishes a body only
  * once it is complete (a hard link of a fully written temp file), so a
  * crash mid-commit leaves at most a partial temp body in `_graft_log`.
  * Each case below runs a verb, un-publishes the file it wrote and
  * leaves its body cut at a line boundary or mid-line as that temp
  * file, then checks that readers see the old snapshot, that the next
  * append lands at the version the crashed writer never took, and that
  * the idempotent sink re-lands its batch exactly once. */
class CommitLogCrashSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def log(t: String): Path = Paths.get(t, "_graft_log")

  private def ids(t: String): Set[Long] =
    CommitLog.read(spark, t).select("id").as[Long].collect().toSet

  /** v0 = sink batch 0 of app "sink" (ids 1..3), v1 = a plain append. */
  private def table(): String = {
    val t = Files.createTempDirectory("graft_cl_crash").toString
    assert(CommitLog.appendIdempotent(spark, t,
      Seq(1L, 2L, 3L).toDF("id"), "sink", 0L).contains(0L))
    assert(CommitLog.append(spark, t, Seq(4L, 5L).toDF("id")) == 1L)
    t
  }

  private val batch1 = Seq(10L, 11L)

  /** The last line boundary before the final line, and the middle of the
    * final line. */
  private val cuts: Seq[(String, Array[Byte] => Int)] = Seq(
    "line boundary" -> (b => b.lastIndexOf('\n'.toByte, b.length - 2) + 1),
    "mid-line" -> { b =>
      val last = b.lastIndexOf('\n'.toByte, b.length - 2) + 1
      last + (b.length - last) / 2
    })

  private val verbs: Seq[(String, String => String)] = Seq(
    "append" -> { t =>
      CommitLog.append(spark, t, Seq(6L, 7L).toDF("id")); f"${2L}%020d.json" },
    "replace" -> { t =>
      assert(CommitLog.compact(spark, t).isRight); f"${2L}%020d.json" },
    "DV delete" -> { t =>
      assert(CommitLog.deleteWhereDv(spark, t, col("id") === 2L).isRight)
      f"${2L}%020d.json"
    },
    "txn append" -> { t =>
      assert(CommitLog.appendIdempotent(spark, t, batch1.toDF("id"), "sink", 1L)
        .contains(2L))
      f"${2L}%020d.json"
    },
    "checkpoint" -> { t => CommitLog.checkpoint(t); f"${1L}%020d.checkpoint.json" })

  for ((verb, run) <- verbs; (cutName, cut) <- cuts) {
    test(s"a $verb cut at a $cutName before publish leaves the old snapshot") {
      val t = table()
      val before = ids(t)
      val published = log(t).resolve(run(t))
      val body = Files.readAllBytes(published)
      Files.delete(published)
      Files.write(log(t).resolve(".tmp_crashed"), body.take(cut(body)))

      assert(CommitLog.latestVersion(t) == 1L)
      assert(ids(t) == before)
      assert(CommitLog.txnLatest(t, "sink") == 0L)

      assert(CommitLog.append(spark, t, Seq(20L).toDF("id")) == 2L,
        "the next append must take the version the crash never published")
      assert(CommitLog.appendIdempotent(spark, t, batch1.toDF("id"), "sink", 1L)
        .contains(3L))
      assert(CommitLog.appendIdempotent(spark, t, batch1.toDF("id"), "sink", 1L).isEmpty,
        "a re-delivered batch must land exactly once")
      assert(ids(t) == before ++ Set(20L) ++ batch1)
    }
  }

  test("a reader racing the writer only ever sees complete commit files") {
    val t = Files.createTempDirectory("graft_cl_crash").toString
    val adds = (0 until 2000).map(i => f"$i%08x-part-00000.parquet")
    def complete(body: String) = body.endsWith("\n") && body.count(_ == '\n') == adds.size + 1
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val checked = new java.util.concurrent.atomic.AtomicLong(0L)
    // polls the next version's file the moment it appears
    val reader = new Thread(() => {
      def f = log(t).resolve(f"${checked.get}%020d.json")
      while (!done.get || Files.exists(f)) {
        if (Files.exists(f)) {
          if (complete(new String(Files.readAllBytes(f), "UTF-8"))) checked.incrementAndGet()
          else torn.add(checked.get)
        }
      }
    })
    reader.start()
    try (0 until 200).foreach(v => assert(CommitLog.tryCommit(t, v.toLong, adds, Nil)))
    finally { done.set(true); reader.join() }
    val seen = torn.asScala.toSeq.distinct
    assert(seen.size == 0, s"readers saw partial commits at versions ${seen.take(10)}")
    assert(checked.get == 200L, "the reader must have checked every commit")
  }

  test("publishing leaves no temp file behind, and a lost race returns false") {
    val t = Files.createTempDirectory("graft_cl_crash").toString
    assert(CommitLog.tryCommit(t, 0L, Seq("a.parquet"), Nil))
    assert(!CommitLog.tryCommit(t, 0L, Seq("b.parquet"), Nil))
    CommitLog.checkpoint(t)
    val names = {
      val s = Files.list(log(t))
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    assert(names == Set(f"${0L}%020d.json", f"${0L}%020d.checkpoint.json"))
    assert(CommitLog.liveFiles(t, 0L) == Seq("a.parquet"), "the loser must not touch v0")
  }
}
