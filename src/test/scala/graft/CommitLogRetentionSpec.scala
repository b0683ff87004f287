package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CommitLog

/** VACUUM and the orphan sweep on a table whose early commit files were
  * retired behind a checkpoint (log retention): both see every version
  * `read` can still serve, and never list a file one of them reads. */
class CommitLogRetentionSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** Four one-row appends, a checkpoint at the head, then the commits
    * below `retireBelow` deleted. */
  private def retiredTable(retireBelow: Long, compactFirst: Boolean = false): String = {
    val t = Files.createTempDirectory("graft_commitlog_retention").toString
    (1L to 4L).foreach(i => CommitLog.append(spark, t, Seq(i).toDF("id").coalesce(1)))
    if (compactFirst) assert(CommitLog.compact(spark, t).isRight)
    CommitLog.checkpoint(t)
    (0L until retireBelow).foreach(v =>
      Files.delete(Paths.get(t, "_graft_log", f"$v%020d.json")))
    t
  }

  test("vacuumable and orphanFiles work when commit 0 is retired behind a checkpoint") {
    val t = retiredTable(retireBelow = 1L)
    val head = CommitLog.latestVersion(t)
    val live = CommitLog.liveFiles(t, head).toSet
    assert(CommitLog.read(spark, t).count() == 4L)
    assert(CommitLog.vacuumable(t, 1L).isEmpty, "appends only: nothing is dead")
    assert(CommitLog.orphanFiles(t, 0L).isEmpty, "every data file is live")
    val swept = CommitLog.vacuum(t, 1L, orphanMinAgeMs = 0L)
    assert(swept.toSet.intersect(live).isEmpty, s"swept live files: $swept")
    assert(CommitLog.read(spark, t).count() == 4L)
  }

  test("files only retired history referenced are swept; the head's never are") {
    // compact replaces the four append files with one; the checkpoint
    // after it is then the oldest readable version, so the four are read
    // by no readable version
    val t = retiredTable(retireBelow = 4L, compactFirst = true)
    val live = CommitLog.liveFiles(t, CommitLog.latestVersion(t)).toSet
    assert(live.size == 1)
    assert(CommitLog.vacuumable(t, 1L).isEmpty)
    val orphans = CommitLog.orphanFiles(t, 0L)
    assert(orphans.size == 4 && orphans.toSet.intersect(live).isEmpty, orphans.toString)
    assert(CommitLog.vacuum(t, 1L, orphanMinAgeMs = 0L).toSet == orphans.toSet)
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("a file read only between two checkpoints is kept while those versions are retained") {
    // seven appends (v0-v6), a checkpoint at 5, compact at v7, three
    // more appends (v8-v10), a checkpoint at 10, commits 0-4 retired:
    // v5-v9 are still read from the checkpoint at 5
    val t = Files.createTempDirectory("graft_commitlog_retention").toString
    (1L to 7L).foreach(i => CommitLog.append(spark, t, Seq(i).toDF("id").coalesce(1)))
    assert(CommitLog.checkpoint(t, 5L) == 5L)
    val appended = CommitLog.liveFiles(t, 6L).toSet
    assert(CommitLog.compact(spark, t).isRight)
    (8L to 10L).foreach(i => CommitLog.append(spark, t, Seq(i).toDF("id").coalesce(1)))
    assert(CommitLog.checkpoint(t) == 10L)
    (0L until 5L).foreach(v => Files.delete(Paths.get(t, "_graft_log", f"$v%020d.json")))
    assert(CommitLog.read(spark, t, Some(5L)).count() == 6L)
    assert(CommitLog.orphanFiles(t, 0L).toSet.intersect(appended).isEmpty)
    assert(CommitLog.vacuum(t, 12L, orphanMinAgeMs = 0L).isEmpty)
    assert(CommitLog.read(spark, t, Some(5L)).as[Long].collect().sorted.toSeq == (1L to 6L))
    // a window that starts past v9 retains none of them
    assert(CommitLog.vacuumable(t, 1L).toSet == appended)
    assert(CommitLog.read(spark, t).as[Long].collect().sorted.toSeq == (1L to 10L))
  }
}
