package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CommitLog

/** Golden bytes of the commit-log format: one commit carrying every
  * action kind, on top of a genesis commit, plus the checkpoint folded
  * at that version, compared byte-for-byte with literal expected files.
  * The log is driven through [[CommitLog.tryCommit]] directly with
  * synthetic file names and base64 payloads, so no Spark session runs. */
class CommitLogFormatSpec extends AnyFunSuite {

  private def logFile(t: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(t, "_graft_log", name)), "UTF-8")

  test("commit and checkpoint bodies match the golden bytes for every action kind") {
    val t = Files.createTempDirectory("graft_cl_golden").toString
    assert(CommitLog.tryCommit(t, 0L, Seq("a.parquet", "b.parquet"), Nil,
      txn = Some("app1" -> 3L), meta = Some("bWV0YTA="),
      addStats = Map("b.parquet" -> "c3RhdHM="), ctsMillis = Some(1000L),
      dvs = Seq("a-dv.parquet" -> "a.parquet"),
      constraints = Seq("c_old" -> "eDE=", "c_keep" -> "eDM="),
      gencols = Seq("g_old" -> "eTE=")))
    assert(CommitLog.tryCommit(t, 1L, Seq("c.parquet", "d.parquet"), Seq("b.parquet"),
      txn = Some("app2" -> 4L), meta = Some("bWV0YTE="),
      addStats = Map("d.parquet" -> "c3Q="), ctsMillis = Some(900L),
      dvs = Seq("c-dv.parquet" -> "c.parquet"), dvRms = Seq("a.parquet"),
      constraints = Seq("c_new" -> "eDI="), constraintRms = Seq("c_old"),
      gencols = Seq("g_new" -> "eTI="), gencolRms = Seq("g_old")))
    assert(CommitLog.checkpoint(t, 1L) == 1L)

    assert(logFile(t, "00000000000000000000.json") ==
      """{"cts":1000}
        |{"meta":{"schemaB64":"bWV0YTA="}}
        |{"txn":{"app":"app1","version":3}}
        |{"constraint":{"name":"c_old","exprB64":"eDE="}}
        |{"constraint":{"name":"c_keep","exprB64":"eDM="}}
        |{"gencol":{"name":"g_old","exprB64":"eTE="}}
        |{"dv":{"path":"a-dv.parquet","target":"a.parquet"}}
        |{"add":"a.parquet"}
        |{"add":{"path":"b.parquet","statsB64":"c3RhdHM="}}
        |""".stripMargin)
    assert(logFile(t, "00000000000000000001.json") ==
      """{"cts":900}
        |{"meta":{"schemaB64":"bWV0YTE="}}
        |{"txn":{"app":"app2","version":4}}
        |{"remove":"b.parquet"}
        |{"constraintrm":"c_old"}
        |{"constraint":{"name":"c_new","exprB64":"eDI="}}
        |{"gencolrm":"g_old"}
        |{"gencol":{"name":"g_new","exprB64":"eTI="}}
        |{"dvrm":"a.parquet"}
        |{"dv":{"path":"c-dv.parquet","target":"c.parquet"}}
        |{"add":"c.parquet"}
        |{"add":{"path":"d.parquet","statsB64":"c3Q="}}
        |""".stripMargin)
    // the checkpoint folds 0..1: the cts running max, the newest meta,
    // one txn line per app, the live constraints/gencols/dvs and the
    // live files in first-added order, stats riding their adds
    assert(logFile(t, "00000000000000000001.checkpoint.json") ==
      """{"cpv":2}
        |{"cts":1000}
        |{"meta":{"schemaB64":"bWV0YTE="}}
        |{"txn":{"app":"app1","version":3}}
        |{"txn":{"app":"app2","version":4}}
        |{"constraint":{"name":"c_keep","exprB64":"eDM="}}
        |{"constraint":{"name":"c_new","exprB64":"eDI="}}
        |{"gencol":{"name":"g_new","exprB64":"eTI="}}
        |{"dv":{"path":"c-dv.parquet","target":"c.parquet"}}
        |{"add":"a.parquet"}
        |{"add":"c.parquet"}
        |{"add":{"path":"d.parquet","statsB64":"c3Q="}}
        |""".stripMargin)
  }
}
