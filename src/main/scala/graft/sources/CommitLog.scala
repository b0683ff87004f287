package graft.sources

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or => COr}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LogicalFilter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Minimal on-disk COMMIT-LOG table format — the transaction-log
  * artifact the reference gets from Delta (delta_bronze.py:27-33 installs
  * `DeltaSparkSessionExtension`; combine_files.py / gold.py /
  * train_model.py write `format("delta")`), owned rather than emulated:
  * [[graft.operators.Cdc]] / [[graft.operators.VacuumPlan]] provide the
  * QUERY semantics (MERGE, VERSION AS OF, SCD2, vacuum report) over a
  * synthetic change log; this provides the STORAGE protocol those
  * semantics run against in a lakehouse — atomic versioned commits over
  * immutable parquet, snapshot-isolated reads, optimistic conflict
  * detection, retention-bounded vacuum, and a derived row-level change
  * feed.
  *
  * Layout (the Delta-lake shape, public design):
  * {{{
  *   <table>/<uuid>-part-NNNNN.parquet   immutable data files
  *   <table>/_graft_log/<v%020d>.json    one commit per version, v = 0..
  * }}}
  * A commit file is JSON LINES, one action per line (the 13 line kinds
  * are listed at [[encode]], the one codec). Table state at version v =
  * [[fold]] of commits 0..v; data files are never mutated, so a reader
  * that resolved its file list at version v is isolated from every
  * later commit (and from vacuum, as long as v is inside the retention
  * window).
  *
  * CONCURRENCY: the exclusivity primitive is a hard link. A writer
  * writes the whole commit body to a temp file in `_graft_log`, then
  * publishes it with `Files.createLink(<v>.json, temp)`, which fails if
  * `<v>.json` exists — exactly one writer can publish each version, so
  * version numbers are totally ordered with no coordinator, and a
  * reader never sees a partial body: a crash before the link leaves
  * only an unpublished temp file (never named `*.json`, so no reader
  * looks at it). An object-store deployment would swap in a
  * put-if-absent — same protocol, different primitive (the Delta
  * log-store contract). Appends commute, so [[append]] retries blindly
  * at the next version.
  * [[replaceFiles]] (the copy-on-write half of MERGE/compaction) is
  * SERIALIZABLE: it commits at exactly `readVersion + 1` or reports a
  * [[Conflict]] — the caller re-reads the new snapshot and recomputes,
  * the Delta optimistic-retry loop.
  *
  * SCALE: the log is O(commits) tiny JSON files — state reconstruction
  * is a driver-side fold over file NAMES, never data; data-file listing
  * is explicit in the log (no directory scans over 100 TB of parquet);
  * reads hand Spark a closed file list so partition pruning and column
  * pruning work unchanged. Log growth is handled by [[checkpoint]]
  * (the Delta `_checkpoint` design): a checkpoint materializes the
  * folded state at a version, and [[snapshot]] replays only the commit
  * suffix past the newest checkpoint — O(suffix) per read instead of
  * O(commits).
  */
object CommitLog {

  /** One commit's actions, already parsed — the only action type: a
    * commit file, a checkpoint body and [[tryCommit]]'s arguments all
    * go through [[encode]]/[[decode]] as one of these. `txns` carries the
    * idempotent-writer watermarks recorded by [[appendIdempotent]]
    * (Delta's txnAppId/txnVersion design, public); `meta` the
    * base64-encoded schema JSON recorded by [[evolveSchema]] (Delta's
    * metaData action, public); `addStats` per-added-file column stats
    * (base64 JSON — Delta's add-action `stats` field, public design;
    * round 15); `ctsMillis` the commit's own wall timestamp recorded IN
    * the action lines (round 15 — deterministic under file copy, unlike
    * Delta's legacy mtime fallback); `dvs` deletion-vector attachments
    * (dv file, target data file) — the merge-on-read DELETE actions
    * (round 16); `dvRms` explicit DV clears (restore re-emitting an
    * older version's DV state). */
  case class Commit(version: Long, adds: Vector[String], removes: Vector[String],
                    txns: Vector[(String, Long)] = Vector.empty,
                    meta: Option[String] = None,
                    addStats: Map[String, String] = Map.empty,
                    ctsMillis: Option[Long] = None,
                    dvs: Vector[(String, String)] = Vector.empty,
                    dvRms: Vector[String] = Vector.empty,
                    constraints: Vector[(String, String)] = Vector.empty,
                    constraintRms: Vector[String] = Vector.empty,
                    gencols: Vector[(String, String)] = Vector.empty,
                    gencolRms: Vector[String] = Vector.empty)

  /** A serializable rewrite lost the race: someone committed
    * `actualLatest` ≥ the version this writer needed. */
  case class Conflict(attempted: Long, actualLatest: Long)

  private def logDir(table: String): Path = Paths.get(table, "_graft_log")
  private def commitFile(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.json")

  // ------------------------------------------------- the action codec

  /** Checkpoint format version. v2 (round 14) checkpoints are COMPLETE:
    * a v2 checkpoint is the whole folded [[Snapshot]] at its version
    * (the Delta checkpoint design — its checkpoints carry txn and
    * metaData actions, public), marked with a `{"cpv":2}` header line,
    * so every reader can STOP at it: absence of a txn/meta/constraint
    * entry there means none exists at or below it. A checkpoint file
    * WITHOUT the header is a legacy adds-only snapshot; [[snapshot]]
    * folds from genesis past it (the old full-scan cost, never a wrong
    * answer). */
  val CheckpointFormatVersion = 2

  private val CpvRe = """\{"cpv":(\d+)\}""".r
  private val CtsRe = """\{"cts":(\d+)\}""".r
  private val MetaRe = """\{"meta":\{"schemaB64":"([A-Za-z0-9+/=]+)"\}\}""".r
  private val TxnRe = """\{"txn":\{"app":"([^"]+)","version":(\d+)\}\}""".r
  private val RemoveRe = """\{"remove":"([^"]+)"\}""".r
  private val ConstraintRmRe = """\{"constraintrm":"([A-Za-z0-9_]+)"\}""".r
  private val ConstraintRe =
    """\{"constraint":\{"name":"([A-Za-z0-9_]+)","exprB64":"([A-Za-z0-9+/=]+)"\}\}""".r
  private val GencolRmRe = """\{"gencolrm":"([A-Za-z0-9_]+)"\}""".r
  private val GencolRe =
    """\{"gencol":\{"name":"([A-Za-z0-9_]+)","exprB64":"([A-Za-z0-9+/=]+)"\}\}""".r
  private val DvRmRe = """\{"dvrm":"([^"]+)"\}""".r
  private val DvRe = """\{"dv":\{"path":"([^"]+)","target":"([^"]+)"\}\}""".r
  private val AddRe = """\{"add":"([^"]+)"\}""".r
  private val AddStatsRe =
    """\{"add":\{"path":"([^"]+)","statsB64":"([A-Za-z0-9+/=]+)"\}\}""".r

  /** The one renderer of action lines, for commit and checkpoint bodies
    * alike. The 13 line kinds, in the order a body carries them:
    * {{{
    *   {"cpv":2}                                           checkpoint header
    *   {"cts":<millis>}                                    commit timestamp
    *   {"meta":{"schemaB64":"<b64>"}}                      schema JSON
    *   {"txn":{"app":"<app>","version":<n>}}               writer watermark
    *   {"remove":"<file>"}
    *   {"constraintrm":"<name>"}
    *   {"constraint":{"name":"<name>","exprB64":"<b64>"}}  CHECK predicate
    *   {"gencolrm":"<name>"}
    *   {"gencol":{"name":"<name>","exprB64":"<b64>"}}      generation expr
    *   {"dvrm":"<file>"}                                   clear file's DV
    *   {"dv":{"path":"<dv file>","target":"<file>"}}       attach a DV
    *   {"add":"<file>"}
    *   {"add":{"path":"<file>","statsB64":"<b64>"}}        add + column stats
    * }}}
    * A checkpoint's `cts` is the running max over the versions it
    * folds, and it carries no remove or clear lines. Names go in
    * unescaped ([[requireSafeName]], `[A-Za-z0-9_]+`) and every payload
    * is base64, so one line pattern per kind is the whole grammar
    * ([[decode]]). */
  private def encode(c: Commit): Seq[String] =
    c.ctsMillis.map(ms => s"""{"cts":$ms}""").toSeq ++
      c.meta.map(b64 => s"""{"meta":{"schemaB64":"$b64"}}""") ++
      c.txns.map { case (app, v) => s"""{"txn":{"app":"$app","version":$v}}""" } ++
      c.removes.map(f => s"""{"remove":"$f"}""") ++
      c.constraintRms.map(n => s"""{"constraintrm":"$n"}""") ++
      c.constraints.map { case (n, b64) =>
        s"""{"constraint":{"name":"$n","exprB64":"$b64"}}""" } ++
      c.gencolRms.map(n => s"""{"gencolrm":"$n"}""") ++
      c.gencols.map { case (n, b64) => s"""{"gencol":{"name":"$n","exprB64":"$b64"}}""" } ++
      c.dvRms.map(t => s"""{"dvrm":"$t"}""") ++
      c.dvs.map { case (p, t) => s"""{"dv":{"path":"$p","target":"$t"}}""" } ++
      c.adds.map(f => c.addStats.get(f) match {
        case Some(b64) => s"""{"add":{"path":"$f","statsB64":"$b64"}}"""
        case None => s"""{"add":"$f"}"""
      })

  /** Parse one body's lines into `version`'s actions, FAILING LOUDLY on
    * anything that matches no action pattern — a malformed or
    * future-extended line must not yield a silently wrong snapshot (the
    * commits() contract). Blank lines are tolerated (every writer ends
    * the file with \n). */
  private def decode(version: Long, lines: Iterable[String], where: Path): Commit =
    lines.foldLeft(Commit(version, Vector.empty, Vector.empty)) {
      case (c, CtsRe(ms)) => c.copy(ctsMillis = Some(ms.toLong))
      case (c, MetaRe(b64)) => c.copy(meta = Some(b64))
      case (c, TxnRe(app, v)) => c.copy(txns = c.txns :+ (app -> v.toLong))
      case (c, RemoveRe(f)) => c.copy(removes = c.removes :+ f)
      case (c, ConstraintRmRe(n)) => c.copy(constraintRms = c.constraintRms :+ n)
      case (c, ConstraintRe(n, b64)) => c.copy(constraints = c.constraints :+ (n -> b64))
      case (c, GencolRmRe(n)) => c.copy(gencolRms = c.gencolRms :+ n)
      case (c, GencolRe(n, b64)) => c.copy(gencols = c.gencols :+ (n -> b64))
      case (c, DvRmRe(t)) => c.copy(dvRms = c.dvRms :+ t)
      case (c, DvRe(p, t)) => c.copy(dvs = c.dvs :+ (p -> t))
      case (c, AddRe(f)) => c.copy(adds = c.adds :+ f)
      case (c, AddStatsRe(f, b64)) =>
        c.copy(adds = c.adds :+ f, addStats = c.addStats + (f -> b64))
      case (c, l) if l.trim.isEmpty => c
      case (_, l) => throw new IllegalStateException(
        s"unparseable action line in $where: '$l'")
    }

  /** A checkpoint body: the `cpv` header, then the snapshot's actions. */
  private def encodeCheckpoint(s: Snapshot): Seq[String] =
    s"""{"cpv":$CheckpointFormatVersion}""" +: encode(s.asCommit)

  /** A checkpoint body back to its actions; None for a legacy
    * checkpoint (no `cpv` header). A checkpoint holds folded state, so a
    * remove or clear line in one is corruption. */
  private def decodeCheckpoint(v: Long, lines: Seq[String], where: Path): Option[Commit] =
    if (!lines.exists(CpvRe.matches)) None
    else {
      val c = decode(v, lines.filterNot(CpvRe.matches), where)
      require(c.removes.isEmpty, s"checkpoint $where contains removes")
      require(c.dvRms.isEmpty, s"checkpoint $where contains dv clears")
      require(c.constraintRms.isEmpty, s"checkpoint $where contains constraint drops")
      require(c.gencolRms.isEmpty, s"checkpoint $where contains gencol drops")
      Some(c)
    }

  /** Data-file names are embedded in JSON string literals without
    * escaping; [[stage]] generates uuid-part-NNNNN names so this never
    * fires in normal operation — it guards a hand-built commit. */
  private def requireSafeName(f: String): Unit =
    require(!f.exists(c => c == '"' || c == '\\' || c < ' '),
      s"data file name contains a JSON-breaking character: '$f'")

  // ------------------------------------------------- the snapshot fold

  /** Table state folded over commits 0..version: live files in
    * first-added order with their stats payload, live deletion vectors
    * (target → dv file), per-app txn watermarks (max per app —
    * [[appendIdempotent]] requires per-app monotonicity, so max =
    * latest), the newest schema meta, live CHECK constraints and
    * generated columns (name → base64 SQL), and the running max of the
    * commit timestamps (−1 before any). A v2 checkpoint is this value,
    * encoded. */
  private case class Snapshot(version: Long = -1L,
                              files: VectorMap[String, Option[String]] = VectorMap.empty,
                              dvs: VectorMap[String, String] = VectorMap.empty,
                              txns: VectorMap[String, Long] = VectorMap.empty,
                              meta: Option[String] = None,
                              constraints: VectorMap[String, String] = VectorMap.empty,
                              gencols: VectorMap[String, String] = VectorMap.empty,
                              ctsMax: Long = -1L) {
    def live: Vector[String] = files.keys.toVector
    def schema: Option[StructType] = meta.map(decodeSchema)
    def txn(app: String): Long = txns.getOrElse(app, -1L)
    def asCommit: Commit = Commit(version, live, Vector.empty,
      txns.toVector, meta, files.collect { case (f, Some(st)) => f -> st },
      Some(ctsMax).filter(_ >= 0), dvs.toVector.map(_.swap),
      constraints = constraints.toVector, gencols = gencols.toVector)
  }

  /** Apply one commit: removes, then adds (both clear the file's DV),
    * then DV attachments (the newest per target wins), then DV clears. */
  private def fold(s: Snapshot, c: Commit): Snapshot = Snapshot(c.version,
    files = c.adds.foldLeft(s.files -- c.removes)((m, f) => m.updated(f, c.addStats.get(f))),
    dvs = s.dvs -- c.removes -- c.adds ++ c.dvs.map(_.swap) -- c.dvRms,
    txns = c.txns.foldLeft(s.txns) { case (m, (app, tv)) =>
      m.updated(app, math.max(m.getOrElse(app, -1L), tv)) },
    meta = c.meta.orElse(s.meta),
    constraints = s.constraints ++ c.constraints -- c.constraintRms,
    gencols = s.gencols ++ c.gencols -- c.gencolRms,
    ctsMax = c.ctsMillis.fold(s.ctsMax)(math.max(s.ctsMax, _)))

  /** The folded state at `asOf` (empty below version 0): the newest
    * checkpoint ≤ asOf [[advance]]d to asOf — O(suffix) log reads. */
  private def snapshot(table: String, asOf: Long): Snapshot =
    advance(table, checkpointed(table, asOf), asOf)

  /** The newest checkpoint ≤ asOf when that one is complete (v2), else
    * the empty state before genesis. */
  private def checkpointed(table: String, asOf: Long): Snapshot =
    latestCheckpoint(table, asOf).flatMap(readCheckpoint(table, _))
      .fold(Snapshot())(fold(Snapshot(), _))

  /** `s` with the commits in `(s.version, to]` folded onto it. */
  private def advance(table: String, s: Snapshot, to: Long): Snapshot =
    replay(table, s, to).foldLeft(s)((_, next) => next)

  /** The state after each commit in `(s.version, to]`, in version
    * order, lazily: one commit file read per step taken. */
  private def replay(table: String, s: Snapshot, to: Long): Iterator[Snapshot] =
    ((s.version + 1) to to).iterator
      .scanLeft(s)((acc, v) => fold(acc, commits0(table, v))).drop(1)

  /** The snapshot at `asOf`, else at the head; loud on a table with no
    * commits. */
  private def pinned(table: String, asOf: Option[Long] = None): Snapshot = {
    val v = asOf.getOrElse(latestVersion(table))
    require(v >= 0, s"commit-log table $table has no commits")
    snapshot(table, v)
  }

  /** The state at the head, empty on a table with no commits — what a
    * write verb validates against and commits past. */
  private def latest(table: String): Snapshot = snapshot(table, latestVersion(table))

  /** A public reader's version argument: −2, its default, is the head. */
  private def orHead(table: String, asOf: Long): Long =
    if (asOf == -2L) latestVersion(table) else asOf

  /** Latest committed version, -1 for a table with no commits. */
  def latestVersion(table: String): Long = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) -1L
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && !n.endsWith(".checkpoint.json"))
        .map(_.stripSuffix(".json").toLong).foldLeft(-1L)(math.max)
      finally s.close()
    }
  }

  /** Commits 0..asOf, parsed. Missing commit file = corrupt/vacuumed-log
    * table → fail loudly. */
  def commits(table: String, asOf: Long): Seq[Commit] =
    (0L to asOf).map(commits0(table, _))

  private def commits0(table: String, v: Long): Commit = {
    val f = commitFile(table, v)
    decode(v, Files.readAllLines(f).asScala, f)
  }

  /** The version whose commit carries the txn action (appId,
    * txnVersion), walking BACKWARD one commit file per step — O(head)
    * file reads total (the recovery-walk primitive; r15 advice). None
    * when no commit at or below head carries it (e.g. the batch landed
    * before history was checkpointed away — callers treat that as the
    * watermark's word being final). */
  def versionOfTxn(table: String, appId: String, txnVersion: Long): Option[Long] = {
    val head = latestVersion(table)
    var v = head
    while (v >= 0) {
      val c =
        try commits0(table, v)
        catch {
          // the walk reached retired history (log retention physically
          // removed the commit file): the carrying commit predates it —
          // return None per the documented contract instead of crashing
          // the recovery path (r16 advice); callers treat the watermark's
          // word as final
          case _: java.nio.file.NoSuchFileException => return None
        }
      if (c.txns.exists {
        case (a, tv) => a == appId && tv == txnVersion }) return Some(v)
      v -= 1
    }
    None
  }

  /** Write `lines` to a fresh temp file in the log directory and hand it
    * to `publish`, which moves or links it into place. The temp name
    * never ends in `.json`, so no reader ever lists a partial body, and
    * it is gone afterwards either way. */
  private def viaTemp[A](table: String, lines: Seq[String])(publish: Path => A): A = {
    val tmp = logDir(table).resolve(s".tmp_${java.util.UUID.randomUUID()}")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW)
    try publish(tmp) finally Files.deleteIfExists(tmp)
  }

  // ------------------------------------------------- log checkpointing

  private def checkpointFile(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.checkpoint.json")

  /** Checkpoint versions at or below asOf, ascending. */
  private def checkpointVersions(table: String, asOf: Long): Vector[Long] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) Vector.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".checkpoint.json"))
        .map(_.stripSuffix(".checkpoint.json").toLong)
        .filter(_ <= asOf).toVector.sorted
      finally s.close()
    }
  }

  /** Latest checkpoint at or below asOf, if any. */
  private def latestCheckpoint(table: String, asOf: Long): Option[Long] =
    checkpointVersions(table, asOf).lastOption

  private def readCheckpoint(table: String, v: Long): Option[Commit] = {
    val f = checkpointFile(table, v)
    decodeCheckpoint(v, Files.readAllLines(f).asScala.toSeq, f)
  }

  /** Write a checkpoint of the folded state AT `version` — the log-
    * compaction growth path: after N commits, replaying N JSON files per
    * read is the bottleneck, so a checkpoint materializes the
    * [[Snapshot]] and readers replay only the suffix (the Delta
    * `_checkpoint` design). Everything the snapshot holds folds through —
    * live files with their stats (round 15, so data skipping survives
    * log compaction), txn watermarks (so a long-running idempotent sink
    * is O(1) per batch once anyone checkpoints), the schema, the cts
    * running max (round 16 — TIMESTAMP AS OF is a left fold too), DVs
    * (round 16 — a checkpointed table must not resurrect merge-on-read
    * deletes) and constraints and generated columns (round 17 —
    * enforcement must survive log compaction). Safe to write at any time
    * by anyone — it duplicates derivable state, so a torn/competing
    * checkpoint write can at worst be ignored; correctness never depends
    * on it (tryCommit's link stays the only coordination point). */
  def checkpoint(table: String, version: Long = -1L): Long = {
    val v = if (version >= 0) version else latestVersion(table)
    require(v >= 0, s"commit-log table $table has no commits")
    viaTemp(table, encodeCheckpoint(snapshot(table, v)))(tmp =>
      Files.move(tmp, checkpointFile(table, v),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    v
  }

  /** Data files live at version asOf, in first-added order — O(suffix)
    * past the newest checkpoint ([[snapshot]]). */
  def liveFiles(table: String, asOf: Long): Seq[String] =
    snapshot(table, asOf).live

  /** Live (file, statsB64) pairs at version asOf — the data-skipping
    * read's input ([[readWhere]]); a file whose add carried no stats
    * maps to None and is never pruned. */
  def liveAdds(table: String, asOf: Long): Seq[(String, Option[String])] =
    snapshot(table, asOf).files.toVector

  /** Live deletion-vector attachments at `asOf`: data file → its
    * CURRENT dv file (the newest dv action wins; a remove/re-add/dvrm
    * of the target clears it). */
  def liveDvs(table: String, asOf: Long): Map[String, String] =
    snapshot(table, asOf).dvs.toMap

  // ------------------------------------------------- schema evolution

  /** SCHEMA EVOLUTION (round 13) — the ADD COLUMN half of Delta's
    * metaData action, owned: commit the table's new schema as a
    * metadata-only action (base64 of the Spark schema JSON, so the
    * line-regex log format stays closed). Data files are untouched —
    * files written BEFORE the evolution simply lack the new columns and
    * read back as NULLs under the evolved schema, files written after
    * carry them; a read AT an old version reconstructs THAT version's
    * schema (schema changes are versioned like file changes, so old
    * snapshots are bit-for-bit unchanged). Widening-only by contract
    * (ADD COLUMN / relaxed nullability — the evolutions parquet can
    * serve without rewriting data — and VALIDATED since round 14, see
    * below); a rename or drop goes through [[renameColumn]] /
    * [[dropColumn]] (round 14): copy-on-write + metadata in one commit,
    * same as Delta without column mapping. */
  def evolveSchema(table: String,
                   schema: org.apache.spark.sql.types.StructType,
                   maxRetries: Int = 50,
                   baseline: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    // WIDENING-ONLY is now VALIDATED, not just documented (r13 advice):
    // the new schema must be a superset by field name+type of the
    // table's current committed schema (or the caller-supplied
    // `baseline` — e.g. the written frame's schema, for the first
    // evolution on a table that never committed one); nullability may
    // only relax. A rename or drop silently passing here would make
    // spark.read.schema silently NULL the old column's data — against
    // the fail-loud log-format convention; [[renameColumn]] /
    // [[dropColumn]] are the sanctioned copy-on-write path for those.
    baseline.orElse(latest(table).schema).foreach { cur =>
      val newByName = schema.fields.map(f => f.name -> f).toMap
      cur.fields.foreach { old =>
        val nf = newByName.getOrElse(old.name, throw new IllegalArgumentException(
          s"evolveSchema is widening-only: column '${old.name}' missing from the " +
            s"new schema on $table (use renameColumn/dropColumn for copy-on-write)"))
        require(nf.dataType == old.dataType,
          s"evolveSchema is widening-only: column '${old.name}' changes type " +
            s"${old.dataType.simpleString} -> ${nf.dataType.simpleString} on $table")
        require(nf.nullable || !old.nullable,
          s"evolveSchema cannot tighten nullability of '${old.name}' on $table")
      }
    }
    val b64 = java.util.Base64.getEncoder
      .encodeToString(schema.json.getBytes("UTF-8"))
    commitNext(table, "evolveSchema", maxRetries)(
      tryCommit(table, _, Nil, Nil, meta = Some(b64)))._1
  }

  /** Blind retry: commit at the first free version past the head, moving
    * on after each lost race. Returns the version and the races lost. */
  private def commitNext(table: String, verb: String, maxRetries: Int)
                        (commitAt: Long => Boolean): (Long, Int) = {
    var v = latestVersion(table) + 1
    var tries = 0
    while (!commitAt(v)) {
      tries += 1
      require(tries <= maxRetries, s"$verb lost $maxRetries commit races on $table")
      v = math.max(v + 1, latestVersion(table) + 1)
    }
    (v, tries)
  }

  /** Serializable commit: at exactly `v`, or the [[Conflict]]. */
  private def commitExactly(table: String, v: Long)
                           (commitAt: Long => Boolean): Either[Conflict, Long] =
    if (commitAt(v)) Right(v) else Left(Conflict(v, latestVersion(table)))

  /** `res`, after deleting the `staged` files when it lost the race — no
    * commit references them, so retry loops would leak them (vacuum's
    * orphan sweep is the backstop for a writer that crashes first). */
  private def cleaningUp(table: String, staged: Seq[String])
                        (res: Either[Conflict, Long]): Either[Conflict, Long] = {
    if (res.isLeft) staged.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
    res
  }

  private def decodeSchema(b64: String): org.apache.spark.sql.types.StructType = {
    val json = new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** The table's schema AS OF a version: the newest metadata action at
    * or below it, O(suffix) past the newest checkpoint ([[snapshot]]).
    * None = no evolution ever committed; readers then take the parquet
    * footers' word as before. */
  def schemaAt(table: String, asOf: Long = -2L)
      : Option[org.apache.spark.sql.types.StructType] =
    snapshot(table, orHead(table, asOf)).schema

  /** Snapshot-isolated read. `asOf = None` pins the latest version AT
    * CALL TIME — the returned frame never sees later commits. When the
    * version has a committed schema ([[evolveSchema]]), the read is
    * served under IT: pre-evolution files surface the added columns as
    * NULLs, and a read at a pre-evolution version sees exactly the old
    * schema. */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame = {
    val s = pinned(table, asOf)
    readAt(spark, table, s, s.schema)
  }

  /** TIMESTAMP AS OF resolution (round 15 — the r14 verdict's #3 order):
    * the last version whose MONOTONIZED commit timestamp is at or before
    * `tsMillis` — Delta's public time-travel design. Timestamps come from
    * the commit's OWN `{"cts":…}` action line (recorded by [[tryCommit]]
    * since round 15 — deterministic under file copy/rsync, unlike a
    * file-mtime fallback), and are monotonized by a running max over the
    * version order: wall clocks on concurrent writers can run backwards,
    * version numbers cannot, so a commit stamped earlier than its
    * predecessor resolves AS IF at the predecessor's instant (Delta
    * adjusts in-commit timestamps the same way). A legacy commit with no
    * cts line inherits the running max (same instant as its
    * predecessor). Fails loudly on a timestamp before the first commit —
    * there is no table state to serve there (the Delta contract).
    *
    * O(commits since the newest COMPLETE checkpoint) tiny log-file reads
    * (round 16 — the monotonized cts is the snapshot's `ctsMax`, a left
    * fold v2 checkpoints carry): when the checkpoint's cts-max is at or
    * before the probe, every version ≤ cp resolves and the scan
    * [[replay]]s from cp, stopping at the first version past the probe.
    * A probe BEFORE the checkpoint's cts-max needs the pre-checkpoint
    * commit files — on a table whose early history was physically
    * retired (the Delta log-retention analog) that resolution fails with
    * a targeted error instead of a raw missing-file read. */
  def versionAtTimestamp(table: String, tsMillis: Long): Long =
    atTimestamp(table, tsMillis).version

  /** The state at [[versionAtTimestamp]]'s version. */
  private def atTimestamp(table: String, tsMillis: Long): Snapshot = {
    val head = latestVersion(table)
    require(head >= 0, s"commit-log table $table has no commits")
    val cp = checkpointed(table, head)
    val start = if (cp.ctsMax <= tsMillis) cp else Snapshot()
    val found =
      try replay(table, start, head).takeWhile(_.ctsMax <= tsMillis).foldLeft(start)((_, s) => s)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          val v = Paths.get(e.getFile).getFileName.toString.stripSuffix(".json").toLong
          throw new IllegalStateException(
            s"TIMESTAMP AS OF $tsMillis on $table needs commit file $v, " +
              "which has been retired (log retention): resolution below " +
              "the newest checkpoint's cts requires the full commit " +
              "history", e)
      }
    require(found.version >= 0,
      s"timestamp $tsMillis predates the first commit of $table")
    found
  }

  /** Snapshot read at the version [[versionAtTimestamp]] resolves —
    * `SELECT … TIMESTAMP AS OF`. */
  def readAtTimestamp(spark: SparkSession, table: String,
                      tsMillis: Long): DataFrame = {
    val s = atTimestamp(table, tsMillis)
    readAt(spark, table, s, s.schema)
  }

  /** `s`'s live files read under `schema`, deletion vectors applied. */
  private def readAt(spark: SparkSession, table: String, s: Snapshot,
                     schema: Option[StructType]): DataFrame =
    applyDvs(spark, table, frame(spark, table, s.live, schema), s.dvs)

  /** A frame over the table's data `files` under `schema` — a verb that
    * already resolved its read schema ([[pruned]]) passes it, so no read
    * reads a footer twice — else under the first file's footer
    * ([[ParquetFooter.footerSchema]], the file Spark's non-merging
    * inference would read, without its Spark job); no files gives an
    * empty frame of `schema`. */
  private def frame(spark: SparkSession, table: String, files: Seq[String],
                    schema: Option[StructType]): DataFrame = {
    val paths = files.map(f => Paths.get(table, f).toString)
    (paths.isEmpty, schema) match {
      case (true, Some(s)) => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      case (true, None) => spark.emptyDataFrame
      case (false, s) => spark.read
        .schema(s.getOrElse(ParquetFooter.footerSchema(spark, paths.head)))
        .parquet(paths: _*)
    }
  }

  private def baseName(f: String): String =
    f.substring(f.lastIndexOf('/') + 1)

  /** The schema of every deletion-vector sidecar [[stageDvs]] writes:
    * (target data-file basename, parquet row position). */
  private[graft] val DvSchema: StructType = StructType.fromDDL("target STRING, pos LONG")

  /** MERGE-ON-READ filter (round 16 — Delta's deletion-vector read
    * path, public design): rows whose (data-file, row position) is
    * marked by the file's CURRENT deletion vector are dropped. Zero
    * plan change when the snapshot carries no DVs (the overwhelmingly
    * common case); with DVs, rows tag their file basename + parquet
    * `_metadata.row_index` (stable — data files are immutable) and
    * LEFT ANTI join the dv row set, restricted to CURRENT
    * (dvfile, target) attachments so superseded dv files in the same
    * directory can never double-apply. Basename matching throughout, so
    * cloned-in external references work unchanged. */
  private def applyDvs(spark: SparkSession, table: String, df: DataFrame,
                       dvs: Map[String, String]): DataFrame = {
    if (dvs.isEmpty) return df
    val dvPaths = dvs.values.toSeq.distinct
      .map(p => Paths.get(table, p).toString)
    val current = dvs.map { case (t, p) => s"${baseName(p)}|${baseName(t)}" }
      .toSeq
    val dvDf = spark.read.schema(DvSchema).parquet(dvPaths: _*)
      .withColumn("_graft_dvf",
        element_at(split(input_file_name(), "/"), -1))
      .filter(concat(col("_graft_dvf"), lit("|"), col("target"))
        .isin(current: _*))
      .select(col("target").as("_graft_dv_t"), col("pos").as("_graft_dv_p"))
    df.withColumn("_graft_dv_f",
        element_at(split(input_file_name(), "/"), -1))
      .withColumn("_graft_dv_pos", col("_metadata.row_index"))
      .join(dvDf, col("_graft_dv_f") === col("_graft_dv_t") &&
        col("_graft_dv_pos") === col("_graft_dv_p"), "left_anti")
      .drop("_graft_dv_f", "_graft_dv_pos")
  }

  // ---------------------------------------- data-skipping file stats

  /** Columns eligible for per-file min/max stats: primitive totally-
    * ordered types whose JSON round trip is engine-exact, with names the
    * unquoted field-access path can carry. Timestamps joined in round 16
    * — NOT as JSON timestamp text (session-timezone-dependent, and a
    * stats round-trip mismatch must never mis-prune) but encoded as
    * integer epoch-MICROS in the payload (the repo's §6 integer-µs
    * parity rule applied to metadata): min/max are written through
    * `unix_micros`, [[statsStruct]] reads the fields as LongType, and
    * [[possibleCol]] lowers a TimestampType literal to its micros value
    * (Catalyst already stores it as one) — a time-band predicate over an
    * events-class table prunes on pure integer compares. */
  private def statsEligible(f: StructField): Boolean =
    (f.dataType match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | BooleanType | StringType | DateType |
           org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }) && !f.name.exists(c => c == '.' || c == '`')

  /** String-stats prefix bound (round 16 — the r15 weak finding;
    * Delta's own public truncation design): a full-column string min/max
    * would embed two whole document texts per file into the commit JSON
    * — the log would carry the corpus's lexicographic extremes through
    * every fold, forever. Bounded instead at [[StringStatsPrefix]] code
    * points: min = the 32-cp prefix of the true min (a prefix is ≤ every
    * value the file holds — a valid lower bound), max = the 32-cp prefix
    * of the true max with its last code point INCREMENTED (sharing the
    * first k−1 code points and exceeding at position k, it is > every
    * value extending the prefix — a valid upper bound), so every
    * [[possibleCol]] condition stays NECESSARY and the add action is
    * O(1) per column regardless of text length. A prefix whose every
    * code point is U+10FFFF cannot be incremented — its max stat is NULL
    * and the file is simply never pruned on that column (sound: NULL
    * stats coalesce to keep). */
  val StringStatsPrefix = 32

  /** `s` truncated to ≤ [[StringStatsPrefix]] code points with the last
    * incrementable code point bumped — the UPPER-bound half of the
    * truncation design. Works in code points (UTF-8 byte order == code
    * point order, the comparison both engines use); an increment landing
    * in the surrogate gap jumps to U+E000 (still strictly greater); a
    * U+10FFFF tail is dropped and the previous code point incremented;
    * all-U+10FFFF yields None (no sound bound exists at this width). */
  private[graft] def incrementedPrefix(s: String): Option[String] = {
    val all = s.codePoints().toArray
    val cps = all.take(StringStatsPrefix)
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        var next = cps(i) + 1
        if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
        val out = cps.take(i) :+ next
        return Some(new String(out, 0, out.length))
      }
      i -= 1
    }
    None
  }

  /** Per-file stats for just-staged files — ONE aggregation over the new
    * files only (never the table), grouped by physical file: row count,
    * per-eligible-column min/max, and the null census. Payload is the
    * Delta add-stats shape `{"n":…,"min":{…},"max":{…},"nulls":{…}}`,
    * base64-wrapped so the line-regex log format stays closed (the
    * schema-meta convention). */
  def statsFor(spark: SparkSession, table: String,
               files: Seq[String]): Map[String, String] = {
    if (files.isEmpty) return Map.empty
    val df = frame(spark, table, files, None)
    val eligible = df.schema.fields.filter(statsEligible)
    val cols = eligible.map(_.name).toSeq
    if (cols.isEmpty) return Map.empty
    val strCols = eligible.collect {
      case f if f.dataType == StringType => f.name }.toSet
    // per-type stat encodings (see statsEligible / StringStatsPrefix):
    // strings are bounded IN-ENGINE — min to its 32-cp prefix (already a
    // valid lower bound), max to a 40-cp TRANSPORT prefix (wide enough
    // that "longer than 32 cps" is decidable driver-side, where the
    // code-point increment runs) — so the agg/shuffle/collect never
    // carries full document texts; timestamps encode as epoch-micros
    def minE(f: StructField): Column = f.dataType match {
      case StringType =>
        substring(min(col(s"`${f.name}`")), 1, StringStatsPrefix)
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(min(col(s"`${f.name}`")))
      case _ => min(col(s"`${f.name}`"))
    }
    def maxE(f: StructField): Column = f.dataType match {
      case StringType =>
        substring(max(col(s"`${f.name}`")), 1, StringStatsPrefix + 8)
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(max(col(s"`${f.name}`")))
      case _ => max(col(s"`${f.name}`"))
    }
    val aggs = count(lit(1)).as("n") +: eligible.toSeq.flatMap(f => Seq(
      minE(f).as(s"_min_${f.name}"), maxE(f).as(s"_max_${f.name}"),
      sum(when(col(s"`${f.name}`").isNull, 1L).otherwise(0L))
        .as(s"_nulls_${f.name}")))
    val per = df.withColumn("_graft_file", input_file_name())
      .groupBy("_graft_file").agg(aggs.head, aggs.tail: _*)
      .select(col("_graft_file").as("f"), to_json(struct(
        col("n"),
        struct(cols.map(c => col(s"`_min_$c`").as(c)): _*).as("min"),
        struct(cols.map(c => col(s"`_max_$c`").as(c)): _*).as("max"),
        struct(cols.map(c => col(s"`_nulls_$c`").as(c)): _*).as("nulls"))).as("js"))
      .collect()
    val enc = java.util.Base64.getEncoder
    per.flatMap { r =>
      val path = r.getString(0)
      files.find(f => path.endsWith("/" + f))
        .map(f => f -> enc.encodeToString(
          boundStringMax(r.getString(1), strCols).getBytes("UTF-8")))
    }.toMap
  }

  /** The driver-side half of the string-stats bound: any string max
    * field still longer than [[StringStatsPrefix]] code points (the
    * engine transported a wider prefix exactly so this is decidable)
    * is replaced by [[incrementedPrefix]] — or NULL when no bound
    * exists, which [[possibleCol]] soundly treats as keep. A payload
    * with no over-long string max passes through UNTOUCHED (byte-for-
    * byte — short-string tables keep their exact stats and their
    * pre-round-16 payloads). */
  private def boundStringMax(json: String, strCols: Set[String]): String = {
    if (strCols.isEmpty) return json
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val maxN = root.get("max") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => return json
    }
    val overlong = strCols.filter { c =>
      val v = maxN.get(c)
      v != null && v.isTextual && {
        val s = v.asText()
        s.codePointCount(0, s.length) > StringStatsPrefix
      }
    }
    if (overlong.isEmpty) return json
    overlong.foreach { c =>
      incrementedPrefix(maxN.get(c).asText()) match {
        case Some(u) => maxN.put(c, u)
        case None => maxN.putNull(c)
      }
    }
    mapper.writeValueAsString(root)
  }

  /** from_json schema for a stats payload under the READ schema: typed
    * min/max per eligible column + the null census. JSON fields absent
    * under this schema (written pre-evolution, or under an old name)
    * read NULL → never prune — forward/backward compatible across
    * evolutions by construction. */
  private def statsStruct(schema: StructType): StructType = {
    val el = schema.fields.filter(statsEligible)
      .map(f => StructField(f.name, f.dataType match {
        // timestamps are stored as epoch-micros longs (statsEligible doc)
        case org.apache.spark.sql.types.TimestampType => LongType
        case t => t
      }))
    StructType(Seq(
      StructField("n", LongType),
      StructField("min", StructType(el)),
      StructField("max", StructType(el)),
      StructField("nulls", StructType(el.map(f => StructField(f.name, LongType))))))
  }

  /** The predicate, resolved against `schema` by Spark's own analyzer
    * (a zero-row frame + filter, then the Filter node's condition) — so
    * the possible-match rewrite below sees AttributeReferences and typed
    * Literals, never unresolved names. */
  private def resolvedPredicate(spark: SparkSession, schema: StructType,
                                cond: Column): Option[Expression] = {
    val dummy = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    dummy.filter(cond).queryExecution.analyzed.collectFirst {
      case f: LogicalFilter => f.condition
    }
  }

  /** Possible-match rewrite of a resolved predicate into a Column over
    * the per-file stats frame (n, min, max, nulls): every node it
    * understands maps to a NECESSARY condition on (min, max, nulls) —
    * =, <, ≤, >, ≥, IN, IS [NOT] NULL over a plain column vs a literal,
    * AND/OR composition — and every other node (functions,
    * column-column comparisons, cast-wrapped columns, NOT, …) maps to
    * TRUE: unknown never prunes. NULL stats (stats-less file, all-null
    * column, post-rename payload) coalesce to TRUE the same way. */
  private def possibleCol(e: Expression, eligible: Set[String]): Column = {
    def attr(x: Expression): Option[String] = x match {
      case a: AttributeReference if eligible(a.name) => Some(a.name)
      case _ => None
    }
    def value(x: Expression): Option[Column] = x match {
      // ANY foldable expression (cast literal, timestamp_micros(...),
      // literal arithmetic) evaluates driver-side to its literal — the
      // same constant folding the optimizer would do; anything that
      // cannot evaluate here (e.g. a timezone-dependent cast with no
      // session) falls to None = keep, never mis-prunes
      case e if !e.isInstanceOf[Literal] && e.foldable =>
        scala.util.Try(Literal(e.eval(null), e.dataType)).toOption.flatMap(value)
      case l: Literal if l.value != null => l.dataType match {
        case StringType => Some(lit(l.value.toString))
        case LongType | IntegerType | ShortType | ByteType |
             DoubleType | FloatType | BooleanType => Some(lit(l.value))
        case DateType => Some(lit(
          java.time.LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong)))
        // a TimestampType literal's Catalyst value IS its epoch-micros
        // long — exactly the encoding the stats payload stores
        case org.apache.spark.sql.types.TimestampType =>
          Some(lit(l.value.asInstanceOf[Long]))
        case _ => None
      }
      case _ => None
    }
    def mn(c: String) = col("min").getField(c)
    def mx(c: String) = col("max").getField(c)
    def ok(c: Column) = coalesce(c, lit(true))
    // necessary condition for `l OP r`, trying both orientations
    def cmp(l: Expression, r: Expression)
           (fwd: (String, Column) => Column)
           (rev: (String, Column) => Column): Column =
      (attr(l), value(r)) match {
        case (Some(c), Some(v)) => ok(fwd(c, v))
        case _ => (attr(r), value(l)) match {
          case (Some(c), Some(v)) => ok(rev(c, v))
          case _ => lit(true)
        }
      }
    def eq(c: String, v: Column) = mn(c) <= v && mx(c) >= v
    e match {
      case CAnd(a, b) => possibleCol(a, eligible) && possibleCol(b, eligible)
      case COr(a, b) => possibleCol(a, eligible) || possibleCol(b, eligible)
      case EqualTo(a, b) => cmp(a, b)(eq)(eq)
      case EqualNullSafe(a, b) => cmp(a, b)(eq)(eq)
      case LessThan(a, b) => cmp(a, b)((c, v) => mn(c) < v)((c, v) => mx(c) > v)
      case LessThanOrEqual(a, b) =>
        cmp(a, b)((c, v) => mn(c) <= v)((c, v) => mx(c) >= v)
      case GreaterThan(a, b) => cmp(a, b)((c, v) => mx(c) > v)((c, v) => mn(c) < v)
      case GreaterThanOrEqual(a, b) =>
        cmp(a, b)((c, v) => mx(c) >= v)((c, v) => mn(c) <= v)
      case In(a, vs) =>
        (attr(a), vs.map(value)) match {
          case (Some(c), cols) if cols.forall(_.isDefined) && cols.nonEmpty =>
            cols.flatten.map(v => ok(eq(c, v))).reduce(_ || _)
          case _ => lit(true)
        }
      case IsNull(a) =>
        attr(a).map(c => ok(col("nulls").getField(c) > 0)).getOrElse(lit(true))
      case IsNotNull(a) =>
        attr(a).map(c => ok(col("nulls").getField(c) < col("n")))
          .getOrElse(lit(true))
      case _ => lit(true)
    }
  }

  /** The live files at `asOf` that can POSSIBLY contain a row matching
    * `cond`, per their committed stats — the data-skipping census
    * ([[readWhere]]'s file list, and the gate query's pruning evidence).
    * Stats-less files always survive. The decision evaluates over a
    * |live files|-row metadata frame — catalog-sized, the documented
    * driver-probe class; 100 TB of data files never move. */
  def prunedLiveFiles(spark: SparkSession, table: String, cond: Column,
                      asOf: Option[Long] = None): Seq[String] =
    pruned(spark, table, pinned(table, asOf), cond)._2

  /** [[prunedLiveFiles]] of `s`, with the read schema it pruned under:
    * `s`'s committed schema, else the first live file's footer — read
    * once here, and handed on to [[frame]] by every pruned read. */
  private def pruned(spark: SparkSession, table: String, s: Snapshot,
                     cond: Column): (Option[StructType], Seq[String]) = {
    val adds = s.files.toVector
    if (adds.isEmpty) return (s.schema, Nil)
    val schema = s.schema.getOrElse(
      ParquetFooter.footerSchema(spark, Paths.get(table, adds.head._1).toString))
    val eligible = schema.fields.filter(statsEligible).map(_.name).toSet
    val condE = resolvedPredicate(spark, schema, cond)
    if (eligible.isEmpty || condE.isEmpty) return (Some(schema), adds.map(_._1))
    val possible = possibleCol(condE.get, eligible)
    val dec = java.util.Base64.getDecoder
    import spark.implicits._
    val rows = adds.map { case (f, st) =>
      (f, st.map(b64 => new String(dec.decode(b64), "UTF-8")).orNull)
    }
    (Some(schema), rows.toDF("file", "js")
      .withColumn("st", from_json(col("js"), statsStruct(schema)))
      .select(col("file"), col("st.n").as("n"), col("st.min").as("min"),
        col("st.max").as("max"), col("st.nulls").as("nulls"))
      .filter(possible)
      .select("file").collect().map(_.getString(0)).toSeq)
  }

  /** Data-skipping snapshot read (round 15 — Delta's stats-based file
    * skipping, public design): resolve the version's live set, PRUNE it
    * with [[prunedLiveFiles]], and hand Spark only the surviving files;
    * the predicate itself still applies on top — pruning is an
    * optimization, never a semantic. Equivalent to
    * `read(...).filter(cond)` row-for-row (spec-pinned); at 100 TB a
    * selective predicate over a clustered layout
    * ([[compactClustered]]) reads the files it needs, not the table. */
  def readWhere(spark: SparkSession, table: String, cond: Column,
                asOf: Option[Long] = None): DataFrame = {
    val base = readPruned(spark, table, cond, asOf)
    if (base.columns.isEmpty) base else base.filter(cond)
  }

  /** OR over many disjuncts as a BALANCED tree — depth log₂ n instead
    * of n (round 17): a `reduce(_ || _)` left chain of a few hundred
    * band predicates overflows the column-conversion/analysis stack
    * long before it troubles the optimizer; the balanced shape keeps a
    * hundreds-of-bands probe a safe metadata decision. */
  def balancedOr(cs: Seq[Column]): Column = {
    require(cs.nonEmpty, "balancedOr of zero disjuncts")
    if (cs.size == 1) cs.head
    else balancedOr(cs.grouped(2).map {
      case Seq(a, b) => a || b
      case Seq(a) => a
    }.toSeq)
  }

  /** File-skipping read WITHOUT the residual row filter (round 17):
    * hands Spark exactly the files that can POSSIBLY match `cond` and
    * nothing else — a SUPERSET of `readWhere(cond)`'s rows
    * (necessary-condition semantics; `readPruned(cond).filter(cond)` is
    * row-identical to `readWhere(cond)`, spec-pinned). For a consumer
    * whose downstream operator already implies the predicate — an
    * equi-join on the pruned column, like the streaming maintainer's
    * gram-index probe — the row-level residual is pure waste (and a
    * many-band OR residual would blow past the codegen method limit
    * into interpreted per-row evaluation); the join discards the
    * non-matching rows anyway. Deletion vectors still apply. The frame
    * is served under the schema [[pruned]] resolved, so a table with no
    * committed schema reads one footer per call. */
  def readPruned(spark: SparkSession, table: String, cond: Column,
                 asOf: Option[Long] = None): DataFrame = {
    val s = pinned(table, asOf)
    val (schema, kept) = pruned(spark, table, s, cond)
    // every file pruned on a footer-schema table: zero rows of a parquet
    // read (limit 0 reads no row groups), whose fields read back nullable
    // as any parquet read's do — the footer may mark them REQUIRED
    val base =
      if (kept.isEmpty && s.schema.isEmpty) frame(spark, table, s.live.take(1), schema).limit(0)
      else frame(spark, table, kept, schema)
    // a DV'd file's stats describe a SUPERSET of its live rows (min/max
    // over pre-delete content) — pruning stays sound, merely less tight;
    // a frame over no kept file has no rows to drop, and no `_metadata`
    if (kept.isEmpty) base else applyDvs(spark, table, base, s.dvs)
  }

  // ------------------------------------------------ CHECK constraints

  /** Live CHECK constraints at `asOf`: name → SQL predicate text
    * (round 17 — Delta's public constraints surface, the enforcement
    * half of the expectations_report advisor). */
  def constraintsAt(table: String, asOf: Long = -2L): Map[String, String] =
    decodedSql(snapshot(table, orHead(table, asOf)).constraints)

  private def decodedSql(byName: VectorMap[String, String]): Map[String, String] =
    byName.map { case (n, b64) =>
      n -> new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
    }.toMap

  /** Enforce the table's live CHECK constraints on rows about to land
    * (the write-side half — Delta validates staged rows the same way).
    * ONE aggregation pass over the frame counts violations per
    * constraint (CHECK semantics: NULL passes, FALSE violates); any
    * violation fails LOUDLY with the per-constraint census before
    * anything stages. A predicate that no longer RESOLVES against the
    * frame (a column the writer lacks) is equally loud — silently
    * passing it would turn every later read into a lie. The
    * constraints are `snap`'s, the verb's own snapshot. */
  private def validateConstraints(spark: SparkSession, table: String, snap: Snapshot,
                                  df: DataFrame, verb: String): Unit = {
    val entries = decodedSql(snap.constraints).toSeq
    if (entries.isEmpty || df.columns.isEmpty) return
    val aggs = entries.map { case (n, sql) =>
      val pred =
        try expr(sql)
        catch {
          case e: Throwable => throw new IllegalArgumentException(
            s"$verb on $table: constraint '$n' failed to parse: $sql", e)
        }
      sum(when(!coalesce(pred, lit(true)), 1L).otherwise(0L)).as(n)
    }
    val row =
      try df.agg(aggs.head, aggs.tail: _*).head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$verb on $table: a CHECK constraint no longer resolves against " +
              s"the written schema (${df.columns.mkString(", ")}); drop it " +
              s"first — ${entries.map(_._1).mkString(", ")}", e)
      }
    val bad = entries.zipWithIndex.collect {
      case ((n, sql), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n: ${row.getLong(i)} row(s) violate CHECK ($sql)"
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"$verb on $table rejected by CHECK constraints — ${bad.mkString("; ")}")
  }

  /** ADD CONSTRAINT (round 17 — Delta's `ALTER TABLE ADD CONSTRAINT
    * CHECK`, public design): validates the predicate over the CURRENT
    * snapshot first (existing rows must conform — fails loudly with the
    * violating census) and commits the constraint as a metadata action
    * at exactly readVersion+1, or reports the [[Conflict]] (a
    * concurrent write could otherwise land rows the validation never
    * saw). From then on [[append]]/[[appendIdempotent]]/[[updateWhere]]
    * (and the merge-on-read verbs) validate staged rows and reject
    * violators before anything commits. */
  def addConstraint(spark: SparkSession, table: String,
                    name: String, exprSql: String): Either[Conflict, Long] = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    val snap = pinned(table)
    require(!snap.constraints.contains(name),
      s"constraint '$name' already exists on $table")
    val cur = readAt(spark, table, snap, snap.schema)
    if (cur.columns.nonEmpty) {
      try cur.filter(expr(exprSql)).queryExecution.analyzed // resolution probe
      catch {
        case e: Throwable => throw new IllegalArgumentException(
          s"addConstraint on $table: CHECK ($exprSql) does not resolve", e)
      }
      val viol = cur.filter(!coalesce(expr(exprSql), lit(true))).count()
      if (viol > 0) throw new IllegalStateException(
        s"addConstraint on $table: $viol existing row(s) violate CHECK ($exprSql)")
    }
    val b64 = java.util.Base64.getEncoder
      .encodeToString(exprSql.getBytes("UTF-8"))
    commitExactly(table, snap.version + 1)(
      tryCommit(table, _, Nil, Nil, constraints = Seq(name -> b64)))
  }

  /** DROP CONSTRAINT — a metadata action; fails loudly on an unknown
    * name (the fail-loud convention: a typo'd drop must not silently
    * leave enforcement on). */
  def dropConstraint(table: String, name: String): Either[Conflict, Long] = {
    val snap = pinned(table)
    require(snap.constraints.contains(name), s"no constraint '$name' on $table")
    commitExactly(table, snap.version + 1)(
      tryCommit(table, _, Nil, Nil, constraintRms = Seq(name)))
  }

  // ------------------------------------------------ generated columns

  /** Live generated-column definitions at `asOf`: column → SQL
    * expression text (round 17 — Delta's public generated-columns
    * surface; same metadata fold as [[constraintsAt]]). */
  def generatedAt(table: String, asOf: Long = -2L): Map[String, String] =
    decodedSql(snapshot(table, orHead(table, asOf)).gencols)

  /** The write-side half of generated columns: a frame LACKING a
    * generated column gets it MATERIALIZED from the expression (the
    * writer never has to compute it — Delta's generated-column promise);
    * a frame that DOES carry it is VALIDATED against the expression
    * (one agg pass counting null-safe mismatches — a writer supplying
    * wrong values would silently break every downstream consumer that
    * trusts the invariant, so it fails loudly instead). Returns the
    * possibly-augmented frame; every write verb routes its staged rows
    * through here, with its own snapshot `snap`, before constraints
    * validate. */
  private def applyGenerated(spark: SparkSession, table: String, snap: Snapshot,
                             df: DataFrame, verb: String): DataFrame = {
    val gens = decodedSql(snap.gencols).toSeq
    if (gens.isEmpty || df.columns.isEmpty) return df
    gens.foldLeft(df) { case (d, (name, sql)) =>
      val e =
        try expr(sql)
        catch {
          case ex: Throwable => throw new IllegalArgumentException(
            s"$verb on $table: generated column '$name' expression failed " +
              s"to parse: $sql", ex)
        }
      if (!d.columns.contains(name)) d.withColumn(name, e)
      else {
        val bad = d.agg(sum(when(!(col(name) <=> e), 1L).otherwise(0L))).head()
        if (!bad.isNullAt(0) && bad.getLong(0) > 0)
          throw new IllegalStateException(
            s"$verb on $table rejected: ${bad.getLong(0)} row(s) of " +
              s"supplied '$name' disagree with its generation " +
              s"expression ($sql)")
        d
      }
    }
  }

  /** ADD a generated column (round 17 — Delta's `GENERATED ALWAYS AS`,
    * public design; stated divergence: Delta declares them at CREATE
    * TABLE, here one may be added to a live table PROVIDED the column
    * already exists and every existing row conforms — the addConstraint
    * shape). The expression must resolve against the schema WITHOUT the
    * column (that is the materialize contract: a writer omits the
    * column and the expression fills it). From then on every write verb
    * materializes-or-validates; the canonical use is a derived
    * partition column ([[appendPartitioned]] on it gives exact pruning
    * for probes on the generated value). */
  def addGeneratedColumn(spark: SparkSession, table: String,
                         name: String, exprSql: String): Either[Conflict, Long] = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"generated column name must be [A-Za-z0-9_]+, got '$name'")
    val snap = pinned(table)
    require(!snap.gencols.contains(name),
      s"generated column '$name' already exists on $table")
    val cur = readAt(spark, table, snap, snap.schema)
    if (cur.columns.nonEmpty) {
      require(cur.columns.contains(name),
        s"addGeneratedColumn: no column '$name' on $table " +
          s"(${cur.columns.mkString(", ")}) — evolve the schema first")
      // the expression must be computable WITHOUT the generated column —
      // a self-referential definition could never materialize
      try cur.drop(name).select(expr(exprSql)).queryExecution.analyzed
      catch {
        case e: Throwable => throw new IllegalArgumentException(
          s"addGeneratedColumn on $table: ($exprSql) does not resolve " +
            s"without '$name'", e)
      }
      val viol = cur.filter(!(col(name) <=> expr(exprSql))).count()
      if (viol > 0) throw new IllegalStateException(
        s"addGeneratedColumn on $table: $viol existing row(s) disagree " +
          s"with ($exprSql)")
    }
    val b64 = java.util.Base64.getEncoder
      .encodeToString(exprSql.getBytes("UTF-8"))
    commitExactly(table, snap.version + 1)(
      tryCommit(table, _, Nil, Nil, gencols = Seq(name -> b64)))
  }

  /** DROP a generated-column definition (metadata only — the column and
    * its data stay; only the write-side materialize/validate contract
    * ends). Loud on an unknown name. */
  def dropGeneratedColumn(table: String, name: String): Either[Conflict, Long] = {
    val snap = pinned(table)
    require(snap.gencols.contains(name), s"no generated column '$name' on $table")
    commitExactly(table, snap.version + 1)(
      tryCommit(table, _, Nil, Nil, gencolRms = Seq(name)))
  }

  /** Stage a frame's rows as immutable data files in the table directory
    * WITHOUT committing them — invisible to every reader until a commit
    * references them (the two-phase shape both [[append]] and
    * copy-on-write rewrites share). Returns the staged file names. */
  def stage(table: String, df: DataFrame): Seq[String] = stageAs(table, df, "part")

  /** [[stage]] under the `<uuid8>-<kind>-NNNNN.parquet` name shape.
    * With `partCols` the write goes through a `partitionBy` directory
    * layout: duplicated `_graft_p_*` helper columns feed the router, so
    * the DATA files keep the original columns (Spark's partitionBy drops
    * its partition columns from file data), and every file is value-pure
    * in them. Either way the temp tree's parquet leaves, sorted by path,
    * flatten into the table root and the tree is deleted, deepest entries
    * first. */
  private def stageAs(table: String, df: DataFrame, kind: String,
                      partCols: Seq[String] = Nil): Seq[String] = {
    Files.createDirectories(Paths.get(table))
    val prefix = java.util.UUID.randomUUID().toString.take(8)
    val tmp = Paths.get(table, s"_tmp_${kind}_$prefix")
    partCols.foldLeft(df)((d, c) => d.withColumn(s"_graft_p_$c", col(c)))
      .write.mode("overwrite").partitionBy(partCols.map(c => s"_graft_p_$c"): _*)
      .parquet(tmp.toString)
    def tree(): Vector[Path] = {
      val w = Files.walk(tmp)
      try w.iterator().asScala.toVector finally w.close()
    }
    val named = tree().filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.toString).zipWithIndex.map { case (p, i) =>
        val name = f"$prefix-$kind-$i%05d.parquet"
        Files.move(p, Paths.get(table, name))
        name
      }
    tree().sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    named
  }

  /** Try to create commit `version` exactly — true iff THIS writer won
    * the put-if-absent race for that version number. `txn` records an
    * idempotent-writer watermark action alongside the file actions;
    * `addStats` per-file column stats riding the add actions (round 15);
    * `ctsMillis` overrides the commit timestamp action (tests/scripts —
    * production writers take the wall-clock default; [[versionAtTimestamp]]
    * monotonizes, so an override can never corrupt resolution). */
  def tryCommit(table: String, version: Long,
                adds: Seq[String], removes: Seq[String],
                txn: Option[(String, Long)] = None,
                meta: Option[String] = None,
                addStats: Map[String, String] = Map.empty,
                ctsMillis: Option[Long] = None,
                dvs: Seq[(String, String)] = Nil,
                dvRms: Seq[String] = Nil,
                constraints: Seq[(String, String)] = Nil,
                constraintRms: Seq[String] = Nil,
                gencols: Seq[(String, String)] = Nil,
                gencolRms: Seq[String] = Nil): Boolean = {
    (constraints ++ gencols).foreach { case (n, b64) =>
      require(n.matches("[A-Za-z0-9_]+"),
        s"constraint/gencol name must be [A-Za-z0-9_]+, got '$n'")
      require(b64.matches("[A-Za-z0-9+/=]+"),
        s"constraint/gencol payload must be base64, got '${b64.take(40)}'")
    }
    (constraintRms ++ gencolRms).foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"constraint/gencol name must be [A-Za-z0-9_]+, got '$n'"))
    (adds ++ removes).foreach(requireSafeName)
    txn.foreach { case (app, v) =>
      requireSafeName(app)
      require(v >= 0, s"txn version must be >= 0, got $v")
    }
    meta.foreach(b64 => require(b64.matches("[A-Za-z0-9+/=]+"),
      s"meta payload must be base64, got '${b64.take(40)}'"))
    addStats.values.foreach(b64 => require(b64.matches("[A-Za-z0-9+/=]+"),
      s"stats payload must be base64, got '${b64.take(40)}'"))
    require(addStats.keySet.subsetOf(adds.toSet),
      s"stats for files not in this commit's adds: ${addStats.keySet -- adds}")
    dvs.foreach { case (p, t) => requireSafeName(p); requireSafeName(t) }
    dvRms.foreach(requireSafeName)
    val cts = ctsMillis.getOrElse(System.currentTimeMillis())
    require(cts >= 0, s"commit timestamp must be >= 0, got $cts")
    Files.createDirectories(logDir(table))
    val c = Commit(version, adds.toVector, removes.toVector, txn.toVector, meta,
      addStats, Some(cts), dvs.toVector, dvRms.toVector, constraints.toVector,
      constraintRms.toVector, gencols.toVector, gencolRms.toVector)
    // publish the complete body with a hard link: put-if-absent, and a
    // crash before it leaves only an unpublished temp file
    viaTemp(table, encode(c)) { tmp =>
      try { Files.createLink(commitFile(table, version), tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    }
  }

  /** Blind-retry append: stage once, then claim the first free version.
    * Appends commute with every concurrent commit, so losing the race
    * just means trying the next number — no recompute needed.
    * `ctsMillis` overrides the commit-timestamp action (deterministic
    * scripts); default is the wall clock. */
  def append(spark: SparkSession, table: String, df: DataFrame,
             maxRetries: Int = 50, ctsMillis: Option[Long] = None): Long =
    appendWithRetries(spark, table, df, maxRetries, ctsMillis)._1

  /** [[append]] plus the number of commit races lost along the way —
    * the observability hook the N-writer stress spec reports on (a lost
    * race burns a retry, never a version number and never the staged
    * files). */
  def appendWithRetries(spark: SparkSession, table: String, df: DataFrame,
                        maxRetries: Int = 50,
                        ctsMillis: Option[Long] = None,
                        withStats: Boolean = false): (Long, Int) = {
    val (adds, stats) = stageAppend(spark, table, latest(table), df, "append", Nil, withStats)
    commitNext(table, "append", maxRetries)(
      tryCommit(table, _, adds, Nil, addStats = stats, ctsMillis = ctsMillis))
  }

  /** The staging half every append verb shares. Generated columns
    * materialize FIRST (a derived partition column may be absent from
    * the writer's frame — the canonical gencol use); partition columns
    * must exist and, since the router adds `_graft_p_*` columns, no
    * column may carry the helper prefix; CHECK constraints validate
    * before anything stages. Stats ride when asked for, and always on a
    * partitioned write (they ARE its pruning payload). Generated columns
    * and constraints are `snap`'s. Returns the staged files and their
    * stats. */
  private def stageAppend(spark: SparkSession, table: String, snap: Snapshot, df: DataFrame,
                          verb: String, partCols: Seq[String],
                          withStats: Boolean): (Seq[String], Map[String, String]) = {
    val gdf = applyGenerated(spark, table, snap, df, "append")
    partCols.foreach(c => require(gdf.columns.contains(c),
      s"$verb: no partition column '$c' (${gdf.columns.mkString(", ")})"))
    if (partCols.nonEmpty) requireNoHelperCols(verb, table, gdf.columns)
    validateConstraints(spark, table, snap, gdf, "append")
    val adds = stageAs(table, gdf, "part", partCols)
    (adds, if (withStats || partCols.nonEmpty) statsFor(spark, table, adds) else Map.empty)
  }

  /** Verbs that add `_graft_*` helper columns to a table's rows refuse
    * rows that already carry one: the helper would silently shadow the
    * user column (a copy-on-write DELETE would overwrite it with file
    * URIs, then drop it from the rewrite). */
  private def requireNoHelperCols(verb: String, table: String, cols: Array[String]): Unit =
    cols.find(_.startsWith("_graft_")).foreach { c =>
      throw new IllegalArgumentException(s"$verb: column '$c' on $table collides " +
        "with the reserved '_graft_' helper-column prefix")
    }

  /** [[append]] with per-file column stats riding the add actions
    * (round 15 — Delta's add-action `stats` field, public design): one
    * extra aggregation pass over the JUST-STAGED files (min/max/null
    * census per skipping-eligible column, grouped by file — a bounded
    * per-append cost that buys every future [[readWhere]] its pruning).
    * Stats are data-skipping metadata ONLY: a reader that ignores them
    * sees the identical table. */
  def appendWithStats(spark: SparkSession, table: String, df: DataFrame,
                      maxRetries: Int = 50,
                      ctsMillis: Option[Long] = None): Long =
    appendWithRetries(spark, table, df, maxRetries, ctsMillis, withStats = true)._1

  /** PARTITIONED APPEND (round 17) — the Hive/Delta partition-layout
    * verb: one append whose staged files are each VALUE-PURE in the
    * partition column(s) (every row of a file shares one partition
    * tuple — the write routes rows through a `partitionBy` directory
    * layout, then flattens the leaves into the table's flat namespace).
    * On a value-pure file the partition column's riding stats collapse
    * to min == max == the value, so the EXISTING skipping machinery
    * ([[prunedLiveFiles]]/[[readWhere]]) turns an equality/IN probe on
    * a partition column into EXACT partition pruning: the kept set is
    * precisely the matching partitions' files and the scan reads zero
    * non-matching rows — the first-order 100 TB layout primitive
    * (partition on the column every query filters by; stats banding
    * remains the second-order cut within a partition).
    *
    * Stated divergence from Delta: partition values STAY in the data
    * files (a plain parquet reader sees the full schema; dictionary/RLE
    * encoding makes a constant column ~free) instead of being lifted
    * into partitionValues-only log metadata — the pruning contract is
    * the same, and no read-path reconstruction is needed. Partition
    * columns are REQUIRED low-cardinality by design (the partition_plan
    * advisor's contract) — the leaf walk is |partitions|-bounded driver
    * metadata. */
  def appendPartitioned(spark: SparkSession, table: String, df: DataFrame,
                        partCols: Seq[String], maxRetries: Int = 50,
                        ctsMillis: Option[Long] = None): Long = {
    require(partCols.nonEmpty, "appendPartitioned: no partition columns")
    val (adds, stats) = stageAppend(spark, table, latest(table), df, "appendPartitioned",
      partCols, withStats = true)
    commitNext(table, "appendPartitioned", maxRetries)(
      tryCommit(table, _, adds, Nil, addStats = stats, ctsMillis = ctsMillis))._1
  }

  /** Latest transaction version recorded for `appId` at or below table
    * version `asOf` (−1 if none) — the idempotence watermark, the max
    * per app ([[appendIdempotent]] requires per-app txnVersions to be
    * monotone in commit order, so the max is the newest). Txn actions
    * fold into checkpoints (round 14 — the Delta design), so the sink is
    * O(suffix) from any checkpoint instead of O(commits). */
  def txnLatest(table: String, appId: String, asOf: Long = -2L): Long =
    snapshot(table, orHead(table, asOf)).txn(appId)

  /** EXACTLY-ONCE append for a replayable writer (the idempotent
    * streaming-sink primitive, Delta's txnAppId/txnVersion design): the
    * commit atomically records `(appId, txnVersion)` next to its adds,
    * and a re-delivery of an already-committed `txnVersion` is SKIPPED
    * (returns None). Unlike [[append]]'s blind retry, a lost race here
    * re-checks the watermark AS OF the new head before re-attempting at
    * exactly head+1 — the check and the commit are serialized by the
    * same put-if-absent total order, so two concurrent deliveries of one
    * batch can never both land: whichever loses the version race
    * re-reads a head that already contains the winner's txn. Requires
    * txnVersion to be MONOTONE per appId (a streaming batchId is). The
    * log folds once, before staging; each attempt lists the head and
    * [[advance]]s over only the commits that landed since. */
  def appendIdempotent(spark: SparkSession, table: String, df: DataFrame,
                       appId: String, txnVersion: Long,
                       maxRetries: Int = 50,
                       withStats: Boolean = false,
                       partitionBy: Seq[String] = Nil): Option[Long] = {
    var snap = latest(table)
    if (snap.txn(appId) >= txnVersion) return None
    // partitionBy (round 17): a streaming sink lands value-pure
    // partition files exactly-once under the txn watermark; stats ride
    // the sink's adds too (the streaming maintainer's gram index prunes
    // its per-batch probe on them)
    val (adds, stats) =
      stageAppend(spark, table, snap, df, "appendIdempotent", partitionBy, withStats)
    var tries = 0
    while (true) {
      snap = advance(table, snap, latestVersion(table))
      if (snap.txn(appId) >= txnVersion) {
        // duplicate delivery lost the race: drop the staged files now
        // (vacuum's orphan sweep is the crash backstop)
        adds.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
        return None
      }
      if (tryCommit(table, snap.version + 1, adds, Nil, Some((appId, txnVersion)),
        addStats = stats))
        return Some(snap.version + 1)
      tries += 1
      require(tries <= maxRetries,
        s"idempotent append lost $maxRetries commit races on $table")
    }
    None // unreachable
  }

  /** Copy-on-write rewrite (the storage half of MERGE / DELETE /
    * compaction): replace `removes` with already-[[stage]]d `adds`,
    * IFF no other commit landed since `readVersion`. Either commits at
    * `readVersion + 1` or returns the [[Conflict]] — never silently
    * rebases, because a rewrite computed against a stale snapshot could
    * resurrect rows a concurrent commit changed. On conflict the caller
    * re-reads and recomputes (optimistic retry). */
  def replaceFiles(table: String, readVersion: Long,
                   removes: Seq[String], adds: Seq[String],
                   addStats: Map[String, String] = Map.empty,
                   dvs: Seq[(String, String)] = Nil,
                   dvRms: Seq[String] = Nil): Either[Conflict, Long] = {
    commitExactly(table, readVersion + 1)(
      tryCommit(table, _, adds, removes, addStats = addStats, dvs = dvs, dvRms = dvRms))
  }

  /** The prologue every predicate DML verb shares: the head snapshot
    * (loud on an empty log); the stats/partition cut on the MATCH SCAN
    * (round 17) — a file whose committed stats exclude `cond` cannot
    * contain a match, so on a partitioned or clustered table a selective
    * verb scans its partition, not the table (pruning is a necessary
    * condition, so the affected set is identical); and a frame over the
    * candidates whose SET columns exist and whose columns leave the
    * `_graft_` prefix to the verb's own helpers (a same-named user column
    * would be silently shadowed — name the real cause up front). No
    * candidate commits NOTHING and returns Right(head), the Delta no-op
    * convention; otherwise `body` gets the snapshot and the frame. */
  private def matchScan(spark: SparkSession, table: String, verb: String, cond: Column,
                        setCols: Seq[String])
                       (body: (Snapshot, DataFrame) => Either[Conflict, Long])
      : Either[Conflict, Long] = {
    val snap = pinned(table)
    val (schema, candidates) = pruned(spark, table, snap, cond)
    if (candidates.isEmpty) return Right(snap.version)
    val base = frame(spark, table, candidates, schema)
    setCols.foreach(c => require(base.columns.contains(c),
      s"$verb: no column '$c' on $table (${base.columns.mkString(", ")})"))
    requireNoHelperCols(verb, table, base.columns)
    body(snap, base)
  }

  /** Copy-on-write discovery, shared by [[deleteWhere]], [[updateWhere]]
    * and [[mergeInto]]: `base`'s DV-applied rows (round 16 — a rewrite
    * must not resurrect merge-on-read deletes) tagged with
    * `input_file_name()` as `_graft_file`; `hits` picks the rows that
    * force a rewrite, and the distinct files they sit in — a driver-side
    * collect bounded by |live files|, log-scale metadata, never row data
    * — map back to live entries ([[affectedOf]]). Returns the tagged
    * rows, the hit file URIs and the affected live entries. */
  private def cowScan(spark: SparkSession, table: String, snap: Snapshot, base: DataFrame)
                     (hits: DataFrame => DataFrame): (DataFrame, Seq[String], Seq[String]) = {
    val tagged = applyDvs(spark, table,
      base.withColumn("_graft_file", input_file_name()), snap.dvs)
    val paths = hits(tagged).select("_graft_file")
      .distinct().collect().map(_.getString(0)).toSet
    (tagged, paths.toSeq, affectedOf(snap.live, paths))
  }

  /** Stage `rows` and commit them in place of `removes` at head+1 —
    * or the [[Conflict]], the staged files cleaned up. */
  private def rewriteCommit(table: String, snap: Snapshot, removes: Seq[String],
                            rows: DataFrame): Either[Conflict, Long] = {
    val adds = stage(table, rows)
    cleaningUp(table, adds)(replaceFiles(table, snap.version, removes, adds))
  }

  /** DELETE WHERE through the log (round 14) — FILE-GRANULAR
    * copy-on-write, the Delta DELETE shape: one scan tagged with
    * `input_file_name()` finds the live files that CONTAIN matching
    * rows, ONLY those files are rewritten without their matching rows,
    * and removes+adds commit together serializably. Untouched files are
    * never rewritten — at 100 TB a predicate touching 0.1% of files
    * rewrites 0.1% of the table, not all of it (the GDPR-erasure /
    * row-retention economics; the spec pins untouched-file-name
    * survival). A predicate matching nothing commits NOTHING and
    * returns Right(head) (the Delta no-op-delete convention: no empty
    * commit, snapshot unchanged). */
  def deleteWhere(spark: SparkSession, table: String,
                  cond: org.apache.spark.sql.Column): Either[Conflict, Long] =
    matchScan(spark, table, "deleteWhere", cond, Nil) { (snap, base) =>
      val (tagged, paths, affected) = cowScan(spark, table, snap, base)(_.filter(cond))
      if (affected.isEmpty) Right(snap.version)
      else rewriteCommit(table, snap, affected, tagged
        .filter(col("_graft_file").isin(paths: _*)).filter(!cond).drop("_graft_file"))
    }

  /** `base`'s DV-applied rows tagged with their file basename
    * (`_graft_f`) and parquet row position (`_graft_pos`) — the
    * merge-on-read match scan. */
  private def positioned(spark: SparkSession, table: String, snap: Snapshot,
                         base: DataFrame): DataFrame =
    applyDvs(spark, table, base
      .withColumn("_graft_f", element_at(split(input_file_name(), "/"), -1))
      .withColumn("_graft_pos", col("_metadata.row_index")), snap.dvs)

  /** The deletion-vector writer shared by [[deleteWhereDv]] and
    * [[updateWhereDv]]. `matched` holds the (target basename, pos) pairs
    * to mark; its distinct targets are catalog-bounded driver metadata,
    * and None means nothing matched. Each affected target's EXISTING
    * positions merge into its superseding sidecar (merge-on-re-delete:
    * the old attachment is replaced); the rows repartition on target so
    * each target hashes to ONE staged `*-dv-NNNNN.parquet` sidecar —
    * invisible until a commit's dv actions reference it, and kept apart
    * from [[orphanFiles]]' part-file pattern by its name — and the
    * (sidecar, target) mapping reads back once (write-time data
    * altitude, never the log fold). Sidecar rows name their target by
    * basename, as [[applyDvs]] matches it; the log keys each attachment
    * by the target's live entry, which on a [[shallowClone]] is
    * `<rel>/<name>`, so the fold's removes and restore's clears find
    * it. Returns the staged sidecars and that mapping. */
  private def stageDvs(spark: SparkSession, table: String, snap: Snapshot,
                       matched: DataFrame): Option[(Seq[String], Seq[(String, String)])] = {
    val affected = matched.select("target").distinct()
      .collect().map(_.getString(0)).toSet
    if (affected.isEmpty) return None
    val entry = dvTargets(snap.live, affected)
    val priorPaths = entry.values.toSeq.flatMap(snap.dvs.get).distinct
      .map(p => Paths.get(table, p).toString)
    val prior =
      if (priorPaths.isEmpty) matched.limit(0)
      else spark.read.schema(DvSchema).parquet(priorPaths: _*)
        .filter(col("target").isin(affected.toSeq: _*))
        .select(col("target"), col("pos"))
    val staged = stageAs(table, matched.unionByName(prior)
      .repartition(math.min(32, affected.size), col("target")), "dv")
    val mapping = spark.read.schema(DvSchema)
      .parquet(staged.map(f => Paths.get(table, f).toString): _*)
      .withColumn("f", element_at(split(input_file_name(), "/"), -1))
      .select("f", "target").distinct()
      .collect().map(r => (r.getString(0), entry(r.getString(1))))
    Some((staged, mapping.toSeq))
  }

  /** DELETE WHERE as MERGE-ON-READ (round 16 — Delta's deletion-vector
    * design, public): instead of rewriting every file containing a
    * match ([[deleteWhere]]'s copy-on-write), the commit attaches a
    * DELETION VECTOR to each affected file — a parquet sidecar of
    * (target, row position) pairs — and every read drops the marked
    * rows ([[applyDvs]]). The economics this verb exists for: a
    * SCATTERED 0.1% delete under copy-on-write rewrites every touched
    * file (potentially the whole table); under merge-on-read it writes
    * ONLY the tiny position sidecars — zero data files move
    * (gate-require'd). The read tax is the anti join; OPTIMIZE rebases
    * it away (a [[compact]]/[[compactClustered]] reads DV-applied rows
    * and its rewrite carries no DVs — spec-pinned), and vacuum retains
    * dv sidecars exactly as long as a retained snapshot reads them.
    *
    * Semantics: positions are parquet `_metadata.row_index` — stable
    * because data files are immutable. A re-delete on an already-DV'd
    * file MERGES: the new sidecar carries the old positions plus the
    * new matches and supersedes the old attachment (the fold keeps the
    * newest dv per target). Predicate matching runs on the DV-APPLIED
    * scan, so an already-deleted row can never match twice. A predicate
    * matching nothing commits nothing (the no-op convention). The
    * position sets stay distributed end to end ([[stageDvs]]). */
  def deleteWhereDv(spark: SparkSession, table: String,
                    cond: org.apache.spark.sql.Column): Either[Conflict, Long] =
    matchScan(spark, table, "deleteWhereDv", cond, Nil) { (snap, base) =>
      val matched = positioned(spark, table, snap, base).filter(cond)
        .select(col("_graft_f").as("target"), col("_graft_pos").as("pos"))
        .localCheckpoint() // 2 consumers: the target census + the sidecar rows
      stageDvs(spark, table, snap, matched).fold[Either[Conflict, Long]](
        Right(snap.version)) { case (staged, mapping) =>
        cleaningUp(table, staged)(replaceFiles(table, snap.version, Nil, Nil, dvs = mapping))
      }
    }

  /** The row images both UPDATEs write, with SQL UPDATE semantics: the
    * match flag (`cond`, evaluated into a column; [[updateWhereDv]]'s
    * rows all match, so it passes `lit(true)`) and
    * every SET right-hand side materialize against the OLD row before
    * any assignment — a SET column in the predicate or in another SET's
    * value cannot feed back — and each SET value is cast to the column's
    * existing type. The schema is REQUIRED to survive bit-for-bit (an
    * update must never be a stealth evolution; rename/drop/widen have
    * their own sanctioned verbs). An UPDATE can manufacture violations,
    * so the images pass the table's generated-column invariants and
    * CHECK constraints like any append (round 17): SET the base column
    * without its generated derivative and the reject names it. Every
    * `_graft_` helper column of `rows` is dropped. */
  private def setImages(spark: SparkSession, table: String, snap: Snapshot, verb: String,
                        base: DataFrame, rows: DataFrame, sets: Seq[(String, Column)],
                        cond: Column): DataFrame = {
    val valued = sets.zipWithIndex.foldLeft(rows.withColumn("_graft_match", cond)) { case (df, ((name, value), i)) =>
      df.withColumn(s"_graft_set_$i", value.cast(base.schema(name).dataType))
    }
    val assigned = sets.zipWithIndex.foldLeft(valued) { case (df, ((name, _), i)) =>
      val v = col(s"_graft_set_$i")
      df.withColumn(name, when(col("_graft_match"), v).otherwise(col(name)))
    }
    val images = assigned.drop(assigned.columns.filter(_.startsWith("_graft_")).toSeq: _*)
    require(
      images.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        base.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"$verb must preserve the schema of $table: " +
        s"${base.schema.simpleString} -> ${images.schema.simpleString}")
    applyGenerated(spark, table, snap, images, "update") // validate-only: all cols present
    validateConstraints(spark, table, snap, images, "update")
    images
  }

  /** UPDATE WHERE ... SET as MERGE-ON-READ (round 17 — the r16
    * verdict's #5 order, completing the DV verb set): instead of
    * rewriting every file containing a match ([[updateWhere]]'s
    * copy-on-write), ONE commit (a) attaches deletion vectors marking
    * the matched rows in their current files and (b) appends the
    * updated row images as NEW data files — the Delta merge-on-read
    * UPDATE shape. Economics: a scattered 0.1% update writes position
    * sidecars + 0.1% of the rows, never whole files. Semantics are
    * [[updateWhere]]'s exactly ([[setImages]]). The matched scan is
    * DV-applied (a row can never match twice), a re-update MERGES prior
    * positions into the superseding sidecar (the [[deleteWhereDv]]
    * discipline), OPTIMIZE rebases everything away, RESTORE re-emits
    * both directions, and the CDF reads the commit as per-key updates
    * (old image DV'd out + new image in, same key, changed fingerprint
    * — spec-pinned). A predicate matching nothing commits NOTHING. */
  def updateWhereDv(spark: SparkSession, table: String,
                    cond: org.apache.spark.sql.Column,
                    sets: Seq[(String, org.apache.spark.sql.Column)]): Either[Conflict, Long] = {
    require(sets.nonEmpty, s"updateWhereDv on $table: no SET clauses")
    matchScan(spark, table, "updateWhereDv", cond, sets.map(_._1)) { (snap, base) =>
      val tagged = positioned(spark, table, snap, base).filter(cond)
        .localCheckpoint() // 3 consumers: census, sidecar rows, new images
      stageDvs(spark, table, snap,
        tagged.select(col("_graft_f").as("target"), col("_graft_pos").as("pos")))
        .fold[Either[Conflict, Long]](Right(snap.version)) { case (staged, mapping) =>
          val adds = stage(table,
            setImages(spark, table, snap, "updateWhereDv", base, tagged, sets, lit(true)))
          cleaningUp(table, staged ++ adds)(
            replaceFiles(table, snap.version, Nil, adds, dvs = mapping))
        }
    }
  }

  /** CLUSTERED OPTIMIZE (round 14) — the `OPTIMIZE ... ZORDER BY`
    * physical half of the [[graft.operators.ZOrder]] advisor loop
    * (the salting_plan→saltedJoinPlanned pattern applied to layout):
    * content-identical copy-on-write rewrite of the live set into
    * `targetFiles` files RANGE-PARTITIONED AND SORTED by `key(df)` —
    * pass the advisor's own Morton-key expression and the rewrite IS
    * z-order clustering (each output file covers one contiguous key
    * range, so BOTH normalized dimensions are bounded per file — the
    * zone maps zorder_plan emits as an audit become the actual parquet
    * footers a scan planner prunes with). Same verb economics as
    * [[compact]]: an OPTIMIZE commits removes+adds serializably and
    * never changes row content; the recomputed stats are what the
    * disjoint key ranges buy readWhere's min/max pruning. */
  def compactClustered(spark: SparkSession, table: String,
                       key: DataFrame => org.apache.spark.sql.Column,
                       targetFiles: Int): Either[Conflict, Long] = {
    val snap = pinned(table)
    rewriteFiles(spark, table, snap, snap.schema, snap.live)(cur =>
      cur.repartitionByRange(targetFiles, key(cur)).sortWithinPartitions(key(cur)))
  }

  /** UPDATE WHERE ... SET through the log (round 14) — the last DML
    * verb (append/MERGE/DELETE/OPTIMIZE/RESTORE exist): FILE-GRANULAR
    * copy-on-write, the Delta UPDATE shape. One `input_file_name()`-
    * tagged scan finds the live files CONTAINING matching rows; ONLY
    * those files are rewritten with the SET expressions applied to
    * their matching rows (every row of an affected file is carried —
    * matched rows transformed, the rest verbatim), and removes+adds
    * commit together serializably. Untouched files are never rewritten
    * — the [[deleteWhere]] economics: a predicate touching 0.1% of
    * files rewrites 0.1% of the table. SQL UPDATE semantics, the
    * schema kept bit-for-bit ([[setImages]]). A predicate matching
    * nothing commits NOTHING and returns Right(head) (the no-op
    * convention shared with delete). */
  def updateWhere(spark: SparkSession, table: String, cond: org.apache.spark.sql.Column,
                  sets: Seq[(String, org.apache.spark.sql.Column)]): Either[Conflict, Long] = {
    require(sets.nonEmpty, s"updateWhere on $table: no SET clauses")
    matchScan(spark, table, "updateWhere", cond, sets.map(_._1)) { (snap, base) =>
      val (tagged, paths, affected) = cowScan(spark, table, snap, base)(_.filter(cond))
      if (affected.isEmpty) Right(snap.version)
      else rewriteCommit(table, snap, affected, setImages(spark, table, snap, "updateWhere",
        base, tagged.filter(col("_graft_file").isin(paths: _*)), sets, cond))
    }
  }

  /** MERGE INTO through the log (round 17) — the upsert verb as a
    * FIRST-CLASS file-granular commit (Delta's `MERGE INTO ... WHEN
    * MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, public
    * design; until now MERGE lived only as the cdc_apply + replaceFiles
    * spec composition). Semantics: source rows are keyed by `key`
    * (REQUIRED unique in the source — Delta errors when multiple source
    * rows match one target row; enforced loudly here); every matched
    * TARGET row takes the source row's full image column-by-column
    * (per-column cast to the target schema — duplicate target keys stay
    * duplicated, each row updated, standard UPDATE semantics); source
    * rows matching nothing INSERT. One serializable commit carries the
    * affected-file rewrites AND the insert files.
    *
    * File-granular economics shared with [[updateWhere]]: only live
    * files CONTAINING a matched key are rewritten (the semi-join-tagged
    * scan); a merge touching 0.1% of files rewrites 0.1% of the table
    * plus the batch-sized insert set. The insert anti-join reads ONLY
    * the key column of the live set (parquet column pruning — at
    * 100 TB that is one slim columnar pass, not a row scan). The
    * matched scan is DV-applied (merge-on-read deletes never
    * resurrect) and the staged images pass the table's CHECK
    * constraints like any append. An empty source commits NOTHING
    * (the no-op convention). */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
                key: String): Either[Conflict, Long] = {
    val snap = pinned(table)
    if (source.isEmpty) return Right(snap.version)
    // generated columns materialize-or-validate on the source up front
    // (round 17): an omitted gencol fills in, a wrong one fails loudly
    val source1 = applyGenerated(spark, table, snap, source, "merge")
    val dups = source1.groupBy(key).count().filter(col("count") > 1).limit(1).count()
    require(dups == 0L, s"mergeInto: source has duplicate '$key' keys")
    // no live rows: every source row inserts — one append-shaped commit
    if (snap.live.isEmpty) {
      validateConstraints(spark, table, snap, source1, "merge")
      return rewriteCommit(table, snap, Nil, source1)
    }
    val base = frame(spark, table, snap.live, snap.schema)
    require(source1.columns.sorted.sameElements(base.columns.sorted),
      s"mergeInto: source columns (${source1.columns.sorted.mkString(", ")}) " +
        s"must match $table's (${base.columns.sorted.mkString(", ")})")
    requireNoHelperCols("mergeInto", table, base.columns)
    // align + cast the source image to the target schema once; both the
    // affected-file rewrite and the insert set read this frame
    val src = base.schema.fields.foldLeft(source1) { (df, f) =>
      df.withColumn(f.name, col(f.name).cast(f.dataType))
    }.select(base.columns.map(col): _*).localCheckpoint()
    val (tagged, paths, affected) = cowScan(spark, table, snap, base)(
      _.join(src.select(col(key)).distinct(), Seq(key), "left_semi"))
    // matched rows take the source image column-by-column; a left join
    // against the key-unique source makes the match flag per target row
    val others = base.columns.filterNot(_ == key)
    val srcPref = src.select(
      col(key) +: (others.map(c => col(c).as(s"_graft_src_$c")) :+
        lit(true).as("_graft_m")): _*)
    val rewritten =
      if (affected.isEmpty) None
      else {
        val aff = tagged.filter(col("_graft_file").isin(paths: _*))
          .join(srcPref, Seq(key), "left")
        val merged = others.foldLeft(aff) { (df, c) =>
          df.withColumn(c, when(coalesce(col("_graft_m"), lit(false)),
            col(s"_graft_src_$c")).otherwise(col(c)))
        }
        Some(merged.select(base.columns.map(col): _*))
      }
    // inserts: source keys absent from the ENTIRE live set (key-column-
    // pruned scan), not just the affected files
    val inserts = src.join(tagged.select(col(key)), Seq(key), "left_anti")
      .select(base.columns.map(col): _*)
    val staged = rewritten.fold(inserts)(_.unionByName(inserts))
    validateConstraints(spark, table, snap, staged, "merge")
    rewriteCommit(table, snap, affected, staged)
  }

  /** RENAME COLUMN (round 14 — the non-widening half of schema
    * evolution): copy-on-write + a schema metadata action in ONE
    * serializable commit (Delta without column mapping does exactly
    * this rewrite; with mapping it's metadata-only — the rewrite form
    * is the one plain parquet footers can serve). The commit removes
    * every current live file and adds the rewritten ones carrying the
    * new column name, alongside the new schema's metadata action —
    * readers at HEAD see the rename, readers AT ANY OLDER VERSION see
    * that version's schema over that version's untouched files
    * (bit-for-bit — schema changes are versioned like file changes).
    * Commits at head+1 or returns the [[Conflict]], like every
    * rewrite. */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Either[Conflict, Long] =
    rewriteSchema(spark, table, s"rename '$from' -> '$to'") { df =>
      require(df.columns.contains(from),
        s"renameColumn: no column '$from' on $table (${df.columns.mkString(", ")})")
      require(!df.columns.contains(to),
        s"renameColumn: column '$to' already exists on $table")
      df.withColumnRenamed(from, to)
    }

  /** DROP COLUMN — same copy-on-write + metadata shape as
    * [[renameColumn]]; the dropped column's data survives in historical
    * files (old-version reads still surface it) until vacuum passes
    * them. */
  def dropColumn(spark: SparkSession, table: String,
                 name: String): Either[Conflict, Long] =
    rewriteSchema(spark, table, s"drop '$name'") { df =>
      require(df.columns.contains(name),
        s"dropColumn: no column '$name' on $table (${df.columns.mkString(", ")})")
      require(df.columns.length > 1,
        s"dropColumn: cannot drop the last column '$name' of $table")
      df.drop(name)
    }

  /** Shared copy-on-write schema rewrite: read HEAD, transform, stage,
    * commit (removes = old live set, adds = rewrite, meta = new schema)
    * at head+1 — or Conflict, cleaning up the staged files (the
    * [[compact]] lost-race discipline). The rows, constraints, generated
    * columns and removes all come from one head snapshot. */
  private def rewriteSchema(spark: SparkSession, table: String, what: String)
                           (transform: DataFrame => DataFrame): Either[Conflict, Long] = {
    val snap = pinned(table)
    val cur = readAt(spark, table, snap, snap.schema)
    require(cur.columns.nonEmpty,
      s"cannot $what on $table: no schema at version ${snap.version} (no data or metadata yet)")
    val rewritten = transform(cur)
    // interplay (round 17): a rename/drop must not orphan a CHECK
    // constraint — every live constraint has to resolve against the new
    // schema, or every later write would fail with a confusing error.
    // Probed on a SCHEMA-ONLY frame: a filter directly over `rewritten`
    // would resolve a dropped column from upstream (Spark's
    // missing-reference rule) and silently pass.
    decodedSql(snap.constraints).foreach { case (n, sql) =>
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rewritten.schema)
      try probe.filter(expr(sql)).queryExecution.analyzed
      catch {
        case e: Throwable => throw new IllegalArgumentException(
          s"cannot $what on $table: constraint '$n' CHECK ($sql) would no " +
            "longer resolve — drop it first", e)
      }
    }
    // same interplay for generated columns: the column must survive and
    // its expression must still resolve without it
    decodedSql(snap.gencols).foreach { case (n, sql) =>
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rewritten.schema)
      val ok =
        try {
          probe.schema.fieldNames.contains(n) && {
            probe.drop(n).select(expr(sql)).queryExecution.analyzed; true
          }
        } catch { case _: Throwable => false }
      if (!ok) throw new IllegalArgumentException(
        s"cannot $what on $table: generated column '$n' ($sql) would be " +
          "orphaned — drop its definition first")
    }
    val b64 = java.util.Base64.getEncoder
      .encodeToString(rewritten.schema.json.getBytes("UTF-8"))
    val removes = snap.live
    val adds = if (removes.isEmpty) Nil else stage(table, rewritten)
    cleaningUp(table, adds)(commitExactly(table, snap.version + 1)(
      tryCommit(table, _, adds, removes, meta = Some(b64))))
  }

  /** SHALLOW CLONE (round 15 — Delta's public design): fork a table at a
    * snapshot WITHOUT copying data — the clone's v0 references the
    * source's live files by RELATIVE path (an "external reference": any
    * add containing a path separator), carrying their stats and the
    * source's schema metadata. Zero-copy by construction: the clone
    * directory holds no data files until its own writers stage some.
    * Writes diverge from there — appends stage clone-local files, and a
    * file-granular DELETE/UPDATE touching an external file rewrites its
    * survivors into clone-local files and drops the reference (never the
    * source file). [[vacuum]]/[[vacuumable]]/[[orphanFiles]] NEVER
    * delete external references (they belong to the source), and —
    * Delta's own documented shallow-clone limitation, spec-pinned — a
    * vacuum on the SOURCE can retire files a clone still references:
    * the clone's read then fails loudly on the missing file, exactly
    * like a pre-horizon time travel. */
  def shallowClone(source: String, target: String,
                   asOf: Option[Long] = None): Long = {
    val snap = pinned(source, asOf)
    require(latestVersion(target) == -1L,
      s"clone target $target already has commits")
    val rel = Paths.get(target).toAbsolutePath.normalize
      .relativize(Paths.get(source).toAbsolutePath.normalize).toString
    // the snapshot's payloads copy verbatim: stats, schema, deletion
    // vectors (as external references too — a clone that dropped them
    // would RESURRECT merge-on-read deletes; read-path matching is by
    // basename, so relative paths are fine), and CHECK constraints and
    // generated columns (round 17 — a fork that silently dropped
    // enforcement would accept rows its source rejects)
    require(tryCommit(target, 0L, snap.live.map(f => s"$rel/$f"), Nil, meta = snap.meta,
      addStats = snap.files.collect { case (f, Some(st)) => s"$rel/$f" -> st },
      dvs = snap.dvs.toSeq.map { case (t, p) => (s"$rel/$p", s"$rel/$t") },
      constraints = snap.constraints.toSeq, gencols = snap.gencols.toSeq),
      s"clone target $target saw a concurrent commit")
    0L
  }

  /** Files deletable under retain-last-N: referenced by NO snapshot in
    * the retention window `(vMax - retain, vMax]` — the file-granular
    * analog of [[graft.operators.VacuumPlan]]'s entry-level report
    * (`version > v_max - RetainVersions`, plus everything the retained
    * snapshots themselves still reference). External (cloned-in)
    * references are never deletable — they belong to the source table
    * ([[shallowClone]]). A version log retention made unreadable (its
    * commit files are gone) retains nothing. */
  def vacuumable(table: String, retainVersions: Long): Seq[String] = {
    val vMax = latestVersion(table)
    vacuumable(table, readable(table, vMax), vMax, retainVersions)
  }

  private def vacuumable(table: String, history: Seq[Stretch], vMax: Long,
                         retainVersions: Long): Seq[String] = {
    // retain = 0 would empty the retained window and delete every live
    // data file out from under the current snapshot — the same guard as
    // Delta's retention-duration check
    require(retainVersions >= 1, s"retainVersions must be >= 1, got $retainVersions")
    require(vMax >= 0, s"commit-log table $table has no commits")
    val first = vMax - retainVersions + 1
    // retained = data files AND dv files any readable version in the
    // window reads (sweeping a dv file under a retained snapshot would
    // RESURRECT its deleted rows — worse than a failing read)
    val retained = history.iterator.flatMap { case (base, cs) => cs.iterator.scanLeft(base)(fold) }
      .filter(_.version >= first).flatMap(s => s.live ++ s.dvs.values).toSet
    everReferenced(history).filterNot(retained).filterNot(isExternalRef)
  }

  /** A base state and the commits past it that are on disk. */
  private type Stretch = (Snapshot, Vector[Commit])

  /** The readable history up to `vMax`, as stretches. [[snapshot]] reads
    * version v from the newest complete checkpoint ≤ v, else from
    * genesis, so v is readable iff every commit file between that base
    * and v exists. While every commit file does, the history is one
    * stretch from genesis and no checkpoint is read. Once log retention
    * has removed some, every complete checkpoint also starts a stretch,
    * which ends before the next checkpoint; each stretch stops at its
    * first missing commit file. A stretch may also cover versions a
    * reader folds from elsewhere: covering too much only keeps files. */
  private def readable(table: String, vMax: Long): Seq[Stretch] = {
    def onDisk(from: Long, to: Long): Vector[Commit] =
      (from to to).iterator.takeWhile(v => Files.exists(commitFile(table, v)))
        .map(commits0(table, _)).toVector
    val fromGenesis = Snapshot() -> onDisk(0L, vMax)
    if (fromGenesis._2.size == vMax + 1) Vector(fromGenesis)
    else {
      val cps = checkpointVersions(table, vMax)
      fromGenesis +: cps.zip(cps.drop(1).map(_ - 1) :+ vMax).flatMap { case (cp, end) =>
        readCheckpoint(table, cp).map(c => fold(Snapshot(), c) -> onDisk(cp + 1, end))
      }
    }
  }

  /** Every data and DV file a readable version reads, in first-added
    * order: what [[vacuumable]] may sweep and what [[orphanFiles]] must
    * not. */
  private def everReferenced(history: Seq[Stretch]): Seq[String] =
    history.flatMap { case (base, cs) =>
      base.live ++ base.dvs.values ++ cs.flatMap(_.adds) ++ cs.flatMap(_.dvs.map(_._1))
    }.distinct

  /** An add that points outside the table directory — a [[shallowClone]]
    * reference. Never vacuumed, never counted as a local part file. */
  private def isExternalRef(f: String): Boolean = f.contains("/")

  /** Map `input_file_name()` URIs back to live add entries — by final
    * name component, so external (cloned-in) references match too.
    * uuid-part staging makes basenames unique; an actual collision
    * fails loudly rather than mis-target a copy-on-write — but ONLY
    * when the colliding basename is actually targeted by this rewrite
    * (r15 advice: a table that ever reaches a collided state must not
    * have ALL file-granular DML bricked — unrelated predicates still
    * work; only the ambiguous target is loud). */
  private[graft] def affectedOf(live: Seq[String], paths: Set[String]): Seq[String] = {
    val targeted = live.filter { f =>
      val b = baseName(f)
      paths.exists(p => p.endsWith("/" + b) || p == b)
    }
    val byBase = targeted.groupBy(baseName)
    byBase.collect { case (b, fs) if fs.size > 1 => (b, fs) }.foreach {
      case (b, fs) => throw new IllegalStateException(
        s"rewrite targets live files sharing the basename '$b': ${fs.mkString(", ")}")
    }
    targeted
  }

  /** The live entry of each targeted basename, for the merge-on-read
    * verbs. Basename-collision guard (r16 advice): DV read-path matching
    * is by basename, so one sidecar's positions would silently apply to
    * EVERY same-named live file — fail loudly when a TARGETED basename
    * is shared by more than one live file (the [[affectedOf]]
    * discipline: unrelated DML on a collided table keeps working; only
    * the ambiguous target is loud — copy-on-write DML already fails
    * loudly in the same state, merge-on-read must not be quieter). */
  private def dvTargets(live: Seq[String], targets: Set[String]): Map[String, String] =
    live.groupBy(baseName).collect { case (b, fs) if targets(b) =>
      if (fs.size > 1) throw new IllegalStateException(
        s"DV attach targets live files sharing the basename '$b': ${fs.mkString(", ")}")
      b -> fs.head
    }

  private val PartFileRe = """[0-9a-f]{8}-part-\d{5}\.parquet""".r
  private val DvFileRe = """[0-9a-f]{8}-dv-\d{5}\.parquet""".r

  /** Staged-but-never-committed data files (a replaceFiles/compact that
    * lost its race and whose caller didn't clean up) are referenced by NO
    * commit, so [[vacuumable]] — which folds the log — can't see them.
    * This lists them from the one directory scan vacuum already implies.
    * Age-gated (file mtime older than `minAgeMs`) so a CONCURRENT stage
    * mid-commit is never swept: its files are seconds old, an orphan from
    * a lost race has been sitting since the race. Deletion-vector
    * sidecars are swept under the same age gate (r16 advice: a crash
    * between staging a sidecar and tryCommit used to leak `*-dv-*.parquet`
    * forever — no commit references it and the part-file pattern
    * deliberately excluded the dv name shape). A file that only retired
    * history referenced (log retention removed the commit files that
    * read it) counts as an orphan: no readable version reads it. */
  def orphanFiles(table: String, minAgeMs: Long): Seq[String] =
    orphanFiles(table, readable(table, latestVersion(table)), minAgeMs)

  private def orphanFiles(table: String, history: Seq[Stretch], minAgeMs: Long): Seq[String] = {
    val dir = Paths.get(table)
    if (!Files.isDirectory(dir)) return Nil
    val referenced = everReferenced(history).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        PartFileRe.matches(n) || DvFileRe.matches(n)
      }
      .filter(p => !referenced(p.getFileName.toString))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
      .map(_.getFileName.toString).toVector.sorted
    finally s.close()
  }

  /** Physically delete the vacuumable files, plus any
    * staged-but-never-committed leftovers older than `orphanMinAgeMs`
    * — without the sweep, repeated optimistic-retry conflicts leak disk
    * forever. Readers pinned inside the retention window are unaffected
    * (their file lists survive); reads at vacuumed-away versions fail on
    * the missing files — the Delta time-travel-horizon contract. */
  def vacuum(table: String, retainVersions: Long,
             orphanMinAgeMs: Long = 10L * 60 * 1000): Seq[String] = {
    val vMax = latestVersion(table)
    val history = readable(table, vMax)
    val del = vacuumable(table, history, vMax, retainVersions) ++
      orphanFiles(table, history, orphanMinAgeMs)
    del.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
    del
  }

  /** RESTORE (the Delta verb): roll the table's LIVE state back to what
    * it was at `toVersion` — as a NEW commit, never by rewriting
    * history: the restore removes the files the target version doesn't
    * reference and re-adds the ones it does (data files are immutable
    * and still on disk as long as vacuum hasn't passed them). Time
    * travel through the bad versions keeps working, and the restore
    * itself is serializable (commits at head+1 or conflicts like any
    * rewrite). Returns the new version, or a [[Conflict]] if another
    * writer moved the head. */
  def restore(table: String, toVersion: Long): Either[Conflict, Long] = {
    val head = latest(table)
    require(toVersion >= 0 && toVersion <= head.version,
      s"restore target $toVersion outside [0, ${head.version}]")
    val target = snapshot(table, toVersion)
    // the horizon-enforcement edge: a prior vacuum may have dropped files
    // only the target version references — committing the restore anyway
    // would manufacture a corrupt HEAD (not just a failing time-travel
    // read), so check existence BEFORE committing and fail loudly
    val gone = (target.live ++ target.dvs.values)
      .filterNot(f => Files.exists(Paths.get(table, f)))
    require(gone.isEmpty,
      s"restore target $toVersion references vacuumed data files: ${gone.mkString(", ")}")
    val removes = head.live.filterNot(target.files.contains)
    val adds = target.live.filterNot(head.files.contains)
    // deletion-vector state is versioned like file state: the restore
    // commit re-emits the TARGET version's dv attachments (in a Map's
    // order, as it always has) and clears the ones only the head had —
    // a roll-back across a merge-on-read delete restores the deleted
    // rows (round 16)
    val dvs = target.dvs.toMap.toSeq.map(_.swap)
    val dvRms = (head.dvs.keySet -- target.dvs.keySet)
      .filter(target.files.contains).toSeq.sorted
    replaceFiles(table, head.version, removes, adds, dvs = dvs, dvRms = dvRms)
  }

  /** OPTIMIZE (small-file compaction) through the log: rewrite the
    * current live files into `targetFiles` larger ones as one
    * serializable commit. Content-identical by construction (one read,
    * one write of the same rows); PRE-compaction versions remain
    * readable until vacuum passes them — the r8 compaction InfraSpec
    * row, now owned by the table format instead of bare parquet. */
  def compact(spark: SparkSession, table: String,
              targetFiles: Int = 1): Either[Conflict, Long] = {
    val snap = pinned(table)
    rewriteFiles(spark, table, snap, snap.schema, snap.live)(_.repartition(targetFiles))
  }

  /** The OPTIMIZE body [[compact]], [[compactWhere]] and
    * [[compactClustered]] share: `files`' rows under `schema` ([[frame]])
    * with their own DV attachments applied, laid out by `layout`, staged
    * and committed in their place at head+1 (or the [[Conflict]]) —
    * those attachments clear with the removes. Stats recompute on the
    * rewrite (the Delta OPTIMIZE behavior): a maintenance verb must never
    * silently degrade future reads. No files commits an empty version —
    * a table whose commits reference no data files (all-empty appends)
    * has no schema parquet could re-write. Attachments are picked by
    * basename, as [[applyDvs]] matches them on read: a clone's log
    * written before [[stageDvs]] keyed them by live entry names a
    * `<rel>/<name>` entry's DV by `<name>`, and the rewrite must still
    * drop those rows. */
  private def rewriteFiles(spark: SparkSession, table: String, snap: Snapshot,
                           schema: Option[StructType], files: Seq[String])
                          (layout: DataFrame => DataFrame): Either[Conflict, Long] = {
    if (files.isEmpty) return replaceFiles(table, snap.version, Nil, Nil)
    val keep = files.map(baseName).toSet
    val rows = applyDvs(spark, table, frame(spark, table, files, schema),
      snap.dvs.filter { case (t, _) => keep(baseName(t)) })
    val adds = stage(table, layout(rows))
    cleaningUp(table, adds)(replaceFiles(table, snap.version, files, adds,
      statsFor(spark, table, adds)))
  }

  /** PARTITION-SCOPED OPTIMIZE (round 17 — Delta's `OPTIMIZE ... WHERE`,
    * public design): compact ONLY the live files whose stats possibly
    * match `cond` — on a partitioned/clustered table, the hot
    * partition's small-file debt pays down without touching the cold
    * 99% (the whole-table [[compact]] is a 100 TB-sized rewrite; this
    * is a partition-sized one). File-granular content identity: every
    * selected file's rows are carried whole (a selected file's
    * non-matching rows move with it — selection is by FILE, the
    * pruning census, not by row), deletion vectors on selected files
    * are applied and rebased away (their attachments clear with the
    * removes, the OPTIMIZE interplay), untouched files keep theirs.
    * Stats recompute on the rewrite ([[compact]]'s rationale). A
    * predicate selecting nothing no-ops without committing. */
  def compactWhere(spark: SparkSession, table: String,
                   cond: org.apache.spark.sql.Column,
                   targetFiles: Int = 1): Either[Conflict, Long] = {
    val snap = pinned(table)
    val (schema, selected) = pruned(spark, table, snap, cond)
    if (selected.isEmpty) Right(snap.version)
    else rewriteFiles(spark, table, snap, schema, selected)(_.repartition(targetFiles))
  }

  /** INCREMENTAL (streaming-source) read: the rows the commits in
    * `(fromVersion, toVersion]` APPENDED — the Delta streaming-source
    * contract (round 13): a consumer holds a version CURSOR, reads
    * everything new since it, advances the cursor to the returned
    * version, repeats; each appended row is delivered exactly once
    * across such reads (spec-pinned), and together with
    * [[appendIdempotent]] on the write side the owned format closes the
    * exactly-once loop in BOTH directions. Append-only by contract,
    * exactly like Delta's source without ignoreChanges: a commit in the
    * range that REMOVES files (compaction, restore, copy-on-write)
    * fails loudly — silently re-emitting compacted rows would break the
    * exactly-once promise, and silently skipping them would break
    * completeness. Metadata-only commits (schema evolution) emit
    * nothing; the batch is served under the schema AS OF `toVersion`,
    * so pre-evolution appends read NULLs in added columns exactly as
    * snapshot reads do.
    *
    * Returns (batch, newCursor). `fromVersion = -1` reads from genesis. */
  def readIncremental(spark: SparkSession, table: String,
                      fromVersion: Long,
                      toVersion: Long = -2L): (DataFrame, Long) = {
    val head = orHead(table, toVersion)
    require(head >= fromVersion,
      s"cursor $fromVersion is ahead of version $head on $table")
    val adds = ((fromVersion + 1) to head).flatMap { v =>
      val c = commits0(table, v)
      require(c.removes.isEmpty,
        s"non-append commit $v on $table (removes ${c.removes.size} files) — " +
          "the incremental source is append-only by contract")
      require(c.dvs.isEmpty && c.dvRms.isEmpty,
        s"non-append commit $v on $table (deletion-vector actions) — a " +
          "merge-on-read delete changes rows; the incremental source is " +
          "append-only by contract")
      c.adds
    }
    (frame(spark, table, adds, snapshot(table, head).schema), head)
  }

  /** Row-level change feed DERIVED from consecutive snapshots (the CDF
    * read). The minimal format stores only file actions, so changes are
    * reconstructed with one full-outer key join per version step —
    * O(versions) joins, each snapshot-sized; a production format would
    * additionally persist row-level change actions in the commit to make
    * this a log scan. Output: (key, version, op, row_fp) where op ∈
    * insert/update/delete by key presence and `row_fp` is a 64-bit hash
    * of every non-key column (update = fp changed; unchanged rows emit
    * nothing — the [[graft.operators.Cdc.changeLog]] convention). */
  def tableChanges(spark: SparkSession, table: String, key: String): DataFrame = {
    val vMax = latestVersion(table)
    require(vMax >= 0, s"commit-log table $table has no commits")
    // every version's snapshot from ONE forward fold over the commits
    // (r13 advice: a per-version lookup made the CDF read O(V²) log
    // reads — the same cumulative-cost class the txn checkpoint fix
    // targets); decoded schemas memoized per distinct payload
    val snaps = replay(table, Snapshot(), vMax).toIndexedSeq
    val decoded = scala.collection.mutable.Map.empty[String, StructType]
    // each version-step compares BOTH snapshots under the NEWER step's
    // schema: an ADD COLUMN evolution then changes no fingerprints (old
    // rows read NULL in the new column on both sides), so a metadata-only
    // commit emits zero change rows — the Delta CDF contract — while a
    // later write that fills the column fingerprints as a real update
    def fingerprinted(v: Int, sch: Option[StructType]): DataFrame = {
      val df = readAt(spark, table, snaps(v), sch)
      val content = df.columns.filterNot(_ == key).sorted
        .map(c => col(c).cast("string"))
      df.select(col(key), xxhash64(content: _*).as("row_fp"))
    }
    snaps.indices.map { v =>
      val sch = snaps(v).meta.map(b64 => decoded.getOrElseUpdate(b64, decodeSchema(b64)))
      val cur = fingerprinted(v, sch).withColumnRenamed("row_fp", "cur_fp")
      val prev =
        if (v == 0) cur.filter(lit(false)).select(col(key), col("cur_fp").as("prev_fp"))
        else fingerprinted(v - 1, sch).withColumnRenamed("row_fp", "prev_fp")
      cur.join(prev, Seq(key), "full_outer")
        .filter(col("cur_fp").isNull || col("prev_fp").isNull ||
          col("cur_fp") =!= col("prev_fp"))
        .select(col(key), lit(v.toLong).as("version"),
          when(col("prev_fp").isNull, lit("insert"))
            .when(col("cur_fp").isNull, lit("delete"))
            .otherwise(lit("update")).as("op"),
          col("cur_fp").as("row_fp"))
    }.reduce(_ unionAll _)
  }
}
