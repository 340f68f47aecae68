package graft.run

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.core.Json

/** Run lifecycle record (reference: ondine/orchestration/run_registry.py
  * :49-286 — RunRecord + the PENDING → RUNNING → SUCCEEDED / FAILED /
  * PARTIAL state machine, plus SUBMITTED_REMOTE for the provider-batch
  * split). `rowsDone` / `validRows` land from the final metrics; PARTIAL
  * means the run completed but some rows never produced output (the
  * resume CLI can re-drive exactly those through the ledger anti-join). */
final case class RunRecord(
    runId: String,
    runDir: String,
    state: String,
    createdMs: Long,
    updatedMs: Long,
    rows: Long = 0L,
    validRows: Long = 0L,
    calls: Long = 0L,
    cost: String = "0",
    note: String = "",
    /** Input-row total of the current attempt — written by live progress
      * so a poller can render a fraction; 0 until the first chunk lands. */
    totalRows: Long = 0L)

object RunState {
  val Pending = "PENDING"
  val Running = "RUNNING"
  val Succeeded = "SUCCEEDED"
  val Failed = "FAILED"
  val Partial = "PARTIAL"
  val SubmittedRemote = "SUBMITTED_REMOTE"

  /** Legal transitions (run_registry.py:64-85). */
  val allowed: Map[String, Set[String]] = Map(
    Pending -> Set(Running, SubmittedRemote, Failed),
    Running -> Set(Succeeded, Failed, Partial),
    SubmittedRemote -> Set(Succeeded, Failed),
    // resume re-enters RUNNING from any non-success terminal state
    Failed -> Set(Running),
    Partial -> Set(Running),
    Succeeded -> Set.empty)
}

object RunRegistry {
  /** One monitor per record file, JVM-wide: registries are constructed
    * ad-hoc per call site, so serializing read-modify-writes on the
    * instance would not serialize two instances over the same dir. */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[run] def jvmLock(key: String): Object =
    jvmLocks.computeIfAbsent(key, _ => new Object)
}

/** File-backed registry: one JSON file per run under `baseDir`, written
  * atomically (tmp + move) so a crash mid-update never corrupts a record.
  * Read-modify-writes ([[transition]], [[updateMetrics]]) additionally
  * hold a per-run lock — a JVM monitor nested inside an OS file lock —
  * so a straggling progress write racing a terminal transition (another
  * thread OR another process, e.g. the MCP server polling a CLI-driven
  * run) can never re-save a stale RUNNING record over a terminal one.
  * Driver-side only — run cardinality is human-scale, no Spark needed. */
final class RunRegistry(baseDir: String) {

  private def dir: Path = {
    val p = Paths.get(baseDir)
    Files.createDirectories(p)
    p
  }

  private def fileFor(runId: String): Path =
    dir.resolve(runId.replaceAll("[^A-Za-z0-9._-]", "_") + ".json")

  /** Serialize a read-modify-write of one run's record: JVM monitor
    * (same-process racers) wrapping an OS file lock (cross-process
    * racers). The monitor key is the NORMALIZED absolute record path:
    * two registries over the same baseDir via different spellings
    * ("runs" vs "./runs" vs "a/../runs") must share one monitor, or the
    * second FileChannel.lock() on the same underlying file in one JVM
    * throws OverlappingFileLockException instead of serializing.
    * (Symlink aliases would need toRealPath, which requires the path to
    * exist — out of scope for a registry that creates its own dir.)
    * Lock files start with "." so [[list]] never parses them. */
  private def withRunLock[A](runId: String)(f: => A): A =
    RunRegistry.jvmLock(fileFor(runId).toAbsolutePath.normalize.toString)
      .synchronized {
      val lockPath = dir.resolve(
        "." + runId.replaceAll("[^A-Za-z0-9._-]", "_") + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try f finally l.release() }
      finally ch.close()
    }

  /** Drop the dotfile lock once a run reaches SUCCEEDED — the only state
    * with NO outgoing transitions, so a late racer re-creating the lock
    * file performs no write behind it (updateMetrics filters on RUNNING;
    * transition out of SUCCEEDED is illegal). Unlinking a lock file a
    * waiter still has open is the classic double-hold race, which is why
    * this NEVER runs for resumable states (FAILED/PARTIAL re-enter
    * RUNNING); for SUCCEEDED both would-be holders are read-only no-ops.
    * Bounds dotfile growth to the set of non-terminal runs. The JVM
    * monitor map entry stays (one small Object per run id — removal is
    * racy against a thread already synchronized on it). */
  private def dropLockFile(runId: String): Unit =
    try Files.deleteIfExists(dir.resolve(
      "." + runId.replaceAll("[^A-Za-z0-9._-]", "_") + ".lock"))
    catch { case _: Exception => () }

  /** Create the run record if absent; an EXISTING record is returned
    * unchanged (never clobbered back to PENDING) — a re-register would
    * otherwise resurrect a terminal run behind [[transition]]'s state
    * machine, and resurrecting SUCCEEDED in particular re-opens the
    * deleted-lock-file double-hold race [[dropLockFile]] reasons about.
    * Held under the run lock so two racing get-then-register callers
    * (e.g. RegistryObserver's RunStarted) resolve to one save. */
  def register(runId: String, runDir: String): RunRecord =
    withRunLock(runId) {
      get(runId).getOrElse {
        val now = System.currentTimeMillis()
        val rec = RunRecord(runId, runDir, RunState.Pending, now, now)
        save(rec)
        rec
      }
    }

  def transition(runId: String, to: String,
                 update: RunRecord => RunRecord = identity): RunRecord =
    withRunLock(runId) {
      val cur = get(runId).getOrElse(
        throw new IllegalStateException(s"unknown run: $runId"))
      require(RunState.allowed.getOrElse(cur.state, Set.empty).contains(to),
        s"illegal transition ${cur.state} -> $to for $runId")
      val next = update(cur).copy(state = to,
        updatedMs = System.currentTimeMillis())
      save(next)
      if (to == RunState.Succeeded) dropLockFile(runId)
      next
    }

  /** Persist live counters WITHOUT a state transition (reference:
    * run_registry.py `update_metrics` as used by ondine/mcp/progress.py —
    * status transitions stay the pipeline's job). Applied only while the
    * run is RUNNING so a straggling progress write can never clobber the
    * authoritative counters of a terminal record; returns the updated
    * record, or None when the run is unknown or not RUNNING. */
  def updateMetrics(runId: String, rows: Long, calls: Long, cost: String,
                    totalRows: Long = 0L): Option[RunRecord] =
    withRunLock(runId) {
      get(runId).filter(_.state == RunState.Running).map { cur =>
        val next = cur.copy(rows = rows, calls = calls, cost = cost,
          totalRows = if (totalRows > 0) totalRows else cur.totalRows,
          updatedMs = System.currentTimeMillis())
        save(next)
        next
      }
    }

  def get(runId: String): Option[RunRecord] = {
    val p = fileFor(runId)
    if (!Files.exists(p)) None else Some(parse(Files.readString(p)))
  }

  def list(): Seq[RunRecord] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && !n.startsWith(".")
      }
      .map(p => parse(Files.readString(p)))
      .toSeq.sortBy(_.createdMs)
    finally stream.close()
  }

  private def save(rec: RunRecord): Unit = {
    // hidden non-.json suffix: a crash-orphaned temp file must never be
    // picked up (or half-read) by list()
    val tmp = Files.createTempFile(dir, ".tmp_", ".part")
    Files.writeString(tmp, Json.write(toJson(rec)))
    Files.move(tmp, fileFor(rec.runId), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The record as the JSON object its file holds and the CLI prints. */
  def toJson(r: RunRecord): ObjectNode = Json.obj(
    "run_id" -> r.runId, "run_dir" -> r.runDir, "state" -> r.state,
    "created_ms" -> r.createdMs, "updated_ms" -> r.updatedMs,
    "rows" -> r.rows, "valid_rows" -> r.validRows, "calls" -> r.calls,
    "total_rows" -> r.totalRows, "cost" -> r.cost, "note" -> r.note)

  private def parse(txt: String): RunRecord = {
    val n = Json.read(txt)
    def str(k: String): String = n.path(k).asText("")
    def num(k: String): Long = n.path(k).asLong(0L)
    RunRecord(str("run_id"), str("run_dir"), str("state"),
      num("created_ms"), num("updated_ms"), num("rows"),
      num("valid_rows"), num("calls"), str("cost"), str("note"),
      num("total_rows"))
  }
}

/** Observer wiring the registry into the enrichment lifecycle: RUNNING on
  * start, SUCCEEDED/PARTIAL (some rows without output) on completion,
  * FAILED with the error note on abort — plus LIVE progress: every
  * [[RunProgress]] event forwards rows-done/calls/cost onto the durable
  * record so a status poller (even in another process) sees a RUNNING job
  * advance (reference: ondine/mcp/progress.py RegistryProgressObserver).
  *
  * Progress writes are best-effort and throttled to one per
  * `minProgressIntervalMs` (reference default 250 ms): progress churns at
  * every chunk boundary and a registry write per chunk would spam the
  * store without making human-scale polling any fresher. Writes with
  * unchanged rows-done are skipped outright (no new information), and a
  * write failure never kills the run — the terminal transition is the
  * source of truth.
  *
  * Events land on the row named by the run's own id, which the Enricher
  * derives from its run dir, or on one given row ([[RegistryObserver.onRow]]).
  */
final class RegistryObserver(registry: RunRegistry, runDir: String,
                             minProgressIntervalMs: Long = 250L)
    extends Observer {
  /** The one row every event lands on; None = the run's own id. */
  private var row: Option[String] = None

  /** Per row: (nanoTime of the last progress write, rows it wrote). */
  private val lastWrite = scala.collection.mutable.Map.empty[String, (Long, Long)]

  def onEvent(e: PipelineEvent): Unit = e match {
    case RunStarted(run) =>
      val id = row.getOrElse(run)
      if (registry.get(id).isEmpty) registry.register(id, runDir)
      registry.transition(id, RunState.Running)
      lastWrite -= id
    case RunProgress(run, rowsDone, totalRows, calls, spent) =>
      val id = row.getOrElse(run)
      val now = System.nanoTime()
      val (lastNs, lastRows) = lastWrite.getOrElse(id, (0L, -1L))
      if (rowsDone != lastRows && (lastNs == 0L ||
          now - lastNs >= minProgressIntervalMs * 1000000L)) {
        lastWrite(id) = (now, rowsDone)
        try registry.updateMetrics(id, rowsDone, calls, spent.toString,
          totalRows)
        catch { case _: Exception => () }
      }
    case RunCompleted(run, m, q) =>
      val to = if (q.validRows + m.skippedRows < m.rows) RunState.Partial
        else RunState.Succeeded
      registry.transition(row.getOrElse(run), to, r => r.copy(rows = m.rows,
        validRows = q.validRows, calls = m.calls, cost = m.cost.toString))
    case RunFailed(run, err) =>
      registry.transition(row.getOrElse(run), RunState.Failed,
        r => r.copy(note = String.valueOf(err).take(500)))
    case _ => ()
  }
}

object RegistryObserver {
  /** An observer that records every event of a run on registry row
    * `rowId`, whatever id the run carries (the MCP server's `mcp-N`). */
  def onRow(registry: RunRegistry, runDir: String,
            rowId: String): RegistryObserver = {
    val o = new RegistryObserver(registry, runDir)
    o.row = Some(rowId)
    o
  }
}
