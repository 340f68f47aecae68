package graft.run

import scala.collection.mutable.ArrayBuffer

/** Observer protocol + dispatcher (reference: ondine/observability/ —
  * observer registry, events PipelineStart/End, Error; ~1200 LoC of
  * Langfuse/OTel adapters reduce on Spark to: driver-side lifecycle events
  * here + executor/task metrics from a SparkListener + ONE trace exporter,
  * [[OtelObserver]], whose OTLP spans any collector or Langfuse's OTLP
  * endpoint (`/api/public/otel`) ingests).
  */
sealed trait PipelineEvent { def runId: String }
final case class RunStarted(runId: String) extends PipelineEvent
final case class ChunkCompleted(runId: String, chunkIndex: Long,
    spentSoFar: java.math.BigDecimal) extends PipelineEvent
/** Live counters at a durable-chunk boundary (reference:
  * ondine/mcp/progress.py:1-60 — the data a status poller needs for a
  * RUNNING job). `rowsDone` includes rows completed by prior attempts of
  * the same runDir, so a resumed run reports a monotone fraction of
  * `totalRows`. */
final case class RunProgress(runId: String, rowsDone: Long, totalRows: Long,
    calls: Long, spentSoFar: java.math.BigDecimal) extends PipelineEvent
final case class RunCompleted(runId: String, metrics: RunMetrics,
    quality: graft.ops.QualityReport) extends PipelineEvent
final case class RunFailed(runId: String, error: String) extends PipelineEvent
/** One LLM call — the reference's per-call observation grain
  * (ondine/adapters/unified_litellm_client.py:473-531 `LLMCallEvent`:
  * model, token usage, cost, latency to every observer). On Spark this
  * grain is NOT emitted from the executor hot path; it is REPLAYED
  * driver-side from the durable responses ledger after the run's calls
  * land (see Enricher), so observers that want it
  * ([[Observer.wantsCallGrain]]) get every call at zero hot-path cost and
  * unobserved runs pay nothing. `attempt` + `callId` identify the call
  * durably — exporters derive deterministic event ids from them so a
  * RESUMED run (which replays the whole ledger, prior attempts included)
  * upserts rather than double-counts. */
final case class LlmCallCompleted(runId: String, callId: Long, attempt: Long,
    model: String, tokensIn: Long, tokensOut: Long,
    cost: java.math.BigDecimal, latencyMs: Double, callRows: Long,
    failed: Boolean) extends PipelineEvent
/** A router circuit-breaker trip (reference: ProviderCooldownEvent,
  * ondine/adapters/unified_litellm_client.py:662-705 — deployment,
  * reason, cooldown duration, fail count; run ids are zeroed there too,
  * since the router outlives any single run). Emitted through
  * [[graft.llm.RouterClient.BridgedCooldownListener]]. */
final case class ProviderCooldown(runId: String, deployment: String,
    failCount: Int, cooldownMs: Long, reason: String) extends PipelineEvent

trait Observer extends Serializable {
  def onEvent(e: PipelineEvent): Unit
  /** Opt-in to [[LlmCallCompleted]] ledger replay. The replay streams
    * O(calls) rows through the driver and one event per call through
    * every observer — producers skip it entirely unless some registered
    * observer returns true. */
  def wantsCallGrain: Boolean = false
}

final class LoggingObserver extends Observer {
  def onEvent(e: PipelineEvent): Unit =
    System.err.println(s"[graft] $e")
}

/** In-memory collector, handy for tests and programmatic inspection. */
final class CollectingObserver extends Observer {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[PipelineEvent]()
  def onEvent(e: PipelineEvent): Unit = events.add(e)
}

/** Executor-level telemetry for a run window: a real `SparkListener`
  * registered between RunStarted and RunCompleted/Failed, aggregating the
  * task metrics the reference's Langfuse/OTel observers would stream
  * (ondine/observability/) — CPU time, records and bytes read, shuffle
  * traffic, spill, task/failure counts. The snapshot rides on the
  * lifecycle events' side so any exporter (OTel, logs, a metrics table)
  * consumes ONE summary instead of re-implementing Spark's listener bus.
  */
final class SparkMetricsObserver(spark: org.apache.spark.sql.SparkSession)
  extends Observer {

  final class Snapshot {
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val failedTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val cpuTimeNs = new java.util.concurrent.atomic.AtomicLong(0)
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleBytesWritten = new java.util.concurrent.atomic.AtomicLong(0)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0)
    override def toString: String =
      s"""{"tasks":${tasks.get},"failed_tasks":${failedTasks.get},""" +
        s""""cpu_time_ms":${cpuTimeNs.get / 1000000},""" +
        s""""records_read":${recordsRead.get},"bytes_read":${bytesRead.get},""" +
        s""""shuffle_bytes_written":${shuffleBytesWritten.get},""" +
        s""""spill_bytes":${spillBytes.get}}"""
  }

  @volatile private var current: Snapshot = _
  @volatile private var lastSnapshot: Snapshot = _

  private val listener = new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val s = current
      if (s != null && e.taskMetrics != null) {
        s.tasks.incrementAndGet()
        if (e.taskInfo != null && !e.taskInfo.successful)
          s.failedTasks.incrementAndGet()
        s.cpuTimeNs.addAndGet(e.taskMetrics.executorCpuTime)
        s.recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        s.bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
        s.shuffleBytesWritten.addAndGet(
          e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.addAndGet(e.taskMetrics.diskBytesSpilled)
      }
    }
  }

  def onEvent(e: PipelineEvent): Unit = e match {
    case _: RunStarted =>
      current = new Snapshot
      spark.sparkContext.addSparkListener(listener)
    case _: RunCompleted | _: RunFailed =>
      spark.sparkContext.removeSparkListener(listener)
      lastSnapshot = current
      current = null
    case _ => ()
  }

  /** Metrics of the last finished run window (null before any run). */
  def snapshot: Snapshot = if (current != null) current else lastSnapshot
}

/** Driver-side dispatcher; failures in observers never fail the run
  * (reference dispatcher semantics). */
final class ObserverDispatcher {
  private val observers = ArrayBuffer.empty[Observer]
  def register(o: Observer): this.type = { observers += o; this }
  /** Producers gate work that exists only to feed observers (live
    * progress counters) on this — an unobserved run pays nothing. */
  def nonEmpty: Boolean = observers.nonEmpty
  /** True iff some observer opted into per-call ledger replay. */
  def wantsCallGrain: Boolean = observers.exists(_.wantsCallGrain)
  def emit(e: PipelineEvent): Unit = observers.foreach { o =>
    try o.onEvent(e)
    catch { case ex: Exception =>
      System.err.println(s"[graft] observer failed on $e: ${ex.getMessage}")
    }
  }
}
