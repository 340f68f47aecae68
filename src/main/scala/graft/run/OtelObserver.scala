package graft.run

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.security.MessageDigest

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** OpenTelemetry adapter for the run lifecycle — the reference's OTel
  * and Langfuse observers (ondine/observability/otel_observer.py,
  * langfuse_observer.py) re-expressed over the [[Observer]] seam as ONE
  * exporter: each run becomes one trace (root span `graft.run` with a
  * child span per durable chunk and per LLM call), RunMetrics/QualityReport
  * become OTLP sum/gauge data points. Payloads are the standard OTLP/HTTP
  * JSON encoding (`ExportTraceServiceRequest` /
  * `ExportMetricsServiceRequest`), so the output is ingestible by any
  * collector's `/v1/traces` + `/v1/metrics` endpoints, by Langfuse's OTLP
  * endpoint ([[OtlpHttpSink.langfuseFromEnv]]) — or greppable from the
  * file sink.
  *
  * Langfuse reads the spans through its documented OTel property mapping:
  * a call span is a `generation` (`langfuse.observation.type`) with model,
  * `gen_ai.usage.*_tokens` and `gen_ai.usage.cost`; the root span names
  * the trace (`langfuse.trace.name`) and carries the run's final metrics
  * (on failure: `success` false and the scrubbed error) as
  * `langfuse.trace.output`. Run totals ride ONLY on the root span, never
  * as usage or cost, so a trace's summed generation cost is the run's cost.
  *
  * Span/trace ids derive deterministically from the runId (md5), so
  * resumed runs extend the SAME trace — the reference ties observability
  * to run identity the same way (session_id = run_id).
  *
  * Scale note: this is driver-side only — O(chunks) span objects per run
  * plus call spans flushed in [[OtelObserver.CallBatch]]-sized posts, no
  * per-row telemetry; executor-side aggregates ride in via
  * [[SparkMetricsObserver]]'s snapshot and export as resource attributes.
  */
final class OtelObserver(
    sink: OtelSink,
    serviceName: String = "graft",
    sparkMetrics: Option[SparkMetricsObserver] = None,
    clockNanos: () => Long = () => System.currentTimeMillis() * 1000000L)
  extends Observer {

  /** Per-call spans via the Enricher's ledger replay (reference parity:
    * one generation per LLM call). Spans flush in
    * [[OtelObserver.CallBatch]]-sized OTLP posts on the SAME trace id, so
    * observer memory stays bounded no matter how many calls a run made. */
  override def wantsCallGrain: Boolean = true

  private val mapper = new ObjectMapper()

  private final case class RunState(
      startNs: Long,
      var lastChunkEndNs: Long,
      chunkSpans: mutable.ArrayBuffer[ObjectNode],
      callSpans: mutable.ArrayBuffer[ObjectNode] = mutable.ArrayBuffer.empty)
  private val runs = mutable.Map.empty[String, RunState]

  /** Export buffered call spans as one OTLP post and clear the buffer —
    * the collector stitches them onto the run trace by trace id. */
  private def flushCallSpans(runId: String, st: RunState): Unit =
    if (st.callSpans.nonEmpty) {
      val root = mapper.createObjectNode()
      val spans = resourceEnvelope(root, "traces")
      st.callSpans.foreach(spans.add)
      st.callSpans.clear()
      sink.export("traces", mapper.writeValueAsString(root))
    }

  private def hex(s: String, chars: Int): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.take(chars)
  private def traceId(runId: String) = hex(s"graft:$runId", 32)
  private def spanId(runId: String, which: String) =
    hex(s"graft:$runId:$which", 16)

  private def attr(parent: ArrayNode, key: String, v: Any): Unit = {
    val a = parent.addObject()
    a.put("key", key)
    val value = a.putObject("value")
    v match {
      case i: Long => value.put("intValue", i.toString) // OTLP JSON: int64 as string
      case i: Int => value.put("intValue", i.toString)
      case d: Double => value.put("doubleValue", d)
      case b: Boolean => value.put("boolValue", b)
      case other => value.put("stringValue", other.toString)
    }
  }

  private def newSpan(runId: String, name: String, id: String,
                      parent: Option[String], startNs: Long,
                      endNs: Long): ObjectNode = {
    val s = mapper.createObjectNode()
    s.put("traceId", traceId(runId))
    s.put("spanId", id)
    parent.foreach(p => s.put("parentSpanId", p))
    s.put("name", name)
    s.put("kind", 1) // SPAN_KIND_INTERNAL
    s.put("startTimeUnixNano", startNs.toString)
    s.put("endTimeUnixNano", endNs.toString)
    s
  }

  /** Envelope shared by both signal types. */
  private def resourceEnvelope(root: ObjectNode, signal: String): ArrayNode = {
    val rs = root.putArray(if (signal == "traces") "resourceSpans"
      else "resourceMetrics")
    val entry = rs.addObject()
    val res = entry.putObject("resource")
    val resAttrs = res.putArray("attributes")
    attr(resAttrs, "service.name", serviceName)
    sparkMetrics.flatMap(m => Option(m.snapshot)).foreach { snap =>
      attr(resAttrs, "spark.tasks", snap.tasks.get)
      attr(resAttrs, "spark.cpu_time_ms", snap.cpuTimeNs.get / 1000000L)
      attr(resAttrs, "spark.records_read", snap.recordsRead.get)
      attr(resAttrs, "spark.shuffle_bytes_written", snap.shuffleBytesWritten.get)
      attr(resAttrs, "spark.spill_bytes", snap.spillBytes.get)
    }
    val scoped = entry.putArray(if (signal == "traces") "scopeSpans"
      else "scopeMetrics").addObject()
    val scope = scoped.putObject("scope")
    scope.put("name", "graft.run")
    scoped.putArray(if (signal == "traces") "spans" else "metrics")
  }

  private def exportTrace(runId: String, st: RunState, endNs: Long,
                          ok: Boolean, error: Option[String],
                          rootAttrs: (ArrayNode => Unit)): Unit = {
    val root = mapper.createObjectNode()
    val spans = resourceEnvelope(root, "traces")
    val rootSpan = newSpan(runId, "graft.run", spanId(runId, "root"), None,
      st.startNs, endNs)
    val attrs = rootSpan.putArray("attributes")
    attr(attrs, "graft.run_id", runId)
    attr(attrs, "langfuse.trace.name", "graft-pipeline")
    rootAttrs(attrs)
    val status = rootSpan.putObject("status")
    status.put("code", if (ok) 1 else 2) // STATUS_CODE_OK / ERROR
    error.foreach(status.put("message", _))
    spans.add(rootSpan)
    st.chunkSpans.foreach(spans.add)
    sink.export("traces", mapper.writeValueAsString(root))
  }

  private def sum(metrics: ArrayNode, name: String, unit: String,
                  ts: Long)(put: ObjectNode => Unit): Unit = {
    val m = metrics.addObject()
    m.put("name", name)
    m.put("unit", unit)
    val s = m.putObject("sum")
    s.put("aggregationTemporality", 2) // CUMULATIVE
    s.put("isMonotonic", true)
    val dp = s.putArray("dataPoints").addObject()
    dp.put("timeUnixNano", ts.toString)
    put(dp)
  }

  private def exportMetrics(runId: String, m: RunMetrics,
                            q: graft.ops.QualityReport, ts: Long): Unit = {
    val root = mapper.createObjectNode()
    val metrics = resourceEnvelope(root, "metrics")
    sum(metrics, "graft.run.rows", "1", ts)(_.put("asInt", m.rows.toString))
    sum(metrics, "graft.run.llm_calls", "1", ts)(_.put("asInt", m.calls.toString))
    sum(metrics, "graft.run.tokens_in", "1", ts)(
      _.put("asInt", m.tokensIn.toString))
    sum(metrics, "graft.run.tokens_out", "1", ts)(
      _.put("asInt", m.tokensOut.toString))
    sum(metrics, "graft.run.cost_usd", "usd", ts)(
      _.put("asDouble", m.cost.doubleValue))
    val g = metrics.addObject()
    g.put("name", "graft.run.success_rate")
    g.put("unit", "1")
    val dp = g.putObject("gauge").putArray("dataPoints").addObject()
    dp.put("timeUnixNano", ts.toString)
    dp.put("asDouble", q.successRate)
    sink.export("metrics", mapper.writeValueAsString(root))
  }

  def onEvent(e: PipelineEvent): Unit = e match {
    case RunStarted(runId) =>
      val now = clockNanos()
      runs(runId) = RunState(now, now, mutable.ArrayBuffer.empty)

    case ChunkCompleted(runId, idx, spent) =>
      runs.get(runId).foreach { st =>
        val now = clockNanos()
        val s = newSpan(runId, s"graft.chunk", spanId(runId, s"chunk:$idx"),
          Some(spanId(runId, "root")), st.lastChunkEndNs, now)
        val attrs = s.putArray("attributes")
        attr(attrs, "graft.chunk_index", idx)
        attr(attrs, "graft.cost_spent_usd", spent.doubleValue)
        st.chunkSpans += s
        st.lastChunkEndNs = now
      }

    case LlmCallCompleted(runId, callId, attempt, model, tIn, tOut, cost,
        latMs, callRows, failed) =>
      runs.get(runId).foreach { st =>
        val now = clockNanos()
        // deterministic span id from (runId, attempt, callId): a resumed
        // run's re-replay exports the SAME ids — idempotent at the store
        val s = newSpan(runId, "graft.llm_call",
          spanId(runId, s"call:$attempt:$callId"),
          Some(spanId(runId, "root")),
          now - math.max(0L, (latMs * 1e6).toLong), now)
        val attrs = s.putArray("attributes")
        attr(attrs, "graft.call_id", callId)
        attr(attrs, "graft.attempt", attempt)
        attr(attrs, "langfuse.observation.type", "generation")
        if (model != null) attr(attrs, "gen_ai.response.model", model)
        attr(attrs, "gen_ai.usage.input_tokens", tIn)
        attr(attrs, "gen_ai.usage.output_tokens", tOut)
        attr(attrs, "gen_ai.usage.cost", cost.doubleValue)
        attr(attrs, "graft.call_rows", callRows)
        if (failed) s.putObject("status").put("code", 2)
        st.callSpans += s
        if (st.callSpans.length >= OtelObserver.CallBatch)
          flushCallSpans(runId, st)
      }

    case RunCompleted(runId, m, q) =>
      runs.remove(runId).foreach { st =>
        val now = clockNanos()
        flushCallSpans(runId, st)
        exportTrace(runId, st, now, ok = true, None, { attrs =>
          attr(attrs, "graft.rows", m.rows)
          attr(attrs, "graft.llm_calls", m.calls)
          attr(attrs, "graft.cost_usd", m.cost.doubleValue)
          attr(attrs, "graft.quality_rating", q.rating)
          // the run's final metrics (reference on_pipeline_end output)
          val out = mapper.createObjectNode()
          out.put("success", true)
          out.put("rows_processed", m.rows)
          out.put("rows_succeeded", q.validRows)
          out.put("rows_failed", m.rows - q.validRows - m.skippedRows)
          out.put("total_cost", m.cost.doubleValue)
          out.put("total_tokens", m.tokensIn + m.tokensOut)
          out.put("duration_ms", m.durationMs)
          attr(attrs, "langfuse.trace.output", mapper.writeValueAsString(out))
        })
        exportMetrics(runId, m, q, now)
      }

    case RunFailed(runId, err) =>
      runs.remove(runId).foreach { st =>
        flushCallSpans(runId, st)
        // error text can carry prompt fragments — PII-scrub before export
        val msg = TraceSanitizer.sanitizeText(err)
        exportTrace(runId, st, clockNanos(), ok = false, Some(msg), { attrs =>
          val out = mapper.createObjectNode()
          out.put("success", false)
          out.put("error", msg)
          attr(attrs, "langfuse.trace.output", mapper.writeValueAsString(out))
        })
      }

    // live counters and router cooldowns are the registry's and the logs'
    // concern; the trace already carries per-chunk spans with spend
    case _: RunProgress | _: ProviderCooldown => ()
  }
}

/** Where OTLP payloads go: `signal` is "traces" or "metrics". */
trait OtelSink {
  def export(signal: String, otlpJson: String): Unit
}

/** NDJSON file sink — one `{"signal":…,"body":…}` line per export, append
  * mode, safe across runs; the local-disk stand-in for a collector. */
final class OtelFileSink(path: String) extends OtelSink {
  def export(signal: String, otlpJson: String): Unit = {
    val line = s"""{"signal":"$signal","body":$otlpJson}""" + "\n"
    Files.write(Paths.get(path), line.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

/** OTLP/HTTP sink: POSTs each payload to `<endpoint>/v1/<signal>` as
  * application/json with `headers` added — the standard collector ingest.
  * Failures surface to the dispatcher, which logs and never fails the run. */
final class OtlpHttpSink(endpoint: String,
                         headers: Map[String, String] = Map.empty,
                         timeoutMs: Long = 5000) extends OtelSink {
  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()
  def export(signal: String, otlpJson: String): Unit = {
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"${endpoint.stripSuffix("/")}/v1/$signal"))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
    headers.foreach { case (k, v) => req.header(k, v) }
    val resp = client.send(req
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(otlpJson))
      .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(
        s"OTLP export to /v1/$signal failed: HTTP ${resp.statusCode()}")
  }
}

object OtlpHttpSink {
  /** Langfuse's OTLP endpoint from the standard LANGFUSE_* settings (the
    * reference's client init): traces go to
    * `{LANGFUSE_HOST}/api/public/otel/v1/traces` (cloud host by default)
    * with HTTP Basic `publicKey:secretKey`. The endpoint ingests traces
    * only, so the metrics signal is dropped. */
  def langfuseFromEnv(env: Map[String, String]): OtelSink = {
    def key(k: String) =
      env.getOrElse(k, throw new IllegalArgumentException(s"$k unset"))
    val auth = "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"${key("LANGFUSE_PUBLIC_KEY")}:${key("LANGFUSE_SECRET_KEY")}"
        .getBytes(StandardCharsets.UTF_8))
    val traces = new OtlpHttpSink(
      env.getOrElse("LANGFUSE_HOST", "https://cloud.langfuse.com")
        .stripSuffix("/") + "/api/public/otel",
      Map("Authorization" -> auth))
    (signal, otlpJson) => if (signal == "traces") traces.export(signal, otlpJson)
  }
}

object OtelObserver {
  /** Call spans per OTLP post: bounds observer memory at a constant no
    * matter how many calls the replay streams. */
  val CallBatch = 512
}
