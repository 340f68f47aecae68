package graft

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.QualityReport
import graft.run._

/** What Langfuse reads off the OTLP export through its OTel property
  * mapping: the trace name and final output on the root span, chunk spans,
  * generation spans, deterministic ids (resume extends the trace, a
  * re-export upserts), the failure output, and the NDJSON file target of
  * `--langfuse FILE`. */
class LangfuseSpec extends AnyFunSuite {
  import OtlpJson.{attrs, spans}

  private val mapper = new ObjectMapper()

  private def metrics(rows: Long) = RunMetrics(rows, calls = 4,
    tokensIn = 100, tokensOut = 40, cost = new JBigDecimal("0.012"),
    skippedRows = 0, durationMs = 1234)
  private val quality =
    QualityReport(10, 9, Map("out" -> 1L), 0.9, "good")
  private def call(runId: String, id: Long, attempt: Long = 1L) =
    LlmCallCompleted(runId, id, attempt, model = "mock-1", tokensIn = 10,
      tokensOut = 4, cost = new JBigDecimal("0.003"), latencyMs = 2.0,
      callRows = 5, failed = false)

  private final class Collecting extends OtelSink {
    val traces = ArrayBuffer.empty[String]
    def export(signal: String, json: String): Unit =
      if (signal == "traces") traces += json
  }

  /** Every span one full run (start, a chunk, one call, end) exports. */
  private def runOnce(runId: String, attempt: Long = 1L): Seq[JsonNode] = {
    val sink = new Collecting
    val obs = new OtelObserver(sink, clockNanos = () => 1000L)
    obs.onEvent(RunStarted(runId))
    obs.onEvent(ChunkCompleted(runId, 0, new JBigDecimal("0.003")))
    obs.onEvent(call(runId, 0L, attempt))
    obs.onEvent(RunCompleted(runId, metrics(10), quality))
    spans(sink.traces.toSeq)
  }

  test("run lifecycle: trace-create, chunk spans, generation, final upsert") {
    val all = runOnce("run-1")
    val root = all.find(_.get("name").asText == "graft.run").get
    val traceId = root.get("traceId").asText
    assert(all.forall(_.get("traceId").asText == traceId))
    // trace: named, and its final output carries the run's metrics
    val ra = attrs(root)
    assert(ra("langfuse.trace.name").asText === "graft-pipeline")
    val out = mapper.readTree(ra("langfuse.trace.output").asText)
    assert(out.get("success").asBoolean)
    assert(out.get("rows_processed").asLong === 10)
    assert(out.get("rows_succeeded").asLong === 9)
    assert(out.get("rows_failed").asLong === 1)
    assert(out.get("total_cost").asDouble === 0.012)
    assert(out.get("total_tokens").asLong === 140)
    assert(out.get("duration_ms").asLong === 1234)
    // chunk span: a plain span under the trace, with its spend
    val chunk = all.find(_.get("name").asText == "graft.chunk").get
    assert(chunk.get("parentSpanId").asText === root.get("spanId").asText)
    assert(attrs(chunk)("graft.cost_spent_usd").asDouble === 0.003)
    assert(!attrs(chunk).contains("langfuse.observation.type"))
    // generation: the call span, the only observation with usage and cost
    val gens = all.filter(s => attrs(s).get("langfuse.observation.type")
      .exists(_.asText == "generation"))
    assert(gens.map(_.get("name").asText) === Seq("graft.llm_call"))
    assert(gens.head.get("parentSpanId").asText === root.get("spanId").asText)
    assert(attrs(gens.head)("gen_ai.usage.cost").asDouble === 0.003)
  }

  test("trace and event ids are deterministic — resume extends, retry dedupes") {
    val first = runOnce("same-run")
    val again = runOnce("same-run")
    // the trace id is md5("graft:"+runId), the id the Langfuse ingestion
    // exporter used before, so a resumed run extends an older trace too
    val md5 = MessageDigest.getInstance("MD5")
      .digest("graft:same-run".getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    assert((first ++ again).forall(_.get("traceId").asText == md5))
    // re-exporting the same run yields the same span ids: Langfuse upserts
    // each observation by id instead of counting it twice
    def ids(ss: Seq[JsonNode]) = ss.map(_.get("spanId").asText)
    assert(ids(first) === ids(again))
    assert(ids(first).distinct.size === first.size)
    // a new attempt at the same call is its own observation
    val retried = runOnce("same-run", attempt = 2L)
      .filter(_.get("name").asText == "graft.llm_call")
    assert(!ids(first).contains(retried.head.get("spanId").asText))
  }

  test("failure: ERROR event with sanitized message + failure upsert") {
    val sink = new Collecting
    val obs = new OtelObserver(sink, clockNanos = () => 5L)
    obs.onEvent(RunStarted("run-x"))
    obs.onEvent(RunFailed("run-x", "boom for a.b@x.org at 192.168.0.1"))
    val root = spans(sink.traces.toSeq).head
    assert(root.at("/status/code").asInt === 2) // Langfuse level ERROR
    val msg = root.at("/status/message").asText
    assert(msg.contains("[REDACTED]") && !msg.contains("a.b@x.org") &&
      !msg.contains("192.168.0.1"))
    val out = mapper.readTree(attrs(root)("langfuse.trace.output").asText)
    assert(!out.get("success").asBoolean)
    assert(out.get("error").asText === msg)
  }

  test("file sink appends one parsable batch per line") {
    val f = Files.createTempFile("graft_lf", ".ndjson").toString
    // exactly what `--langfuse FILE` wires: no keys needed for a file
    val sink = Main.traceSink("langfuse", f, Map.empty)
    val obs = new OtelObserver(sink, clockNanos = () => 9L)
    obs.onEvent(RunStarted("file-run"))
    obs.onEvent(call("file-run", 0L))
    obs.onEvent(RunCompleted("file-run", metrics(5), quality))
    val lines = Files.readAllLines(Paths.get(f))
    assert(lines.size === 3) // call batch + run trace + run metrics
    val bodies = (0 until lines.size).map(i => mapper.readTree(lines.get(i)))
    assert(bodies.map(_.get("signal").asText) ===
      Seq("traces", "traces", "metrics"))
    val traced = spans(bodies.filter(_.get("signal").asText == "traces")
      .map(b => mapper.writeValueAsString(b.get("body"))))
    assert(traced.map(_.get("name").asText) === Seq("graft.llm_call", "graft.run"))
  }
}
