package graft

import java.math.{BigDecimal => JBigDecimal}
import java.net.InetSocketAddress
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.QualityReport
import graft.run._

/** Spans of every `traces` export, in order, and each span's attributes by
  * key (the value node's one typed field: stringValue, intValue, ...). */
object OtlpJson {
  private val mapper = new ObjectMapper()
  def spans(traceExports: Seq[String]): Seq[JsonNode] =
    traceExports.flatMap { t =>
      val ss = mapper.readTree(t).at("/resourceSpans/0/scopeSpans/0/spans")
      (0 until ss.size()).map(ss.get(_))
    }
  def attrs(span: JsonNode): Map[String, JsonNode] = {
    val as = span.path("attributes")
    (0 until as.size()).map { i =>
      val a = as.get(i)
      a.get("key").asText -> a.get("value").elements().next()
    }.toMap
  }
}

class OtelSpec extends AnyFunSuite {
  import OtlpJson.{attrs, spans}

  private val mapper = new ObjectMapper()

  private def metrics(rows: Long) = RunMetrics(rows, calls = 4,
    tokensIn = 100, tokensOut = 40, cost = new JBigDecimal("0.012"),
    skippedRows = 0, durationMs = 1234)
  private val quality =
    QualityReport(10, 9, Map("out" -> 1L), 0.9, "good")

  private final class Collecting extends OtelSink {
    val out = ArrayBuffer.empty[(String, String)]
    def export(signal: String, json: String): Unit = out += ((signal, json))
  }

  test("run lifecycle becomes one OTLP trace + one metrics export") {
    val sink = new Collecting
    var now = 1000000000L
    val obs = new OtelObserver(sink, clockNanos = () => now)
    obs.onEvent(RunStarted("run-1"))
    now += 5000000L
    obs.onEvent(ChunkCompleted("run-1", 0, new JBigDecimal("0.004")))
    now += 7000000L
    obs.onEvent(ChunkCompleted("run-1", 1, new JBigDecimal("0.012")))
    now += 2000000L
    obs.onEvent(RunCompleted("run-1", metrics(10), quality))

    assert(sink.out.map(_._1) === Seq("traces", "metrics"))
    val trace = mapper.readTree(sink.out(0)._2)
    val spans = trace.at("/resourceSpans/0/scopeSpans/0/spans")
    assert(spans.size() === 3)
    val root = spans.get(0)
    assert(root.get("name").asText === "graft.run")
    assert(root.get("traceId").asText.length === 32)
    assert(root.get("startTimeUnixNano").asText === "1000000000")
    assert(root.get("endTimeUnixNano").asText === "1014000000")
    assert(root.at("/status/code").asInt === 1)
    // chunk spans tile the run window and parent to the root
    val c0 = spans.get(1); val c1 = spans.get(2)
    assert(c0.get("parentSpanId").asText === root.get("spanId").asText)
    assert(c0.get("startTimeUnixNano").asText === "1000000000")
    assert(c0.get("endTimeUnixNano").asText === "1005000000")
    assert(c1.get("startTimeUnixNano").asText === "1005000000")
    assert(c1.get("endTimeUnixNano").asText === "1012000000")

    val m = mapper.readTree(sink.out(1)._2)
    val ms = m.at("/resourceMetrics/0/scopeMetrics/0/metrics")
    val byName = (0 until ms.size()).map(i => ms.get(i))
      .map(n => n.get("name").asText -> n).toMap
    assert(byName("graft.run.rows").at("/sum/dataPoints/0/asInt").asText === "10")
    assert(byName("graft.run.cost_usd").at("/sum/dataPoints/0/asDouble")
      .asDouble === 0.012)
    assert(byName("graft.run.success_rate").at("/gauge/dataPoints/0/asDouble")
      .asDouble === 0.9)
    assert(m.at("/resourceMetrics/0/resource/attributes/0/value/stringValue")
      .asText === "graft")
  }

  test("trace ids are deterministic in the runId — resume extends the trace") {
    val a = new Collecting; val b = new Collecting
    val oa = new OtelObserver(a, clockNanos = () => 1L)
    val ob = new OtelObserver(b, clockNanos = () => 2L)
    oa.onEvent(RunStarted("same-run"))
    oa.onEvent(RunCompleted("same-run", metrics(1), quality))
    ob.onEvent(RunStarted("same-run"))
    ob.onEvent(RunCompleted("same-run", metrics(1), quality))
    def tid(s: Collecting) = mapper.readTree(s.out(0)._2)
      .at("/resourceSpans/0/scopeSpans/0/spans/0/traceId").asText
    assert(tid(a) === tid(b))
  }

  test("failure exports an error-status span with the message") {
    val sink = new Collecting
    val obs = new OtelObserver(sink, clockNanos = () => 7L)
    obs.onEvent(RunStarted("run-x"))
    obs.onEvent(RunFailed("run-x", "boom: budget exceeded"))
    val root = mapper.readTree(sink.out(0)._2)
      .at("/resourceSpans/0/scopeSpans/0/spans/0")
    assert(root.at("/status/code").asInt === 2)
    assert(root.at("/status/message").asText === "boom: budget exceeded")
  }

  test("error messages are PII-scrubbed before export") {
    val sink = new Collecting
    val obs = new OtelObserver(sink, clockNanos = () => 7L)
    obs.onEvent(RunStarted("run-y"))
    obs.onEvent(RunFailed("run-y",
      "parse failed for user bob@example.com at 10.0.0.7: api_key=sk_abcdef1234567890XY"))
    val msg = mapper.readTree(sink.out(0)._2)
      .at("/resourceSpans/0/scopeSpans/0/spans/0/status/message").asText
    assert(msg == "parse failed for user [REDACTED] at [REDACTED]: [REDACTED]")
  }

  test("file sink appends parsable NDJSON envelopes") {
    val f = Files.createTempFile("graft_otel", ".ndjson")
    val sink = new OtelFileSink(f.toString)
    val obs = new OtelObserver(sink, clockNanos = () => 5L)
    obs.onEvent(RunStarted("r"))
    obs.onEvent(RunCompleted("r", metrics(2), quality))
    val lines = Files.readAllLines(f)
    assert(lines.size() === 2)
    lines.forEach { l =>
      val n = mapper.readTree(l)
      assert(Set("traces", "metrics").contains(n.get("signal").asText))
      assert(n.get("body").isObject)
    }
  }

  test("OTLP/HTTP sink posts to /v1/traces and surfaces non-2xx") {
    val received = ArrayBuffer.empty[(String, String)]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/", { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      received.synchronized { received += ((ex.getRequestURI.getPath, body)) }
      val code = if (ex.getRequestURI.getPath.endsWith("metrics")) 503 else 200
      ex.sendResponseHeaders(code, 0)
      ex.getResponseBody.close()
    })
    server.start()
    try {
      val sink = new OtlpHttpSink(
        s"http://127.0.0.1:${server.getAddress.getPort}")
      val obs = new OtelObserver(sink, clockNanos = () => 5L)
      obs.onEvent(RunStarted("hr"))
      // metrics leg 503s — route through the dispatcher, which must log
      // and swallow (observer failures never fail the run)
      val dispatcher = new ObserverDispatcher().register(obs)
      dispatcher.emit(RunCompleted("hr", metrics(3), quality))
      assert(received.synchronized(received.map(_._1)) ===
        Seq("/v1/traces", "/v1/metrics"))
      val trace = mapper.readTree(received.synchronized(received.head._2))
      assert(trace.at("/resourceSpans/0/scopeSpans/0/spans/0/name")
        .asText === "graft.run")
    } finally server.stop(0)
  }

  test("per-call spans: deterministic ids, bounded batches, flush at end") {
    val sink = new Collecting
    var now = 2000000000L
    val obs = new OtelObserver(sink, clockNanos = () => now)
    assert(obs.wantsCallGrain) // reference parity: one span per LLM call
    obs.onEvent(RunStarted("run-c"))
    def call(id: Long) = LlmCallCompleted("run-c", id, attempt = 7L,
      model = "mock-1", tokensIn = 10, tokensOut = 4,
      cost = new JBigDecimal("0.001"), latencyMs = 3.0, callRows = 2,
      failed = id == 1L)
    // one more than a batch: one full flush mid-run + remainder at end
    (0L until (OtelObserver.CallBatch + 1L)).foreach(i => obs.onEvent(call(i)))
    assert(sink.out.count(_._1 == "traces") === 1) // mid-run batch flush
    obs.onEvent(RunCompleted("run-c", metrics(10), quality))
    val traceBatches = sink.out.filter(_._1 == "traces").map(_._2)
    assert(traceBatches.size === 3) // batch + remainder + run trace
    val callSpans = spans(traceBatches.toSeq)
      .filter(_.get("name").asText == "graft.llm_call")
    assert(callSpans.size === OtelObserver.CallBatch + 1)
    // deterministic span ids, all distinct, parented to the run root
    assert(callSpans.map(_.get("spanId").asText).distinct.size ===
      callSpans.size)
    val rootId = mapper.readTree(traceBatches.last)
      .at("/resourceSpans/0/scopeSpans/0/spans/0/spanId").asText
    assert(callSpans.forall(_.get("parentSpanId").asText == rootId))
    // failed call carries STATUS_CODE_ERROR; usage attrs ride along
    val failed = callSpans.filter(s => s.at("/status/code").asInt == 2)
    assert(failed.size === 1)
    // each call is a Langfuse generation: model, token usage and cost
    callSpans.map(attrs).foreach { a =>
      assert(a("langfuse.observation.type").asText === "generation")
      assert(a("gen_ai.response.model").asText === "mock-1")
      assert(a("gen_ai.usage.input_tokens").asText === "10")
      assert(a("gen_ai.usage.output_tokens").asText === "4")
      assert(a("gen_ai.usage.cost").asDouble === 0.001)
      assert(a("graft.call_rows").asText === "2")
    }
    // replaying the SAME events yields the SAME span ids (resume contract)
    val sink2 = new Collecting
    val obs2 = new OtelObserver(sink2, clockNanos = () => now)
    obs2.onEvent(RunStarted("run-c"))
    obs2.onEvent(call(3L))
    obs2.onEvent(RunCompleted("run-c", metrics(10), quality))
    val replayed = spans(sink2.out.filter(_._1 == "traces").map(_._2).toSeq)
      .filter(_.get("name").asText == "graft.llm_call")
    assert(replayed.map(_.get("spanId").asText).toSet.subsetOf(
      callSpans.map(_.get("spanId").asText).toSet))
  }

  test("Langfuse target: traces to /api/public/otel/v1/traces with Basic auth, no metrics") {
    val received = ArrayBuffer.empty[(String, String, String)]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      received.synchronized {
        received += ((ex.getRequestURI.getPath,
          ex.getRequestHeaders.getFirst("Authorization"), body))
      }
      ex.sendResponseHeaders(200, 0)
      ex.getResponseBody.close()
    })
    server.start()
    try {
      // exactly what `--langfuse http://host/` wires
      val sink = Main.traceSink("langfuse",
        s"http://127.0.0.1:${server.getAddress.getPort}/", Map(
          "LANGFUSE_PUBLIC_KEY" -> "pk-lf-test",
          "LANGFUSE_SECRET_KEY" -> "sk-lf-test"))
      val obs = new OtelObserver(sink, clockNanos = () => 5L)
      obs.onEvent(RunStarted("lf-run"))
      obs.onEvent(LlmCallCompleted("lf-run", 0L, attempt = 1L, model = "m",
        tokensIn = 3, tokensOut = 2, cost = new JBigDecimal("0.002"),
        latencyMs = 1.0, callRows = 1, failed = false))
      obs.onEvent(RunCompleted("lf-run", metrics(1), quality))
      val got = received.synchronized(received.toList)
      // call batch + run trace; the metrics signal never leaves the sink
      assert(got.map(_._1) ===
        Seq("/api/public/otel/v1/traces", "/api/public/otel/v1/traces"))
      val expected = "Basic " + java.util.Base64.getEncoder.encodeToString(
        "pk-lf-test:sk-lf-test".getBytes("UTF-8"))
      assert(got.forall(_._2 == expected))
      assert(spans(got.map(_._3)).map(_.get("name").asText) ===
        Seq("graft.llm_call", "graft.run"))
    } finally server.stop(0)
  }

  test("router cooldown events export nothing and do not throw") {
    val sink = new Collecting
    val obs = new OtelObserver(sink, clockNanos = () => 5L)
    obs.onEvent(ProviderCooldown("", "deploy-a", 3, 1000L, "429"))
    assert(sink.out.isEmpty)
  }

  test("langfuseFromEnv requires both keys") {
    val keys = Map("LANGFUSE_PUBLIC_KEY" -> "pk", "LANGFUSE_SECRET_KEY" -> "sk")
    for (missing <- Seq(Map.empty[String, String], keys - "LANGFUSE_PUBLIC_KEY",
        keys - "LANGFUSE_SECRET_KEY"))
      intercept[IllegalArgumentException](OtlpHttpSink.langfuseFromEnv(missing))
    // present keys construct without touching the network
    OtlpHttpSink.langfuseFromEnv(keys + ("LANGFUSE_HOST" -> "http://127.0.0.1:1"))
  }
}

/** End-to-end per-call grain: an Enricher run replays its responses ledger
  * into one `graft.llm_call` generation span per LLM call, with span ids
  * deterministic from (runId, attempt, callId), so a RESUMED run re-exports
  * the SAME ids and the trace store upserts instead of double-counting. */
class OtelCallGrainSpec extends SparkSpec {
  import spark.implicits._
  import graft.core._
  import graft.llm.MockLlmClient
  import OtlpJson.{attrs, spans}

  private final class Collecting extends OtelSink {
    val traces = ArrayBuffer.empty[String]
    def export(signal: String, json: String): Unit =
      if (signal == "traces") traces += json
  }

  private def generations(sink: Collecting): Seq[JsonNode] =
    spans(sink.traces.toSeq).filter(s =>
      attrs(s).get("langfuse.observation.type").exists(_.asText == "generation"))

  private val spec = PipelineSpec(
    dataset = DatasetSpec(Seq("text")),
    prompt = PromptSpec("G:{text}", batchSize = 5),
    processing = ProcessingSpec(chunkRows = 15),
    output = OutputSpec(Seq("out")))
  private def input = (0 until 30).map(i => s"v $i").toDF("text").repartition(2)

  private def run(dir: Option[String], obs: Observer,
                  s: PipelineSpec = spec): EnrichResult =
    new Enricher(s, new MockLlmClient(), dir,
      observers = new ObserverDispatcher().register(obs)).enrich(input)

  test("one generation span per call; resume replays identical span ids") {
    val dir = Some(Files.createTempDirectory("graft_otel_calls").toString)
    val sink = new Collecting
    val r = run(dir, new OtelObserver(sink, clockNanos = () => 42L))
    // calls = per-(partition, chunk) grouping of 30 rows at batch 5 — the
    // replay must mirror EXACTLY the run's own call count
    val nCalls = r.metrics.calls.toInt
    assert(nCalls >= 6) // ceil(30/5) is the floor; boundaries may split
    val gens = generations(sink)
    assert(gens.size == nCalls,
      s"want one generation per call ($nCalls), got ${gens.size}")
    assert(gens.map(_.get("spanId").asText).distinct.size == nCalls)
    // ledger consistency: per-call usage sums to the run totals
    def total(k: String) = gens.map(g => attrs(g)(k).asLong).sum
    assert(total("gen_ai.usage.input_tokens") == r.metrics.tokensIn)
    assert(total("gen_ai.usage.output_tokens") == r.metrics.tokensOut)
    assert(gens.forall(g => attrs(g).contains("gen_ai.response.model")))

    // resume: zero new calls, but the replay re-exports the SAME span ids
    // from the durable ledger
    val sink2 = new Collecting
    val before = MockLlmClient.calls.get()
    run(dir, new OtelObserver(sink2, clockNanos = () => 43L))
    assert(MockLlmClient.calls.get() == before)
    assert(generations(sink2).map(_.get("spanId").asText).toSet ==
      gens.map(_.get("spanId").asText).toSet,
      "resume must replay identical span ids")

    // an observer that does NOT opt in sees no per-call events
    val collecting = new CollectingObserver
    run(dir, collecting)
    val kinds = collecting.events.toArray.map(_.getClass.getSimpleName).toSet
    assert(kinds.contains("RunCompleted") && !kinds.contains("LlmCallCompleted"))
  }

  test("durable run: generation costs sum to RunMetrics.cost, no other span carries usage or cost") {
    val dir = Some(Files.createTempDirectory("graft_otel_cost").toString)
    val sink = new Collecting
    val r = run(dir, new OtelObserver(sink, clockNanos = () => 44L))
    assert(spec.processing.autoRetryAttempts == 0 && r.metrics.calls > 0)
    val all = spans(sink.traces.toSeq)
    val gens = generations(sink)
    val genCost = gens.map(g => new JBigDecimal(
      attrs(g)("gen_ai.usage.cost").asText)).reduce(_ add _)
    assert(genCost.compareTo(r.metrics.cost) == 0,
      s"generation costs $genCost != run cost ${r.metrics.cost}")
    // run totals ride only as root-span graft.* attributes: a trace store
    // that sums generation usage per trace sees each call exactly once
    val others = all.filterNot(gens.contains)
    assert(others.map(_.get("name").asText).toSet == Set("graft.run", "graft.chunk"))
    others.map(attrs).foreach { a =>
      assert(!a.keys.exists(_.startsWith("gen_ai.")), a.keys)
      assert(!a.contains("langfuse.observation.type"), a.keys)
    }
  }

  test("fast path (no runDir) replays per-call generation spans too") {
    val sink = new Collecting
    val res = run(None, new OtelObserver(sink, clockNanos = () => 7L),
      spec.copy(prompt = PromptSpec("F:{text}", batchSize = 4)))
    assert(res.metrics.calls >= 8) // ceil(30/4) is the floor
    assert(generations(sink).size == res.metrics.calls)
  }
}
