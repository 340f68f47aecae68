package graft.llm

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Real HTTP provider client over `java.net.http` speaking the
  * chat-completions JSON dialect — the seam the reference reaches every
  * provider through (ondine/adapters/unified_litellm_client.py:253-531,
  * re-expressed without the LiteLLM shim: one wire format, the error
  * taxonomy mapped from HTTP status codes).
  *
  * Error mapping drives the existing retry/limiter seams (status code
  * first, body patterns refining — the full table lives in
  * ErrorTaxonomySpec, mirrored from llm_invocation_stage.py:581-636):
  *   - 429       → [[RateLimitError]] carrying `Retry-After` (seconds or
  *                 delta-ms) so [[RetryHandler]] penalizes the shared
  *                 bucket — unless the body carries a quota/billing
  *                 marker, which is [[QuotaError]] (non-retryable)
  *   - 5xx       → retryable [[NetworkError]] (server hiccup)
  *   - 401/403   → [[AuthError]] (non-retryable)
  *   - other 4xx → by body: quota → [[QuotaError]], auth wording →
  *                 [[AuthError]], unknown/decommissioned model →
  *                 [[ModelNotFoundError]], else non-retryable [[LlmError]]
  *   - IO/timeout→ retryable [[NetworkError]]
  *
  * Cost comes from the response's `usage` block through the Decimal
  * [[CostCalculator]]; a response without usage falls back to the
  * length/4 estimate, same as the reference's cheap path.
  *
  * Thread-safe: `HttpClient` is immutable/concurrent; instances serialize
  * into task closures (the client itself is `@transient lazy`).
  */
/** Client selection from a pure-data spec: an `endpoint` yields the real
  * HTTP client; otherwise the deterministic mock (the zero-egress
  * default). */
object LlmClients {
  /** Provider registry for CLI/tool discovery (reference:
    * ondine/cli/main.py:976 `list-providers`): (id, config selector,
    * description). Kept next to [[forSpec]] so the list can never drift
    * from what the factory actually dispatches on. */
  val providers: Seq[(String, String, String)] = Seq(
    ("mock", "llm.endpoint unset",
      "deterministic md5 mock - the zero-egress default; exercises the " +
        "full template/batch/parse/merge chain with exact Decimal cost"),
    ("http", "llm.endpoint: http(s)://...",
      "OpenAI-compatible chat-completions wire: structured-output " +
        "negotiation with fallback chain, status+body error taxonomy, " +
        "usage-based Decimal cost, api key via llm.api_key_env"),
    ("proc", "llm.endpoint: proc:<argv>",
      "local sidecar process runner (MLX/llama.cpp-style), one shared " +
        "child per executor JVM"),
    ("router", "code: RouterClient(weighted clients)",
      "weighted multi-provider split; per-call model recorded in the " +
        "ledger for deployment-distribution reporting"),
    ("cached", "code: CachingClient(inner)",
      "exact-prompt response cache wrapper across runs and hosts - repeat " +
        "prompts spend nothing and issue no call (within one run Invoke " +
        "already sends each distinct prompt once per executor)"))

  /** The client `spec.endpoint` selects. With Typed output (`output`'s
    * schema) and a real endpoint, the client speaks the provider-native
    * structured mode the detector picks — walking the fallback chain on
    * structural rejection (see [[StructuredOutput]]). The mock path stays
    * schema-free: its deterministic JSON already drives the Typed parser. */
  def forSpec(spec: graft.core.LlmSpec, output: graft.core.OutputSpec): LlmClient = {
    val typedSchema =
      if (output.responseFormat == graft.core.ResponseFormat.Typed)
        output.typedSchema
      else None
    spec.endpoint match {
      // local sidecar inference (MLX/llama.cpp-style runners): the
      // command line after "proc:", one shared child per executor.
      // Typed output still flows through the generic parse chain — a
      // local runner owns its own formatting, there is no provider
      // structured mode to negotiate.
      case Some(cmd) if cmd.startsWith("proc:") =>
        val argv = cmd.stripPrefix("proc:").trim.split("\\s+").toSeq
        new ProcessLlmClient(argv, spec.model, timeoutMs = spec.timeoutMs)
      case Some(url) =>
        val structured = typedSchema.map { st =>
          val mode = StructuredOutput.detect(spec.model, spec.structuredMode,
            spec.reasoningEffort.isDefined)
          val schemaJson = StructuredOutput.jsonSchema(st)
          // Scope the shared negotiation by (endpoint, model, SCHEMA):
          // every task closure's deserialized handle resolves to the same
          // per-JVM state, so discovery cost is per-executor, not per-task.
          // The schema is part of the scope because rejections can be
          // schema-specific (strict mode refusing a map column must not
          // downgrade a sibling pipeline whose plain struct it accepts).
          StructuredCall(schemaJson, "output",
            new ModeNegotiator(
              s"$url|${spec.model}|${Integer.toHexString(schemaJson.hashCode)}",
              mode,
              StructuredOutput.fallbackChain(mode, spec.model,
                spec.reasoningEffort.isDefined)))
        }
        new HttpLlmClient(url, spec.model,
          apiKey = spec.apiKeyEnv.flatMap(sys.env.get),
          inPer1k = spec.inputCostPer1k, outPer1k = spec.outputCostPer1k,
          timeoutMs = spec.timeoutMs, structured = structured,
          reasoningEffort = spec.reasoningEffort)
      case None => new MockLlmClient(spec.model,
        inPer1k = spec.inputCostPer1k, outPer1k = spec.outputCostPer1k)
    }
  }
}

object HttpLlmClient {
  /** Body-pattern refinement of the status-code taxonomy, mirroring the
    * reference's classifier (llm_invocation_stage.py:581-636) with one
    * deliberate deviation: the reference's bare "limit exceeded" quota
    * pattern also matches the standard "rate limit exceeded" 429 body,
    * turning an ordinary throttle into a fatal error — here quota needs
    * an explicit quota/billing marker, so throttles stay retryable.
    * ErrorTaxonomySpec enumerates every reference row against this
    * mapping so drift can't creep in. */
  private def lower(b: String): String = if (b == null) "" else b.toLowerCase
  private[llm] def isQuota(body: String): Boolean = {
    val s = lower(body)
    Seq("quota", "insufficient_quota", "billing").exists(s.contains)
  }
  private[llm] def isAuth(body: String): Boolean = {
    val s = lower(body)
    Seq("invalid api key", "unauthorized").exists(s.contains)
  }
  private[llm] def isModelError(body: String): Boolean = {
    val s = lower(body)
    Seq("decommissioned", "not found", "does not exist", "invalid model")
      .exists(s.contains)
  }
}

final class HttpLlmClient(
    endpoint: String,
    override val model: String,
    apiKey: Option[String] = None,
    inPer1k: BigDecimal = BigDecimal(0),
    outPer1k: BigDecimal = BigDecimal(0),
    timeoutMs: Long = 120000L,
    extraHeaders: Map[String, String] = Map.empty,
    /** Provider-native structured output: when set, every invocation is
      * shaped by the negotiator's current [[StructuredMode]] (tools /
      * json_schema / json) and walks the fallback chain on structural
      * rejection — see [[StructuredOutput]]. The response text is then
      * guaranteed-JSON for the downstream Typed parser. */
    structured: Option[StructuredCall] = None,
    /** Forwarded verbatim as `reasoning_effort` (reasoning models); also
      * a mode-detection input upstream (instructor_mode.py:158-168). */
    reasoningEffort: Option[String] = None) extends LlmClient {

  @transient private lazy val http: HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(math.min(timeoutMs, 30000L)))
      .build()

  @transient private lazy val mapper = new ObjectMapper()

  /** The schema parsed ONCE per client (per deserialized copy) — not per
    * request: a 100k-row run would otherwise re-parse the same string
    * 100k times. Never mutated after parse; Jackson reads are
    * thread-safe. */
  @transient private lazy val schemaNode: Option[ObjectNode] =
    structured.map(sc => mapper.readTree(sc.schemaJson).asInstanceOf[ObjectNode])

  private def requestBody(prompt: String, systemMessage: Option[String],
                          mode: Option[StructuredMode]): String = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("model", model)
    // Json mode carries the schema as a system-message contract — the
    // instructor JSON-mode shape: no server-side enforcement, the model is
    // *asked* for schema-shaped output and the downstream parser validates.
    val sys = (mode, structured) match {
      // Plain keeps the same schema ask but sends no response_format —
      // the shape a provider with zero structured-output support accepts.
      case (Some(StructuredMode.Json) | Some(StructuredMode.Plain), Some(sc)) =>
        val ask = "Respond ONLY with a JSON object matching this JSON Schema" +
          s" (no prose, no code fences):\n${sc.schemaJson}"
        Some(systemMessage.map(_ + "\n\n" + ask).getOrElse(ask))
      case _ => systemMessage
    }
    val msgs: ArrayNode = root.putArray("messages")
    sys.foreach { s =>
      val m = msgs.addObject(); m.put("role", "system"); m.put("content", s)
    }
    val u = msgs.addObject(); u.put("role", "user"); u.put("content", prompt)
    reasoningEffort.foreach(root.put("reasoning_effort", _))
    (mode, structured) match {
      case (Some(StructuredMode.Tools), Some(sc)) =>
        // One forced function call; parallel_tool_calls:false because the
        // protocol needs exactly one call per reply (reference:
        // unified_litellm_client.py:1135-1166).
        val tool = root.putArray("tools").addObject()
        tool.put("type", "function")
        val fn = tool.putObject("function")
        fn.put("name", sc.name)
        fn.put("description", "Emit the structured result.")
        fn.set[ObjectNode]("parameters", schemaNode.get)
        val choice = root.putObject("tool_choice")
        choice.put("type", "function")
        choice.putObject("function").put("name", sc.name)
        root.put("parallel_tool_calls", false)
      case (Some(StructuredMode.JsonSchema), Some(sc)) =>
        val rf = root.putObject("response_format")
        rf.put("type", "json_schema")
        val js = rf.putObject("json_schema")
        js.put("name", sc.name)
        js.put("strict", true)
        js.set[ObjectNode]("schema", schemaNode.get)
      case (Some(StructuredMode.Json), _) =>
        root.putObject("response_format").put("type", "json_object")
      case _ => ()
    }
    mapper.writeValueAsString(root)
  }

  /** `Retry-After` is either delta-seconds (RFC 9110) or, from some
    * gateways, `retry-after-ms`; absent → None and the caller backs off
    * exponentially. */
  private def retryAfterMs(rsp: HttpResponse[String]): Option[Long] = {
    def header(n: String): Option[String] =
      Option(rsp.headers().firstValue(n).orElse(null))
    header("retry-after-ms").flatMap(_.toLongOption)
      .orElse(header("retry-after").flatMap(_.toLongOption).map(_ * 1000L))
  }

  def invoke(prompt: String, systemMessage: Option[String]): LlmResponse =
    structured match {
      case Some(sc) =>
        sc.negotiator.attempt(m => doInvoke(prompt, systemMessage, Some(m)))
      case None => doInvoke(prompt, systemMessage, None)
    }

  private def doInvoke(prompt: String, systemMessage: Option[String],
                       mode: Option[StructuredMode]): LlmResponse = {
    val t0 = System.nanoTime()
    val builder = HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        requestBody(prompt, systemMessage, mode), StandardCharsets.UTF_8))
    apiKey.foreach(k => builder.header("Authorization", s"Bearer $k"))
    extraHeaders.foreach { case (k, v) => builder.header(k, v) }

    val rsp =
      try http.send(builder.build(), HttpResponse.BodyHandlers.ofString())
      catch {
        case e: java.net.http.HttpTimeoutException =>
          throw new NetworkError(s"request timed out after ${timeoutMs}ms: $e")
        case e: java.io.IOException =>
          throw new NetworkError(s"connection failure: $e")
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw new NetworkError(s"interrupted mid-call: $e")
      }

    rsp.statusCode() match {
      case 200 =>
        parseSuccess(rsp.body(), prompt, systemMessage, mode,
          (System.nanoTime() - t0) / 1e6)
      case 429 if HttpLlmClient.isQuota(rsp.body()) =>
        // a provider out of CREDIT often answers 429 too — but retrying
        // an exhausted budget cannot succeed and burns the shared rate
        // budget; classified by body like the reference (quota checked
        // before rate, llm_invocation_stage.py:605-617)
        throw new QuotaError(
          s"quota exhausted (429) from $endpoint: ${snippet(rsp.body())}")
      case 429 =>
        throw new RateLimitError(
          s"429 from $endpoint: ${snippet(rsp.body())}", retryAfterMs(rsp))
      case 401 | 403 =>
        throw new AuthError(s"${rsp.statusCode()} from $endpoint: ${snippet(rsp.body())}")
      case s if s >= 500 =>
        throw new NetworkError(s"$s from $endpoint: ${snippet(rsp.body())}")
      case s if HttpLlmClient.isQuota(rsp.body()) =>
        throw new QuotaError(s"quota ($s) from $endpoint: ${snippet(rsp.body())}")
      case s if HttpLlmClient.isAuth(rsp.body()) =>
        throw new AuthError(s"auth ($s) from $endpoint: ${snippet(rsp.body())}")
      case s if HttpLlmClient.isModelError(rsp.body()) =>
        throw new ModelNotFoundError(
          s"model error ($s) from $endpoint: ${snippet(rsp.body())}")
      case s =>
        throw new LlmError(s"$s from $endpoint: ${snippet(rsp.body())}",
          retryable = false)
    }
  }

  private def snippet(body: String): String =
    if (body == null) "" else body.take(200)

  private def parseSuccess(body: String, prompt: String,
                           systemMessage: Option[String],
                           mode: Option[StructuredMode],
                           latencyMs: Double): LlmResponse = {
    val root: JsonNode =
      try mapper.readTree(body)
      catch { case e: Exception =>
        throw new NetworkError(s"unparseable 200 body: $e") // transient gateway garbage
      }
    val message = root.path("choices").path(0).path("message")
    val content = mode match {
      case Some(StructuredMode.Tools) =>
        // The structured reply lives in the forced call's arguments. A
        // reply that breaks the tool protocol — zero calls (model answered
        // in prose) or several (parallel calls) — can never parse in this
        // mode, so it is a structural rejection the negotiator consumes
        // (the reference treats instructor's "exactly one tool call"
        // assertion the same way, unified_litellm_client.py:124-141).
        val calls = message.path("tool_calls")
        if (!calls.isArray || calls.size == 0)
          throw new ModeRejectionError(
            s"tools mode got no tool call from $model: ${snippet(body)}")
        // parallel_tool_calls:false notwithstanding, some servers still
        // emit several calls. The forced call is addressed BY NAME, so if
        // exactly one call carries our function name the reply is usable —
        // rejecting it would let one flaky reply permanently downgrade the
        // whole JVM's mode. Only a reply with no identifiable forced call
        // is a protocol breach.
        val named = (0 until calls.size)
          .map(i => calls.path(i))
          .filter(c => structured.exists(_.name == c.path("function").path("name").textValue()))
        val call =
          if (named.size == 1) named.head
          else if (calls.size == 1) calls.path(0)
          else throw new ModeRejectionError(
            s"tools mode got ${calls.size} tool calls (${named.size} named) from $model")
        val args = call.path("function").path("arguments")
        // Spec says arguments is a JSON-encoded STRING, but several
        // OpenAI-compatible servers return the object directly — both are
        // honest tool replies, so accept both before calling it a
        // protocol violation.
        if (args.isTextual) args.textValue()
        else if (args.isObject || args.isArray) mapper.writeValueAsString(args)
        else throw new ModeRejectionError(
          s"tool call without function.arguments: ${snippet(body)}")
      case _ =>
        Option(message.path("content").textValue()).getOrElse(
          throw new LlmError(
            s"200 body without choices[0].message.content: ${snippet(body)}",
            retryable = false))
    }
    val usage = root.path("usage")
    val tIn =
      if (usage.path("prompt_tokens").isNumber) usage.path("prompt_tokens").asLong()
      else estimateTokens(prompt) + systemMessage.map(estimateTokens).getOrElse(0L)
    val tOut =
      if (usage.path("completion_tokens").isNumber) usage.path("completion_tokens").asLong()
      else estimateTokens(content)
    val servedModel =
      Option(root.path("model").textValue()).getOrElse(model)
    LlmResponse(content, tIn, tOut, servedModel,
      CostCalculator.cost(tIn, tOut, inPer1k, outPer1k), latencyMs)
  }
}
