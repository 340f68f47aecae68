package graft.mcp

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession

import graft.llm.LlmClient
import graft.run.{ConfigLoader, CostEstimator, Enricher, Observer,
  ObserverDispatcher, PipelineEvent, ProgressForwarder, RunProgress,
  RunRegistry, RunState}
import graft.sources.Sources

/** MCP front door: the engine's pipeline operations as tools over the MCP
  * stdio transport — newline-delimited JSON-RPC 2.0, `initialize` /
  * `tools/list` / `tools/call` (reference: ondine/mcp/server.py:88-475,
  * whose four tools map 1:1 here; where it leans on FastMCP, this speaks
  * the wire protocol directly on JDK + Jackson, so it is drivable — and
  * tested — through in-process piped streams).
  *
  * Tools (same contract as the reference):
  *   - `graft_estimate(config_yaml, input_path)` — sample-based cost
  *     projection; spends nothing.
  *   - `graft_run(config_yaml, input_path, output_path, budget)` — starts
  *     an ASYNC run, returns `run_id` immediately. `budget` is MANDATORY
  *     and must be positive: an LLM tool client must never start an
  *     unbounded spend (server.py:141-151).
  *   - `graft_status(run_id)` — registry state + metrics so far; a
  *     RUNNING job reports LIVE rows/calls/cost/total_rows.
  *   - `graft_collect(run_id)` — terminal state + output location, or an
  *     explicit not-finished/failed answer.
  *   - `graft_validate(config_yaml)` — config pre-flight without a run
  *     (CLI `validate` parity); spends nothing.
  *   - `graft_list_providers()` — the client registry.
  */
object McpServer {
  val ProtocolVersion = "2024-11-05"

  /** Tool logic, callable without the wire (tests drive both layers). */
  final class Service(spark: SparkSession, client: LlmClient,
                      workDir: String) {
    private val registry = new RunRegistry(s"$workDir/registry")
    private val outputs = new ConcurrentHashMap[String, String]()
    private val counter = new java.util.concurrent.atomic.AtomicLong(0)

    private def read(path: String, spec: graft.core.PipelineSpec) =
      Sources.read(spark, path, Sources.ReadOptions.of(spec.dataset))

    def estimate(configYaml: String, inputPath: String): Map[String, Any] = {
      val spec = ConfigLoader.fromYaml(configYaml)
      val e = CostEstimator.estimate(read(inputPath, spec), spec)
      Map("total_rows" -> e.totalRows, "sample_rows" -> e.sampleRows,
        "est_tokens_in" -> e.estTokensIn, "est_tokens_out" -> e.estTokensOut,
        "est_cost" -> e.estCost.toString, "confidence" -> e.confidence)
    }

    def run(configYaml: String, inputPath: String, outputPath: String,
            budget: BigDecimal): String = {
      require(budget > 0,
        s"budget must be positive, got $budget — a tool client may not " +
          "start an unbounded spend")
      val spec0 = ConfigLoader.fromYaml(configYaml)
      val spec = spec0.copy(processing =
        spec0.processing.copy(maxBudget = Some(budget)))
      val runId = s"mcp-${counter.incrementAndGet()}"
      val runDir = s"$workDir/$runId"
      registry.register(runId, runDir)
      outputs.put(runId, outputPath)
      // live mid-run progress: the Enricher's RunProgress events land on
      // THIS registry row (the Enricher derives its own internal runId
      // from runDir, so the forwarder re-keys them), making graft_status
      // show monotone rows/calls/cost while the job is still RUNNING
      // (reference: ondine/mcp/progress.py)
      val forwarder = new ProgressForwarder(registry, runId)
      val progressObs = new ObserverDispatcher().register(new Observer {
        def onEvent(e: PipelineEvent): Unit = e match {
          case RunProgress(_, rowsDone, totalRows, calls, spent) =>
            forwarder.offer(rowsDone, totalRows, calls, spent.toString)
          case _ => ()
        }
      })
      val worker = new Thread(() => {
        try {
          registry.transition(runId, RunState.Running)
          val r = new Enricher(spec, client, Some(runDir),
            observers = progressObs)
            .enrich(read(inputPath, spec))
          Sources.write(r.data, outputPath)
          registry.transition(runId, RunState.Succeeded, rec => rec.copy(
            rows = r.metrics.rows, validRows = r.quality.validRows,
            calls = r.metrics.calls, cost = r.metrics.cost.toString))
        } catch {
          case e: Throwable =>
            registry.transition(runId, RunState.Failed,
              rec => rec.copy(note = String.valueOf(e.getMessage)))
        }
      }, s"graft-mcp-$runId")
      worker.setDaemon(true)
      worker.start()
      runId
    }

    def status(runId: String): Map[String, Any] =
      registry.get(runId) match {
        case Some(r) => Map("run_id" -> runId, "state" -> r.state.toString,
          "rows" -> r.rows, "valid_rows" -> r.validRows,
          "calls" -> r.calls, "cost" -> r.cost,
          "total_rows" -> r.totalRows, "note" -> r.note)
        case None => Map("error" -> s"unknown run: $runId")
      }

    /** Config pre-flight without a run (CLI `validate` parity — the
      * reference checks configuration without executing, cli/main.py
      * :743): parse + spec-combination checks, spends nothing. */
    def validate(configYaml: String): Map[String, Any] =
      try {
        val spec = ConfigLoader.fromYaml(configYaml)
        spec.validate()
        Map("valid" -> true,
          "input_columns" -> spec.dataset.inputColumns.mkString(","),
          "output_columns" -> spec.output.outputColumns.mkString(","),
          "model" -> spec.llm.model,
          "batch_size" -> spec.prompt.batchSize,
          "concurrency" -> spec.llm.concurrency,
          "max_budget" -> spec.processing.maxBudget
            .map(_.toString).getOrElse("none"))
      } catch {
        case e: Exception =>
          Map("valid" -> false, "error" -> String.valueOf(e.getMessage))
      }

    /** Resumable runs with their ledger stats (CLI `list-checkpoints`
      * parity — reference cli/main.py:836): RUNNING = a crashed attempt,
      * FAILED, PARTIAL — the states the resume path can re-drive. */
    def listCheckpoints(): Map[String, Any] = {
      val resumable = Set(RunState.Running, RunState.Failed,
        RunState.Partial)
      Map("checkpoints" -> registry.list()
        .filter(r => resumable(r.state)).map { r =>
          val ledger = new java.io.File(r.runDir, "responses")
          val files = Option(ledger.listFiles()).map(_.toSeq).getOrElse(Nil)
            .filter(_.getName.endsWith(".parquet"))
          s"${r.runId} | ${r.state} | rows=${r.rows}/${r.totalRows} | " +
            s"cost=${r.cost} | ledger_files=${files.size} | " +
            s"ledger_bytes=${files.map(_.length()).sum}"
        }.mkString("\n"))
    }

    /** The client registry (CLI `list-providers` parity). */
    def listProviders(): Map[String, Any] =
      Map("providers" -> graft.llm.LlmClients.providers.map {
        case (pid, sel, desc) => s"$pid | $sel | $desc"
      }.mkString("\n"))

    def collect(runId: String): Map[String, Any] =
      registry.get(runId) match {
        case None => Map("error" -> s"unknown run: $runId")
        case Some(r) if r.state == RunState.Succeeded =>
          Map("run_id" -> runId, "state" -> r.state.toString,
            "output_path" -> outputs.getOrDefault(runId, ""),
            "rows" -> r.rows, "cost" -> r.cost)
        case Some(r) if r.state == RunState.Failed =>
          Map("run_id" -> runId, "state" -> r.state.toString,
            "error" -> r.note)
        case Some(r) =>
          Map("run_id" -> runId, "state" -> r.state.toString,
            "error" -> "run not finished — poll graft_status")
      }
  }

  private case class ToolDef(name: String, description: String,
                             required: Seq[(String, String, String)])

  private val Tools = Seq(
    ToolDef("graft_estimate",
      "Project the cost of an enrichment pipeline from a 10-row sample; spends nothing.",
      Seq(("config_yaml", "string", "pipeline config YAML"),
        ("input_path", "string", "input table path (csv/parquet/json/xlsx)"))),
    ToolDef("graft_run",
      "Start an enrichment run asynchronously; returns run_id. budget (USD) is mandatory.",
      Seq(("config_yaml", "string", "pipeline config YAML"),
        ("input_path", "string", "input table path"),
        ("output_path", "string", "where results are written"),
        ("budget", "number", "hard spend cap in USD; must be > 0"))),
    ToolDef("graft_status",
      "State and metrics of a run started with graft_run.",
      Seq(("run_id", "string", "id returned by graft_run"))),
    ToolDef("graft_collect",
      "Terminal result of a run: output location on success, error on failure.",
      Seq(("run_id", "string", "id returned by graft_run"))),
    ToolDef("graft_validate",
      "Validate a pipeline config without running it; spends nothing.",
      Seq(("config_yaml", "string", "pipeline config YAML"))),
    ToolDef("graft_list_providers",
      "List the available LLM provider client kinds and how configs select them.",
      Seq.empty),
    ToolDef("graft_list_checkpoints",
      "List resumable runs (crashed/failed/partial) with their ledger stats.",
      Seq.empty))

  /** Newline-delimited JSON-RPC loop over the given streams (the MCP
    * stdio transport). Returns when the input stream closes. */
  def serve(in: InputStream, out: OutputStream, service: Service): Unit = {
    val mapper = new ObjectMapper()
    val reader = new BufferedReader(
      new InputStreamReader(in, StandardCharsets.UTF_8))
    val writer = new PrintWriter(
      new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8), true)

    def obj(fields: (String, Any)*): ObjectNode = {
      val n = mapper.createObjectNode()
      fields.foreach {
        case (k, v: String) => n.put(k, v)
        case (k, v: Long) => n.put(k, v)
        case (k, v: Int) => n.put(k, v)
        case (k, v: Boolean) => n.put(k, v)
        case (k, v: JsonNode) => n.set[JsonNode](k, v)
        case (k, null) => n.putNull(k)
        case (k, v) => n.put(k, String.valueOf(v))
      }
      n
    }

    def reply(id: JsonNode, result: JsonNode): Unit =
      writer.println(mapper.writeValueAsString(
        obj("jsonrpc" -> "2.0", "id" -> id, "result" -> result)))

    def replyError(id: JsonNode, code: Int, message: String): Unit = {
      val e = obj("code" -> code, "message" -> message)
      writer.println(mapper.writeValueAsString(
        obj("jsonrpc" -> "2.0", "id" -> id, "error" -> e)))
    }

    /** Tool output: MCP content array with one JSON-text block. */
    def toolResult(payload: Map[String, Any], isError: Boolean = false): JsonNode = {
      val body = mapper.createObjectNode()
      payload.foreach {
        case (k, v: Long) => body.put(k, v)
        case (k, v: Int) => body.put(k, v)
        case (k, v) => body.put(k, String.valueOf(v))
      }
      val text = obj("type" -> "text",
        "text" -> mapper.writeValueAsString(body))
      val content = mapper.createArrayNode(); content.add(text)
      val r = mapper.createObjectNode()
      r.set[com.fasterxml.jackson.databind.JsonNode]("content", content)
      r.put("isError", isError)
      r
    }

    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val req =
          try Some(mapper.readTree(line)) catch { case _: Exception => None }
        req match {
          case None =>
            replyError(mapper.nullNode(), -32700, "parse error")
          case Some(r) =>
            val id = r.path("id")
            def param(k: String): String = r.path("params")
              .path("arguments").path(k).asText("")
            r.path("method").asText("") match {
              case "initialize" =>
                reply(id, obj(
                  "protocolVersion" -> ProtocolVersion,
                  "capabilities" -> obj("tools" -> obj()),
                  "serverInfo" -> obj("name" -> "graft", "version" -> "0.3")))
              case "notifications/initialized" => () // notification: no reply
              case "ping" => reply(id, obj())
              case "tools/list" =>
                val arr = mapper.createArrayNode()
                Tools.foreach { t =>
                  val props = mapper.createObjectNode()
                  t.required.foreach { case (n2, typ, desc) =>
                    props.set[JsonNode](n2, obj("type" -> typ, "description" -> desc))
                  }
                  val reqd = mapper.createArrayNode()
                  t.required.foreach { case (n2, _, _) => reqd.add(n2) }
                  val schema = mapper.createObjectNode()
                  schema.put("type", "object")
                  schema.set[com.fasterxml.jackson.databind.JsonNode]("properties", props)
                  schema.set[com.fasterxml.jackson.databind.JsonNode]("required", reqd)
                  val td = obj("name" -> t.name, "description" -> t.description)
                  td.set[com.fasterxml.jackson.databind.JsonNode]("inputSchema", schema)
                  arr.add(td)
                }
                val res = mapper.createObjectNode(); res.set[com.fasterxml.jackson.databind.JsonNode]("tools", arr)
                reply(id, res)
              case "tools/call" =>
                val name = r.path("params").path("name").asText("")
                try {
                  val payload = name match {
                    case "graft_estimate" =>
                      service.estimate(param("config_yaml"), param("input_path"))
                    case "graft_run" =>
                      val b = r.path("params").path("arguments").path("budget")
                      require(b.isNumber || b.isTextual,
                        "budget is mandatory")
                      Map("run_id" -> service.run(param("config_yaml"),
                        param("input_path"), param("output_path"),
                        BigDecimal(b.asText())))
                    case "graft_status"  => service.status(param("run_id"))
                    case "graft_collect" => service.collect(param("run_id"))
                    case "graft_validate" =>
                      service.validate(param("config_yaml"))
                    case "graft_list_providers" => service.listProviders()
                    case "graft_list_checkpoints" =>
                      service.listCheckpoints()
                    case other =>
                      throw new NoSuchElementException(s"unknown tool: $other")
                  }
                  reply(id, toolResult(payload))
                } catch {
                  case e: NoSuchElementException =>
                    replyError(id, -32602, e.getMessage)
                  case e: Exception =>
                    // tool-level failure: an MCP error RESULT, not a
                    // protocol error (the client LLM should read it)
                    reply(id, toolResult(
                      Map("error" -> String.valueOf(e.getMessage)),
                      isError = true))
                }
              case "" => replyError(id, -32600, "invalid request")
              case other if !r.path("method").asText("").startsWith("notifications/") =>
                replyError(id, -32601, s"method not found: $other")
              case _ => () // unknown notification: ignore per JSON-RPC
            }
        }
      }
      line = reader.readLine()
    }
  }

  /** Stdio entry point: `runMain graft.mcp.McpServer <workDir>`. */
  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft_mcp")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-mcp")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try serve(System.in, System.out,
      new Service(spark, new graft.llm.MockLlmClient(), workDir))
    finally spark.stop()
  }
}
