package graft.mcp

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.SparkSession

import graft.Commands
import graft.core.Json
import graft.integrations.LlmTransform
import graft.llm.LlmClient
import graft.run.{ConfigLoader, ObserverDispatcher, RegistryObserver,
  RunRegistry, RunState}
import graft.sources.Sources

/** MCP front door: the engine's pipeline operations as tools over the MCP
  * stdio transport — newline-delimited JSON-RPC 2.0, `initialize` /
  * `tools/list` / `tools/call` (reference: ondine/mcp/server.py:88-475,
  * whose four tools map 1:1 here; where it leans on FastMCP, this speaks
  * the wire protocol directly on JDK + Jackson, so it is drivable — and
  * tested — through in-process piped streams).
  *
  * Tools (same contract as the reference; each shared one answers with
  * what the CLI command of the same name prints):
  *   - `graft_estimate(config_yaml, input_path)` — sample-based cost
  *     projection; spends nothing.
  *   - `graft_run(config_yaml, input_path, output_path, budget)` — starts
  *     an ASYNC run of the CLI's `process` body, with the client that
  *     `llm.endpoint` selects, and returns `run_id` immediately. `budget`
  *     is MANDATORY and must be positive: an LLM tool client must never
  *     start an unbounded spend (server.py:141-151).
  *   - `graft_status(run_id)` — the CLI `status` lines as one object; a
  *     RUNNING job reports LIVE rows/calls/cost/total_rows.
  *   - `graft_collect(run_id)` — terminal state + output location
  *     (SUCCEEDED or PARTIAL), or an explicit not-finished/failed answer.
  *   - `graft_validate(config_yaml)` — config pre-flight without a run;
  *     spends nothing.
  *   - `graft_list_providers()` — the client registry.
  *   - `graft_list_checkpoints()` — resumable runs with ledger stats.
  */
object McpServer {
  val ProtocolVersion = "2024-11-05"

  /** Tool logic, callable without the wire (tests drive both layers).
    * Every tool but `graft_collect` answers with the object (or objects)
    * the CLI command of the same name prints ([[graft.Commands]]), and
    * `graft_run` runs the CLI's task body, [[LlmTransform.run]]. `client`
    * is a test seam; None selects the client by `llm.endpoint`. */
  final class Service private (spark: SparkSession, workDir: String,
                               client: Option[LlmClient]) {
    def this(spark: SparkSession, workDir: String) = this(spark, workDir, None)
    def this(spark: SparkSession, client: LlmClient, workDir: String) =
      this(spark, workDir, Some(client))

    private val registry = new RunRegistry(s"$workDir/registry")
    private val outputs = new ConcurrentHashMap[String, String]()
    private val counter = new java.util.concurrent.atomic.AtomicLong(0)

    def estimate(configYaml: String, inputPath: String): ObjectNode = {
      val spec = ConfigLoader.fromYaml(configYaml)
      Commands.estimate(Sources.read(spark, inputPath,
        Sources.ReadOptions.of(spec.dataset)), spec)
    }

    /** The next `mcp-N` id that has no registry row, claimed by creating
      * its run dir: the creation is atomic, so neither another run of
      * this server nor another server over the same work dir (whose
      * counter also starts at 1) can be handed the same id, row or
      * ledger. */
    private def claimRunId(): String = {
      val root = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(workDir))
      Iterator.continually(s"mcp-${counter.incrementAndGet()}").find { id =>
        registry.get(id).isEmpty &&
          (try { java.nio.file.Files.createDirectory(root.resolve(id)); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false })
      }.get
    }

    /** Starts the run on a daemon thread and returns its `mcp-N` id. The
      * run's events land on that registry row, so it ends SUCCEEDED,
      * PARTIAL or FAILED by the same rule as `graft.Main process
      * --registry`; a failure before the run starts (e.g. reading the
      * input) marks it FAILED here. A config that does not parse is
      * refused before a run id is spent. [[LlmTransform.run]] reads its
      * config from a file, so the YAML is kept as `mcp-N.yaml` in the work
      * dir. */
    def run(configYaml: String, inputPath: String, outputPath: String,
            budget: BigDecimal): String = {
      require(budget > 0,
        s"budget must be positive, got $budget — a tool client may not " +
          "start an unbounded spend")
      ConfigLoader.fromYaml(configYaml)
      val runId = claimRunId()
      val runDir = s"$workDir/$runId"
      val config = java.nio.file.Files.writeString(
        java.nio.file.Paths.get(workDir, s"$runId.yaml"), configYaml)
      registry.register(runId, runDir)
      outputs.put(runId, outputPath)
      val worker = new Thread(() => {
        try LlmTransform.run(spark, config.toString,
          inputPath = Some(inputPath), outputPath = Some(outputPath),
          maxBudget = Some(budget), runDir = Some(runDir),
          observers = new ObserverDispatcher()
            .register(RegistryObserver.onRow(registry, runDir, runId)),
          client = client)
        catch { case e: Throwable =>
          // a failure after RunStarted is on the row already
          if (registry.get(runId).exists(_.state == RunState.Pending))
            registry.transition(runId, RunState.Failed,
              rec => rec.copy(note = String.valueOf(e.getMessage)))
        }
      }, s"graft-mcp-$runId")
      worker.setDaemon(true)
      worker.start()
      runId
    }

    /** The CLI's `status` lines merged into one object. */
    def status(runId: String): ObjectNode =
      Commands.status(registry, runId) match {
        case Left(err) => err
        case Right(lines) =>
          lines.foldLeft(Json.obj())((o, l) => o.setAll[ObjectNode](l))
      }

    def validate(configYaml: String): ObjectNode =
      Commands.validate(ConfigLoader.fromYaml(configYaml))

    def listCheckpoints(): ObjectNode =
      Json.obj("checkpoints" -> Commands.listCheckpoints(registry))

    def listProviders(): ObjectNode =
      Json.obj("providers" -> Commands.listProviders())

    def collect(runId: String): ObjectNode =
      registry.get(runId) match {
        case None => Json.obj("error" -> s"unknown run: $runId")
        case Some(r) if r.state == RunState.Succeeded ||
            r.state == RunState.Partial =>
          Json.obj("run_id" -> runId, "state" -> r.state,
            "output_path" -> outputs.getOrDefault(runId, ""),
            "rows" -> r.rows, "cost" -> r.cost)
        case Some(r) if r.state == RunState.Failed =>
          Json.obj("run_id" -> runId, "state" -> r.state, "error" -> r.note)
        case Some(r) =>
          Json.obj("run_id" -> runId, "state" -> r.state,
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
    import Json.obj
    val reader = new BufferedReader(
      new InputStreamReader(in, StandardCharsets.UTF_8))
    val writer = new PrintWriter(
      new java.io.OutputStreamWriter(out, StandardCharsets.UTF_8), true)

    def reply(id: JsonNode, result: JsonNode): Unit =
      writer.println(Json.write(
        obj("jsonrpc" -> "2.0", "id" -> id, "result" -> result)))

    def replyError(id: JsonNode, code: Int, message: String): Unit = {
      val e = obj("code" -> code, "message" -> message)
      writer.println(Json.write(
        obj("jsonrpc" -> "2.0", "id" -> id, "error" -> e)))
    }

    /** Tool output: MCP content array with one JSON-text block. */
    def toolResult(payload: ObjectNode, isError: Boolean): JsonNode =
      obj("content" -> Seq(obj("type" -> "text", "text" -> Json.write(payload))),
        "isError" -> isError)

    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        val req =
          try Some(Json.read(line)) catch { case _: Exception => None }
        req match {
          case None =>
            replyError(Json.mapper.nullNode(), -32700, "parse error")
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
                reply(id, obj("tools" -> Tools.map { t =>
                  obj("name" -> t.name, "description" -> t.description,
                    "inputSchema" -> obj("type" -> "object",
                      "properties" -> obj(t.required.map { case (n, typ, desc) =>
                        n -> obj("type" -> typ, "description" -> desc) }: _*),
                      "required" -> t.required.map(_._1)))
                }))
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
                      obj("run_id" -> service.run(param("config_yaml"),
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
                  reply(id, toolResult(payload, isError = false))
                } catch {
                  case e: NoSuchElementException =>
                    replyError(id, -32602, e.getMessage)
                  case e: Exception =>
                    // tool-level failure: an MCP error RESULT, not a
                    // protocol error (the client LLM should read it)
                    reply(id, toolResult(
                      obj("error" -> String.valueOf(e.getMessage)),
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
    try serve(System.in, System.out, new Service(spark, workDir))
    finally spark.stop()
  }
}
