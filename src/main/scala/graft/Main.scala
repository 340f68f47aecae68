package graft

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.core.Json
import graft.integrations.LlmTransform
import graft.llm.MockLlmClient
import graft.run.{ConfigLoader, HealthCheck,
  ObserverDispatcher, ProviderBatch, RegistryObserver, RunRegistry}
import graft.sources.Sources
import graft.sources.Sources.ReadOptions

/** CLI entry (reference: ondine/cli/main.py:202-1270 — process, estimate,
  * submit, collect; run lifecycle commands :563-891). Usage:
  *
  *   graft.Main process  --config cfg.yaml --input in.csv --output out.parquet
  *                       [--run-dir DIR] [--key-column COL] [--registry DIR]
  *                       [--otel URL-or-FILE] [--langfuse URL-or-FILE]
  *   graft.Main estimate --config cfg.yaml --input in.csv
  *   graft.Main submit   --config cfg.yaml --input in.csv --run-dir DIR
  *   graft.Main collect  --config cfg.yaml --input in.csv --run-dir DIR --output out.parquet
  *   graft.Main resume   --config cfg.yaml --input in.csv --run-dir DIR
  *                       --output out.parquet --registry DIR
  *   graft.Main validate --config cfg.yaml
  *   graft.Main list-providers
  *   graft.Main list-runs --registry DIR
  *   graft.Main list-checkpoints --registry DIR
  *   graft.Main inspect  --registry DIR --run-id ID
  *   graft.Main inspect  --input PATH [--head N]
  *   graft.Main status   --registry DIR --run-id ID
  *   graft.Main health   --config cfg.yaml [--input PATH] [--run-dir DIR]
  *
  * `process` and `resume` run [[LlmTransform.run]], the same task body
  * orchestrators call, so `llm.endpoint` selects the client (unset = the
  * deterministic mock) and the last line printed is
  * [[LlmTransform.TransformResult.toJson]]. Every line is one JSON
  * object; the commands shared with the MCP server print the objects
  * [[Commands]] returns.
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)
    def need(k: String): String = opts.getOrElse(k,
      { System.err.println(s"missing --$k"); usage(); sys.exit(2) })

    // no-Spark commands: config/filesystem inspection only
    cmd match {
      case "validate" =>
        // exit 0 valid / 1 invalid, never starts a Spark session
        val (code, json) = validateConfig(need("config"))
        System.out.println(json)
        if (code != 0) sys.exit(code)
        return
      case "list-providers" =>
        Commands.listProviders().foreach(print)
        return
      case "health" =>
        // exit 0 healthy / 1 unhealthy — readiness-probe friendly
        val spec = ConfigLoader.fromFile(need("config"))
        val status = HealthCheck.check(spec,
          opts.get("input"), opts.get("run-dir"))
        System.out.println(status.toJson)
        if (!status.isHealthy) sys.exit(1)
        return
      case "list-runs" =>
        val reg = new RunRegistry(need("registry"))
        reg.list().foreach(r => print(reg.toJson(r)))
        return
      case "status" =>
        // reference `status <run_id>` (ondine/cli/main.py:1125): registry
        // row + progress fraction; a SUBMITTED_REMOTE run also polls the
        // provider backend WITHOUT collecting. No Spark session.
        val (code, lines) = statusJson(need("registry"), need("run-id"))
        lines.foreach(System.out.println)
        if (code != 0) sys.exit(code)
        return
      case "list-checkpoints" =>
        // reference `list-checkpoints` (ondine/cli/main.py:836): the
        // resumable subset of list-runs, each with its ledger stats —
        // what a user scans before picking a run to resume
        listCheckpoints(need("registry")).foreach(System.out.println)
        return
      case "inspect" if opts.contains("input") =>
        () // reference `inspect -i FILE` (cli/main.py:906) — file preview
           // needs a Spark read; falls through to the Spark section
      case "inspect" =>
        val reg = new RunRegistry(need("registry"))
        reg.get(need("run-id")) match {
          case Some(r) =>
            print(reg.toJson(r))
            print(Commands.ledgerStats(r.runDir))
          case None =>
            System.err.println(s"unknown run: ${need("run-id")}")
            sys.exit(1)
        }
        return
      case _ => ()
    }

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      // reference `inspect -i FILE [--head N]` (cli/main.py:906): file
      // info + per-column dtype/null census + a head preview — the
      // pre-flight a user runs before writing a config
      if (cmd == "inspect") {
        inspectInput(spark, need("input"),
          opts.get("head").flatMap(_.toIntOption).getOrElse(5))
          .foreach(System.out.println)
        return
      }
      // "plan" needs no config file — the planner drafts the spec itself
      if (cmd == "plan") {
        val input = Sources.read(spark, need("input"))
        val plan = graft.run.IntentPlanner.plan(input, need("goal"),
          BigDecimal(opts.getOrElse("budget", "1.0")), new MockLlmClient())
        System.out.println(plan.preview)
        return
      }
      lazy val spec = ConfigLoader.fromFile(need("config"))
      lazy val input =
        Sources.read(spark, need("input"), ReadOptions.of(spec.dataset))

      def observers: ObserverDispatcher = {
        val d = new ObserverDispatcher
        for (regDir <- opts.get("registry"); runDir <- opts.get("run-dir"))
          d.register(new RegistryObserver(new RunRegistry(regDir), runDir))
        for (flag <- Seq("otel", "langfuse"); target <- opts.get(flag))
          d.register(new graft.run.OtelObserver(traceSink(flag, target, sys.env)))
        d
      }

      cmd match {
        case "process" | "resume" =>
          // resume = re-drive the same runDir; the ledger anti-join skips
          // every completed call, the registry re-enters RUNNING
          if (cmd == "resume") need("run-dir")
          val r = LlmTransform.run(spark, need("config"),
            inputPath = Some(need("input")),
            outputPath = Some(need("output")),
            runDir = opts.get("run-dir"),
            keyColumn = opts.get("key-column"),
            observers = observers)
          System.out.println(r.toJson)
        case "estimate" =>
          print(Commands.estimate(input, spec))
        case "submit" =>
          val dir = need("run-dir")
          val backend = new ProviderBatch.LocalMockBackend(spark, s"$dir/provider")
          val run = ProviderBatch.submit(input, spec, dir, backend,
            opts.get("key-column"))
          print(Json.obj("job_id" -> run.jobId, "state" -> run.state))
        case "collect" =>
          val dir = need("run-dir")
          val backend = new ProviderBatch.LocalMockBackend(spark, s"$dir/provider")
          val out = ProviderBatch.collect(input, spec, dir, backend,
            opts.get("key-column"))
          Sources.write(out, need("output"))
          print(Json.obj("state" -> "SUCCEEDED", "rows" -> out.count()))
        case other =>
          System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
      }
    } finally spark.stop()
  }

  /** The sink a `--otel`/`--langfuse` target names: `--otel
    * http://collector:4318` posts OTLP/HTTP, `--langfuse http://host` posts
    * OTLP to its `/api/public/otel` with keys from the LANGFUSE_* settings in
    * `env`, and either flag given a file path appends OTLP NDJSON there. */
  private[graft] def traceSink(flag: String, target: String,
                               env: Map[String, String]): graft.run.OtelSink =
    if (!target.startsWith("http://") && !target.startsWith("https://"))
      new graft.run.OtelFileSink(target)
    else if (flag == "langfuse")
      graft.run.OtlpHttpSink.langfuseFromEnv(env + ("LANGFUSE_HOST" -> target))
    else new graft.run.OtlpHttpSink(target)

  /** `validate` as the CLI prints it: (exit code, JSON line) — 0 valid,
    * 1 invalid, no Spark session ([[Commands.validate]]). */
  def validateConfig(path: String): (Int, String) = {
    val n = Commands.validate(ConfigLoader.fromFile(path))
    (if (n.path("valid").asBoolean) 0 else 1, Json.write(n))
  }

  /** `inspect --input` command body (reference: ondine/cli/main.py:906 —
    * file info, per-column dtypes with null counts, first-N preview):
    * one summary line, one line per column (null census from a single
    * aggregation pass), then `head` rows as JSON. Suffix dispatch and
    * schema come from the same [[Sources.read]] every pipeline command
    * uses, so what inspect shows is exactly what process will read.
    * Public so the spec suite drives exactly what the CLI wires. */
  def inspectInput(spark: org.apache.spark.sql.SparkSession, path: String,
                   head: Int): Seq[String] = {
    val df = Sources.read(spark, path)
    val fields = df.schema.fields.toSeq
    val countCols = org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)) +: fields.map(f =>
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col(f.name).isNull, 1L)
          .otherwise(0L)))
    val stats = df.agg(countCols.head, countCols.tail: _*).head()
    val rows = stats.getLong(0)
    val summary = Json.write(Json.obj("path" -> path, "rows" -> rows,
      "columns" -> fields.length))
    val colLines = fields.zipWithIndex.map { case (f, i) =>
      val nulls = if (stats.isNullAt(i + 1)) 0L else stats.getLong(i + 1)
      Json.write(Json.obj("column" -> f.name,
        "type" -> f.dataType.simpleString, "nulls" -> nulls))
    }
    (summary +: colLines) ++ df.limit(head).toJSON.collect().toSeq
  }

  /** `status` as the CLI prints it: (exit code, JSON lines) — the lines
    * of [[Commands.status]], or its error line with exit code 1. */
  def statusJson(registryDir: String, runId: String): (Int, Seq[String]) =
    Commands.status(new RunRegistry(registryDir), runId) match {
      case Left(err) => (1, Seq(Json.write(err)))
      case Right(lines) => (0, lines.map(Json.write))
    }

  /** `list-checkpoints` as the CLI prints it, one JSON line per run
    * ([[Commands.listCheckpoints]]). */
  def listCheckpoints(registryDir: String): Seq[String] =
    Commands.listCheckpoints(new RunRegistry(registryDir)).map(Json.write)

  private def print(n: JsonNode): Unit = System.out.println(Json.write(n))

  private def parseOpts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  private def usage(): Unit =
    System.err.println(
      "usage: graft.Main process|estimate|submit|collect|resume " +
        "--config cfg.yaml --input PATH [--output PATH] [--run-dir DIR] " +
        "[--key-column COL] [--registry DIR]\n" +
        "       graft.Main plan --input PATH --goal TEXT [--budget USD]\n" +
        "       graft.Main validate --config cfg.yaml\n" +
        "       graft.Main list-providers\n" +
        "       graft.Main list-runs --registry DIR\n" +
        "       graft.Main list-checkpoints --registry DIR\n" +
        "       graft.Main inspect --registry DIR --run-id ID\n" +
        "       graft.Main inspect --input PATH [--head N]\n" +
        "       graft.Main status --registry DIR --run-id ID\n" +
        "       graft.Main health --config cfg.yaml [--input PATH] [--run-dir DIR]")
}
