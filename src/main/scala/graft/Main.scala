package graft

import org.apache.spark.sql.SparkSession

import graft.integrations.LlmTransform
import graft.llm.MockLlmClient
import graft.run.{ConfigLoader, CostEstimator, HealthCheck,
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
  * [[LlmTransform.TransformResult.toJson]].
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
        graft.llm.LlmClients.providers.foreach { case (id, sel, desc) =>
          System.out.println(
            s"""{"provider":${jsonStr(id)},"selector":${jsonStr(sel)},""" +
              s""""description":${jsonStr(desc)}}""")
        }
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
        reg.list().foreach(r => System.out.println(reg.render(r)))
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
            val ledger = new java.io.File(r.runDir, "responses")
            val files = Option(ledger.listFiles()).map(_.toSeq).getOrElse(Nil)
              .filter(_.getName.endsWith(".parquet"))
            System.out.println(reg.render(r))
            System.out.println(
              s"""{"ledger_files":${files.size},""" +
              s""""ledger_bytes":${files.map(_.length()).sum}}""")
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
          val e = CostEstimator.estimate(input, spec)
          System.out.println(
            s"""{"total_rows":${e.totalRows},"sample_rows":${e.sampleRows},""" +
            s""""est_tokens_in":${e.estTokensIn},"est_tokens_out":${e.estTokensOut},""" +
            s""""est_cost":"${e.estCost}","confidence":"${e.confidence}",""" +
            s""""batch_fit":${jsonStr(e.batchFit.getOrElse("ok"))}}""")
        case "submit" =>
          val dir = need("run-dir")
          val backend = new ProviderBatch.LocalMockBackend(spark, s"$dir/provider")
          val run = ProviderBatch.submit(input, spec, dir, backend,
            opts.get("key-column"))
          System.out.println(
            s"""{"job_id":"${run.jobId}","state":"${run.state}"}""")
        case "collect" =>
          val dir = need("run-dir")
          val backend = new ProviderBatch.LocalMockBackend(spark, s"$dir/provider")
          val out = ProviderBatch.collect(input, spec, dir, backend,
            opts.get("key-column"))
          Sources.write(out, need("output"))
          System.out.println(s"""{"state":"SUCCEEDED","rows":${out.count()}}""")
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

  /** `validate` command body (reference: ondine/cli/main.py:743 — check a
    * config for errors without executing the pipeline): (exitCode, JSON).
    * Pure config parsing + spec-combination checks, NO Spark session —
    * safe as a pre-flight in CI or an Airflow sensor. Public so the spec
    * suite drives exactly what the CLI wires. */
  def validateConfig(path: String): (Int, String) =
    try {
      val spec = ConfigLoader.fromFile(path)
      spec.validate()
      val cols = (s: Seq[String]) => s.map(jsonStr).mkString("[", ",", "]")
      (0,
        s"""{"valid":true,"input_columns":${cols(spec.dataset.inputColumns)},""" +
        s""""output_columns":${cols(spec.output.outputColumns)},""" +
        s""""model":${jsonStr(spec.llm.model)},""" +
        s""""batch_size":${spec.prompt.batchSize},""" +
        s""""concurrency":${spec.llm.concurrency},""" +
        s""""response_format":${jsonStr(String.valueOf(spec.output.responseFormat))},""" +
        s""""max_budget":${spec.processing.maxBudget
            .map(b => jsonStr(b.toString)).getOrElse("null")}}""")
    } catch {
      case e: Exception =>
        (1, s"""{"valid":false,"error":${jsonStr(String.valueOf(e.getMessage))}}""")
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
    val summary = s"""{"path":${jsonStr(path)},"rows":$rows,""" +
      s""""columns":${fields.length}}"""
    val colLines = fields.zipWithIndex.map { case (f, i) =>
      val nulls = if (stats.isNullAt(i + 1)) 0L else stats.getLong(i + 1)
      s"""{"column":${jsonStr(f.name)},""" +
        s""""type":${jsonStr(f.dataType.simpleString)},"nulls":$nulls}"""
    }
    (summary +: colLines) ++ df.limit(head).toJSON.collect().toSeq
  }

  /** `status` command body (reference: ondine/cli/main.py:1125 — poll the
    * live status of a run): the registry row, a progress line with the
    * done/total fraction, and — for a SUBMITTED_REMOTE run — the provider
    * job id plus a LIVE provider poll, all without collecting results or
    * starting Spark. Returns (exitCode, output lines); public so the spec
    * suite drives exactly what the CLI wires. */
  def statusJson(registryDir: String, runId: String): (Int, Seq[String]) = {
    val reg = new RunRegistry(registryDir)
    reg.get(runId) match {
      case None =>
        // jsonStr: a user-supplied run id holding a quote or backslash
        // must not break the error JSON
        (1, Seq(s"""{"error":${jsonStr(s"unknown run: $runId")}}"""))
      case Some(r) =>
        val pct =
          if (r.totalRows > 0) r.rows.toDouble / r.totalRows * 100.0 else 0.0
        val progress =
          s"""{"progress_pct":${math.round(pct * 10) / 10.0},""" +
          s""""rows_done":${r.rows},"total_rows":${r.totalRows},""" +
          s""""cost":${jsonStr(r.cost)}}"""
        val provider =
          if (r.state != graft.run.RunState.SubmittedRemote) Nil
          else graft.run.ProviderBatch.loadState(r.runDir).map { b =>
            val live = graft.run.ProviderBatch.LocalMockBackend
              .poll(s"${r.runDir}/provider", b.jobId)
            s"""{"provider_job_id":${jsonStr(b.jobId)},""" +
            s""""provider_state":${jsonStr(live)}}"""
          }.toSeq
        (0, Seq(reg.render(r), progress) ++ provider)
    }
  }

  /** `list-checkpoints` command body (reference: ondine/cli/main.py:836 —
    * list resumable checkpoints with their progress): the subset of
    * list-runs whose state the resume path can re-drive (RUNNING = a
    * crashed attempt, FAILED, PARTIAL — the ledger anti-join skips every
    * completed call), one line per run with its ledger file stats. */
  def listCheckpoints(registryDir: String): Seq[String] = {
    val reg = new RunRegistry(registryDir)
    val resumable = Set(graft.run.RunState.Running,
      graft.run.RunState.Failed, graft.run.RunState.Partial)
    reg.list().filter(r => resumable(r.state)).map { r =>
      val ledger = new java.io.File(r.runDir, "responses")
      val files = Option(ledger.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(_.getName.endsWith(".parquet"))
      reg.render(r).stripSuffix("}") +
        s""","ledger_files":${files.size},""" +
        s""""ledger_bytes":${files.map(_.length()).sum}}"""
    }
  }

  /** JSON string literal with escaping — the batch_fit message embeds the
    * user-supplied model id, which must not break the output JSON. */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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
