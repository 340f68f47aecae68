package graft

import java.io.{PipedInputStream, PipedOutputStream, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.llm.MockLlmClient
import graft.mcp.McpServer

/** Drives the MCP server through its actual wire protocol (newline-
  * delimited JSON-RPC over piped streams): initialize handshake, tool
  * discovery, estimate, async run → status poll → collect, mandatory
  * budget, and protocol errors.
  */
class McpSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def withServer[A](f: (PrintWriter, () => com.fasterxml.jackson.databind.JsonNode) => A): A = {
    val toServer = new PipedOutputStream()
    val serverIn = new PipedInputStream(toServer, 1 << 16)
    val fromServer = new PipedOutputStream()
    val serverOut = new PipedInputStream(fromServer, 1 << 16)
    val work = Files.createTempDirectory("graft_mcp").toString
    val service = new McpServer.Service(spark, new MockLlmClient(), work)
    val t = new Thread(() => McpServer.serve(serverIn, fromServer, service),
      "mcp-under-test")
    t.setDaemon(true)
    t.start()
    val writer = new PrintWriter(
      new java.io.OutputStreamWriter(toServer, StandardCharsets.UTF_8), true)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(serverOut, StandardCharsets.UTF_8))
    try f(writer, () => mapper.readTree(reader.readLine()))
    finally { writer.close() }
  }

  private def call(id: Int, tool: String, args: (String, Any)*): String = {
    val a = mapper.createObjectNode()
    args.foreach {
      case (k, v: String) => a.put(k, v)
      case (k, v: Double) => a.put(k, v)
      case (k, v: Int) => a.put(k, v)
      case (k, v) => a.put(k, String.valueOf(v))
    }
    val params = mapper.createObjectNode()
    params.put("name", tool)
    params.set[com.fasterxml.jackson.databind.JsonNode]("arguments", a)
    val req = mapper.createObjectNode()
    req.put("jsonrpc", "2.0"); req.put("id", id); req.put("method", "tools/call")
    req.set[com.fasterxml.jackson.databind.JsonNode]("params", params)
    mapper.writeValueAsString(req)
  }

  /** The tool result's single text block parsed back to JSON. */
  private def toolJson(rsp: com.fasterxml.jackson.databind.JsonNode) =
    mapper.readTree(rsp.path("result").path("content").path(0)
      .path("text").asText())

  test("initialize handshake and tool discovery") {
    withServer { (w, read) =>
      w.println("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
      val init = read()
      assert(init.path("result").path("protocolVersion").asText ==
        McpServer.ProtocolVersion)
      assert(init.path("result").path("serverInfo").path("name").asText == "graft")
      w.println("""{"jsonrpc":"2.0","method":"notifications/initialized"}""")
      w.println("""{"jsonrpc":"2.0","id":2,"method":"tools/list","params":{}}""")
      val tools = read().path("result").path("tools")
      val names = (0 until tools.size).map(tools.get(_).path("name").asText)
      assert(names == Seq("graft_estimate", "graft_run", "graft_status",
        "graft_collect", "graft_validate", "graft_list_providers",
        "graft_list_checkpoints"))
      assert(tools.get(1).path("inputSchema").path("required").toString
        .contains("budget"))
      // unknown method -> -32601
      w.println("""{"jsonrpc":"2.0","id":3,"method":"bogus/thing"}""")
      assert(read().path("error").path("code").asInt == -32601)
    }
  }

  test("estimate -> run -> status poll -> collect, full tool arc") {
    val in = Files.createTempDirectory("graft_mcp_in")
      .resolve("in.csv").toString
    Files.writeString(java.nio.file.Paths.get(in),
      "text\n" + (0 until 40).map(i => s"row $i").mkString("\n"))
    val outPath = Files.createTempDirectory("graft_mcp_out")
      .resolve("out.parquet").toString
    val cfg = "dataset:\n  input_columns: [text]\nprompt:\n  " +
      "template: \"M: {text}\"\noutput:\n  output_columns: [res]"
    withServer { (w, read) =>
      w.println(call(10, "graft_estimate", "config_yaml" -> cfg,
        "input_path" -> in))
      val est = toolJson(read())
      assert(est.path("total_rows").asLong == 40)
      assert(est.path("confidence").asText == "sample-based")

      // budget is mandatory and positive
      w.println(call(11, "graft_run", "config_yaml" -> cfg,
        "input_path" -> in, "output_path" -> outPath, "budget" -> -1.0))
      val denied = read()
      assert(denied.path("result").path("isError").asBoolean)
      assert(toolJson(denied).path("error").asText.contains("positive"))

      w.println(call(12, "graft_run", "config_yaml" -> cfg,
        "input_path" -> in, "output_path" -> outPath, "budget" -> 5.0))
      val runId = toolJson(read()).path("run_id").asText
      assert(runId.startsWith("mcp-"))

      var state = ""
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (state != "SUCCEEDED" && state != "FAILED" &&
        System.nanoTime() < deadline) {
        Thread.sleep(200)
        w.println(call(13, "graft_status", "run_id" -> runId))
        state = toolJson(read()).path("state").asText
      }
      assert(state == "SUCCEEDED", s"run ended $state")

      w.println(call(14, "graft_collect", "run_id" -> runId))
      val coll = toolJson(read())
      assert(coll.path("rows").asLong == 40)
      assert(coll.path("output_path").asText == outPath)
      // the async worker really wrote the output
      val got = spark.read.parquet(outPath)
      assert(got.count() == 40)
      assert(got.columns.contains("res"))

      // unknown run id answers in-band, not with a crash
      w.println(call(15, "graft_collect", "run_id" -> "nope"))
      assert(toolJson(read()).path("error").asText.contains("unknown run"))
    }
  }

  test("graft_validate and graft_list_providers answer over the wire") {
    val good = "dataset:\n  input_columns: [text]\nprompt:\n  " +
      "template: \"W: {text}\"\noutput:\n  output_columns: [res]"
    val bad = "dataset:\n  input_columns: [text]\nprompt:\n  " +
      "template: \"W: {nope}\"\noutput:\n  output_columns: [res]"
    withServer { (w, read) =>
      w.println(call(20, "graft_validate", "config_yaml" -> good))
      val ok = toolJson(read())
      assert(ok.path("valid").asBoolean)
      assert(ok.path("input_columns").path(0).asText == "text")
      w.println(call(21, "graft_validate", "config_yaml" -> bad))
      val no = toolJson(read())
      assert(!no.path("valid").asBoolean)
      assert(no.path("error").asText.contains("nope"))
      w.println(call(22, "graft_list_providers"))
      val provs = toolJson(read()).path("providers")
      val prov = (0 until provs.size).map(provs.get(_).path("provider").asText)
      assert(prov.contains("mock") && prov.contains("http") &&
        prov.contains("proc"))
      // list-checkpoints: empty registry -> empty listing, not an error
      w.println(call(23, "graft_list_checkpoints"))
      assert(toolJson(read()).path("checkpoints").size == 0)
    }
  }

  test("graft_status reports live progress while a job is RUNNING") {
    val in = Files.createTempDirectory("graft_mcp_prog_in")
      .resolve("in.csv").toString
    Files.writeString(java.nio.file.Paths.get(in),
      "text\n" + (0 until 40).map(i => s"live $i").mkString("\n"))
    val outPath = Files.createTempDirectory("graft_mcp_prog_out")
      .resolve("out.parquet").toString
    // small chunks + per-call latency so the run spends real time RUNNING
    val cfg = "dataset:\n  input_columns: [text]\nprompt:\n  " +
      "template: \"MP: {text}\"\nprocessing:\n  chunk_rows: 5\n" +
      "output:\n  output_columns: [res]"
    val work = Files.createTempDirectory("graft_mcp_prog").toString
    val service = new McpServer.Service(spark,
      new MockLlmClient(simulatedLatencyMs = 25), work)
    val runId = service.run(cfg, in, outPath, BigDecimal(5))
    val snaps = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long)]
    var state = ""
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (state != "SUCCEEDED" && state != "FAILED" &&
        System.nanoTime() < deadline) {
      val s = service.status(runId)
      state = s.path("state").asText
      snaps += ((state, s.path("rows").asLong,
        s.path("calls").asLong, s.path("total_rows").asLong))
      Thread.sleep(20)
    }
    assert(state == "SUCCEEDED", s"run ended $state")
    val mid = snaps.filter(s => s._1 == "RUNNING" && s._2 > 0)
    assert(mid.nonEmpty, "graft_status never showed mid-run progress")
    assert(mid.exists(_._2 < 40), "only end-state counters observed")
    assert(mid.forall(_._4 == 40), "total_rows absent from live status")
    val rows = snaps.filter(_._1 == "RUNNING").map(_._2).toSeq
    assert(rows == rows.sorted, "live counters must be monotone")
    assert(service.status(runId).path("rows").asLong == 40L)
  }

  private val terminal = Set("SUCCEEDED", "PARTIAL", "FAILED")

  /** Polls graft_status until the run ends; returns the last status. */
  private def await(service: McpServer.Service, runId: String) = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    var st = service.status(runId)
    while (!terminal(st.path("state").asText) &&
        System.nanoTime() < deadline) {
      Thread.sleep(100)
      st = service.status(runId)
    }
    st
  }

  private def csv(lines: Seq[String]): String = {
    val p = Files.createTempDirectory("graft_mcp_csv").resolve("in.csv")
    Files.writeString(p, ("text" +: lines).mkString("\n"))
    p.toString
  }

  private def out(): String =
    Files.createTempDirectory("graft_mcp_o").resolve("out.parquet").toString

  test("graft_run reaches the spec's proc: endpoint") {
    val py = sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
      .map(d => new java.io.File(d, "python3")).find(_.canExecute)
      .getOrElse(cancel("python3 not on PATH"))
    val dir = Files.createTempDirectory("graft_mcp_proc")
    val sidecar = dir.resolve("sidecar.py")
    Files.writeString(sidecar,
      """import sys, json
        |for line in sys.stdin:
        |    req = json.loads(line)
        |    text = "sidecar " + req["prompt"]
        |    sys.stdout.write(json.dumps({"id": req["id"], "text": text,
        |        "tokens_in": len(req["prompt"]), "tokens_out": len(text)}) + "\n")
        |    sys.stdout.flush()
        |""".stripMargin)
    val cfg = s"llm:\n  endpoint: \"proc:$py $sidecar\"\n" +
      "prompt:\n  template: \"MC: {text}\"\noutput:\n  output_columns: [res]"
    val service = new McpServer.Service(spark, dir.resolve("work").toString)
    val o = out()
    val runId = service.run(cfg, csv((0 until 4).map(i => s"mcp $i")), o,
      BigDecimal(1))
    val st = await(service, runId)
    assert(st.path("state").asText == "SUCCEEDED", st.toString)
    val session = spark
    import session.implicits._
    assert(session.read.parquet(o).select("text", "res").as[(String, String)]
      .collect().toSet == (0 until 4).map(i =>
        (s"mcp $i", s"sidecar MC: mcp $i")).toSet)
  }

  test("a run with blank outputs ends PARTIAL and still collects") {
    // every 5th batch item dropped and no auto-retry: those rows stay null
    val service = new McpServer.Service(spark,
      new MockLlmClient(dropEveryNthBatchItem = 5),
      Files.createTempDirectory("graft_mcp_partial").toString)
    val cfg = "dataset:\n  input_columns: [text]\nprompt:\n  " +
      "template: \"MQ: {text}\"\n  batch_size: 10\n" +
      "output:\n  output_columns: [res]"
    val o = out()
    val runId = service.run(cfg, csv((0 until 30).map(i => s"p $i")), o,
      BigDecimal(5))
    val st = await(service, runId)
    assert(st.path("state").asText == "PARTIAL", st.toString)
    assert(st.path("valid_rows").asLong < 30 && st.path("rows").asLong == 30)
    val coll = service.collect(runId)
    assert(coll.path("output_path").asText == o)
    assert(spark.read.parquet(o).count() == 30)
  }

  test("two servers over one work dir never share a run id or run dir") {
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft_mcp_two").toString
    val cfg = "dataset:\n  input_columns: [text]\nprompt:\n  " +
      "template: \"MT: {text}\"\noutput:\n  output_columns: [res]"
    def files(runId: String): Set[String] = {
      val d = java.nio.file.Paths.get(work, runId)
      val walk = Files.walk(d)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(d.relativize(_).toString).toSet
      finally walk.close()
    }
    // each server numbers its runs from 1; the second starts after the
    // first one's run has ended, as a restarted server would
    val first = new McpServer.Service(spark, new MockLlmClient(), work)
    val a = first.run(cfg, csv(Seq("x 1", "x 2")), out(), BigDecimal(5))
    assert(await(first, a).path("state").asText == "SUCCEEDED")
    val aFiles = files(a)
    assert(aFiles.nonEmpty, "the run wrote nothing into its run dir")
    val second = new McpServer.Service(spark, new MockLlmClient(), work)
    val o = out()
    val b = second.run(cfg, csv(Seq("y 1", "y 2", "y 3")), o, BigDecimal(5))
    assert(b != a, s"second server re-issued $a")
    val st = await(second, b)
    assert(st.path("state").asText == "SUCCEEDED", st.toString)
    assert(st.path("rows").asLong == 3)
    assert(second.collect(b).path("output_path").asText == o)
    assert(files(b).nonEmpty)
    assert(files(a) == aFiles, "the second run wrote into the first's dir")
    assert(first.status(a).path("rows").asLong == 2)
  }

  test("list-checkpoints (CLI and MCP) counts the ledger of a file: run dir") {
    val work = Files.createTempDirectory("graft_mcp_uri").toString
    val service = new McpServer.Service(spark, new MockLlmClient(), work)
    val reg = new graft.run.RunRegistry(s"$work/registry")
    val runDir = Files.createTempDirectory("graft_mcp_uri_run")
    Files.writeString(Files.createDirectories(runDir.resolve("responses"))
      .resolve("part-0000.snappy.parquet"), "x" * 64)
    reg.register("crashed", runDir.toUri.toString) // file:/...
    reg.transition("crashed", graft.run.RunState.Running)
    val cli = mapper.readTree(Main.listCheckpoints(s"$work/registry").head)
    assert(cli.path("run_dir").asText.startsWith("file:"))
    assert(cli.path("ledger_files").asInt == 1)
    assert(cli.path("ledger_bytes").asLong == 64)
    val mcp = service.listCheckpoints().path("checkpoints")
    assert(mcp.size == 1 && mcp.get(0).path("ledger_files").asInt == 1)
  }

  test("each shared command's MCP payload equals the CLI's JSON") {
    val work = Files.createTempDirectory("graft_mcp_parity").toString
    val service = new McpServer.Service(spark, new MockLlmClient(), work)
    // what the wire carries: the payload written, then read back
    def wire(n: JsonNode) = mapper.readTree(graft.core.Json.write(n))
    def merged(lines: Seq[String]) = lines.foldLeft(mapper.createObjectNode())(
      (o, l) => o.setAll[ObjectNode](mapper.readTree(l).asInstanceOf[ObjectNode]))
    def array(lines: Seq[String]) =
      mapper.valueToTree[JsonNode](lines.map(mapper.readTree).toArray)
    val good = "dataset:\n  input_columns: [text]\nprompt:\n  " +
      "template: \"PY: {text}\"\n  batch_size: 4\n" +
      "processing:\n  max_budget: 2.5\noutput:\n  output_columns: [res]"
    val bad = good.replace("{text}", "{nope}")
    for (yaml <- Seq(good, bad)) {
      val f = Files.createTempFile("graft_parity", ".yaml")
      Files.writeString(f, yaml)
      assert(wire(service.validate(yaml)) ==
        mapper.readTree(Main.validateConfig(f.toString)._2))
    }

    val reg = new graft.run.RunRegistry(s"$work/registry")
    reg.register("r1", s"$work/r1")
    reg.transition("r1", graft.run.RunState.Running)
    reg.updateMetrics("r1", rows = 3, calls = 1, cost = "0.01", totalRows = 8)
    assert(wire(service.status("r1")) ==
      merged(Main.statusJson(s"$work/registry", "r1")._2))
    assert(wire(service.status("nope")) ==
      merged(Main.statusJson(s"$work/registry", "nope")._2))
    assert(wire(service.listCheckpoints()).path("checkpoints") ==
      array(Main.listCheckpoints(s"$work/registry")))

    // list-providers and estimate through the CLI process itself
    val (pc, providers) = ChildCli.cli("list-providers")
    assert(pc == 0 &&
      wire(service.listProviders()).path("providers") == array(providers))
    val in = csv((0 until 12).map(i => s"estimate row $i"))
    val cfg = Files.createTempFile("graft_parity_est", ".yaml")
    Files.writeString(cfg, good)
    val (ec, est) = ChildCli.cli("estimate", "--config", cfg.toString,
      "--input", in)
    assert(ec == 0 && est.size == 1)
    assert(wire(service.estimate(good, in)) == mapper.readTree(est.head))
  }
}
