package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.run.{HealthCheck, PipelineBuilder}

class HealthCheckSpec extends AnyFunSuite {

  private def spec(llm: LlmSpec = LlmSpec()) = PipelineSpec(
    DatasetSpec(inputColumns = Seq("text")),
    PromptSpec(template = "Summarize: {text}"),
    llm,
    ProcessingSpec(),
    OutputSpec(outputColumns = Seq("summary")))

  test("in-process client, no paths: healthy with three ok checks") {
    val s = HealthCheck.check(spec())
    assert(s.isHealthy)
    assert(s.checks.map(_.status) == Seq("ok", "ok", "ok"))
  }

  test("endpoint with unset api key env: unhealthy llm_provider error") {
    val s = HealthCheck.check(spec(LlmSpec(
      endpoint = Some("http://localhost:9/v1/chat"),
      apiKeyEnv = Some("GRAFT_TEST_NO_SUCH_KEY"))))
    assert(!s.isHealthy)
    assert(s.checks.head.name == "llm_provider")
    assert(s.checks.head.status == "error")
  }

  test("endpoint with present api key env: healthy") {
    // PATH is set in any sane environment
    val s = HealthCheck.check(spec(LlmSpec(
      endpoint = Some("http://localhost:9/v1/chat"),
      apiKeyEnv = Some("PATH"))))
    assert(s.isHealthy)
  }

  test("missing source is a warning, not unhealthy (reference parity)") {
    val s = HealthCheck.check(spec(),
      sourcePath = Some("/no/such/input.parquet"))
    assert(s.isHealthy)
    assert(s.checks(1).status == "warning")
  }

  test("run dir: existing ok, creatable ok, unwritable parent warns") {
    val tmp = java.nio.file.Files.createTempDirectory("hc").toString
    assert(HealthCheck.check(spec(), runDir = Some(tmp))
      .checks(2).detail.contains("exists"))
    assert(HealthCheck.check(spec(), runDir = Some(s"$tmp/new_run"))
      .checks(2).detail.contains("creatable"))
    // nested missing levels are still creatable (mkdirs semantics)
    assert(HealthCheck.check(spec(), runDir = Some(s"$tmp/a/b/c"))
      .checks(2).detail.contains("creatable"))
    // nearest existing ancestor is /dev/null — a non-directory, so
    // mkdirs can never succeed underneath it
    val s = HealthCheck.check(spec(), runDir = Some("/dev/null/run"))
    assert(s.checks(2).status == "warning" && s.isHealthy)
  }

  test("run dir occupied by a regular file is an error, not 'creatable'") {
    val f = java.nio.file.Files.createTempFile("hc", ".dat")
    val s = HealthCheck.check(spec(), runDir = Some(f.toString))
    assert(!s.isHealthy)
    assert(s.checks(2).status == "error")
    assert(s.checks(2).detail.contains("not a directory"))
  }

  test("readiness mirrors spec validation") {
    assert(HealthCheck.readiness(spec()).isRight)
    val bad = spec().copy(prompt = PromptSpec(template = "no placeholders"))
    val r = HealthCheck.readiness(bad)
    assert(r.isLeft)
    assert(r.left.toOption.get.head.contains("placeholders"))
  }

  test("toJson is well-formed and escapes details") {
    val s = HealthCheck.Status("healthy", Seq(
      HealthCheck.Check("a", "ok", "path \"x\"\nline")))
    val j = s.toJson
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(j)
    assert(node.get("status").asText == "healthy")
    assert(node.get("checks").get(0).get("detail").asText == "path \"x\"\nline")
  }

  test("CLI validate: exit 0 + summary on a good config, 1 + error on bad") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val good = java.nio.file.Files.createTempFile("graft_val_ok", ".yaml")
    java.nio.file.Files.writeString(good,
      "dataset:\n  input_columns: [text]\nprompt:\n  " +
        "template: \"V: {text}\"\n  batch_size: 10\n" +
        "processing:\n  max_budget: 2.5\n" +
        "output:\n  output_columns: [res]")
    val (okCode, okJson) = Main.validateConfig(good.toString)
    assert(okCode == 0)
    val ok = om.readTree(okJson)
    assert(ok.get("valid").asBoolean)
    assert(ok.get("input_columns").get(0).asText == "text")
    assert(ok.get("output_columns").get(0).asText == "res")
    assert(ok.get("batch_size").asInt == 10)
    assert(ok.get("max_budget").asText == "2.5")

    // spec-combination failure: template var not among input columns
    val bad = java.nio.file.Files.createTempFile("graft_val_bad", ".yaml")
    java.nio.file.Files.writeString(bad,
      "dataset:\n  input_columns: [text]\nprompt:\n  " +
        "template: \"V: {missing}\"\noutput:\n  output_columns: [res]")
    val (badCode, badJson) = Main.validateConfig(bad.toString)
    assert(badCode == 1)
    val b = om.readTree(badJson)
    assert(!b.get("valid").asBoolean)
    assert(b.get("error").asText.contains("missing"))

    // unreadable / nonexistent file is invalid, not a crash
    assert(Main.validateConfig("/no/such/config.yaml")._1 == 1)
  }

  test("CLI status: registry row + progress + provider poll, no Spark") {
    import graft.run.{RunRegistry, RunState}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val regDir = java.nio.file.Files.createTempDirectory("graft_cli_st")
    val runDir = java.nio.file.Files.createTempDirectory("graft_cli_run")
    val reg = new RunRegistry(regDir.toString)
    reg.register("r1", runDir.toString)
    reg.transition("r1", RunState.Running)
    reg.updateMetrics("r1", rows = 40, calls = 4, cost = "0.08",
      totalRows = 100)
    val (code, lines) = Main.statusJson(regDir.toString, "r1")
    assert(code == 0 && lines.size == 2) // row + progress, no provider
    assert(om.readTree(lines.head).get("state").asText == "RUNNING")
    val prog = om.readTree(lines(1))
    assert(prog.get("progress_pct").asDouble == 40.0)
    assert(prog.get("rows_done").asLong == 40)
    assert(prog.get("total_rows").asLong == 100)
    assert(prog.get("cost").asText == "0.08")
    // unknown run: exit 1, an error line, no crash
    val (badCode, badLines) = Main.statusJson(regDir.toString, "nope")
    assert(badCode == 1 && badLines.head.contains("unknown run"))
    // a run id holding a quote/backslash must still produce VALID json
    val (qc, ql) = Main.statusJson(regDir.toString, """no"pe\""")
    assert(qc == 1 &&
      om.readTree(ql.head).get("error").asText == """unknown run: no"pe\""")
    // SUBMITTED_REMOTE: the provider job is polled live WITHOUT collecting
    val reg2 = new RunRegistry(regDir.toString)
    reg2.register("r2", runDir.toString)
    reg2.transition("r2", RunState.SubmittedRemote)
    java.nio.file.Files.writeString(runDir.resolve("registry.json"),
      """{"job_id":"local-abc","state":"SUBMITTED_REMOTE"}""")
    val (c2, l2) = Main.statusJson(regDir.toString, "r2")
    assert(c2 == 0 && l2.size == 3)
    val prov = om.readTree(l2(2))
    assert(prov.get("provider_job_id").asText == "local-abc")
    assert(prov.get("provider_state").asText == "PENDING") // no result dir
    // a committed provider write polls SUCCEEDED
    val done = runDir.resolve("provider").resolve("local-abc")
    java.nio.file.Files.createDirectories(done)
    java.nio.file.Files.writeString(done.resolve("_SUCCESS"), "")
    val (_, l3) = Main.statusJson(regDir.toString, "r2")
    assert(om.readTree(l3(2)).get("provider_state").asText == "SUCCEEDED")
  }

  test("CLI list-checkpoints: only resumable states, with ledger stats") {
    import graft.run.{RunRegistry, RunState}
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val regDir = java.nio.file.Files.createTempDirectory("graft_cli_lc")
    val reg = new RunRegistry(regDir.toString)
    def mk(id: String, to: Seq[String]): Unit = {
      val rd = java.nio.file.Files.createTempDirectory(s"graft_lc_$id")
      reg.register(id, rd.toString)
      to.foreach(reg.transition(id, _))
    }
    mk("done", Seq(RunState.Running, RunState.Succeeded)) // NOT listed
    mk("crashed", Seq(RunState.Running))                  // listed
    mk("failed", Seq(RunState.Running, RunState.Failed))  // listed
    mk("partial", Seq(RunState.Running, RunState.Partial))// listed
    // give the failed run a ledger file so the stats are non-trivial
    val failedDir = reg.get("failed").get.runDir
    val ledger = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(failedDir, "responses"))
    java.nio.file.Files.writeString(
      ledger.resolve("part-0000.snappy.parquet"), "x" * 64)
    val lines = Main.listCheckpoints(regDir.toString)
    val byId = lines.map(om.readTree).map(n =>
      n.get("run_id").asText -> n).toMap
    assert(byId.keySet == Set("crashed", "failed", "partial"))
    assert(byId("failed").get("ledger_files").asInt == 1)
    assert(byId("failed").get("ledger_bytes").asLong == 64)
    assert(byId("crashed").get("ledger_files").asInt == 0)
  }

  test("list-runs, status and inspect print strict JSON for a tab or \\u0001") {
    import graft.run.{RunRegistry, RunState}
    val strict = new com.fasterxml.jackson.databind.ObjectMapper()
    val regDir = java.nio.file.Files.createTempDirectory("graft_cli_ctl")
      .toString
    val runDir = s"$regDir/run\tdir\u0001x"
    val note = "failed:\tcolumn\u0001 gone"
    val reg = new RunRegistry(regDir)
    reg.register("ctl", runDir)
    reg.transition("ctl", RunState.Running)
    reg.transition("ctl", RunState.Failed, r => r.copy(note = note))
    def check(line: String): Unit = {
      val n = strict.readTree(line)
      assert(n.get("run_dir").asText == runDir && n.get("note").asText == note)
    }
    val (lc, listed) = ChildCli.cli("list-runs", "--registry", regDir)
    assert(lc == 0 && listed.size == 1)
    check(listed.head)
    val (sc, status) = Main.statusJson(regDir, "ctl")
    assert(sc == 0)
    check(status.head)
    status.foreach(strict.readTree)
    val (ic, inspected) = ChildCli.cli("inspect", "--registry", regDir,
      "--run-id", "ctl")
    assert(ic == 0 && inspected.size == 2)
    check(inspected.head)
    assert(strict.readTree(inspected(1)).get("ledger_files").asInt == 0)
  }

  test("CLI list-providers registry covers the factory's dispatch arms") {
    val ids = graft.llm.LlmClients.providers.map(_._1)
    assert(ids.contains("mock") && ids.contains("http") &&
      ids.contains("proc"))
    // every selector names a concrete way to pick the provider
    assert(graft.llm.LlmClients.providers.forall { case (_, sel, desc) =>
      sel.nonEmpty && desc.nonEmpty })
  }

  test("builder healthCheck reports on incomplete config without throwing") {
    val s = PipelineBuilder()
      .withTemplate("Q: {q}")
      .withEndpoint("http://localhost:9/v1", apiKeyEnv = Some("NOPE_KEY"))
      .healthCheck()
    assert(!s.isHealthy)
  }
}

class TraceSanitizerSpec extends AnyFunSuite {
  import graft.run.TraceSanitizer._

  test("each PII family redacts; clean text passes through") {
    assert(sanitizeText("mail a.b@x.org now") == "mail [REDACTED] now")
    assert(sanitizeText("ssn 123-45-6789") == "ssn [REDACTED]")
    assert(sanitizeText("card 4111 1111 1111 1111") == "card [REDACTED]")
    assert(sanitizeText("call 415-555-0123") == "call [REDACTED]")
    assert(sanitizeText("host 192.168.0.1") == "host [REDACTED]")
    assert(sanitizeText("api_key: sk_1234567890abcdefgh") == "[REDACTED]")
    assert(sanitizeText("nothing secret here") == "nothing secret here")
  }

  test("custom patterns extend the family") {
    val acct = Seq("account" -> "ACC-\\d{6}".r)
    assert(sanitizeText("see ACC-123456", customPatterns = acct)
      == "see [REDACTED]")
  }

  test("prompt sanitization: stable digest by default, raw on opt-in") {
    val a = sanitizePrompt("my secret prompt")
    assert(a.matches("<sanitized-[0-9a-f]{8}>"))
    assert(a == sanitizePrompt("my secret prompt")) // stable
    assert(a != sanitizePrompt("другой prompt"))
    assert(sanitizePrompt("keep me", includeRaw = true) == "keep me")
  }
}

class ModelContextLimitsSpec extends AnyFunSuite {
  import graft.llm.ModelContextLimits._

  test("lookup: exact, dated-variant fuzzy, provider-prefixed, default") {
    assert(contextLimit("gpt-4o-mini") == 128000)
    assert(contextLimit("claude-3-5-sonnet-20241022") == 200000)
    assert(contextLimit("openai/gpt-4-32k") == 32768)
    assert(contextLimit("some-unknown-model") == DefaultLimit)
  }

  test("ambiguous and empty ids fail SAFE to the conservative default") {
    // "" / bare family prefixes must not resolve to some table entry's
    // (possibly huge) window — that defeats the overflow check
    assert(contextLimit("") == DefaultLimit)
    assert(contextLimit("mixtral") == DefaultLimit)
    assert(contextLimit("qwen") == DefaultLimit)
  }

  test("fuzzy prefers the longest (most specific) family match") {
    // "gpt-4-turbo-2024-04-09" contains both gpt-4 (8k) and gpt-4-turbo (128k)
    assert(contextLimit("gpt-4-turbo-2024-04-09") == 128000)
  }

  test("batch validation: fit passes, overflow gets an actionable message") {
    assert(validateBatchSize("gpt-4o-mini", 100, 500).isRight)
    val r = validateBatchSize("gpt-4o-mini", 1000, 500)
    assert(r.isLeft)
    assert(r.left.toOption.get.contains("reduce batch_size to 204"))
  }

  test("suggested batch fills the margin and respects the cap") {
    assert(suggestBatchSize("gpt-4o-mini", 500) == 204)
    assert(suggestBatchSize("gpt-4o-mini", 10) == 500) // capped
    assert(suggestBatchSize("unknown", 100000) == 1)   // floor
  }

  test("estimator surfaces batch overflow for mega-prompt configs") {
    val spark = SparkSpec.session
    import spark.implicits._
    val df = (0 until 50).map(i => "x" * 4000).toDF("text")
    val spec = graft.core.PipelineSpec(
      DatasetSpec(inputColumns = Seq("text")),
      PromptSpec(template = "Summarize: {text}", batchSize = 50),
      LlmSpec(model = "gpt-4"), // 8k window
      ProcessingSpec(),
      OutputSpec(outputColumns = Seq("s")))
    val e = graft.run.CostEstimator.estimate(df, spec)
    assert(e.batchFit.isDefined)
    assert(e.batchFit.get.contains("batch too large for gpt-4"))
    // same data, batch 1: fits
    val ok = graft.run.CostEstimator.estimate(df,
      spec.copy(prompt = spec.prompt.copy(batchSize = 1)))
    assert(ok.batchFit.isEmpty)
  }
}

/** CLI `inspect --input` (reference cli/main.py:906 file preview) —
  * needs a SparkSession, so it lives in its own SparkSpec suite. */
class CliInspectSpec extends SparkSpec {
  import spark.implicits._

  test("inspect --input: summary, column null census, head preview") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_insp")
    val p = dir.resolve("in.csv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "id,text,score\n1,alpha,0.5\n2,,1.5\n3,gamma,\n4,delta,2.0\n")
    val lines = Main.inspectInput(spark, p, head = 2)
    val summary = om.readTree(lines.head)
    assert(summary.get("rows").asLong == 4)
    assert(summary.get("columns").asInt == 3)
    val cols = lines.slice(1, 4).map(om.readTree)
    val byName = cols.map(n => n.get("column").asText -> n).toMap
    assert(byName.keySet == Set("id", "text", "score"))
    assert(byName("text").get("nulls").asLong == 1)
    assert(byName("score").get("nulls").asLong == 1)
    assert(byName("id").get("nulls").asLong == 0)
    // head rows ride as JSON, exactly `head` of them
    val headRows = lines.drop(4)
    assert(headRows.size == 2)
    assert(om.readTree(headRows.head).get("text").asText == "alpha")
    // parquet goes through the same suffix dispatch
    val pq = dir.resolve("in.parquet").toString
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(pq)
    val pl = Main.inspectInput(spark, pq, head = 5)
    assert(om.readTree(pl.head).get("rows").asLong == 2)
    assert(pl.drop(3).size == 2) // head larger than the file: all rows
  }
}
