package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.llm.{AdaptiveLimiter, MockLlmClient}
import graft.run._

class ConfigLoaderSpec extends AnyFunSuite {

  test("yaml config parses into the spec tree") {
    val spec = ConfigLoader.fromYaml(
      """dataset:
        |  input_columns: [text]
        |  filters: {lang: en}
        |prompt:
        |  template: "Classify: {text}"
        |  system_message: "You are terse."
        |  batch_size: 15
        |llm:
        |  model: mock
        |  input_cost_per_1k: 0.001
        |  concurrency: 4
        |  requests_per_minute: 600
        |processing:
        |  error_policy: skip
        |  max_budget: 5.0
        |output:
        |  output_columns: [sentiment]
        |  response_format: raw
        |  merge_strategy: replace
        |""".stripMargin)
    assert(spec.prompt.batchSize == 15)
    assert(spec.prompt.systemMessage.contains("You are terse."))
    assert(spec.dataset.filters == Map("lang" -> "en"))
    assert(spec.llm.requestsPerMinute.contains(600))
    assert(spec.processing.errorPolicy == ErrorPolicy.Skip)
    assert(spec.processing.maxBudget.contains(BigDecimal("5.0")))
    assert(spec.output.outputColumns == Seq("sentiment"))
    spec.validate()
  }

  test("typed schema, evidence, and rate-limit scope parse from yaml") {
    val spec = ConfigLoader.fromYaml(
      """prompt: {template: "T {text}"}
        |llm: {rate_limit_scope_file: "redis://127.0.0.1:6379/prov:model"}
        |output:
        |  output_columns: [label, score]
        |  response_format: typed
        |  typed_schema: "label STRING, score INT"
        |evidence: {id_col: cid, text_col: body, top_k: 2, min_score: "0.05"}
        |""".stripMargin)
    assert(spec.output.responseFormat == ResponseFormat.Typed)
    assert(spec.output.typedSchema.get.fieldNames.toSeq == Seq("label", "score"))
    assert(spec.llm.rateLimitScopeFile.contains("redis://127.0.0.1:6379/prov:model"))
    val ev = spec.evidence.get
    assert(ev.idCol == "cid" && ev.textCol == "body" &&
      ev.topK == 2 && ev.minScore == 0.05)
    spec.validate()
    // a non-redis scope fails on the driver, before any Invoke task runs
    val stale = spec.copy(llm = spec.llm.copy(rateLimitScopeFile = Some("/tmp/scope.state")))
    val e = intercept[IllegalArgumentException](stale.validate())
    assert(e.getMessage.contains("redis://host:port/scope"))
  }

  test("endpoint, deadlines, and adaptive concurrency parse from yaml") {
    val spec = ConfigLoader.fromYaml(
      """prompt: {template: "T {text}"}
        |llm:
        |  model: prod-model
        |  endpoint: "https://api.example/v1/chat/completions"
        |  api_key_env: MY_API_KEY
        |  timeout_ms: 30000
        |  adaptive_concurrency: true
        |  max_concurrency: 32
        |  backoff_base_ms: 50
        |  backoff_cap_ms: 5000
        |output: {output_columns: [label]}
        |""".stripMargin)
    assert(spec.llm.endpoint.contains("https://api.example/v1/chat/completions"))
    assert(spec.llm.apiKeyEnv.contains("MY_API_KEY"))
    assert(spec.llm.timeoutMs == 30000L)
    assert(spec.llm.adaptiveConcurrency && spec.llm.maxConcurrency == 32)
    assert(spec.llm.backoffBaseMs == 50L && spec.llm.backoffCapMs == 5000L)
  }

  test("structured_mode and reasoning_effort parse from yaml and validate") {
    val spec = ConfigLoader.fromYaml(
      """prompt: {template: "T {text}"}
        |llm:
        |  model: o1-mini
        |  endpoint: "https://api.example/v1/chat/completions"
        |  structured_mode: json_schema
        |  reasoning_effort: high
        |output:
        |  output_columns: [label]
        |  response_format: typed
        |  typed_schema: "label STRING"
        |""".stripMargin)
    assert(spec.llm.structuredMode.contains("json_schema"))
    assert(spec.llm.reasoningEffort.contains("high"))
    spec.validate()
    // the mode knob only shapes Typed requests — anywhere else it would be
    // a silent no-op, so validation rejects the combination
    intercept[IllegalArgumentException] {
      spec.copy(output = spec.output.copy(
        responseFormat = ResponseFormat.Raw, typedSchema = None)).validate()
    }
    intercept[IllegalArgumentException] {
      spec.copy(llm = spec.llm.copy(reasoningEffort = Some("max"))).validate()
    }
  }

  test("input columns default to template placeholders") {
    val spec = ConfigLoader.fromYaml(
      """prompt: {template: "A {x} and {y}"}
        |output: {output_columns: [out]}
        |""".stripMargin)
    assert(spec.dataset.inputColumns == Seq("x", "y"))
  }

  test("env expansion: ${VAR}, ${VAR:-default}, unset error") {
    def expand(t: String) =
      ConfigLoader.expandEnv(t, m => Map("MODEL" -> "gpt-x").get(m))
    assert(expand("model: ${MODEL}") == "model: gpt-x")
    assert(expand("model: ${NOPE:-fallback}") == "model: fallback")
    intercept[IllegalArgumentException](expand("model: ${NOPE}"))
  }

  test("missing keys take the spec defaults; source_col is read") {
    val spec = ConfigLoader.fromYaml(
      """prompt: {template: "T {text}"}
        |llm: {model: m}
        |processing: {max_budget: 1.0}
        |output: {output_columns: [out]}
        |evidence: {source_col: origin}
        |""".stripMargin)
    assert(spec.evidence.contains(EvidenceSpec(sourceCol = Some("origin"))))
    assert(spec.llm == LlmSpec(model = "m"))
    assert(spec.processing ==
      ProcessingSpec(maxBudget = Some(BigDecimal("1.0"))))
  }

  test("unknown enum strings are rejected with the accepted values") {
    def load(processing: String, output: String) = ConfigLoader.fromYaml(
      s"""prompt: {template: "T {text}"}
         |processing: {$processing}
         |output: {output_columns: [out]$output}
         |""".stripMargin)
    def rejected(processing: String, output: String): String =
      intercept[IllegalArgumentException](load(processing, output))
        .getMessage
    assert(rejected("error_policy: skp", "") ==
      "processing.error_policy 'skp' not in retry/skip/fail/use_default")
    assert(rejected("", ", response_format: yml") ==
      "output.response_format 'yml' not in raw/json/regex/typed")
    assert(rejected("", ", merge_strategy: upsert") ==
      "output.merge_strategy 'upsert' not in replace/append/update")
    assert(load("error_policy: Skip", "").processing.errorPolicy ==
      ErrorPolicy.Skip)
  }
}

class AdaptiveLimiterSpec extends AnyFunSuite {

  test("grows under fast RTT at saturation, shrinks on 429") {
    val al = new AdaptiveLimiter(minLimit = 1, maxLimit = 64, initialLimit = 4)
    assert(al.currentLimit == 4)
    // saturate, then report fast stable RTTs -> limit grows
    (1 to 4).foreach(_ => assert(al.acquireSlot()))
    (1 to 10).foreach(_ => al.onSuccess(50.0))
    assert(al.currentLimit > 4, s"limit should grow, got ${al.currentLimit}")
    // repeated 429s shrink (cooldown-limited)
    val before = al.currentLimit
    al.onRateLimit()
    Thread.sleep(250)
    al.onRateLimit()
    assert(al.currentLimit < before)
  }

  test("degrading RTT pulls the limit back down") {
    val al = new AdaptiveLimiter(initialLimit = 16)
    (1 to 16).foreach(_ => al.acquireSlot())
    (1 to 5).foreach(_ => al.onSuccess(10.0))   // establish fast no-load RTT
    val grown = al.currentLimit
    (1 to 20).foreach(_ => al.onSuccess(500.0)) // congestion
    assert(al.currentLimit < grown)
  }
}

class ComposerSpec extends SparkSpec {
  import spark.implicits._

  private def pipe(out: String, template: String, deps: Seq[String] = Nil) =
    Composer.ColumnPipeline(out,
      PipelineSpec(
        dataset = DatasetSpec(TemplateCompiler.variables(template)),
        prompt = PromptSpec(template),
        output = OutputSpec(Seq(out))),
      new MockLlmClient(), deps)

  test("topo sort respects dependencies and rejects cycles") {
    val a = pipe("a", "A:{text}")
    val b = pipe("b", "B:{a}", Seq("a"))
    val c = pipe("c", "C:{b}", Seq("b"))
    assert(Composer.topoSort(Seq(c, b, a)).map(_.outputColumn) ==
      Seq("a", "b", "c"))
    val x = pipe("x", "X:{y}", Seq("y"))
    val y = pipe("y", "Y:{x}", Seq("x"))
    intercept[IllegalArgumentException](Composer.topoSort(Seq(x, y)))
  }

  test("chained pipelines feed earlier outputs into later templates") {
    val df = Seq("hello").toDF("text")
    val out = Composer.run(df, Seq(
      pipe("b", "B:{a}", Seq("a")),
      pipe("a", "A:{text}")))
    val row = out.select("a", "b").head()
    val a = MockLlmClient.md5Hex("A:hello")
    assert(row.getString(0) == a)
    assert(row.getString(1) == MockLlmClient.md5Hex(s"B:$a"))
  }
}

class IntentPlannerSpec extends SparkSpec {
  import spark.implicits._

  /** Canned drafting client: replies with a fixed JSON draft (optionally
    * chat-wrapped), recording the prompt it saw. */
  private class DraftClient(draft: String, wrap: Boolean = false)
    extends graft.llm.LlmClient {
    def model = "draft"
    @volatile var seenPrompt: String = _
    @volatile var seenSystem: Option[String] = None
    def invoke(p: String, s: Option[String]): graft.llm.LlmResponse = {
      seenPrompt = p; seenSystem = s
      val text = if (wrap) s"Sure! Here's the plan:\n```json\n$draft\n```"
        else draft
      graft.llm.LlmResponse(text, 10, 10, model,
        java.math.BigDecimal.ZERO, 0.1)
    }
  }

  private val goodDraft =
    """{"input_columns":["review"],"output_columns":["sentiment"],
      |"prompt_template":"Sentiment of: {review}",
      |"system_message":null,"response_format":"raw",
      |"rationale":"classify each review"}""".stripMargin.replace("\n", "")

  test("plan -> build -> run arc on a sample table") {
    val df = Seq(("great product", 5), ("terrible", 1))
      .toDF("review", "stars")
    val drafter = new DraftClient(goodDraft, wrap = true)
    val plan = IntentPlanner.plan(df, "label sentiment",
      BigDecimal("5.0"), drafter)
    // the drafting prompt carried goal, schema, and truncated sample rows
    assert(drafter.seenPrompt.contains("label sentiment"))
    assert(drafter.seenPrompt.contains("\"review\""))
    assert(drafter.seenSystem.contains(IntentPlanner.PlannerSystem))
    assert(plan.rationale == "classify each review")
    assert(plan.spec.output.outputColumns == Seq("sentiment"))
    // the drafted pipeline actually runs
    val r = plan.run(df, new MockLlmClient())
    val got = r.data.select("review", "sentiment")
      .as[(String, String)].collect().toMap
    assert(got("great product") ==
      MockLlmClient.md5Hex("Sentiment of: great product"))
  }

  test("hallucinated columns, overlaps, and bad formats are rejected") {
    val df = Seq(("x", 1)).toDF("review", "stars")
    def planWith(draft: String) = IntentPlanner.plan(
      df, "goal", BigDecimal("1.0"), new DraftClient(draft))
    val phantom = goodDraft.replace(""""input_columns":["review"]""",
      """"input_columns":["nonexistent"]""")
    val e1 = intercept[IllegalArgumentException](planWith(phantom))
    assert(e1.getMessage.contains("nonexistent"))
    val overlap = goodDraft.replace(""""output_columns":["sentiment"]""",
      """"output_columns":["review"]""")
    assert(intercept[IllegalArgumentException](planWith(overlap))
      .getMessage.contains("overlap"))
    val badFmt = goodDraft.replace(""""response_format":"raw"""",
      """"response_format":"yaml"""")
    assert(intercept[IllegalArgumentException](planWith(badFmt))
      .getMessage.contains("yaml"))
    // template referencing a column outside the data
    val phantomTpl = goodDraft.replace("Sentiment of: {review}",
      "Sentiment of: {ghost}")
    assert(intercept[IllegalArgumentException](planWith(phantomTpl))
      .getMessage.contains("ghost"))
    // unparseable reply names the problem
    assert(intercept[IllegalArgumentException](planWith("no json at all"))
      .getMessage.contains("not JSON"))
    // guard-rails before any token is spent
    intercept[IllegalArgumentException](IntentPlanner.plan(
      df, "  ", BigDecimal("1.0"), new DraftClient(goodDraft)))
    intercept[IllegalArgumentException](IntentPlanner.plan(
      df, "goal", BigDecimal("0"), new DraftClient(goodDraft)))
  }

  test("multi-column raw drafts auto-promote to JSON parsing") {
    val df = Seq(Tuple1("a b c")).toDF("text")
    val multi =
      """{"input_columns":["text"],"output_columns":["lang","topic"],
        |"prompt_template":"Analyze: {text}","system_message":"be terse",
        |"response_format":"raw","rationale":"two outputs"}"""
        .stripMargin.replace("\n", "")
    val plan = IntentPlanner.plan(df, "analyze", BigDecimal("1.0"),
      new DraftClient(multi))
    assert(plan.spec.output.responseFormat == ResponseFormat.Json)
    assert(plan.spec.prompt.systemMessage.contains("be terse"))
    // review surface: preview renders the draft; cost estimate is wired
    assert(plan.preview.contains("prompt_template: Analyze: {text}"))
    assert(plan.preview.contains("output_columns: [lang, topic]"))
    val est = plan.estimatedCost(df)
    assert(est.totalRows == 1 && est.confidence == "sample-based")
  }
}

class ProviderBatchSpec extends SparkSpec {
  import spark.implicits._

  test("submit/collect round-trip through the local mock backend") {
    val dir = Files.createTempDirectory("graft_batchapi").toString
    val backend = new ProviderBatch.LocalMockBackend(spark, s"$dir/provider")
    val df = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("id", "text")
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("P:{text}"),
      output = OutputSpec(Seq("out")))

    val run = ProviderBatch.submit(df, spec, dir, backend, Some("id"))
    assert(run.state == "SUBMITTED_REMOTE")
    assert(ProviderBatch.loadState(dir).exists(_.state == "SUBMITTED_REMOTE"))

    // back half may run in a different process: only runDir + backend needed
    val out = ProviderBatch.collect(df, spec, dir, backend, Some("id"))
      .select("text", "out").as[(String, String)].collect().toMap
    assert(out("alpha") == MockLlmClient.md5Hex("P:alpha"))
    assert(out("gamma") == MockLlmClient.md5Hex("P:gamma"))
    assert(ProviderBatch.loadState(dir).exists(_.state == "SUCCEEDED"))
  }

  test("a job id holding a quote and a backslash survives the state file") {
    val dir = Files.createTempDirectory("graft_batchapi_id").toString
    val mock = new ProviderBatch.LocalMockBackend(spark, s"$dir/provider")
    val odd = "job\"1\\x"
    // answers only to the exact id it handed out
    val backend = new ProviderBatch.BatchBackend {
      private var real = ""
      def submit(inputJsonlDir: String): String = {
        real = mock.submit(inputJsonlDir); odd
      }
      def poll(jobId: String): String =
        if (jobId == odd) mock.poll(real) else "FAILED"
      def collect(jobId: String): String = {
        require(jobId == odd, s"unknown job $jobId"); mock.collect(real)
      }
    }
    val df = Seq((0L, "alpha"), (1L, "beta")).toDF("id", "text")
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("P:{text}"),
      output = OutputSpec(Seq("out")))

    ProviderBatch.submit(df, spec, dir, backend, Some("id"))
    assert(ProviderBatch.loadState(dir).map(_.jobId).contains(odd))
    val out = ProviderBatch.collect(df, spec, dir, backend, Some("id"))
      .select("text", "out").as[(String, String)].collect().toMap
    assert(out("beta") == MockLlmClient.md5Hex("P:beta"))
    assert(ProviderBatch.loadState(dir)
      .contains(ProviderBatch.BatchRun(odd, "SUCCEEDED")))
  }
}

class StreamingEnrichSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch enrichment drains a file stream and matches batch") {
    val srcDir = Files.createTempDirectory("graft_stream_in").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    (0 until 40).map(i => s"msg $i").toDF("text")
      .coalesce(2).write.mode("overwrite").parquet(srcDir)

    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("S:{text}", batchSize = 10),
      output = OutputSpec(Seq("out")))
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = graft.streaming.StreamingEnrich.start(
      stream, spec, new MockLlmClient(), ckpt,
      (batch, _) => batch.select("text", "out").as[(String, String)]
        .collect().foreach(collected.add))
    q.awaitTermination()

    import scala.jdk.CollectionConverters._
    val got = collected.asScala.toMap
    assert(got.size == 40)
    assert(got("msg 7") == MockLlmClient.md5Hex("S:msg 7"))
  }

  test("the spec's budget caps the whole stream: fails after the crossing batch") {
    val srcDir = Files.createTempDirectory("graft_stream_cap_in").toString
    val ckpt = Files.createTempDirectory("graft_stream_cap_ckpt").toString
    // four one-file batches of equal-length rows, so each costs the same
    for (f <- 0 until 4)
      (0 until 10).map(i => s"capped $f $i").toDF("text")
        .coalesce(1).write.parquet(s"$srcDir/f$f")
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("C:{text}"),
      output = OutputSpec(Seq("out")))
    val perBatch = BigDecimal(new Enricher(spec, new MockLlmClient())
      .enrich((0 until 10).map(i => s"capped 0 $i").toDF("text"))
      .metrics.cost)
    assert(perBatch > 0)
    // no single batch reaches the cap; the first two together do
    val capped = spec.copy(processing =
      spec.processing.copy(maxBudget = Some(perBatch * 1.5)))
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = spark.readStream.schema("text STRING")
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val q = graft.streaming.StreamingEnrich.start(
      stream, capped, new MockLlmClient(), ckpt,
      (batch, bid) => batch.collect().foreach(_ => sunk.add(bid)))
    val e = intercept[Exception](q.awaitTermination())
    val causes = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[BudgetExceededException]),
      s"expected a budget stop, got $e")
    import scala.jdk.CollectionConverters._
    // the crossing batch still reached the sink; nothing after it did
    assert(sunk.asScala.toSeq.groupBy(identity).map { case (b, r) =>
      b -> r.size } == Map(0L -> 10, 1L -> 10))
  }

  test("scopedShufflePartitions: concurrent drains at their own counts, parent conf untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val key = "spark.sql.shuffle.partitions"
    val parentBefore = spark.conf.get(key)
    // a session-level setting made BEFORE the drain must be visible
    // inside it (newSession starts from context defaults, so the scope
    // helper has to copy the parent's modifiable conf across)
    spark.conf.set("graft.test.scoped_flag", "inherited")

    def drain(n: Int, sink: String): (Long, String, String) =
      graft.ops.Parallelism.scopedShufflePartitions(spark, n) { scoped =>
        implicit val sq: org.apache.spark.sql.SQLContext = scoped.sqlContext
        import scoped.implicits._
        val ms = MemoryStream[Long]
        ms.addData(1L to 200L)
        val q = ms.toDF().groupBy((col("value") % 7).as("k"))
          .agg(count(lit(1)).as("n"))
          .writeStream.outputMode("complete").format("memory")
          .queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        assert(scoped.table(sink).count() == 7)
        val stateParts = q.lastProgress.stateOperators.head
          .numShufflePartitions
        (stateParts, scoped.conf.get(key),
          scoped.conf.get("graft.test.scoped_flag", "missing"))
      }

    // two drains OVERLAPPING in time on the same parent session — the
    // exact shape withShufflePartitions' set/restore used to race on
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fa = Future(drain(3, "graft_scoped_drain_a"))
    val fb = Future(drain(5, "graft_scoped_drain_b"))
    val (aParts, aConf, aFlag) = Await.result(fa, 120.seconds)
    val (bParts, bConf, bFlag) = Await.result(fb, 120.seconds)

    assert((aParts, aConf) == ((3L, "3")),
      s"drain A must run its state at 3 partitions: ($aParts, $aConf)")
    assert((bParts, bConf) == ((5L, "5")),
      s"drain B must run its state at 5 partitions: ($bParts, $bConf)")
    assert(aFlag == "inherited" && bFlag == "inherited",
      "parent session-level conf must be visible inside the scope")
    assert(spark.conf.get(key) == parentBefore,
      "parent session conf must be untouched after both drains")
  }

  test("replayed micro-batch re-invokes nothing durable (per-batch ledger)") {
    // the engine-side replay contract: delete the LAST commit marker from
    // the checkpoint — exactly the on-disk state a kill -9 leaves when a
    // batch's work finished but its commit never landed — and restart.
    // Structured Streaming re-runs that batch wholesale; with runDir set,
    // the batch's own response ledger anti-joins every completed call
    // away, so the replay costs ZERO LLM invocations and the sink sees
    // the same rows again (idempotent delivery is the sink's half).
    val srcDir = Files.createTempDirectory("graft_replay_in").toString
    val ckpt = Files.createTempDirectory("graft_replay_ckpt").toString
    val ledger = Files.createTempDirectory("graft_replay_ledger").toString
    for (f <- 0 until 4)
      (0 until 10).map(i => (f * 10 + i, s"msg ${f * 10 + i}"))
        .toDF("id", "text").coalesce(1).write.parquet(s"$srcDir/f$f")
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("R:{text}", batchSize = 5),
      output = OutputSpec(Seq("out")))
    val sunk = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    // adversarial stray: a dir named exactly "batch_" (prefix, zero
    // digits) once threw NumberFormatException inside the cleanup
    // filter — "".toLong after a vacuously-true forall(isDigit) —
    // killing the foreachBatch and the query; it must be skipped and
    // left in place
    Files.createDirectories(java.nio.file.Paths.get(ledger, "batch_"))
    def run(): Unit = {
      val stream = spark.readStream
        .schema("id INT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/*")
      val q = graft.streaming.StreamingEnrich.start(
        stream, spec, new MockLlmClient(), ckpt,
        (batch, bid) => batch.select("id").as[Int]
          .collect().foreach(i => sunk.add((i, bid))),
        runDir = Some(ledger), keyColumn = Some("id"))
      q.awaitTermination()
      // a restart reuses the checkpoint's query id; wait for the manager
      // to deregister the terminated run or the restart trips the
      // concurrent-checkpoint guard
      val dl = System.nanoTime() + 30L * 1000000000L
      while (spark.streams.active.nonEmpty && System.nanoTime() < dl)
        Thread.sleep(10)
    }
    run()
    import scala.jdk.CollectionConverters._
    assert(sunk.asScala.map(_._1).toSet.size == 40)
    // committed batches' ledgers are dropped as the stream advances:
    // only the LAST batch's survives, plus the digitless stray the
    // cleanup must ignore
    assert(new java.io.File(ledger).listFiles()
      .map(_.getName).filter(_.startsWith("batch_")).sorted.toSeq
      == Seq("batch_", "batch_000003"))
    val lastCommit = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toInt)
    val replayedBatch = lastCommit.getName.toInt
    // drop the Hadoop ChecksumFileSystem sibling too — a real crash loses
    // both or neither; a dangling .crc makes the re-commit rename throw
    // FileAlreadyExists (misread as a concurrent query)
    new java.io.File(lastCommit.getParent, s".$replayedBatch.crc").delete()
    assert(lastCommit.delete())
    val callsBefore = MockLlmClient.calls.get()
    run()
    assert(MockLlmClient.calls.get() == callsBefore,
      "replayed batch must re-invoke zero calls — its ledger is complete")
    // the replayed batch re-delivered its full row set (sink idempotency
    // is the sink's contract; delivery itself must be whole)
    val redelivered = sunk.asScala.toSeq
      .filter(_._2 == replayedBatch.toLong).map(_._1)
    assert(redelivered.toSet.size == 10 &&
      redelivered.size == 20, s"got ${redelivered.size} deliveries")
    assert(sunk.asScala.map(_._1).toSet.size == 40)
  }
}

class RunRegistrySpec extends SparkSpec {

  test("run registry: state machine, atomic persistence, illegal moves") {
    val dir = Files.createTempDirectory("graft_reg").toString
    val reg = new RunRegistry(dir)
    val r0 = reg.register("run one", "/tmp/r1")
    assert(r0.state == RunState.Pending)
    reg.transition("run one", RunState.Running)
    val done = reg.transition("run one", RunState.Succeeded,
      r => r.copy(rows = 10, validRows = 10, cost = "0.002",
        note = "said \"ok\"\nline2"))
    assert(done.rows == 10)
    // terminal SUCCEEDED accepts no further moves
    intercept[IllegalArgumentException] {
      reg.transition("run one", RunState.Running)
    }
    // escapes survive the JSON roundtrip
    val back = new RunRegistry(dir).get("run one").get
    assert(back.note == "said \"ok\"\nline2")
    assert(back.state == RunState.Succeeded)
    assert(new RunRegistry(dir).list().map(_.runId) == Seq("run one"))
  }

  test("re-registering an existing run never resurrects it to PENDING") {
    // register() is create-if-absent: a second register of the same id
    // must return the existing record unchanged — an unconditional save
    // would drive a terminal run back to PENDING behind transition()'s
    // state machine (and re-open the dropped-lock-file race on
    // SUCCEEDED, whose safety argument is that nothing writes after it)
    val dir = Files.createTempDirectory("graft_reg_rr").toString
    val reg = new RunRegistry(dir)
    reg.register("rr", "/tmp/rr")
    reg.transition("rr", RunState.Running)
    val done = reg.transition("rr", RunState.Succeeded,
      r => r.copy(rows = 7, validRows = 7))
    val again = reg.register("rr", "/tmp/somewhere-else")
    assert(again.state == RunState.Succeeded && again.rows == 7L &&
      again.runDir == "/tmp/rr",
      s"re-register clobbered the record: $again")
    assert(reg.get("rr").get == done, "record on disk changed")
    // and RUNNING can still not be re-entered from SUCCEEDED
    intercept[IllegalArgumentException] {
      reg.transition("rr", RunState.Running)
    }
  }

  test("registry notes round-trip for adversarial escape sequences") {
    // the advisor's r2 finding: sequential global replaces corrupted a
    // stored literal backslash-n (regex / Windows path) into a newline
    val nasty = Seq(
      """C:\new\table\results""",     // \n, \t after a backslash
      """regex: \\n matches newline""", // literal backslash-backslash-n
      "mixed \\ \" quote\nand real newline\rand cr",
      "trailing backslash \\",
      """\\\n\\r\"""")
    val dir = Files.createTempDirectory("graft_reg3").toString
    val reg = new RunRegistry(dir)
    nasty.zipWithIndex.foreach { case (note, i) =>
      reg.register(s"r$i", s"/tmp/r$i")
      reg.transition(s"r$i", RunState.Running)
      reg.transition(s"r$i", RunState.Failed, r => r.copy(note = note))
    }
    val back = new RunRegistry(dir)
    nasty.zipWithIndex.foreach { case (note, i) =>
      assert(back.get(s"r$i").get.note == note,
        s"note $i corrupted: ${back.get(s"r$i").get.note}")
    }
  }

  test("a record file in the earlier format, raw tab in the note, still reads") {
    // the earlier writer escaped only \\ " \n \r, so a tab sat raw
    val dir = Files.createTempDirectory("graft_reg_old")
    Files.writeString(dir.resolve("old.json"),
      "{\"run_id\":\"old\",\"run_dir\":\"/tmp/old\",\"state\":\"FAILED\"," +
        "\"created_ms\":1,\"updated_ms\":2,\"rows\":3,\"valid_rows\":2," +
        "\"calls\":1,\"total_rows\":5,\"cost\":\"0.01\"," +
        "\"note\":\"col\ta said \\\"no\\\"\\nat C:\\\\new\"}")
    val back = new RunRegistry(dir.toString).get("old").get
    assert(back == RunRecord("old", "/tmp/old", RunState.Failed, 1L, 2L,
      3L, 2L, 1L, "0.01", "col\ta said \"no\"\nat C:\\new", 5L))
    // and the next save writes it back as strict JSON
    new RunRegistry(dir.toString).transition("old", RunState.Running)
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(dir.resolve("old.json")))
      .get("note").asText == back.note)
  }

  test("registry observer: FAILED -> resume -> SUCCEEDED arc") {
    val spark = SparkSpec.session
    import spark.implicits._
    val regDir = Files.createTempDirectory("graft_reg2").toString
    val runDir = Files.createTempDirectory("graft_run2").toString
    val reg = new RunRegistry(regDir)
    val df = (0 until 30).map(i => s"r $i").toDF("text").repartition(1)
    def spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("R:{text}", batchSize = 10),
      llm = LlmSpec(maxRetries = 0),
      output = OutputSpec(Seq("out")))
    def enricher(client: MockLlmClient) = new Enricher(spec, client,
      runDir = Some(runDir),
      observers = new ObserverDispatcher()
        .register(new RegistryObserver(reg, runDir)))

    // arm 1: every call fails -> run aborts -> FAILED with the error note
    intercept[Exception] {
      enricher(new MockLlmClient(failEveryN = 1)).enrich(df)
    }
    val runId = reg.list().head.runId
    assert(reg.get(runId).get.state == RunState.Failed)
    assert(reg.get(runId).get.note.nonEmpty)

    // arm 2: resume with a healthy client -> RUNNING -> SUCCEEDED
    val r = enricher(new MockLlmClient()).enrich(df)
    assert(r.quality.validRows == 30)
    assert(reg.get(runId).get.state == RunState.Succeeded)
    assert(reg.get(runId).get.rows == 30)
  }

  test("registry updateMetrics: persists counters without a state change") {
    val dir = Files.createTempDirectory("graft_reg_um").toString
    val reg = new RunRegistry(dir)
    reg.register("u1", "/tmp/u1")
    // not RUNNING yet -> refused (status transitions are the pipeline's job)
    assert(reg.updateMetrics("u1", 5, 1, "0.01", 10).isEmpty)
    reg.transition("u1", RunState.Running)
    val upd = reg.updateMetrics("u1", 5, 1, "0.01", 10).get
    assert(upd.state == RunState.Running && upd.rows == 5 &&
      upd.calls == 1 && upd.cost == "0.01" && upd.totalRows == 10)
    // durable: a fresh registry instance (another process) reads them back
    val back = new RunRegistry(dir).get("u1").get
    assert(back.rows == 5 && back.totalRows == 10 &&
      back.state == RunState.Running)
    // a straggling progress write can never clobber a terminal record
    reg.transition("u1", RunState.Succeeded, r => r.copy(rows = 10))
    assert(reg.updateMetrics("u1", 7, 2, "0.02").isEmpty)
    assert(reg.get("u1").get.rows == 10)
    assert(reg.updateMetrics("nope", 1, 1, "0").isEmpty) // unknown: no crash
  }

  test("registry: racing progress writes never resurrect RUNNING") {
    // Hammer updateMetrics from stragglers (two registry INSTANCES over
    // the same dir — the ad-hoc construction pattern) while the run
    // transitions to SUCCEEDED; the per-run lock serializes the
    // read-modify-writes, so the terminal record's state and counters
    // survive every interleaving.
    val dir = Files.createTempDirectory("graft_reg_race").toString
    for (round <- 0 until 20) {
      val id = s"race$round"
      val reg = new RunRegistry(dir)
      val straggler = new RunRegistry(dir)
      reg.register(id, "/tmp/" + id)
      reg.transition(id, RunState.Running)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writers = (0 until 4).map { t =>
        new Thread(() => {
          var i = 0L
          while (!stop.get()) {
            straggler.updateMetrics(id, i, i, "0.01"); i += 1
          }
        })
      }
      writers.foreach(_.start())
      Thread.sleep(2)
      reg.transition(id, RunState.Succeeded, r => r.copy(rows = 999))
      stop.set(true); writers.foreach(_.join())
      val fin = reg.get(id).get
      assert(fin.state == RunState.Succeeded,
        s"round $round: straggler resurrected state ${fin.state}")
      assert(fin.rows == 999,
        s"round $round: terminal counters clobbered (rows=${fin.rows})")
      // post-terminal stragglers stay refused
      assert(straggler.updateMetrics(id, 1, 1, "0").isEmpty)
    }
  }

  test("registry: aliased baseDir spellings share one lock; SUCCEEDED drops it") {
    // Two registries over the SAME dir via different spellings must land
    // on one JVM monitor (normalized key) — otherwise the second
    // FileChannel.lock() in this JVM throws OverlappingFileLockException
    // instead of serializing. Hammer both concurrently to surface it.
    val base = Files.createTempDirectory("graft_reg_alias")
    val reg = new RunRegistry(base.toString)
    val aliased = new RunRegistry(
      base.getParent.toString + "/./" + base.getFileName.toString)
    reg.register("a1", "/tmp/a1")
    reg.transition("a1", RunState.Running)
    val boom = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = Seq(reg, aliased, reg, aliased).zipWithIndex.map {
      case (r, t) => new Thread(() => {
        try { var i = 0; while (i < 200) { r.updateMetrics("a1", i, i, "0"); i += 1 } }
        catch { case e: Throwable => boom.compareAndSet(null, e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(boom.get() == null, s"aliased registries collided: ${boom.get()}")
    // lock-file lifecycle: present while resumable, dropped on SUCCEEDED
    // (the only state with no outgoing transitions)
    val lockFile = base.resolve(".a1.lock")
    assert(Files.exists(lockFile))
    reg.transition("a1", RunState.Failed)
    assert(Files.exists(lockFile), "FAILED is resumable; lock must stay")
    reg.transition("a1", RunState.Running)
    aliased.transition("a1", RunState.Succeeded)
    assert(!Files.exists(lockFile), "SUCCEEDED must drop the dotfile lock")
    assert(reg.get("a1").get.state == RunState.Succeeded)
  }

  test("registry: cross-PROCESS contention never resurrects a terminal run") {
    // a second JVM (graft.tools.RegistryContender) hammers updateMetrics
    // on the same record file while THIS process lands the terminal
    // transition mid-stream — the interleaving the OS file lock exists
    // for (the JVM monitor can't serialize another process). After both
    // settle: state is SUCCEEDED, the terminal metrics are intact (a
    // stale RUNNING save from the contender would clobber rows), and the
    // contender reports it STOPPED because updateMetrics returned None.
    val dir = Files.createTempDirectory("graft_reg_xproc").toString
    val reg = new RunRegistry(dir)
    reg.register("xp", "/tmp/xp")
    reg.transition("xp", RunState.Running)
    val javaBin = sys.props("java.home") + "/bin/java"
    def contend(millis: String): Process =
      new ProcessBuilder(javaBin, "-Xmx256m", "-cp",
        sys.props("java.class.path"),
        "graft.tools.RegistryContender", dir, "xp", millis)
        .redirectErrorStream(true).start()
    val proc = contend("8000")
    // wait until the contender demonstrably writes from its process
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (reg.get("xp").exists(_.rows == 0L) &&
           System.nanoTime() < deadline) Thread.sleep(5)
    assert(reg.get("xp").exists(_.rows > 0L), "contender never wrote")
    reg.transition("xp", RunState.Succeeded,
      r => r.copy(rows = 999999L, validRows = 999999L))
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(out.contains("STOPPED"), s"contender output: $out")
    val rec = reg.get("xp").get
    assert(rec.state == RunState.Succeeded)
    assert(rec.rows == 999999L,
      s"terminal metrics clobbered by a cross-process racer: ${rec.rows}")
    // a LATE contender (fresh process, post-terminal) is a pure no-op
    val late = contend("500")
    assert(late.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(reg.get("xp").get.rows == 999999L &&
      reg.get("xp").get.state == RunState.Succeeded)
  }

  test("live progress: the RUNNING registry row advances before completion") {
    val spark = SparkSpec.session
    import spark.implicits._
    val regDir = Files.createTempDirectory("graft_reg_prog").toString
    val runDir = Files.createTempDirectory("graft_run_prog").toString
    val reg = new RunRegistry(regDir)
    val df = (0 until 40).map(i => s"lp $i").toDF("text").repartition(1)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("LP:{text}"),
      processing = ProcessingSpec(chunkRows = 5), // 8 durable chunks
      output = OutputSpec(Seq("out")))
    val enr = new Enricher(spec, new MockLlmClient(simulatedLatencyMs = 25),
      runDir = Some(runDir),
      observers = new ObserverDispatcher().register(
        new RegistryObserver(reg, runDir, minProgressIntervalMs = 0)))
    @volatile var err: Throwable = null
    val t = new Thread(() =>
      try enr.enrich(df) catch { case e: Throwable => err = e })
    t.start()
    // poll the DURABLE row exactly like an external graft_status would
    val snaps =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (t.isAlive && System.nanoTime() < deadline) {
      reg.list().headOption.foreach(r =>
        snaps += ((r.state, r.rows, r.calls, r.totalRows)))
      Thread.sleep(3)
    }
    t.join(120000)
    assert(err == null, s"run failed: $err")
    val mid = snaps.filter(s => s._1 == RunState.Running && s._2 > 0)
    assert(mid.nonEmpty, "no mid-run progress observed while RUNNING")
    assert(mid.exists(_._2 < 40), "only end-state progress observed")
    assert(mid.forall(_._4 == 40), "total_rows missing from progress rows")
    assert(mid.forall(s => s._3 > 0), "calls missing from progress rows")
    val rows = snaps.filter(_._1 == RunState.Running).map(_._2).toSeq
    assert(rows == rows.sorted, "progress counters must be monotone")
    val done = reg.list().head
    assert(done.state == RunState.Succeeded && done.rows == 40)
  }

  test("registry observer: incomplete outputs mark the run PARTIAL") {
    val spark = SparkSpec.session
    import spark.implicits._
    val regDir = Files.createTempDirectory("graft_reg3").toString
    val runDir = Files.createTempDirectory("graft_run3").toString
    val reg = new RunRegistry(regDir)
    val df = (0 until 30).map(i => s"p $i").toDF("text").repartition(1)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("P:{text}", batchSize = 10),
      output = OutputSpec(Seq("out")))
    // every 5th batch item dropped, no auto-retry -> gaps stay null
    val r = new Enricher(spec, new MockLlmClient(dropEveryNthBatchItem = 5),
      runDir = Some(runDir),
      observers = new ObserverDispatcher()
        .register(new RegistryObserver(reg, runDir))).enrich(df)
    assert(r.quality.validRows < 30)
    assert(reg.list().head.state == RunState.Partial)
  }

  test("sub-pipeline isolation: a failed micro-batch replays alone, others never do") {
    val spark = SparkSpec.session
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_iso_in").toString
    val ckpt = Files.createTempDirectory("graft_iso_ckpt").toString
    // 4 files -> 4 micro-batches (maxFilesPerTrigger=1); file 2 is poisoned
    (0 until 4).foreach { f =>
      (0 until 10).map(i => s"m $f $i" +
        (if (f == 2 && i == 0) " poison" else ""))
        .toDF("text").coalesce(1).write.parquet(s"$srcDir/f$f")
    }
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("I:{text}", batchSize = 5),
      llm = LlmSpec(maxRetries = 0),
      output = OutputSpec(Seq("out")))
    PoisonOnceClient.armed.set(true)
    PoisonOnceClient.delivered.clear()
    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$srcDir/*")
      val q = graft.streaming.StreamingEnrich.start(
        stream, spec, new PoisonOnceClient, ckpt,
        (batch, _) => batch.select("text").as[String]
          .collect().foreach(PoisonOnceClient.delivered.add))
      q.awaitTermination()
    }
    // first run dies on the poisoned batch (before its sink write)
    intercept[Exception](run())
    val afterCrash = PoisonOnceClient.delivered.size()
    assert(afterCrash < 40, "the poisoned batch must not reach the sink")
    assert(!PoisonOnceClient.armed.get(), "poison should have fired")
    // restart from the same checkpoint: only the failed batch replays
    run()
    import scala.jdk.CollectionConverters._
    val all = PoisonOnceClient.delivered.asScala.toSeq
    assert(all.size == 40, s"expected 40 rows once each, got ${all.size}")
    assert(all.distinct.size == 40, "completed batches must not re-deliver")
  }
}

/** Throws once on the poisoned prompt, then heals — companion-object state
  * because clients re-serialize into task closures. */
final class PoisonOnceClient extends graft.llm.LlmClient {
  def model = "poison-once"
  def invoke(prompt: String,
             sys: Option[String]): graft.llm.LlmResponse = {
    if (prompt.contains("poison") &&
        PoisonOnceClient.armed.compareAndSet(true, false))
      throw new graft.llm.NetworkError("poisoned batch")
    graft.llm.LlmResponse(graft.llm.MockLlmClient.md5Hex(prompt), 1, 1,
      model, java.math.BigDecimal.ZERO, 0.0)
  }
}

object PoisonOnceClient {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Parallelism.stage's cluster contract: the localCheckpoint fallback is
  * silent ONLY on local masters; a non-local master with no checkpoint
  * dir warns, or refuses under graft.stage.requireCheckpointDir. */
class StageGuardSpec extends SparkSpec {
  import graft.ops.Parallelism
  import Parallelism.StageFallback._

  test("fallback decision fires exactly on (non-local AND no checkpoint dir)") {
    // local masters: silent regardless of strictness (executor loss == driver loss)
    for (m <- Seq("local", "local[4]", "local[*]", "local-cluster[2,1,1024]");
         strict <- Seq(true, false))
      assert(Parallelism.stageFallback(m, strict) == Silent, s"$m strict=$strict")
    // cluster masters: warn by default, refuse under the strict conf
    for (m <- Seq("spark://host:7077", "yarn", "k8s://https://host:6443")) {
      assert(Parallelism.stageFallback(m, strict = false) == Warn, m)
      assert(Parallelism.stageFallback(m, strict = true) == Refuse, m)
    }
  }

  test("stage on a local master never refuses, even under the strict conf") {
    import spark.implicits._
    spark.conf.set("graft.stage.requireCheckpointDir", "true")
    try {
      val staged = Parallelism.stage(Seq(1, 2, 3).toDF("v"))
      assert(staged.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
    } finally spark.conf.unset("graft.stage.requireCheckpointDir")
  }

  test("with a checkpoint dir set, stage takes the reliable-checkpoint path") {
    import spark.implicits._
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft_stage_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val staged = Parallelism.stage(Seq(4, 5).toDF("v"))
      assert(staged.collect().map(_.getInt(0)).sorted.sameElements(Array(4, 5)))
      // reliable checkpoints materialize files under the configured dir
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).exists(_.exists(anyFile))
      assert(anyFile(new java.io.File(dir)),
        "reliable checkpoint must write under the checkpoint dir")
    } finally sc.setCheckpointDir(null) // restore the no-dir default for other suites
  }
}
