package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.llm.MockLlmClient
import graft.operators.Skew
import graft.run.Enricher
import scala.jdk.CollectionConverters._

class AutoRetrySpec extends SparkSpec {
  import spark.implicits._

  test("batch gaps pad to null, auto-retry fills them") {
    // every 5th batch item is dropped from the first reply for a payload
    val client = new MockLlmClient(dropEveryNthBatchItem = 5)
    val df = (0 until 30).map(i => s"item $i").toDF("text").repartition(1)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("G:{text}", batchSize = 10),
      processing = ProcessingSpec(autoRetryAttempts = 2),
      output = OutputSpec(Seq("out")))
    val r = new Enricher(spec, client).enrich(df)
    assert(r.quality.validRows == 30,
      s"auto-retry should recover dropped items, got ${r.quality.invalidCellsPerColumn}")
    val got = r.data.select("text", "out").as[(String, String)].collect().toMap
    (0 until 30).foreach { i =>
      assert(got(s"item $i") == MockLlmClient.md5Hex(s"G:item $i"))
    }
  }

  test("without auto-retry, gaps stay null and quality degrades") {
    val client = new MockLlmClient(dropEveryNthBatchItem = 5)
    val df = (0 until 30).map(i => s"other $i").toDF("text").repartition(1)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("G:{text}", batchSize = 10),
      processing = ProcessingSpec(autoRetryAttempts = 0),
      output = OutputSpec(Seq("out")))
    val r = new Enricher(spec, client).enrich(df)
    assert(r.quality.validRows == 24, s"expected 6 gaps, got ${r.quality}")
  }

  test("adaptive concurrency mode produces identical results") {
    val df = (0 until 40).map(i => s"ad $i").toDF("text").repartition(2)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("A:{text}", batchSize = 5),
      llm = LlmSpec(concurrency = 2, adaptiveConcurrency = true,
        maxConcurrency = 8),
      output = OutputSpec(Seq("out")))
    val r = new Enricher(spec,
      new MockLlmClient(simulatedLatencyMs = 5)).enrich(df)
    assert(r.quality.validRows == 40)
    val got = r.data.select("text", "out").as[(String, String)].collect().toMap
    assert(got("ad 13") == MockLlmClient.md5Hex("A:ad 13"))
  }

  test("salted join distributes a hot key and preserves results") {
    val probe = ((0 until 1000).map(_ => (1L, "hot")) ++
      Seq((2L, "cold"), (3L, "cold")))
      .toDF("k", "tag")
    val build = Seq((1L, "alpha"), (2L, "beta")).toDF("k", "v")
    val plain = probe.join(build, Seq("k")).count()
    val salted = Skew.saltedJoin(probe, build, "k", salts = 8)
    assert(salted.count() == plain)
    // hot key present with its value, cold key matched, missing key dropped
    val vals = salted.select("k", "v").distinct()
      .as[(Long, String)].collect().toSet
    assert(vals == Set((1L, "alpha"), (2L, "beta")))
  }

  test("structural rejection heals on auto-retry (typed output)") {
    import org.apache.spark.sql.types._
    // first reply for every prompt is unparseable chat, the retry is valid
    val client = new MockLlmClient(structuredJson = true,
      malformedFirstReply = true)
    val df = (0 until 20).map(i => s"t $i").toDF("text").repartition(2)
    val schema = StructType(Seq(
      StructField("label", StringType), StructField("score", IntegerType)))
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("S:{text}", batchSize = 5),
      processing = ProcessingSpec(autoRetryAttempts = 2),
      output = OutputSpec(Seq("label", "score"),
        responseFormat = ResponseFormat.Typed, typedSchema = Some(schema)))
    val r = new Enricher(spec, client).enrich(df)
    assert(r.quality.validRows == 20,
      s"retry should heal rejects, got ${r.quality.invalidCellsPerColumn}")
    val got = r.data.select("text", "label")
      .as[(String, String)].collect().toMap
    assert(got("t 7") == MockLlmClient.md5Hex("S:t 7"))
    val scores = r.data.select("text", "score")
      .as[(String, Int)].collect().toMap
    assert(scores("t 7") == "S:t 7".length % 100)
  }

  test("typed output without retry leaves rejected rows null") {
    import org.apache.spark.sql.types._
    val client = new MockLlmClient(structuredJson = true,
      malformedFirstReply = true)
    val df = (0 until 10).map(i => s"u $i").toDF("text").repartition(1)
    val schema = StructType(Seq(
      StructField("label", StringType), StructField("score", IntegerType)))
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("U:{text}", batchSize = 1),
      output = OutputSpec(Seq("label", "score"),
        responseFormat = ResponseFormat.Typed, typedSchema = Some(schema)))
    val r = new Enricher(spec, client).enrich(df)
    assert(r.quality.validRows == 0)
    assert(r.data.filter(col("label").isNotNull).count() == 0)
  }

  test("skipped rows are never auto-retried, even with null typed outputs") {
    import org.apache.spark.sql.types._
    // every 2nd call fails permanently -> error policy SKIP marks those
    // rows skipped; Typed format writes null outputs for them, which must
    // NOT look like retryable blanks
    val client = new MockLlmClient(structuredJson = true, failEveryN = 2)
    val df = (0 until 10).map(i => s"sk $i").toDF("text").repartition(1)
    val schema = StructType(Seq(StructField("label", StringType)))
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("K:{text}", batchSize = 1),
      llm = LlmSpec(maxRetries = 0),
      processing = ProcessingSpec(errorPolicy = ErrorPolicy.Skip,
        autoRetryAttempts = 3),
      output = OutputSpec(Seq("label"),
        responseFormat = ResponseFormat.Typed, typedSchema = Some(schema)))
    val before = MockLlmClient.calls.get()
    val r = new Enricher(spec, client).enrich(df)
    // exactly the 10 original calls - the retry loop must not have fired
    assert(MockLlmClient.calls.get() - before == 10,
      s"skipped rows were re-invoked: ${MockLlmClient.calls.get() - before}")
    assert(r.metrics.skippedRows == 5)
    assert(r.quality.validRows == 5)
  }

  test("auto-retry redo calls count in run metrics on both paths") {
    // the redo pass is billed like the first pass, so RunMetrics must
    // report its calls and cost too (inline and durable)
    def check(runDir: Option[String], tag: String): Unit = {
      InvokeDedupSpec.reset()
      val client = new AutoRetrySpec.BillingDropClient
      val df = (0 until 30).map(i => s"$tag $i").toDF("text").repartition(1)
      val spec = PipelineSpec(
        dataset = DatasetSpec(Seq("text")),
        prompt = PromptSpec("M:{text}", batchSize = 10),
        processing = ProcessingSpec(autoRetryAttempts = 2),
        output = OutputSpec(Seq("out")))
      val before = MockLlmClient.calls.get()
      val r = new Enricher(spec, client, runDir).enrich(df)
      val made = MockLlmClient.calls.get() - before
      assert(r.quality.validRows == 30)
      assert(made > 3, s"expected redo calls past the 3 first-pass calls: $made")
      assert(r.metrics.calls == made)
      val billed = InvokeDedupSpec.billed.asScala.map(_._2)
        .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      assert(billed.signum > 0)
      assert(r.metrics.cost.compareTo(billed) == 0,
        s"reported ${r.metrics.cost}, billed $billed")
    }
    check(None, "spend-inline")
    check(Some(java.nio.file.Files.createTempDirectory("graft_redo").toString),
      "spend-durable")
  }

  test("a budgeted durable run stops when auto-retry redo spend passes the cap") {
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("B:{text}", batchSize = 10),
      processing = ProcessingSpec(autoRetryAttempts = 2),
      output = OutputSpec(Seq("out")))
    def run(tag: String, cap: Option[BigDecimal]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_redo_cap").toString
      val df = (0 until 30).map(i => s"$tag $i").toDF("text").repartition(1)
      val sp = spec.copy(processing = spec.processing.copy(maxBudget = cap))
      (dir, new Enricher(sp, new AutoRetrySpec.BillingDropClient, Some(dir))
        .enrich(df))
    }
    // same-length prompts cost the same: the first pass is what the
    // ledger holds, the redo passes are the rest of the run's spend
    val (dir, r) = run("cap-a", None)
    val firstPass = spark.read.parquet(s"$dir/responses")
      .dropDuplicates("_attempt", "_call_id").agg(sum("cost")).head()
      .getDecimal(0)
    assert(r.metrics.cost.compareTo(firstPass) > 0, "no redo spend")
    val cap = firstPass.add(r.metrics.cost).divide(new java.math.BigDecimal(2))
    intercept[graft.run.BudgetExceededException](
      run("cap-b", Some(BigDecimal(cap))))
  }
}

object AutoRetrySpec {
  /** Mock with non-zero prices that drops every 5th batch item on a
    * payload's first call and records each call's cost. */
  class BillingDropClient extends MockLlmClient(dropEveryNthBatchItem = 5) {
    override def invoke(prompt: String, sys: Option[String]): graft.llm.LlmResponse = {
      val r = super.invoke(prompt, sys)
      InvokeDedupSpec.billed.add(prompt -> r.cost)
      r
    }
  }
}
