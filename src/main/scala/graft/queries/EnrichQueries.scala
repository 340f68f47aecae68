package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.MockLlmClient
import graft.run.Enricher
import Tables.tp

/** End-to-end enrichment pipeline queries, oracle-verifiable: the
  * deterministic mock client replies md5(prompt), so the WHOLE chain —
  * template render → (mega-prompt batch) → invoke → disaggregate → parse →
  * merge — must reduce to `md5('prefix' || text)` per row, which DuckDB can
  * compute natively. A hash mismatch anywhere in the operator chain fails
  * the oracle.
  */
object EnrichQueries {

  /** Single-call-per-row enrichment over the documents table. */
  def qEnrichSingle(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents")
    val r = Enricher.enrich(docs, "Summarize: {text}", Seq("summary"),
      new MockLlmClient(), keyColumn = Some("doc_id"))
    r.data.select(col("doc_id"), col("summary")).orderBy("doc_id")
  }

  val qEnrichSingleSql: String =
    """SELECT doc_id, md5('Summarize: ' || COALESCE(text,'')) AS summary
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Mega-prompt batched enrichment (15 rows/call): per-row results must be
    * identical to single mode — proves batch aggregation + JSON
    * disaggregation round-trips losslessly. */
  def qEnrichBatched(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents")
    val r = Enricher.enrich(docs, "Classify: {text}", Seq("label"),
      new MockLlmClient(), batchSize = 15, keyColumn = Some("doc_id"))
    r.data.select(col("doc_id"), col("label")).orderBy("doc_id")
  }

  val qEnrichBatchedSql: String =
    """SELECT doc_id, md5('Classify: ' || COALESCE(text,'')) AS label
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Multi-variable template over a joined input — placeholders pull from
    * two columns. */
  def qEnrichMultiVar(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents")
    val r = Enricher.enrich(docs,
      "Lang={lang} Source={source}: {text}", Seq("tagged"),
      new MockLlmClient(), batchSize = 10, keyColumn = Some("doc_id"))
    r.data.select(col("doc_id"), col("tagged")).orderBy("doc_id")
  }

  val qEnrichMultiVarSql: String =
    """SELECT doc_id, md5('Lang=' || COALESCE(lang,'') || ' Source=' ||
      |  COALESCE(source,'') || ': ' || COALESCE(text,'')) AS tagged
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Jinja-templated enrichment: conditional branches + filters render
    * per row (auto-detected on the Jinja delimiters, like the reference's
    * prompt_formatter_stage.py:79-96). The oracle reproduces the rendered
    * prompt with CASE logic, so a mismatch anywhere in the Jinja parse/
    * eval/filter chain fails the hash. */
  def qEnrichJinja(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents")
    val template =
      "{% if lang == 'en' %}EN {{ source | upper }}: {{ text | truncate(40) }}" +
      "{% elif lang == 'de' %}DE: {{ text | lower }}" +
      "{% else %}OTHER {{ lang | default('??') }}: {{ text }}{% endif %}"
    val r = Enricher.enrich(docs, template, Seq("styled"),
      new MockLlmClient(), batchSize = 10, keyColumn = Some("doc_id"))
    r.data.select(col("doc_id"), col("styled")).orderBy("doc_id")
  }

  val qEnrichJinjaSql: String =
    """SELECT doc_id, md5(
      |  CASE WHEN lang = 'en'
      |    THEN 'EN ' || upper(COALESCE(source,'')) || ': ' ||
      |      substr(COALESCE(text,''), 1, 40)
      |  WHEN lang = 'de' THEN 'DE: ' || lower(COALESCE(text,''))
      |  ELSE 'OTHER ' || COALESCE(lang, '??') || ': ' || COALESCE(text,'')
      |  END) AS styled
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Typed (instructor-style) structured output: the mock replies a JSON
    * object variably wrapped in code fences / chatty prefixes keyed on
    * prompt length, so every row exercises one arm of the strict → fenced
    * → brace-scan fallback chain, and fields land as TYPED columns
    * (string label + int score). */
  def qEnrichTyped(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core._
    val docs = tp(spark, dir, "documents")
    val schema = StructType(Seq(
      StructField("label", StringType), StructField("score", IntegerType)))
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("Type: {text}", batchSize = 10),
      output = OutputSpec(Seq("label", "score"),
        responseFormat = ResponseFormat.Typed, typedSchema = Some(schema)))
    val r = new graft.run.Enricher(spec,
      new MockLlmClient(structuredJson = true),
      keyColumn = Some("doc_id")).enrich(docs)
    r.data.select(col("doc_id"), col("label"), col("score"))
      .orderBy("doc_id")
  }

  val qEnrichTypedSql: String =
    """SELECT doc_id,
      |  md5('Type: ' || COALESCE(text,'')) AS label,
      |  CAST(length('Type: ' || COALESCE(text,'')) % 100 AS INT) AS score
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Few-shot prompt assembly end-to-end: examples prepend in the
    * reference's block order (example pairs, blank-line separated, then
    * the rendered row template) — the md5 verdict proves the exact
    * assembled prompt byte-for-byte. */
  def qEnrichFewShot(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents")
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("Grade: {text}",
        batchSize = 10,
        fewShot = Seq(
          ("Grade: great product", "positive"),
          ("Grade: total junk", "negative"))),
      output = OutputSpec(Seq("grade")))
    val r = new graft.run.Enricher(spec, new MockLlmClient(),
      keyColumn = Some("doc_id")).enrich(docs)
    r.data.select(col("doc_id"), col("grade")).orderBy("doc_id")
  }

  val qEnrichFewShotSql: String =
    """SELECT doc_id, md5(
      |  'Grade: great product' || chr(10) || 'positive' ||
      |  chr(10) || chr(10) ||
      |  'Grade: total junk' || chr(10) || 'negative' ||
      |  chr(10) || chr(10) ||
      |  'Grade: ' || COALESCE(text,'')) AS grade
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BudgetController end-to-end with an exact oracle. One distinct
    * prompt per row (`B:{doc_id}`, so Invoke's single-flight shares no
    * call) and uniform per-row cost (≤ 5 chars → 1 input token → Decimal
    * 0.000017/call) over ≤200 rows in 50-row chunks, cap = 125 rows'
    * cost: the run MUST stop between chunks 3 and 4. The oracle avoids
    * the quantile-boundary rows: it checks rows well inside the processed
    * range (doc_id < 80), that the never-reached tail (doc_id ≥ 155) has
    * zero ledger rows, and the stop verdict itself — chunk-cut slop of ±2
    * rows cannot move any of the three. */
  def qBudgetStop(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 200)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft_budget_q84").toString
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("doc_id")),
      prompt = PromptSpec("B:{doc_id}"),
      processing = ProcessingSpec(
        maxBudget = Some(BigDecimal("0.002125")), chunkRows = 50),
      output = OutputSpec(Seq("out")))
    val stopped =
      try {
        new graft.run.Enricher(spec, new MockLlmClient(),
          Some(runDir), Some("doc_id")).enrich(docs)
        false
      } catch { case _: graft.run.BudgetExceededException => true }
    val ledger = spark.read.parquet(runDir + "/responses")
    val nTail = ledger.filter(col("_row_index") >= 155).count()
    ledger.filter(col("_row_index") < 80)
      .select(col("_row_index").as("doc_id"), col("result"),
        lit(stopped).as("stopped"), lit(nTail).as("n_tail"))
      .orderBy("doc_id")
  }

  val qBudgetStopSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang FROM documents WHERE doc_id < 200),
      |nn AS (SELECT count(*) AS n FROM d)
      |SELECT doc_id, md5('B:' || doc_id) AS result,
      |  (SELECT n FROM nn) > 125 AS stopped,
      |  CAST(CASE WHEN (SELECT n FROM nn) > 125 THEN 0
      |    ELSE (SELECT count(*) FROM d t WHERE t.doc_id >= 155) END
      |    AS BIGINT) AS n_tail
      |FROM d WHERE doc_id < 80 ORDER BY doc_id""".stripMargin

  /** UPDATE merge end-to-end: the output column pre-exists; the regex
    * parser yields a value only when the reply starts with 'a' (1/16 of
    * md5s, deterministic per row), and UPDATE must keep the original
    * everywhere else — the oracle reproduces the exact keep/replace
    * decision per row. */
  def qMergeUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 100)
      .withColumn("note", concat(lit("orig-"), col("doc_id").cast("string")))
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("U:{text}", batchSize = 10),
      output = OutputSpec(Seq("note"),
        responseFormat = ResponseFormat.Regex,
        regexPatterns = Map("note" -> "^(a[0-9a-f]+)$"),
        mergeStrategy = MergeStrategy.Update))
    val r = new graft.run.Enricher(spec, new MockLlmClient(),
      keyColumn = Some("doc_id")).enrich(docs)
    r.data.select(col("doc_id"), col("note")).orderBy("doc_id")
  }

  val qMergeUpdateSql: String =
    """SELECT doc_id,
      |  CASE WHEN md5('U:' || COALESCE(text,'')) LIKE 'a%'
      |    THEN md5('U:' || COALESCE(text,''))
      |    ELSE 'orig-' || doc_id END AS note
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** Exact cost/token accounting end-to-end: a durable run's ledger,
    * deduplicated by (attempt, call), must aggregate to EXACTLY the token
    * arithmetic the mock client performed — tokens_in = max(1, len/4) per
    * prompt, tokens_out = 8 (md5 reply), Decimal cost summed exactly and
    * cast to double only in the final projection. Proves the per-call
    * dedup rule (cost duplicated across a call's rows must count once)
    * and the Decimal pipeline end-to-end. */
  def qCostLedger(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 100)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft_cost_q86").toString
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("Cost: {text}"),
      output = OutputSpec(Seq("out")))
    new graft.run.Enricher(spec, new MockLlmClient(),
      Some(runDir), Some("doc_id")).enrich(docs)
    spark.read.parquet(runDir + "/responses")
      .dropDuplicates("_attempt", "_call_id")
      .agg(count(lit(1)).as("calls"),
        sum("tokens_in").as("tokens_in"),
        sum("tokens_out").as("tokens_out"),
        sum("cost").cast("double").as("cost_total"))
  }

  val qCostLedgerSql: String =
    """WITH p AS (
      |  SELECT greatest(1, length('Cost: ' || COALESCE(text,'')) // 4) AS tin
      |  FROM documents WHERE doc_id < 100)
      |SELECT CAST(count(*) AS BIGINT) AS calls,
      |  CAST(SUM(tin) AS BIGINT) AS tokens_in,
      |  CAST(count(*) * 8 AS BIGINT) AS tokens_out,
      |  CAST(SUM(tin) * 0.000001 + count(*) * 0.000016 AS DOUBLE) AS cost_total
      |FROM p""".stripMargin

  /** QualityReport end-to-end: Regex format with REPLACE merge leaves a
    * null output wherever the reply doesn't match (md5 not starting with
    * 'a' — 15/16 of rows, deterministic per row), so the report's
    * valid-row count, success rate, and rating bucket are all exactly
    * SQL-derivable. */
  def qQualityReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 200)
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("Q: {text}", batchSize = 10),
      output = OutputSpec(Seq("hit"),
        responseFormat = ResponseFormat.Regex,
        regexPatterns = Map("hit" -> "^(a[0-9a-f]+)$")))
    val r = new graft.run.Enricher(spec, new MockLlmClient(),
      keyColumn = Some("doc_id")).enrich(docs)
    val q = r.quality
    spark.createDataFrame(Seq(
      (q.totalRows, q.validRows, q.successRate, q.rating)))
      .toDF("rows_total", "valid_rows", "success_rate", "rating")
  }

  val qQualityReportSql: String =
    """WITH d AS (
      |  SELECT md5('Q: ' || COALESCE(text,'')) AS m
      |  FROM documents WHERE doc_id < 200),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS rows_total,
      |    CAST(SUM(CASE WHEN m LIKE 'a%' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS valid_rows
      |  FROM d)
      |SELECT rows_total, valid_rows,
      |  CAST(valid_rows AS DOUBLE) / rows_total AS success_rate,
      |  CASE WHEN CAST(valid_rows AS DOUBLE) / rows_total >= 0.95 THEN 'excellent'
      |       WHEN CAST(valid_rows AS DOUBLE) / rows_total >= 0.80 THEN 'good'
      |       WHEN CAST(valid_rows AS DOUBLE) / rows_total >= 0.50 THEN 'poor'
      |       ELSE 'critical' END AS rating
      |FROM s""".stripMargin

  /** Deployment distribution end-to-end: a round-robin router over two
    * deployments, driven through one sequential partition (repartition(1)
    * + concurrency 1 → one task → one router instance → strict
    * alternation), must split calls exactly ceil/floor(n/2); the serving
    * deployment lands in the ledger's `model` column per call. */
  def qRouterSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    import graft.llm.RouterClient
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 100)
      .repartition(1)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft_router_q88").toString
    val router = new RouterClient(
      Seq((new MockLlmClient("m-a"), 1.0), (new MockLlmClient("m-b"), 1.0)),
      RouterClient.RoundRobin)
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("R: {text}"),
      llm = LlmSpec(concurrency = 1),
      output = OutputSpec(Seq("out")))
    new graft.run.Enricher(spec, router, Some(runDir), Some("doc_id"))
      .enrich(docs)
    spark.read.parquet(runDir + "/responses")
      .groupBy("model").agg(count(lit(1)).as("n_calls"))
      .orderBy("model")
  }

  val qRouterSplitSql: String =
    """WITH n AS (SELECT count(*) AS c FROM documents WHERE doc_id < 100)
      |SELECT 'm-a' AS model, CAST((c + 1) // 2 AS BIGINT) AS n_calls FROM n
      |UNION ALL
      |SELECT 'm-b' AS model, CAST(c // 2 AS BIGINT) AS n_calls FROM n
      |ORDER BY model""".stripMargin

  /** Mock with a FIXED provider-reported latency — the injected signal
    * for the latency-routing oracle (RouterClient.Reported reads
    * LlmResponse.latencyMs, so the arm is exact, not wall-clock-bound). */
  private final class FixedLatencyMock(name: String, reportMs: Double)
      extends graft.llm.LlmClient {
    private val inner = new MockLlmClient(name)
    def model: String = name
    def invoke(p: String, s: Option[String]): graft.llm.LlmResponse =
      inner.invoke(p, s).copy(latencyMs = reportMs)
  }

  /** Adaptive latency routing end-to-end: a LatencyBased router over a
    * slow and a fast deployment (injected reported latencies), one
    * sequential partition. The router probes each unmeasured deployment
    * exactly once (declaration order), then every remaining call routes
    * to the fast one — the deployment split must shift to n-1 : 1, not
    * the 50:50 a static strategy would give (reference:
    * router_strategies.py:28-35 latency-based-routing). Per-call serving
    * deployment lands in the ledger's `model` column, like q88. */
  def qRouterLatency(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    import graft.llm.RouterClient
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 100)
      .repartition(1)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft_router_q202").toString
    val router = new RouterClient(
      Seq((new FixedLatencyMock("m-slow", 100.0), 1.0),
        (new FixedLatencyMock("m-fast", 1.0), 1.0)),
      RouterClient.LatencyBased,
      latencySource = RouterClient.Reported)
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("L: {text}"),
      llm = LlmSpec(concurrency = 1),
      output = OutputSpec(Seq("out")))
    new graft.run.Enricher(spec, router, Some(runDir), Some("doc_id"))
      .enrich(docs)
    spark.read.parquet(runDir + "/responses")
      .groupBy("model").agg(count(lit(1)).as("n_calls"))
      .orderBy("model")
  }

  val qRouterLatencySql: String =
    """WITH n AS (SELECT count(*) AS c FROM documents WHERE doc_id < 100)
      |SELECT 'm-fast' AS model, CAST(c - 1 AS BIGINT) AS n_calls FROM n
      |UNION ALL
      |SELECT 'm-slow' AS model, CAST(1 AS BIGINT) AS n_calls FROM n
      |ORDER BY model""".stripMargin

  /** DataLoaderStage filters end-to-end: the spec's equality filters must
    * subset the input BEFORE any spend (Catalyst pushes them to the scan)
    * — the oracle enriches only the lang='en' rows. */
  def qEnrichFiltered(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents")
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text"),
        filters = Map("lang" -> "en")),
      prompt = PromptSpec("F: {text}", batchSize = 10),
      output = OutputSpec(Seq("out")))
    val r = new graft.run.Enricher(spec, new MockLlmClient(),
      keyColumn = Some("doc_id")).enrich(docs)
    r.data.select(col("doc_id"), col("out")).orderBy("doc_id")
  }

  val qEnrichFilteredSql: String =
    """SELECT doc_id, md5('F: ' || COALESCE(text,'')) AS out
      |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin

  /** Structured Streaming enrichment end-to-end: a file stream over the
    * documents table drains through `foreachBatch` micro-batches running
    * the SAME Enricher as batch mode; per-row results must be identical
    * to the batch oracle regardless of micro-batch boundaries. */
  def qStreamingEnrich(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 200)
      .select("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_q91").toString
    docs.write.parquet(s"$base/src")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$base/src")
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("S: {text}"),
      output = OutputSpec(Seq("out")))
    val q = graft.streaming.StreamingEnrich.start(
      stream, spec, new MockLlmClient(), s"$base/ckpt",
      (df, _) => df.select("doc_id", "out")
        .write.mode("append").parquet(s"$base/out"))
    q.awaitTermination()
    spark.read.parquet(s"$base/out").orderBy("doc_id")
  }

  val qStreamingEnrichSql: String =
    """SELECT doc_id, md5('S: ' || COALESCE(text,'')) AS out
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  /** Composer DAG end-to-end: column b's template consumes column a's
    * output, so the oracle is the COMPOSED hash md5('B: '||md5('A: '||t))
    * — only correct topological execution with cross-pipeline column
    * accumulation produces it. */
  def qComposerChain(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    import graft.run.Composer
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 100)
    def pipe(out: String, template: String, inCols: Seq[String],
             deps: Seq[String]) =
      Composer.ColumnPipeline(out,
        PipelineSpec(
          dataset = DatasetSpec(inputColumns = inCols),
          prompt = PromptSpec(template),
          output = OutputSpec(Seq(out))),
        new MockLlmClient(), deps)
    Composer.run(docs, Seq(
      pipe("b", "B: {a}", Seq("a"), Seq("a")), // declared out of order
      pipe("a", "A: {text}", Seq("text"), Nil)))
      .select(col("doc_id"), col("a"), col("b")).orderBy("doc_id")
  }

  val qComposerChainSql: String =
    """SELECT doc_id,
      |  md5('A: ' || COALESCE(text,'')) AS a,
      |  md5('B: ' || md5('A: ' || COALESCE(text,''))) AS b
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** Auto-retry healing end-to-end: the mock's FIRST reply per prompt is
    * chat refusal prose that fails Typed schema validation (structural
    * rejection → all-null outputs); the auto-retry pass re-invokes
    * exactly those rows and the repeat parses. Final state must equal
    * the structured oracle — without the retry every output would be
    * null. */
  def qAutoRetryHeal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    import graft.core._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 100)
    val schema = StructType(Seq(
      StructField("label", StringType), StructField("score", IntegerType)))
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("H: {text}"),
      processing = ProcessingSpec(autoRetryAttempts = 2),
      output = OutputSpec(Seq("label", "score"),
        responseFormat = ResponseFormat.Typed, typedSchema = Some(schema)))
    val r = new graft.run.Enricher(spec,
      new MockLlmClient(structuredJson = true, malformedFirstReply = true),
      keyColumn = Some("doc_id")).enrich(docs)
    r.data.select(col("doc_id"), col("label"), col("score"))
      .orderBy("doc_id")
  }

  val qAutoRetryHealSql: String =
    """SELECT doc_id,
      |  md5('H: ' || COALESCE(text,'')) AS label,
      |  CAST(length('H: ' || COALESCE(text,'')) % 100 AS INT) AS score
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** Provider batch-mode end-to-end: submit serializes prompts to the
    * provider's JSONL shape, the (mock) provider answers offline, collect
    * joins results back by row id — the md5 oracle proves the full
    * submit → poll → collect round trip row-exactly. */
  def qProviderBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 100)
    val runDir = java.nio.file.Files
      .createTempDirectory("graft_pb_q94").toString
    val backend = new graft.run.ProviderBatch.LocalMockBackend(
      spark, s"$runDir/provider")
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = Seq("text")),
      prompt = PromptSpec("P: {text}"),
      output = OutputSpec(Seq("out")))
    graft.run.ProviderBatch.submit(docs, spec, runDir, backend,
      Some("doc_id"))
    graft.run.ProviderBatch.collect(docs, spec, runDir, backend,
      Some("doc_id"))
      .select(col("doc_id"), col("out")).orderBy("doc_id")
  }

  val qProviderBatchSql: String =
    """SELECT doc_id, md5('P: ' || COALESCE(text,'')) AS out
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** Intent-planner arc, hash-verified end-to-end: a canned structured
    * drafting reply (the planner is exactly one LLM call — determinism
    * comes from the canned draft, like every mock in this file) must
    * survive defensive validation against the real documents schema and
    * produce a runnable spec; the spec then executes with the md5 mock.
    * The oracle reproduces the drafted template's application, so a
    * break anywhere in plan → validate → build → run fails the hash. */
  def qIntentPlanRun(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.{LlmClient, LlmResponse}
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 150)
    val draft =
      """{"input_columns":["lang","text"],"output_columns":["gist"],""" +
        """"prompt_template":"Gist [{lang}]: {text}","system_message":null,""" +
        """"response_format":"raw","rationale":"summarize with language tag"}"""
    val drafter = new LlmClient {
      def model = "draft"
      def invoke(p: String, s: Option[String]): LlmResponse =
        LlmResponse(draft, 10, 10, model, java.math.BigDecimal.ZERO, 0.1)
    }
    val plan = graft.run.IntentPlanner.plan(docs,
      "summarize each document with a language tag", BigDecimal("5.0"),
      drafter)
    val r = plan.run(docs, new MockLlmClient())
    r.data.select(col("doc_id"), col("gist")).orderBy("doc_id")
  }

  val qIntentPlanRunSql: String =
    """SELECT doc_id,
      |  md5('Gist [' || COALESCE(lang,'') || ']: ' || COALESCE(text,'')) AS gist
      |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin

  /** RunRegistry lifecycle arc end-to-end (reference:
    * orchestration/run_registry.py state machine): a run whose every call
    * fails lands FAILED (note recorded, counters untouched); resuming the
    * same runDir with a healthy client re-enters RUNNING and lands
    * SUCCEEDED with rows = validRows = calls = the corpus count (the
    * failed pass committed nothing to the ledger, so the resume issues
    * every call — deterministic); and a transition out of SUCCEEDED is
    * rejected. The oracle recomputes the one data-dependent number (the
    * corpus count) from `documents`. */
  def qRegistryArc(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    import graft.run._
    import spark.implicits._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 60)
    val regDir = java.nio.file.Files
      .createTempDirectory("graft_reg_q98").toString
    val runDir = java.nio.file.Files
      .createTempDirectory("graft_run_q98").toString
    val reg = new RunRegistry(regDir)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("RA:{text}"),
      llm = LlmSpec(maxRetries = 0),
      output = OutputSpec(Seq("out")))
    def enricher(client: MockLlmClient) = new Enricher(spec, client,
      runDir = Some(runDir), keyColumn = Some("doc_id"),
      observers = new ObserverDispatcher()
        .register(new RegistryObserver(reg, runDir)))
    try enricher(new MockLlmClient(failEveryN = 1)).enrich(docs)
    catch { case _: Exception => () }
    val runId = reg.list().head.runId
    val failed = reg.get(runId).get
    enricher(new MockLlmClient()).enrich(docs)
    val done = reg.get(runId).get
    val illegalBlocked =
      try { reg.transition(runId, RunState.Running); false }
      catch { case _: IllegalArgumentException => true }
    Seq(
      (1, failed.state, failed.rows, failed.validRows, failed.calls,
        failed.note.nonEmpty),
      (2, done.state, done.rows, done.validRows, done.calls,
        illegalBlocked))
      .toDF("phase", "state", "n_rows", "valid_rows", "calls", "check_ok")
      .orderBy("phase")
  }

  val qRegistryArcSql: String =
    """WITH d AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id < 60)
      |SELECT * FROM (
      |  SELECT 1 AS phase, 'FAILED' AS state, CAST(0 AS BIGINT) AS n_rows,
      |    CAST(0 AS BIGINT) AS valid_rows, CAST(0 AS BIGINT) AS calls,
      |    true AS check_ok
      |  UNION ALL
      |  SELECT 2, 'SUCCEEDED', (SELECT n FROM d), (SELECT n FROM d),
      |    (SELECT n FROM d), true)
      |ORDER BY phase""".stripMargin

  /** No-output guard two-condition rule end-to-end (reference:
    * api/pipeline.py:1685-1739): a run with ZERO valid outputs aborts
    * only when something was also skipped/failed OR no tokens flowed.
    * Scenario A: every reply parses to null (regex never matches) but
    * calls succeeded and tokens flowed — the guard must NOT fire (the
    * nulls are a parsing outcome, not a pipeline failure). Scenario B:
    * every call fails and is skipped — zero valid + skips → the guard
    * fires. The oracle recomputes the corpus count from `documents`. */
  def qNoOutputGuard(spark: SparkSession, dir: String): DataFrame = {
    import graft.core._
    import spark.implicits._
    val docs = tp(spark, dir, "documents").filter(col("doc_id") < 40)
    val specA = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("NG:{text}"),
      output = OutputSpec(Seq("out"),
        responseFormat = ResponseFormat.Regex,
        regexPatterns = Map("out" -> "^ZZZ-NEVER-[0-9]+$")))
    val ra = new graft.run.Enricher(specA, new MockLlmClient()).enrich(docs)
    val aFired = false // enrich returned: guard held its fire
    val specB = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("NG:{text}"),
      llm = LlmSpec(maxRetries = 0),
      processing = ProcessingSpec(errorPolicy = ErrorPolicy.Skip),
      output = OutputSpec(Seq("out")))
    val bFired =
      try {
        new graft.run.Enricher(specB, new MockLlmClient(failEveryN = 1))
          .enrich(docs)
        false
      } catch { case _: IllegalStateException => true }
    Seq(
      ("all_null_tokens_flowed", aFired, ra.metrics.rows,
        ra.quality.validRows),
      ("all_skipped", bFired, ra.metrics.rows, 0L))
      .toDF("scenario", "guard_fired", "n_rows", "valid_rows")
      .orderBy("scenario")
  }

  val qNoOutputGuardSql: String =
    """WITH d AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
      |  WHERE doc_id < 40)
      |SELECT * FROM (
      |  SELECT 'all_null_tokens_flowed' AS scenario, false AS guard_fired,
      |    (SELECT n FROM d) AS n_rows, CAST(0 AS BIGINT) AS valid_rows
      |  UNION ALL
      |  SELECT 'all_skipped', true, (SELECT n FROM d), CAST(0 AS BIGINT))
      |ORDER BY scenario""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_enrich_single" -> qEnrichSingle _,
    "q21_enrich_batched" -> qEnrichBatched _,
    "q22_enrich_multivar" -> qEnrichMultiVar _,
    "q23_enrich_jinja" -> qEnrichJinja _,
    "q24_enrich_typed" -> qEnrichTyped _,
    "q25_enrich_fewshot" -> qEnrichFewShot _,
    "q84_budget_stop" -> qBudgetStop _,
    "q85_merge_update" -> qMergeUpdate _,
    "q86_cost_ledger" -> qCostLedger _,
    "q87_quality_report" -> qQualityReport _,
    "q88_router_split" -> qRouterSplit _,
    "q202_router_latency" -> qRouterLatency _,
    "q90_enrich_filtered" -> qEnrichFiltered _,
    "q91_streaming_enrich" -> qStreamingEnrich _,
    "q92_composer_chain" -> qComposerChain _,
    "q93_auto_retry_heal" -> qAutoRetryHeal _,
    "q94_provider_batch" -> qProviderBatch _,
    "q97_intent_plan_run" -> qIntentPlanRun _,
    "q98_registry_arc" -> qRegistryArc _,
    "q99_no_output_guard" -> qNoOutputGuard _)

  val oracles: Map[String, String] = Map(
    "q20_enrich_single" -> qEnrichSingleSql,
    "q21_enrich_batched" -> qEnrichBatchedSql,
    "q22_enrich_multivar" -> qEnrichMultiVarSql,
    "q23_enrich_jinja" -> qEnrichJinjaSql,
    "q24_enrich_typed" -> qEnrichTypedSql,
    "q25_enrich_fewshot" -> qEnrichFewShotSql,
    "q84_budget_stop" -> qBudgetStopSql,
    "q85_merge_update" -> qMergeUpdateSql,
    "q86_cost_ledger" -> qCostLedgerSql,
    "q87_quality_report" -> qQualityReportSql,
    "q88_router_split" -> qRouterSplitSql,
    "q202_router_latency" -> qRouterLatencySql,
    "q90_enrich_filtered" -> qEnrichFilteredSql,
    "q91_streaming_enrich" -> qStreamingEnrichSql,
    "q92_composer_chain" -> qComposerChainSql,
    "q93_auto_retry_heal" -> qAutoRetryHealSql,
    "q94_provider_batch" -> qProviderBatchSql,
    "q97_intent_plan_run" -> qIntentPlanRunSql,
    "q98_registry_arc" -> qRegistryArcSql,
    "q99_no_output_guard" -> qNoOutputGuardSql)
}
