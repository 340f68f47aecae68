package graft.run

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.core._
import graft.llm.LlmClient

/** Fluent builder over the spec tree — the reference's PipelineBuilder
  * surface (ondine/api/pipeline_builder.py: 40+ with_* methods) mapped
  * onto immutable specs. Every method returns `this`; `build()` yields a
  * validated PipelineSpec, `run(df)` executes through the Enricher.
  *
  * {{{
  * val r = PipelineBuilder()
  *   .withTemplate("Classify: {text}")
  *   .withOutputColumns("sentiment")
  *   .withBatchSize(50).withConcurrency(16)
  *   .withBudget(BigDecimal("5.0"))
  *   .withClient(client)
  *   .run(df)
  * }}}
  */
final class PipelineBuilder private () {

  private var dataset = DatasetSpec(inputColumns = Nil)
  private var prompt = PromptSpec(template = "")
  private var llm = LlmSpec()
  private var processing = ProcessingSpec()
  private var output = OutputSpec(outputColumns = Nil)
  private var evidence: Option[EvidenceSpec] = None
  private var clientOpt: Option[LlmClient] = None
  private var evidenceCorpusOpt: Option[DataFrame] = None
  private var runDirOpt: Option[String] = None
  private var keyColumnOpt: Option[String] = None
  private var responseCache: Option[graft.llm.ResponseCacheBackend] = None
  private val dispatcher = new ObserverDispatcher

  // --- dataset ----------------------------------------------------------
  def withInputColumns(cols: String*): this.type =
    { dataset = dataset.copy(inputColumns = cols); this }
  def withFilter(column: String, value: String): this.type =
    { dataset = dataset.copy(filters = dataset.filters + (column -> value)); this }

  // --- prompt -----------------------------------------------------------
  def withTemplate(t: String): this.type =
    { prompt = prompt.copy(template = t); this }
  def withTemplateFormat(f: String): this.type =
    { prompt = prompt.copy(templateFormat = Some(f)); this }
  def withSystemMessage(m: String): this.type =
    { prompt = prompt.copy(systemMessage = Some(m)); this }
  def withBatchSize(n: Int): this.type =
    { prompt = prompt.copy(batchSize = n); this }
  def withFewShot(examples: (String, String)*): this.type =
    { prompt = prompt.copy(fewShot = examples); this }

  // --- llm --------------------------------------------------------------
  def withModel(m: String): this.type = { llm = llm.copy(model = m); this }
  def withCosts(inPer1k: BigDecimal, outPer1k: BigDecimal): this.type =
    { llm = llm.copy(inputCostPer1k = inPer1k, outputCostPer1k = outPer1k); this }
  def withConcurrency(n: Int): this.type =
    { llm = llm.copy(concurrency = n); this }
  def withAdaptiveConcurrency(max: Int = 64): this.type =
    { llm = llm.copy(adaptiveConcurrency = true, maxConcurrency = max); this }
  def withRateLimit(rpm: Int): this.type =
    { llm = llm.copy(requestsPerMinute = Some(rpm)); this }
  /** Shared bucket scope, `redis://host:port/scope`. */
  def withRateLimitScope(stateFile: String): this.type =
    { llm = llm.copy(rateLimitScopeFile = Some(stateFile)); this }
  def withMaxRetries(n: Int): this.type =
    { llm = llm.copy(maxRetries = n); this }
  def withBackoff(baseMs: Long, capMs: Long): this.type =
    { llm = llm.copy(backoffBaseMs = baseMs, backoffCapMs = capMs); this }
  def withTimeout(ms: Long): this.type =
    { llm = llm.copy(timeoutMs = ms); this }
  /** Point at a real chat-completions endpoint; run() then builds an
    * HttpLlmClient (bearer token read from `apiKeyEnv`). */
  def withEndpoint(url: String, apiKeyEnv: Option[String] = None): this.type =
    { llm = llm.copy(endpoint = Some(url), apiKeyEnv = apiKeyEnv); this }
  /** Structured-output mode override for Typed runs: "auto" / "tools" /
    * "json" / "json_schema" (see [[graft.llm.StructuredOutput]]). */
  def withStructuredMode(mode: String): this.type =
    { llm = llm.copy(structuredMode = Some(mode)); this }
  /** Mark the model as a reasoning model (forces a non-tools structured
    * mode, mirroring instructor_mode.py:158-168). */
  def withReasoningEffort(effort: String): this.type =
    { llm = llm.copy(reasoningEffort = Some(effort)); this }

  // --- processing -------------------------------------------------------
  def withErrorPolicy(p: ErrorPolicy.Value): this.type =
    { processing = processing.copy(errorPolicy = p); this }
  def withDefaultValue(v: String): this.type =
    { processing = processing.copy(defaultValue = v); this }
  def withBudget(max: BigDecimal): this.type =
    { processing = processing.copy(maxBudget = Some(max)); this }
  def withChunkRows(n: Int): this.type =
    { processing = processing.copy(chunkRows = n); this }
  def withAutoRetry(attempts: Int): this.type =
    { processing = processing.copy(autoRetryAttempts = attempts); this }
  def withPreprocessing(maxInputLength: Option[Int] = None): this.type = {
    processing = processing.copy(preprocessInput = true,
      maxInputLength = maxInputLength)
    this
  }

  // --- output -----------------------------------------------------------
  def withOutputColumns(cols: String*): this.type =
    { output = output.copy(outputColumns = cols); this }
  def withResponseFormat(f: ResponseFormat.Value): this.type =
    { output = output.copy(responseFormat = f); this }
  def withRegexPattern(column: String, pattern: String): this.type =
    { output = output.copy(responseFormat = ResponseFormat.Regex,
        regexPatterns = output.regexPatterns + (column -> pattern)); this }
  def withMergeStrategy(s: MergeStrategy.Value): this.type =
    { output = output.copy(mergeStrategy = s); this }
  def withTypedSchema(ddl: String): this.type =
    { output = output.copy(responseFormat = ResponseFormat.Typed,
        typedSchema = Some(StructType.fromDDL(ddl))); this }

  // --- evidence / knowledge --------------------------------------------
  def withEvidence(corpus: DataFrame, idCol: String = "claim_id",
                   textCol: String = "text", topK: Int = 3,
                   minScore: Double = 0.1,
                   sourceCol: Option[String] = None): this.type = {
    evidence = Some(EvidenceSpec(idCol, textCol, sourceCol, topK, minScore))
    evidenceCorpusOpt = Some(corpus)
    this
  }

  // --- response cache (reference: with_redis_cache / with_disk_cache,
  // ondine/api/pipeline_builder.py:1362-1409 — identical requests = zero
  // new spend, shared across executors/hosts) ----------------------------
  /** Share responses through a Redis server mid-run. Outage degrades to
    * the in-JVM tier via the backend's breaker; never fails the run. */
  def withRedisCache(host: String = "localhost", port: Int = 6379,
                     ttlSeconds: Int = 3600): this.type = {
    responseCache = Some(
      new graft.llm.RedisResponseCache(host, port, ttlSeconds = ttlSeconds))
    this
  }
  /** Share responses through a (shared-filesystem) directory.
    * ttlSeconds = 0 keeps entries forever. */
  def withDiskCache(dir: String, ttlSeconds: Long = 0L): this.type = {
    responseCache = Some(new graft.llm.DiskResponseCache(dir, ttlSeconds))
    this
  }

  // --- execution --------------------------------------------------------
  def withClient(c: LlmClient): this.type = { clientOpt = Some(c); this }
  def withRunDir(dir: String): this.type = { runDirOpt = Some(dir); this }
  def withKeyColumn(c: String): this.type = { keyColumnOpt = Some(c); this }
  def withObserver(o: Observer): this.type = { dispatcher.register(o); this }
  /** Attach a [[SparkMetricsObserver]] capturing executor-level task
    * metrics for the run window; returns it for post-run inspection. */
  def withSparkMetrics(spark: org.apache.spark.sql.SparkSession): SparkMetricsObserver = {
    val o = new SparkMetricsObserver(spark)
    dispatcher.register(o)
    o
  }
  def withRegistry(registry: RunRegistry): this.type = {
    dispatcher.register(
      new RegistryObserver(registry, runDirOpt.getOrElse("")))
    this
  }
  /** Export the run as an OTLP trace + metrics — to a collector endpoint
    * (`http://host:4318`) or an NDJSON file path. */
  def withOtel(target: String): this.type = {
    val sink = if (target.startsWith("http://") ||
      target.startsWith("https://")) new OtlpHttpSink(target)
    else new OtelFileSink(target)
    dispatcher.register(new OtelObserver(sink))
    this
  }

  /** Validated spec (input columns default to template placeholders,
    * mirroring QuickPipeline). */
  def build(): PipelineSpec = {
    val ds = if (dataset.inputColumns.nonEmpty) dataset
      else dataset.copy(
        inputColumns = TemplateCompiler.variables(prompt.template,
          prompt.templateFormat))
    val spec = PipelineSpec(ds, prompt, llm, processing, output, evidence)
    spec.validate()
    spec
  }

  /** Pre-flight health report on the CURRENT (possibly incomplete)
    * configuration — deliberately skips validate() so an unhealthy spec
    * still yields a diagnosable report instead of a throw (reference:
    * ondine/api/health_check.py check vs get_readiness split). */
  def healthCheck(sourcePath: Option[String] = None): HealthCheck.Status =
    HealthCheck.check(
      PipelineSpec(dataset, prompt, llm, processing, output, evidence),
      sourcePath, runDirOpt)

  def run(df: DataFrame): EnrichResult = {
    val client = clientOpt
      // Typed output over a real endpoint gets provider-native structured
      // modes (tools / json_schema / json + fallback chain).
      .orElse(llm.endpoint.map(_ => graft.llm.LlmClients.forSpec(llm, output)))
      .getOrElse(throw new IllegalArgumentException(
        "withClient(...) or withEndpoint(...) is required before run()"))
    // cache wrap is outermost so a hit skips the whole client stack;
    // the L1 name is model-scoped — all runs of one model in this JVM
    // share it (keys already include model + system + prompt)
    val cached = responseCache match {
      case Some(b) =>
        new graft.llm.CachingClient(client,
          cacheName = s"builder:${client.model}", backend = Some(b))
      case None => client
    }
    new Enricher(build(), cached, runDirOpt, keyColumnOpt, dispatcher,
      evidenceCorpusOpt).enrich(df)
  }
}

object PipelineBuilder {
  def apply(): PipelineBuilder = new PipelineBuilder()
}
