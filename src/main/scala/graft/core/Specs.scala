package graft.core

/** Configuration spec tree for the enrichment engine.
  *
  * Mirrors the validated spec tree of the reference
  * (ondine/core/specifications.py:552-566: DatasetSpec, PromptSpec, LlmSpec,
  * ProcessingSpec, OutputSpec) re-expressed as Scala case classes. Specs are
  * pure data (serializable); live objects (clients, listeners) are passed
  * separately, matching the reference's spec/component split
  * (ondine/api/pipeline.py:139-144).
  */
object MergeStrategy extends Enumeration {
  /** Column-merge semantics of the result writer
    * (reference: ondine/stages/result_writer_stage.py:74-125):
    *  - Replace: new column overwrites an existing column of the same name.
    *  - Append: error if the output column already exists.
    *  - Update: only non-null new values overwrite (coalesce(new, old)).
    */
  val Replace, Append, Update = Value
}

object ErrorPolicy extends Enumeration {
  /** Row-level failure handling (reference: ondine/core/error_handler.py:38-250):
    *  - Retry: exhaust retries then fail the run.
    *  - Skip: emit the `[SKIPPED]` sentinel and continue.
    *  - Fail: fail the run on first error.
    *  - UseDefault: emit a configured default value.
    */
  val Retry, Skip, Fail, UseDefault = Value
}

object ResponseFormat extends Enumeration {
  /** Parser selection (reference: ondine/core/specifications.py:134-144).
    * Typed = instructor-style schema-enforced structured output
    * (unified_litellm_client.py:1055-1131): the response must validate
    * against OutputSpec.typedSchema after the strict → code-fence →
    * brace-scan fallback chain; structurally rejected rows surface as
    * all-null outputs, which the auto-retry loop re-invokes. */
  val Raw, Json, Regex, Typed = Value
}

/** Valid `LlmSpec.structuredMode` values (the reference's user-facing
  * strategy enum, instructor_mode.py:23-30). Lives in core so spec
  * validation needs nothing from graft.llm; [[graft.llm.StructuredOutput]]
  * aliases it. */
object StructuredModes {
  val Strategies: Set[String] = Set("auto", "tools", "json", "json_schema")
  /** Valid `LlmSpec.reasoningEffort` values (the public reasoning-model
    * effort levels; a typo here would otherwise ship in every request). */
  val Efforts: Set[String] = Set("minimal", "low", "medium", "high")
}

/** Failure sentinel written into output cells for skipped rows
  * (reference: ondine/core/models.py:14-18).
  */
object Sentinels {
  val SkippedOutput = "[SKIPPED]"
  /** Padding value for batch items the model failed to answer
    * (reference: ondine/stages/batch_disaggregator_stage.py:158-163).
    */
  val MissingBatchItem: String = null
}

/** What data to read and which columns feed the prompt.
  * (reference: ondine/core/specifications.py:60-118)
  */
final case class DatasetSpec(
    inputColumns: Seq[String],
    /** Conjunction of equality filters applied at load
      * (reference: ondine/stages/data_loader_stage.py:158-175). */
    filters: Map[String, String] = Map.empty,
    delimiter: String = ",",
    encoding: String = "UTF-8")

/** Prompt construction.
  * (reference: ondine/core/specifications.py:120-200)
  */
final case class PromptSpec(
    /** `{column}` placeholder template (python str.format semantics:
      * reference ondine/stages/prompt_formatter_stage.py:139-144). */
    template: String,
    /** "format" | "jinja"; None = auto-detect Jinja iff the template
      * uses `{{`/`{%` — the reference's rule (prompt_formatter_stage.py
      * :79-89, spec flag specifications.py:482-485). Set "format"
      * explicitly when a str.format template needs literal braces via
      * the `{{`/`}}` escape. */
    templateFormat: Option[String] = None,
    systemMessage: Option[String] = None,
    /** >1 enables mega-prompt batching: N rows per API call
      * (reference: ondine/stages/batch_aggregator_stage.py). */
    batchSize: Int = 1,
    /** Few-shot examples prepended to every prompt
      * (reference: ondine/stages/prompt_formatter_stage.py:163-167). */
    fewShot: Seq[(String, String)] = Nil)

/** Model + invocation governance.
  * (reference: ondine/core/specifications.py:202-446)
  */
final case class LlmSpec(
    model: String = "mock",
    inputCostPer1k: BigDecimal = BigDecimal("0.0"),
    outputCostPer1k: BigDecimal = BigDecimal("0.0"),
    /** Max in-flight requests per executor partition-group. */
    concurrency: Int = 8,
    /** Gradient2 adaptive concurrency: the in-flight cap follows observed
      * RTT instead of staying fixed (reference:
      * ondine/utils/adaptive_limiter.py:68-242, with_adaptive_concurrency
      * pipeline_builder.py:723). `concurrency` becomes the initial limit. */
    adaptiveConcurrency: Boolean = false,
    /** Upper bound for the adaptive limit. */
    maxConcurrency: Int = 64,
    /** Requests/minute across the whole run; divided across partitions. */
    requestsPerMinute: Option[Int] = None,
    /** Shared-bucket scope (the reference's Redis scope key,
      * redis_rate_limiter.py). A filesystem path → exact ONE-host bucket
      * via a lock-protected state file; `redis://host:port/scope` →
      * exact MULTI-host bucket via [[graft.llm.RedisBucket]]. None →
      * per-executor split (rate = rpm / numExecutors). */
    rateLimitScopeFile: Option[String] = None,
    /** Explicit executor count for the per-worker rpm split. Uncoordinated
      * buckets on a deployment where Spark's conf can't tell the fleet size
      * (no `spark.executor.instances`, no dynamic-allocation max) are
      * REFUSED unless this declares it; for a coordinated (redis://) scope
      * it pre-declares the breaker-open degraded rate instead of the
      * full-rate-per-executor legacy fallback. */
    rateLimitSplit: Option[Int] = None,
    maxRetries: Int = 3,
    /** Exponential backoff base in ms (1x, 2x, 4x..., capped). */
    backoffBaseMs: Long = 10L,
    backoffCapMs: Long = 60000L,
    /** Per-call deadline. A call that blocks past this is cancelled
      * (thread interrupt) and counts as a retryable failure; retry
      * exhaustion then follows the error policy. The reference bounds
      * every call the same way (tenacity timeout + asyncio,
      * unified_litellm_client.py:253-531). */
    timeoutMs: Long = 180000L,
    /** Chat-completions HTTP endpoint; set → the enricher builds a real
      * [[graft.llm.HttpLlmClient]] instead of requiring withClient. */
    endpoint: Option[String] = None,
    /** Env var holding the bearer token for `endpoint` (the key itself
      * never lands in a spec — specs serialize into task closures). */
    apiKeyEnv: Option[String] = None,
    /** Structured-output mode for Typed runs over `endpoint`:
      * "auto" (None) / "tools" / "json" / "json_schema" — the user-override
      * layer of [[graft.llm.StructuredOutput.detect]] (reference:
      * instructor_mode.py:23-30 strategy enum). */
    structuredMode: Option[String] = None,
    /** Reasoning-effort hint forwarded to detection: reasoning models
      * reject the tool protocol, so its presence forces a non-tools mode
      * (reference: instructor_mode.py:158-168). */
    reasoningEffort: Option[String] = None)

/** Run-level processing controls.
  * (reference: ondine/core/specifications.py:400-480)
  */
final case class ProcessingSpec(
    errorPolicy: ErrorPolicy.Value = ErrorPolicy.Retry,
    defaultValue: String = "",
    /** Hard cost cap; run stops between chunks when exceeded
      * (reference: ondine/utils/budget_controller.py:20-131). */
    maxBudget: Option[BigDecimal] = None,
    /** Driver-side chunk size in rows for budget checks + durability cadence
      * (mirrors execute_stream_async chunking, ondine/api/pipeline.py:1326-1497). */
    chunkRows: Int = 100000,
    /** Auto-retry passes over rows whose outputs are all null/empty
      * (reference: ondine/api/pipeline.py:1741-1879). */
    autoRetryAttempts: Int = 0,
    preprocessInput: Boolean = false,
    /** Word-boundary truncation limit for preprocessed input; None = no cap. */
    maxInputLength: Option[Int] = None)

/** Output shape: columns to create, parser, merge semantics.
  * (reference: ondine/core/specifications.py:482-548)
  */
final case class OutputSpec(
    outputColumns: Seq[String],
    responseFormat: ResponseFormat.Value = ResponseFormat.Raw,
    /** Named regex patterns when responseFormat = Regex
      * (reference: ondine/stages/response_parser_stage.py:118-149). */
    regexPatterns: Map[String, String] = Map.empty,
    mergeStrategy: MergeStrategy.Value = MergeStrategy.Replace,
    /** Target schema when responseFormat = Typed — the Pydantic-model
      * equivalent; fields land as typed columns. */
    typedSchema: Option[org.apache.spark.sql.types.StructType] = None)

/** Evidence-retrieval configuration (reference:
  * ondine/stages/evidence_retrieval_stage.py:57-113): per-row top-k
  * retrieval from an evidence corpus into `_evidence_context` /
  * `_evidence_count`, APPENDED to the prompt after the rendered template
  * with the reference's "Previously validated answers…" preamble. The
  * corpus DataFrame itself is passed to the Enricher (specs stay pure
  * data). minScore default 0.1 = evidence_retrieval_stage.py:49. */
final case class EvidenceSpec(
    idCol: String = "claim_id",
    textCol: String = "text",
    /** Optional provenance column; rendered as " (source: …)" attribution
      * in the context block (evidence_retrieval_stage.py:77-79). */
    sourceCol: Option[String] = None,
    topK: Int = 3,
    minScore: Double = 0.1)

final case class PipelineSpec(
    dataset: DatasetSpec,
    prompt: PromptSpec,
    llm: LlmSpec = LlmSpec(),
    processing: ProcessingSpec = ProcessingSpec(),
    output: OutputSpec,
    evidence: Option[EvidenceSpec] = None) {

  /** Spec-combination validation, mirroring the reference's build() checks
    * (ondine/api/pipeline.py:202-216, specifications.py:108-118,155-163).
    */
  def validate(): Unit = {
    val vars = TemplateCompiler.variables(prompt.template, prompt.templateFormat)
    require(vars.nonEmpty, s"template has no {placeholders}: ${prompt.template}")
    val missing = vars.filterNot(dataset.inputColumns.contains)
    require(missing.isEmpty,
      s"template variables not in input columns: ${missing.mkString(",")}")
    val overlap = dataset.inputColumns.intersect(output.outputColumns)
    require(overlap.isEmpty,
      s"input/output column overlap: ${overlap.mkString(",")}")
    require(prompt.batchSize >= 1, "batchSize must be >= 1")
    // timeoutMs both arms the per-call interrupt AND scales the Invoke
    // dequeue backstop; <= 0 would disable both and let a hung client wedge
    // the task forever. "No deadline" stays available only to direct
    // Invoke.apply calls with mock clients (tests), never through a
    // validated pipeline spec.
    require(llm.timeoutMs > 0,
      s"llm.timeoutMs must be > 0 (got ${llm.timeoutMs})")
    llm.structuredMode.foreach { m =>
      require(StructuredModes.Strategies.contains(m.toLowerCase),
        s"llm.structuredMode '$m' not in " +
          StructuredModes.Strategies.mkString("/"))
      // The mode only shapes Typed requests; accepting it elsewhere would
      // let a user believe provider-native structured output is active
      // while every request goes out as a plain chat completion.
      require(output.responseFormat == ResponseFormat.Typed,
        s"llm.structuredMode '$m' requires output.responseFormat = Typed " +
          s"(got ${output.responseFormat}); the mode shapes Typed requests only")
    }
    llm.reasoningEffort.foreach { e =>
      require(StructuredModes.Efforts.contains(e.toLowerCase),
        s"llm.reasoningEffort '$e' not in " +
          StructuredModes.Efforts.mkString("/"))
    }
    if (output.responseFormat == ResponseFormat.Regex)
      require(output.outputColumns.forall(output.regexPatterns.contains),
        "every output column needs a regex pattern in Regex format")
    if (output.responseFormat == ResponseFormat.Typed) {
      val schema = output.typedSchema.getOrElse(
        throw new IllegalArgumentException(
          "Typed format requires OutputSpec.typedSchema"))
      val missing2 = output.outputColumns.filterNot(schema.fieldNames.contains)
      require(missing2.isEmpty,
        s"output columns absent from typedSchema: ${missing2.mkString(",")}")
    }
  }
}
