package graft.run

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import graft.core._

/** YAML/JSON config → spec tree, with `${ENV_VAR}` / `${ENV_VAR:-default}`
  * expansion (reference: ondine/config/config_loader.py:26-174; env
  * expansion :78-108). Uses jackson-dataformat-yaml from the Spark
  * classpath — no extra dependency.
  *
  * Schema (all sections optional except prompt/output):
  * {{{
  * dataset:    { input_columns: [text], filters: {lang: en}, delimiter: ",", encoding: UTF-8 }
  * prompt:     { template: "Classify: {text}", system_message: ..., batch_size: 15 }
  * llm:        { model: mock, input_cost_per_1k: 0.001, output_cost_per_1k: 0.002,
  *               concurrency: 8, adaptive_concurrency: true, max_concurrency: 64,
  *               requests_per_minute: 600, max_retries: 3, backoff_base_ms: 10,
  *               backoff_cap_ms: 60000, timeout_ms: 180000,
  *               endpoint: "https://api.example/v1/chat/completions",
  *               api_key_env: MY_API_KEY,
  *               structured_mode: auto|tools|json|json_schema,
  *               reasoning_effort: minimal|low|medium|high }
  * processing: { error_policy: skip|retry|fail|use_default, default_value: "",
  *               max_budget: 5.0, chunk_rows: 100000, auto_retry_attempts: 1,
  *               preprocess_input: true, max_input_length: 2000 }
  * output:     { output_columns: [sentiment], response_format: raw|json|regex|typed,
  *               regex_patterns: {col: pattern}, merge_strategy: replace|append|update,
  *               typed_schema: "label STRING, score INT" }
  * evidence:   { id_col: claim_id, text_col: text, source_col: src, top_k: 3,
  *               min_score: 0.1 }
  * }}}
  *
  * A missing key takes the spec case class's own default, so a file and
  * the builder agree on every value left unset. An unknown
  * `error_policy`, `response_format` or `merge_strategy` is an error that
  * names the accepted values.
  *
  * `llm.rate_limit_scope_file` selects the shared rate bucket:
  * `redis://host:port/scope` (exact global bucket; the only accepted
  * form); `output.typed_schema` is a Spark DDL string.
  */
object ConfigLoader {

  private lazy val yaml = new ObjectMapper(new YAMLFactory())
  private lazy val json = new ObjectMapper()

  def fromYaml(text: String): PipelineSpec =
    fromTree(yaml.readTree(expandEnv(text)))

  def fromJson(text: String): PipelineSpec =
    fromTree(json.readTree(expandEnv(text)))

  def fromFile(path: String): PipelineSpec = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    if (path.endsWith(".json")) fromJson(text) else fromYaml(text)
  }

  /** `${VAR}` → env value (error if unset), `${VAR:-default}` → default
    * when unset (reference :78-108 semantics). */
  def expandEnv(text: String,
                             env: String => Option[String] =
                               k => sys.env.get(k)): String = {
    val pat = "\\$\\{([A-Za-z_][A-Za-z0-9_]*)(:-([^}]*))?\\}".r
    pat.replaceAllIn(text, m => {
      val key = m.group(1)
      val default = Option(m.group(3))
      env(key).orElse(default).getOrElse(
        throw new IllegalArgumentException(
          s"config references unset environment variable: $key"))
        .replace("\\", "\\\\").replace("$", "\\$")
    })
  }

  private def fromTree(root: JsonNode): PipelineSpec = {
    def section(name: String): Option[JsonNode] =
      Option(root.get(name)).filterNot(_.isNull)
    def str(n: JsonNode, f: String): Option[String] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText())
    def num(n: JsonNode, f: String): Option[Int] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asInt())
    def dec(n: JsonNode, f: String): Option[BigDecimal] =
      Option(n.get(f)).filterNot(_.isNull).map(v => BigDecimal(v.asText()))
    def bool(n: JsonNode, f: String): Option[Boolean] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean())
    def strs(n: JsonNode, f: String): Seq[String] =
      Option(n.get(f)).filterNot(_.isNull).toSeq.flatMap { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }
    /** `section.f`, one of `accepted` (case-insensitive) when present. */
    def choice[A](n: JsonNode, section: String, f: String,
                  accepted: Seq[(String, A)]): Option[A] =
      str(n, f).map { v =>
        accepted.collectFirst { case (name, a) if name == v.toLowerCase => a }
          .getOrElse(throw new IllegalArgumentException(
            s"$section.$f '$v' not in ${accepted.map(_._1).mkString("/")}"))
      }
    def strMap(n: JsonNode, f: String): Map[String, String] =
      Option(n.get(f)).filterNot(_.isNull).map { o =>
        val it = o.fieldNames()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) { val k = it.next(); b += k -> o.get(k).asText() }
        b.result()
      }.getOrElse(Map.empty)

    val ds = section("dataset")
    val pr = section("prompt").getOrElse(
      throw new IllegalArgumentException("config missing 'prompt' section"))
    val lm = section("llm")
    val pc = section("processing")
    val out = section("output").getOrElse(
      throw new IllegalArgumentException("config missing 'output' section"))

    val template = str(pr, "template").getOrElse(
      throw new IllegalArgumentException("prompt.template is required"))
    val templateFormat = str(pr, "template_format")
    val inputCols = ds.map(strs(_, "input_columns")).filter(_.nonEmpty)
      .getOrElse(TemplateCompiler.variables(template, templateFormat))

    val dsDef = DatasetSpec(inputColumns = Nil)
    val prDef = PromptSpec(template = "")
    val lmDef = LlmSpec()
    val pcDef = ProcessingSpec()
    val outDef = OutputSpec(outputColumns = Nil)
    val evDef = EvidenceSpec()
    PipelineSpec(
      dataset = DatasetSpec(
        inputColumns = inputCols,
        filters = ds.map(strMap(_, "filters")).getOrElse(dsDef.filters),
        delimiter = ds.flatMap(str(_, "delimiter"))
          .getOrElse(dsDef.delimiter),
        encoding = ds.flatMap(str(_, "encoding")).getOrElse(dsDef.encoding)),
      prompt = PromptSpec(
        template = template,
        templateFormat = templateFormat,
        systemMessage = str(pr, "system_message"),
        batchSize = num(pr, "batch_size").getOrElse(prDef.batchSize)),
      llm = lm.map(n => LlmSpec(
        model = str(n, "model").getOrElse(lmDef.model),
        inputCostPer1k = dec(n, "input_cost_per_1k")
          .getOrElse(lmDef.inputCostPer1k),
        outputCostPer1k = dec(n, "output_cost_per_1k")
          .getOrElse(lmDef.outputCostPer1k),
        concurrency = num(n, "concurrency").getOrElse(lmDef.concurrency),
        adaptiveConcurrency = bool(n, "adaptive_concurrency")
          .getOrElse(lmDef.adaptiveConcurrency),
        maxConcurrency = num(n, "max_concurrency")
          .getOrElse(lmDef.maxConcurrency),
        requestsPerMinute = num(n, "requests_per_minute"),
        rateLimitScopeFile = str(n, "rate_limit_scope_file"),
        rateLimitSplit = num(n, "rate_limit_split"),
        maxRetries = num(n, "max_retries").getOrElse(lmDef.maxRetries),
        backoffBaseMs = num(n, "backoff_base_ms").map(_.toLong)
          .getOrElse(lmDef.backoffBaseMs),
        backoffCapMs = num(n, "backoff_cap_ms").map(_.toLong)
          .getOrElse(lmDef.backoffCapMs),
        timeoutMs = num(n, "timeout_ms").map(_.toLong)
          .getOrElse(lmDef.timeoutMs),
        endpoint = str(n, "endpoint"),
        apiKeyEnv = str(n, "api_key_env"),
        structuredMode = str(n, "structured_mode"),
        reasoningEffort = str(n, "reasoning_effort")))
        .getOrElse(lmDef),
      processing = pc.map(n => ProcessingSpec(
        errorPolicy = choice(n, "processing", "error_policy", Seq(
          "retry" -> ErrorPolicy.Retry, "skip" -> ErrorPolicy.Skip,
          "fail" -> ErrorPolicy.Fail, "use_default" -> ErrorPolicy.UseDefault))
          .getOrElse(pcDef.errorPolicy),
        defaultValue = str(n, "default_value").getOrElse(pcDef.defaultValue),
        maxBudget = dec(n, "max_budget"),
        chunkRows = num(n, "chunk_rows").getOrElse(pcDef.chunkRows),
        autoRetryAttempts = num(n, "auto_retry_attempts")
          .getOrElse(pcDef.autoRetryAttempts),
        preprocessInput = bool(n, "preprocess_input")
          .getOrElse(pcDef.preprocessInput),
        maxInputLength = num(n, "max_input_length")))
        .getOrElse(pcDef),
      output = OutputSpec(
        outputColumns = strs(out, "output_columns"),
        responseFormat = choice(out, "output", "response_format", Seq(
          "raw" -> ResponseFormat.Raw, "json" -> ResponseFormat.Json,
          "regex" -> ResponseFormat.Regex, "typed" -> ResponseFormat.Typed))
          .getOrElse(outDef.responseFormat),
        regexPatterns = strMap(out, "regex_patterns"),
        mergeStrategy = choice(out, "output", "merge_strategy", Seq(
          "replace" -> MergeStrategy.Replace,
          "append" -> MergeStrategy.Append,
          "update" -> MergeStrategy.Update))
          .getOrElse(outDef.mergeStrategy),
        typedSchema = str(out, "typed_schema").map(
          org.apache.spark.sql.types.StructType.fromDDL)),
      evidence = section("evidence").map(n => EvidenceSpec(
        idCol = str(n, "id_col").getOrElse(evDef.idCol),
        textCol = str(n, "text_col").getOrElse(evDef.textCol),
        sourceCol = str(n, "source_col"),
        topK = num(n, "top_k").getOrElse(evDef.topK),
        minScore = str(n, "min_score").map(_.toDouble).getOrElse(evDef.minScore))))
  }
}
