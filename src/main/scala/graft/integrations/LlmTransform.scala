package graft.integrations

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Json
import graft.llm.{LlmClient, LlmClients}
import graft.run.{ConfigLoader, Enricher, Observer, ObserverDispatcher,
  PipelineEvent, RunCompleted, RunFailed}
import graft.sources.Sources
import graft.sources.Sources.ReadOptions

/** Orchestrator-facing one-call transform (reference:
  * ondine/integrations/airflow.py:23-166 `LLMTransformOperator` and
  * ondine/integrations/prefect.py:30-131 `llm_transform_task`): load a
  * config file, apply per-invocation overrides, enrich the input, write
  * the output, return metrics the orchestrator can log and pass along.
  *
  * On Spark the natural Airflow/Prefect unit is a `spark-submit` of
  * `graft.Main process` (the orchestrator process never holds the data —
  * paths flow through XCom/flow state, frames stay on the cluster). This
  * object is the task BODY both shells call, also usable directly from
  * any JVM-side orchestrator or a notebook:
  *
  * Airflow DAG (paths via XCom, metrics JSON from the driver log):
  * {{{
  * llm_task = SparkSubmitOperator(
  *     task_id="llm_enrichment",
  *     application="graft.jar",
  *     java_class="graft.Main",
  *     application_args=[
  *         "process",
  *         "--config", "configs/enrich.yaml",
  *         "--input", "{{ ti.xcom_pull(key='raw_path') }}",
  *         "--output", "warehouse/enriched.parquet",
  *         "--run-dir", "runs/{{ run_id }}",      # durable + resumable
  *     ],
  *     dag=dag)
  * }}}
  *
  * Prefect flow (same shape, `ShellOperation` or `subprocess`):
  * {{{
  * @task(name="llm_transform")
  * def llm_transform(config_path: str, input_path: str, output_path: str):
  *     run(["spark-submit", "--class", "graft.Main", "graft.jar",
  *          "process", "--config", config_path,
  *          "--input", input_path, "--output", output_path])
  *     return output_path
  * }}}
  *
  * `graft.Main process` runs this body, and the last line it prints is
  * [[TransformResult.toJson]] — parse it for the XCom metrics push.
  */
object LlmTransform {

  /** What the orchestrator gets back: where the data landed plus the
    * metrics the reference operator logs (rows, cost, duration). */
  final case class TransformResult(
      data: DataFrame,
      outputPath: Option[String],
      rows: Long,
      validRows: Long,
      calls: Long,
      tokensIn: Long,
      tokensOut: Long,
      skipped: Long,
      cost: String,
      durationMs: Long,
      quality: String,
      successRate: Double) {

    /** One-line JSON for XCom / flow-state handoff. */
    def toJson: String = Json.write(Json.obj("output_path" -> outputPath,
      "rows" -> rows, "valid_rows" -> validRows, "calls" -> calls,
      "tokens_in" -> tokensIn, "tokens_out" -> tokensOut,
      "skipped" -> skipped, "cost" -> cost, "duration_ms" -> durationMs,
      "quality" -> quality, "success_rate" -> successRate))
  }

  /** The task body. Input comes from exactly one of `inputData` (a frame
    * handed over by a previous task — the XCom path) or `inputPath` (any
    * suffix [[Sources]] reads). Overrides mirror the reference operator's:
    * `maxBudget` caps spend for this invocation, `modelOverride` swaps
    * the model id, `endpointOverride` swaps the provider endpoint (the
    * Spark-first equivalent of `provider_override` — provider selection
    * IS the endpoint here, see [[LlmClients.providers]]). `runDir` makes
    * the run durable/resumable, which is what a retried Airflow task
    * wants: the re-execution anti-joins the ledger and only re-issues
    * missing calls. */
  def run(spark: SparkSession,
          configPath: String,
          inputData: Option[DataFrame] = None,
          inputPath: Option[String] = None,
          outputPath: Option[String] = None,
          maxBudget: Option[BigDecimal] = None,
          modelOverride: Option[String] = None,
          endpointOverride: Option[String] = None,
          runDir: Option[String] = None,
          keyColumn: Option[String] = None,
          observers: ObserverDispatcher = new ObserverDispatcher,
          /** Test seam; None = select by spec ([[LlmClients.forSpec]]). */
          client: Option[LlmClient] = None): TransformResult = {
    val spec0 = ConfigLoader.fromFile(configPath)
    val spec1 = maxBudget match {
      case Some(b) =>
        spec0.copy(processing = spec0.processing.copy(maxBudget = Some(b)))
      case None => spec0
    }
    val spec2 = modelOverride match {
      case Some(m) => spec1.copy(llm = spec1.llm.copy(model = m))
      case None => spec1
    }
    val spec = endpointOverride match {
      case Some(e) => spec2.copy(llm = spec2.llm.copy(endpoint = Some(e)))
      case None => spec2
    }
    val df = (inputData, inputPath) match {
      case (Some(d), _) => d
      case (None, Some(p)) => Sources.read(spark, p, ReadOptions.of(spec.dataset))
      case (None, None) => throw new IllegalArgumentException(
        "either inputData or inputPath is required")
    }
    val cl = client.getOrElse(LlmClients.forSpec(spec.llm, spec.output))
    // the observers hear of the run's completion once its output is
    // written: a registry row that reads SUCCEEDED or PARTIAL has its
    // output in place, and a failed write ends the run FAILED
    var completed: Option[RunCompleted] = None
    val held = new ObserverDispatcher
    if (observers.nonEmpty) held.register(new Observer {
      def onEvent(e: PipelineEvent): Unit = e match {
        case c: RunCompleted => completed = Some(c)
        case other => observers.emit(other)
      }
      override def wantsCallGrain: Boolean = observers.wantsCallGrain
    })
    val r = new Enricher(spec, cl, runDir, keyColumn, held).enrich(df)
    try outputPath.foreach(p => Sources.write(r.data, p))
    catch { case e: Throwable =>
      completed.foreach(c =>
        observers.emit(RunFailed(c.runId, String.valueOf(e.getMessage))))
      throw e
    }
    completed.foreach(observers.emit)
    val m = r.metrics
    TransformResult(r.data, outputPath, m.rows, r.quality.validRows, m.calls,
      m.tokensIn, m.tokensOut, m.skippedRows, m.cost.toString, m.durationMs,
      r.quality.rating, r.quality.successRate)
  }
}
