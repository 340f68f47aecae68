package graft

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.core.{Json, PipelineSpec}
import graft.run.{CostEstimator, ProviderBatch, RunRegistry, RunState}

/** The bodies of the commands the CLI ([[Main]]) and the MCP server
  * ([[graft.mcp.McpServer]]) share. Each returns Jackson nodes: the CLI
  * prints them one per line, the MCP server returns them as tool
  * payloads. Only [[estimate]] touches Spark, through the frame it is
  * given.
  */
object Commands {

  /** `validate` (reference: ondine/cli/main.py:743 — check a config for
    * errors without executing the pipeline): parse with `load`, then the
    * spec-combination checks. A parse or check failure is an answer
    * (`"valid":false` and the error), not an exception. */
  def validate(load: => PipelineSpec): ObjectNode =
    try {
      val spec = load
      spec.validate()
      Json.obj("valid" -> true,
        "input_columns" -> spec.dataset.inputColumns,
        "output_columns" -> spec.output.outputColumns,
        "model" -> spec.llm.model,
        "batch_size" -> spec.prompt.batchSize,
        "concurrency" -> spec.llm.concurrency,
        "response_format" -> String.valueOf(spec.output.responseFormat),
        "max_budget" -> spec.processing.maxBudget.map(_.toString))
    } catch {
      case e: Exception =>
        Json.obj("valid" -> false, "error" -> String.valueOf(e.getMessage))
    }

  /** `estimate`: the sample-based cost projection; spends nothing.
    * `batch_fit` is "ok" or the message naming a batch that overflows the
    * model's context window. */
  def estimate(input: DataFrame, spec: PipelineSpec): ObjectNode = {
    val e = CostEstimator.estimate(input, spec)
    Json.obj("total_rows" -> e.totalRows, "sample_rows" -> e.sampleRows,
      "est_tokens_in" -> e.estTokensIn, "est_tokens_out" -> e.estTokensOut,
      "est_cost" -> e.estCost.toString, "confidence" -> e.confidence,
      "batch_fit" -> e.batchFit.getOrElse("ok"))
  }

  /** `status` (reference: ondine/cli/main.py:1125 — poll the live status
    * of a run): the registry row, a progress object with the done/total
    * fraction, and — for a SUBMITTED_REMOTE run — the provider job id
    * plus a LIVE provider poll, all without collecting results. Left
    * holds the error object of an unknown run. */
  def status(registry: RunRegistry,
             runId: String): Either[ObjectNode, Seq[ObjectNode]] =
    registry.get(runId) match {
      case None => Left(Json.obj("error" -> s"unknown run: $runId"))
      case Some(r) =>
        val pct =
          if (r.totalRows > 0) r.rows.toDouble / r.totalRows * 100.0 else 0.0
        val progress = Json.obj(
          "progress_pct" -> math.round(pct * 10) / 10.0,
          "rows_done" -> r.rows, "total_rows" -> r.totalRows, "cost" -> r.cost)
        val provider =
          if (r.state != RunState.SubmittedRemote) Nil
          else ProviderBatch.loadState(r.runDir).map { b =>
            val live = ProviderBatch.LocalMockBackend
              .poll(s"${r.runDir}/provider", b.jobId)
            Json.obj("provider_job_id" -> b.jobId, "provider_state" -> live)
          }.toSeq
        Right(Seq(registry.toJson(r), progress) ++ provider)
    }

  /** `list-checkpoints` (reference: ondine/cli/main.py:836 — list
    * resumable checkpoints with their progress): the runs whose state the
    * resume path can re-drive (RUNNING = a crashed attempt, FAILED,
    * PARTIAL — the ledger anti-join skips every completed call), each
    * registry row with its [[ledgerStats]]. */
  def listCheckpoints(registry: RunRegistry): Seq[ObjectNode] = {
    val resumable = Set(RunState.Running, RunState.Failed, RunState.Partial)
    registry.list().filter(r => resumable(r.state))
      .map(r => registry.toJson(r).setAll[ObjectNode](ledgerStats(r.runDir)))
  }

  /** `list-providers`: the client kinds and how a config selects each. */
  def listProviders(): Seq[ObjectNode] =
    graft.llm.LlmClients.providers.map { case (id, sel, desc) =>
      Json.obj("provider" -> id, "selector" -> sel, "description" -> desc)
    }

  /** The parquet files directly under `runDir/responses` and their bytes,
    * listed through the Hadoop FileSystem, so a `file:` or `hdfs:` run dir
    * counts like a plain path. A missing ledger, or a run without a run
    * dir, has none. */
  def ledgerStats(runDir: String): ObjectNode = {
    val files =
      if (runDir.isEmpty) Seq.empty
      else {
        val dir = new Path(runDir, "responses")
        val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }
    Json.obj("ledger_files" -> files.size,
      "ledger_bytes" -> files.map(_.getLen).sum)
  }
}
