package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Json, PipelineSpec}
import graft.llm.MockLlmClient
import graft.ops.{ResponseParser, ResultMerger, RowIndex}

/** Provider batch mode: the 50%-cheaper async path — compile prompts to
  * JSONL, hand them to a provider batch API, detach, and assemble results
  * in a later process (reference: ondine/orchestration/backends/
  * provider_batch.py:85-527; run split ondine/api/pipeline.py:1892-2030;
  * state machine ondine/orchestration/run_registry.py:49-85).
  *
  * The run splits into:
  *  - FRONT half (`submit`): load → index → format → write
  *    `runDir/batch_input` JSONL (custom_id = _row_index) → backend.submit
  *    → persist state SUBMITTED_REMOTE;
  *  - BACK half (`collect`): backend.collect → read results JSONL → join on
  *    custom_id → parse → merge → final frame; state SUCCEEDED.
  *
  * `BatchBackend` abstracts the provider; the bundled `LocalMockBackend`
  * "uploads" by reading the JSONL and answering deterministically (md5),
  * which exercises every seam except the network.
  */
object ProviderBatch {

  trait BatchBackend {
    /** Returns the provider job id. */
    def submit(inputJsonlDir: String): String
    /** PENDING / RUNNING / SUCCEEDED / FAILED. */
    def poll(jobId: String): String
    /** Returns a directory of result JSONL {custom_id, response}. */
    def collect(jobId: String): String
  }

  /** Zero-network stand-in for a provider batch API. */
  final class LocalMockBackend(spark: SparkSession, workDir: String)
      extends BatchBackend {
    def submit(inputJsonlDir: String): String = {
      val jobId = s"local-${Integer.toHexString(inputJsonlDir.hashCode)}"
      val in = spark.read.json(inputJsonlDir)
      in.select(col("custom_id"),
        md5(col("prompt")).as("response"))
        .write.mode("overwrite").json(s"$workDir/$jobId")
      jobId
    }
    def poll(jobId: String): String = LocalMockBackend.poll(workDir, jobId)
    def collect(jobId: String): String = s"$workDir/$jobId"
  }

  object LocalMockBackend {
    /** Poll is a pure filesystem probe — no SparkSession — so a status
      * CLI can check a SUBMITTED_REMOTE run without starting Spark: the
      * job is done when the result write committed (Spark's _SUCCESS
      * marker), PENDING before, FAILED if the dir exists without a
      * committed write. */
    def poll(workDir: String, jobId: String): String = {
      val dir = new java.io.File(s"$workDir/$jobId")
      if (new java.io.File(dir, "_SUCCESS").exists()) "SUCCEEDED"
      else if (dir.exists()) "FAILED"
      else "PENDING"
    }
  }

  final case class BatchRun(jobId: String, state: String)

  private def registryPath(runDir: String) = s"$runDir/registry.json"

  private def saveState(runDir: String, run: BatchRun): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(runDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(registryPath(runDir)),
      Json.write(Json.obj("job_id" -> run.jobId, "state" -> run.state)))
  }

  def loadState(runDir: String): Option[BatchRun] = {
    val p = java.nio.file.Paths.get(registryPath(runDir))
    if (!java.nio.file.Files.exists(p)) None
    else {
      val n = Json.read(java.nio.file.Files.readString(p))
      for (i <- Option(n.get("job_id")); s <- Option(n.get("state")))
        yield BatchRun(i.asText, s.asText)
    }
  }

  /** FRONT half: format prompts, write JSONL, submit, detach. */
  def submit(df: DataFrame, spec: PipelineSpec, runDir: String,
             backend: BatchBackend,
             keyColumn: Option[String] = None): BatchRun = {
    spec.validate()
    val indexed = RowIndex.withRowIndex(df, keyColumn)
    val jsonlDir = s"$runDir/batch_input"
    indexed
      .withColumn("prompt", graft.core.TemplateCompiler.compileFull(spec.prompt))
      .select(col(RowIndex.ColName).as("custom_id"), col("prompt"))
      .write.mode("overwrite").json(jsonlDir)
    val jobId = backend.submit(jsonlDir)
    val run = BatchRun(jobId, "SUBMITTED_REMOTE")
    saveState(runDir, run)
    run
  }

  /** BACK half: fetch results, assemble the enriched frame. */
  def collect(df: DataFrame, spec: PipelineSpec, runDir: String,
              backend: BatchBackend,
              keyColumn: Option[String] = None): DataFrame = {
    val run = loadState(runDir).getOrElse(
      throw new IllegalStateException(s"no submitted run in $runDir"))
    val status = backend.poll(run.jobId)
    require(status == "SUCCEEDED", s"provider job ${run.jobId} is $status")
    val spark = df.sparkSession
    val results = spark.read.json(backend.collect(run.jobId))
      .select(col("custom_id").cast("long").as(RowIndex.ColName),
        col("response").as("result"),
        lit(false).as("skipped"))
    val parsed = ResponseParser.parse(results, spec.output)
    val indexed = RowIndex.withRowIndex(df, keyColumn)
    val merged = ResultMerger.merge(indexed, parsed,
      spec.output.outputColumns, spec.output.mergeStrategy)
    saveState(runDir, run.copy(state = "SUCCEEDED"))
    merged.drop(RowIndex.ColName)
  }
}
