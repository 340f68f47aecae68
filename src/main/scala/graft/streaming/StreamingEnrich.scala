package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.core.PipelineSpec
import graft.llm.LlmClient
import graft.run.{BudgetExceededException, Enricher}

/** Streaming enrichment: Structured Streaming micro-batches through the
  * enrichment pipeline (reference: execute_stream_async,
  * ondine/api/pipeline.py:1326-1497 — bounded-queue chunked execution with
  * cumulative budget; here the stream engine supplies the queueing,
  * backpressure and lookahead, and `foreachBatch` runs the same Enricher
  * used in batch mode).
  *
  * Cumulative budget across micro-batches (reference :1460-1462): the
  * spec's `processing.maxBudget` caps the whole stream, not each batch.
  * Spend accumulates driver-side; the batch whose spend crosses the cap
  * still reaches the sink, then the query fails with
  * [[BudgetExceededException]] — rows already enriched are already
  * written (micro-batch durability).
  */
object StreamingEnrich {

  /** Wire a streaming DataFrame through enrichment into `sink`.
    * Returns the started query (AvailableNow when `drainAll`).
    *
    * Durability at the CALL grain (r12): with `runDir` set, each
    * micro-batch enriches against its OWN chunked response ledger
    * (`runDir/batch_<id>` — per-batch, so ledger reads never grow with
    * stream length). Structured Streaming replays an uncommitted batch
    * wholesale after a crash; the replayed Enricher anti-joins its
    * partial ledger and re-invokes ONLY the calls whose chunk never
    * landed — a kill -9 mid-batch loses zero completed-chunk work and
    * double-invokes nothing durable (StreamingCrashSpec proves it with a
    * JVM halt; StreamingEnrichSpec replays a committed batch for the
    * zero-new-calls assert). `keyColumn` must uniquely key rows WITHIN
    * a batch (cross-batch uniqueness not required — ledgers are
    * batch-scoped). The sink still owns idempotent delivery of the
    * replayed batch's rows (overwrite-by-batchId or dedup-at-read).
    *
    * A batch's ledger is only useful until the engine COMMITS that
    * batch (a committed batch never replays), so once batch N's sink
    * returns, the ledgers of batches < N are dead weight — on an
    * unbounded stream they would grow runDir forever, so they are
    * deleted best-effort. */
  def start(stream: DataFrame, spec: PipelineSpec, client: LlmClient,
            checkpointDir: String,
            sink: (DataFrame, Long) => Unit,
            drainAll: Boolean = true,
            runDir: Option[String] = None,
            keyColumn: Option[String] = None): StreamingQuery = {
    // strip the budget from the per-batch spec: enforcement is cumulative
    // across batches out here, not per-batch in there
    val maxBudget = spec.processing.maxBudget
    val batchSpec = spec.copy(processing =
      spec.processing.copy(maxBudget = None))
    var spent = java.math.BigDecimal.ZERO
    val writer: DataStreamWriter[Row] = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val batchLedger = runDir.map(d => f"$d/batch_$batchId%06d")
          val r = new Enricher(batchSpec, client, batchLedger, keyColumn)
            .enrich(batch)
          sink(r.data, batchId)
          // previous batches are committed by the time this one runs
          // (micro-batches execute sequentially) — their ledgers can
          // never be read again; drop them so runDir stays bounded.
          // Hadoop FileSystem, not java.io.File: the ledgers are
          // written via Spark parquet, so runDir may be hdfs://, s3a://
          // etc. — a local-only listing silently never deletes there
          runDir.foreach { d =>
            try {
              val base = new org.apache.hadoop.fs.Path(d)
              val fs = base.getFileSystem(
                batch.sparkSession.sessionState.newHadoopConf())
              fs.listStatus(base).foreach { st =>
                val name = st.getPath.getName
                val digits = name.stripPrefix("batch_")
                if (st.isDirectory && name.startsWith("batch_") &&
                    digits.nonEmpty && digits.length <= 18 &&
                    digits.forall(_.isDigit) && digits.toLong < batchId)
                  try fs.delete(st.getPath, true)
                  catch { case _: Exception => () }
              }
            } catch { case _: Exception => () }
          }
          spent = spent.add(r.metrics.cost)
          maxBudget.foreach { cap =>
            if (spent.compareTo(cap.bigDecimal) > 0)
              throw new BudgetExceededException(
                s"cumulative streaming budget exceeded: $spent > $cap")
          }
        }
      }
    (if (drainAll) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
