package graft.run

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core._
import graft.llm.LlmClient
import graft.ops._

/** Run metrics (reference: ProcessingStats + CostEstimate,
  * ondine/core/models.py:72-82,143-355). Cost is exact Decimal, computed
  * from per-call records deduplicated by (attempt, call) — idempotent under
  * Spark task retry. Calls, tokens and cost cover the first pass and the
  * auto-retry redo calls. */
final case class RunMetrics(
    rows: Long,
    calls: Long,
    tokensIn: Long,
    tokensOut: Long,
    cost: JBigDecimal,
    skippedRows: Long,
    durationMs: Long)

final case class EnrichResult(
    data: DataFrame,
    metrics: RunMetrics,
    quality: QualityReport)

/** The pipeline facade — the Spark re-expression of the reference's
  * `enrich()` / `Pipeline.execute()` lifecycle (ondine/api/enrich.py:45-161,
  * ondine/api/pipeline.py:642-927):
  *
  *   filters → _row_index → [preprocess] → prompt expr →
  *   Invoke (batch + disaggregate fused) → parse → auto-retry →
  *   merge → quality guard
  *
  * Two execution shapes:
  *
  *  - FAST PATH (no runDir, no budget): one narrow pass. Original columns
  *    ride through the Invoke operator, so there is NO merge join, NO
  *    shuffle at all — `_row_index` comes from monotonically_increasing_id
  *    (per-partition unique; resume determinism not needed here). ONE
  *    Spark action in the happy path: a single aggregation materializes
  *    the invocation (persisted) and emits quality counters, the
  *    auto-retry blank probe, and per-call metrics together.
  *
  *  - DURABLE PATH (runDir set and/or budget capped): driver-chunked loop
  *    over key-range slices of one work set (keys and prompts, flagged
  *    done or missing against the ledger), materialized once per attempt
  *    from a snapshot of the done keys that a chunk's ledger write cannot
  *    refresh, so the input is read once whatever the chunk count;
  *    every completed call lands in the call journal
  *    (`runDir/journal/<attempt>`, see [[graft.ops.CallJournal]]) as its
  *    rows are emitted, and every chunk in the `runDir/responses` parquet
  *    ledger before the run advances (reference headline: 0 rows lost on
  *    kill -9 — SURVEY §7.4). A chunk's journal is deleted once the chunk
  *    is in the ledger; a journal left by a killed attempt is folded into
  *    the ledger by the next run before it reads the ledger (an attempt
  *    that fails with an error folds its own), so a kill re-pays at most
  *    the calls in flight. Resume = the input's rows whose keys the
  *    ledger has no result for (an anti-join, as the work set's missing
  *    rows); task-retry duplicates (and a journal that outlived its
  *    chunk's commit) dedupe at read by preferring non-null results then
  *    latest attempt. Budget is enforced before the first chunk, between
  *    chunks and after each auto-retry pass, from the exact call ledger
  *    plus the redo calls.
  *
  * Both shapes send each distinct prompt at most once per Invoke per
  * executor (Invoke's single-flight table): rows repeating a prompt carry
  * the leader's `_call_id` and spend columns, so per-call metrics (the
  * head-row marker, or `dropDuplicates("_attempt", "_call_id")`) count the
  * call once. Each auto-retry pass and each durable chunk is its own
  * Invoke, so a blank answer is never served back to its own retry.
  * The run's call pool and limiter are released when `enrich` returns.
  */
final class Enricher(
    spec: PipelineSpec,
    client: LlmClient,
    runDir: Option[String] = None,
    keyColumn: Option[String] = None,
    observers: ObserverDispatcher = new ObserverDispatcher,
    /** Evidence corpus for spec.evidence — rows (idCol, textCol). */
    evidenceCorpus: Option[DataFrame] = None) {

  import RowIndex.ColName

  /** Render the prompt; with evidence configured, first attach
    * `_evidence_context`/`_evidence_count` by distributed top-k retrieval
    * (the rendered base template is the retrieval query) and inject the
    * context block (evidence_retrieval_stage.py:57-113 semantics). */
  private def formatWithEvidence(indexed: DataFrame): DataFrame =
    (spec.evidence, evidenceCorpus) match {
      case (Some(ev), Some(corpus)) =>
        val withQ = indexed.withColumn("_ev_query",
          TemplateCompiler.compile(spec.prompt.template,
            spec.prompt.templateFormat))
        val attached = graft.verify.EvidenceRetrieval.attach(
          withQ, ColName, "_ev_query", corpus, ev.idCol, ev.textCol,
          ev.topK, ev.minScore, ev.sourceCol).drop("_ev_query")
        attached.withColumn("prompt", TemplateCompiler.compileFull(
          spec.prompt, evidenceContext = Some(col("_evidence_context"))))
      case (Some(_), None) => throw new IllegalArgumentException(
        "spec.evidence set but no evidenceCorpus passed to Enricher")
      case _ => indexed.withColumn("prompt",
        TemplateCompiler.compileFull(spec.prompt))
    }

  private val internalCols = Seq("prompt", "result", "error", "skipped",
    "_call_id", "call_rows", "tokens_in", "tokens_out", "cost",
    "latency_ms", "model", "_attempt")

  def enrich(df: DataFrame): EnrichResult = {
    val t0 = System.nanoTime()
    spec.validate()
    val attemptSalt = System.currentTimeMillis()
    // unique per inline run: the run's call pool is shut down when it
    // ends, which must not reach a concurrent run started the same ms
    val runId = runDir.map(_.replaceAll("[^A-Za-z0-9]", "_"))
      .getOrElse(s"inline_${attemptSalt}_${Enricher.inlineRuns.incrementAndGet()}")

    // 1. load-time equality filters (pushed to the scan by Catalyst)
    val filtered = spec.dataset.filters.foldLeft(df) { case (d, (c, v)) =>
      d.filter(col(c) === lit(v))
    }

    // 2. optional input preprocessing on the template's input columns
    val pre =
      if (!spec.processing.preprocessInput) filtered
      else TemplateCompiler.variables(spec.prompt.template,
        spec.prompt.templateFormat).foldLeft(filtered) {
        (d, c) => d.withColumn(c, Preprocess.clean(col(c),
          spec.processing.maxInputLength))
      }

    val durable = runDir.isDefined || spec.processing.maxBudget.isDefined
    observers.emit(RunStarted(runId))
    try {
      val r =
        if (durable) enrichDurable(pre, runId, attemptSalt, t0)
        else enrichInline(pre, runId, attemptSalt, t0)
      observers.emit(RunCompleted(runId, r.metrics, r.quality))
      r
    } catch { case e: Throwable =>
      observers.emit(RunFailed(runId, String.valueOf(e.getMessage)))
      throw e
    } finally {
      // the run's results are materialized (persisted); a recompute of
      // `r.data` recreates the pool and limiter on demand
      ClientPool.shutdown(runId)
    }
  }

  // --- fast path --------------------------------------------------------

  private def enrichInline(pre: DataFrame, runId: String,
                           attemptSalt: Long, t0: Long): EnrichResult = {
    val outs = spec.output.outputColumns
    val overlap = pre.columns.toSet.intersect(outs.toSet)
    if (spec.output.mergeStrategy == MergeStrategy.Append)
      require(overlap.isEmpty,
        s"APPEND merge: output columns already exist: ${overlap.mkString(",")}")
    // UPDATE semantics: stash originals, coalesce after parse
    val stashed = if (spec.output.mergeStrategy == MergeStrategy.Update)
      overlap.foldLeft(pre)((d, c) => d.withColumnRenamed(c, s"_old_$c"))
    else pre

    val addedIndex = !stashed.columns.contains(ColName)
    val indexed = keyColumn match {
      case Some(k) => stashed.withColumn(ColName, RowIndex.keyExpr(stashed, k))
      case None if !addedIndex => stashed
      case None => stashed.withColumn(ColName, monotonically_increasing_id())
    }
    val formatted = formatWithEvidence(indexed)
    val invoked = Invoke(formatted, client, spec.prompt, spec.llm,
      spec.processing, runId)
      .withColumn("_attempt", lit(attemptSalt))

    // single persist + ONE aggregation action in the happy path: quality
    // counters, the auto-retry blank probe, and per-call metrics (via the
    // head-row-of-call marker `_row_index == _call_id`) all come out of
    // the same pass that materializes the invocation.
    val parsed0 = ResponseParser.parse(invoked, spec.output)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val aggCols = qualityAggs ++ headRowCallAggs
    val row0 = parsed0.agg(aggCols.head, aggCols.tail: _*).head()

    // per-call observability on the fast path: same ledger-shaped columns
    // ride the persisted frame, so the replay reuses the durable path's
    // contract (deterministic ids from (runId, attempt, callId))
    if (observers.wantsCallGrain) replayCallEvents(runId, parsed0)

    val needRetry = spec.processing.autoRetryAttempts > 0 &&
      lng(row0, "_blank") > 0
    val (parsed1, redoSpend) =
      if (needRetry) autoRetry(parsed0, formatted, runId)
      else (parsed0, Enricher.Spend.Zero)
    val parsed = if (spec.output.mergeStrategy == MergeStrategy.Update)
      overlap.foldLeft(parsed1)((d, c) =>
        d.withColumn(c, coalesce(col(c), col(s"_old_$c"))).drop(s"_old_$c"))
    else parsed1
    // post-retry quality differs from row0 only if a retry actually ran
    val qrow = if (needRetry ||
        spec.output.mergeStrategy == MergeStrategy.Update)
      parsed.agg(qualityAggs.head, qualityAggs.tail: _*).head()
    else row0

    val data = parsed.drop(internalCols: _*)
    val finalData = if (addedIndex) data.drop(ColName) else data
    assemble(finalData, qrow, spendOf(row0) + redoSpend, t0)
  }

  // --- durable / budgeted path -----------------------------------------

  private def enrichDurable(pre: DataFrame, runId: String,
                            attemptSalt: Long, t0: Long): EnrichResult = {
    val spark = pre.sparkSession
    val budget = new BudgetController(spec.processing.maxBudget)
    val addedIndex = !pre.columns.contains(RowIndex.ColName)
    val indexed0 = RowIndex.withRowIndex(pre, keyColumn)
    // evidence columns attach to the base frame so they survive the merge;
    // WITH evidence the frame embeds a full distributed retrieval join, so
    // persist it - otherwise every chunk's range filter (and the final
    // merge) would re-run the whole top-k search
    val indexed = {
      val f = formatWithEvidence(indexed0)
      if (spec.evidence.isDefined) f.persist(StorageLevel.MEMORY_AND_DISK)
      else f
    }
    val formatted = indexed.select(col(ColName), col("prompt"))

    val ledgerDir = runDir.map(_ + "/responses")
    val hConf = spark.sessionState.newHadoopConf()
    // every call a chunk pays for is journaled as its rows are emitted;
    // this attempt's journal is deleted once its chunk is in the ledger
    val journalRoot = runDir.map(rd => s"$rd/${CallJournal.DirName}")
    val journalDir = journalRoot.map(r => s"$r/$attemptSalt")
    val journal = journalDir.map(d => CallJournal.Target(d, attemptSalt,
      new org.apache.spark.util.SerializableConfiguration(hConf)))
    def foldJournal(): Unit = for (root <- journalRoot; dir <- ledgerDir)
      CallJournal.fold(spark, hConf, root, dir,
        CallJournal.schema(formatted.schema))

    def invokeRows(rows: DataFrame): DataFrame =
      Invoke(rows, client, spec.prompt, spec.llm, spec.processing, runId,
        journal).withColumn("_attempt", lit(attemptSalt))
    val chunkRows = spec.processing.chunkRows.toLong

    // a killed attempt's journal holds the calls it paid for after its last
    // chunk commit: fold them into the ledger before reading it, so the done
    // set, the budget seed and the call metrics see them like any chunk
    foldJournal()

    // The ledger is read ONCE, up front: chunks cover disjoint key ranges,
    // so newly-invoked rows can never reappear downstream — the done-set
    // needs no per-chunk refresh. Spend is kept incrementally (prior
    // ledger cost + each chunk's own cost, aggregated from the chunk's
    // cache before it is released), so per-chunk work is O(chunk), not
    // O(ledger) — flat in chunk count.
    val priorLedger = ledgerDir.flatMap(readLedger(spark, hConf, _))
    // done keys, each once, over the ledger scan's RDD: its file list is
    // fixed here, so no plan built on it names `responses/`, and a chunk's
    // ledger write (which refreshes every cached plan that reads that
    // path) can neither drop the work set's cache nor show a recompute the
    // rows this attempt appends
    val doneKeys = priorLedger.map { l =>
      val keys = l.filter(col("result").isNotNull || col("skipped"))
        .select(ColName)
      spark.createDataFrame(keys.rdd, keys.schema).distinct()
        .withColumn("_done", lit(true))
    }
    val budgetOn = spec.processing.maxBudget.isDefined
    // the per-chunk/per-ledger counter aggregations exist to feed the
    // budget check and the live-progress observers — an unobserved,
    // unbudgeted run skips them entirely (the resume ledger stats in
    // particular are O(prior ledger) per run)
    val trackStats = budgetOn || observers.nonEmpty
    // prior-attempt counters: spend seeds the budget check, and calls seed
    // the live-progress counters so a RESUMED run reports a monotone
    // fraction of the whole input, not just this attempt's slice
    val (priorCalls, priorCost) = priorLedger match {
      case Some(l) if trackStats =>
        val r = l.dropDuplicates("_attempt", "_call_id")
          .agg(count(lit(1)).as("_c"), sum("cost").as("_s")).head()
        (r.getLong(0), if (r.isNullAt(1)) JBigDecimal.ZERO else r.getDecimal(1))
      case _ => (0L, JBigDecimal.ZERO)
    }
    var spent = priorCost
    // a resume whose prior spend is already over the cap invokes nothing
    if (budgetOn) budget.check(spent)
    var callsDone = priorCalls

    // Work set = this input's keys and prompts, each flagged done or
    // missing against the done keys (ONE join), sorted within partitions
    // by key and persisted: the aggregation below materializes it, so the
    // input is read once per attempt, and every chunk is a key-range
    // filter over the cache that skips cached batches by their key
    // min/max. Unpersisted, every chunk's filter would re-read the input
    // (O(n) per chunk: 953 s for a 10M-row/100-chunk fresh run,
    // BENCH_NOTES r14). Done rows stay in the set (prompts and all) so
    // the input's row count and key scope below need no second read.
    val (workAll, missing) = doneKeys match {
      case Some(done) =>
        (formatted.join(done, Seq(ColName), "left"), col("_done").isNull)
      case None => (formatted, lit(true))
    }
    val workSet = workAll.sortWithinPartitions(ColName)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE up-front pass over the work set: the input's row count, the
    // exact remaining count (ledger keys need not be a subset of this
    // input's keys — a caller may enrich a shrunk/grown frame against an
    // old run dir) and a fine key-percentile sketch of the remaining rows
    // that the chunk cuts come off. The sketch grid bounds the chunk count
    // it can cut for; the (rare) finer-chunked run falls back to one exact
    // approxQuantile pass below.
    val sketchGrid = 256
    val aggRow = workSet.agg(
      count(lit(1)).as("_rows"),
      count(when(missing, lit(1))).as("_n"),
      percentile_approx(when(missing, col(ColName)),
        typedLit((1 until sketchGrid).map(_.toDouble / sketchGrid)),
        lit(10000)).as("_sketch")).head()
    val nRows = aggRow.getLong(0)
    val nMissing = aggRow.getLong(1)
    val keySketch: Seq[Long] =
      if (aggRow.isNullAt(2)) Nil else aggRow.getSeq[Long](2)
    // rows of this input done by prior attempts, each counted once
    var rowsDone = nRows - nMissing
    val numChunks =
      if (nMissing == 0) 0
      else math.max(1L, (nMissing + chunkRows - 1) / chunkRows).toInt
    // cutoffs give ~chunkRows rows per slice for ANY key distribution
    // (keys may be sparse or hashed — a dense stride would iterate
    // ~2^63/chunkRows times); sentinel end-bounds keep the slices a
    // complete partition of the key space even when the sketch is off by
    // a few rows. Cuts come off the up-front fused sketch (zero extra
    // jobs) while the grid can resolve them; a finer-chunked run than the
    // grid pays one exact approxQuantile pass.
    val cuts: Seq[Long] =
      if (numChunks <= 1) Nil
      else if (numChunks <= sketchGrid && keySketch.size == sketchGrid - 1)
        (1 until numChunks).map(i => keySketch(i * sketchGrid / numChunks - 1))
          .sorted
      else {
        val probes = (1 until numChunks).map(_.toDouble / numChunks).toArray
        workSet.filter(missing)
          .select(col(ColName).cast("double").as("_k"))
          .stat.approxQuantile("_k", probes, 0.001)
          .map(_.toLong).toSeq.sorted
      }
    val bounds =
      if (numChunks == 0) Nil
      else (None +: cuts.map(Option(_))).zip(cuts.map(Option(_)) :+ None)
    def slice(lo: Option[Long], hi: Option[Long]): DataFrame =
      workSet.filter((Seq(missing) ++ lo.map(col(ColName) >= _) ++
        hi.map(col(ColName) < _)).reduce(_ && _)).select(ColName, "prompt")

    var chunks = Vector.empty[DataFrame]
    try {
      bounds.zipWithIndex.foreach { case ((lo, hi), chunkIdx) =>
        val p = invokeRows(slice(lo, hi)).persist(StorageLevel.MEMORY_AND_DISK)
        if (trackStats) {
          // one aggregation per chunk over the persisted frame: row count
          // plus call count/cost via the head-row-of-call marker (all rows
          // of this chunk share one _attempt, so the marker is exact)
          val st = p.agg(count(lit(1)).as("_rows"), headRowCallAggs: _*)
            .head()
          val chunkSpend = spendOf(st)
          rowsDone += st.getLong(0)
          callsDone += chunkSpend.calls
          spent = spent.add(chunkSpend.cost)
        }
        ledgerDir.foreach(dir => p.write.mode("append").parquet(dir))
        if (ledgerDir.isDefined) p.unpersist() else chunks :+= p
        journalDir.foreach(CallJournal.delete(hConf, _))
        if (budgetOn) budget.check(spent)
        observers.emit(ChunkCompleted(runId, chunkIdx.toLong, spent))
        if (trackStats)
          observers.emit(RunProgress(runId, rowsDone, nRows, callsDone, spent))
      }
    } catch { case scala.util.control.NonFatal(e) =>
      workSet.unpersist(blocking = false)
      // an attempt that fails folds its own journal now, so the calls it
      // paid for reach the ledger (and every responses/ reader) at once
      try foldJournal() catch { case scala.util.control.NonFatal(f) =>
        e.addSuppressed(f)
      }
      throw e
    }
    val invoked = (ledgerDir.flatMap(readLedger(spark, hConf, _)) match {
      case Some(l) => l
      case None =>
        if (chunks.isEmpty) invokeRows(formatted.limit(0))
        else chunks.reduce(_ unionByName _)
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // one record per row: prefer non-null results, then latest attempt —
    // scoped to THIS input's keys (left-semi vs the work set) when
    // a PRIOR ledger existed: a standing ledger may hold keys a shrunk
    // input no longer carries, and quality/row metrics describe the run's
    // input, not ledger history. A fresh run's ledger holds only keys it
    // just invoked from this input, so the scope join would be a no-op —
    // skipped to keep the hot path's exchange count unchanged.
    // max_by(hash aggregate) instead of the former row_number() window:
    // the same one exchange, but a partial-aggregating hash stage in
    // place of a full per-partition SORT of the ledger — duplicates are
    // rare (task retries, resumed attempts), so the map side combines
    // almost nothing and the sort was pure overhead (guide §2.3
    // "aggregate before you shuffle"; r14).
    // a FRESH run's ledger is already unique per key — chunks cover
    // disjoint key ranges and a write job commits exactly one task
    // attempt's files — so the dedup exchange only runs when a PRIOR
    // ledger could have contributed a second attempt for a key (r14:
    // one shuffle + hash-agg removed from every fresh durable run and
    // every first-sight streaming micro-batch).
    val payloadCols = invoked.columns.filterNot(_ == ColName).toSeq
    val perRow =
      if (priorLedger.isEmpty) invoked
      else invoked
        .groupBy(col(ColName))
        .agg(max_by(
          struct(payloadCols.map(col): _*),
          struct(col("result").isNotNull, col("_attempt"))).as("_best"))
        .select(col(ColName) +:
          payloadCols.map(c => col("_best").getField(c).as(c)): _*)
        .join(workSet.select(col(ColName)), Seq(ColName), "left_semi")

    // ONE action for quality + blank probe + call metrics: the two 1-row
    // aggregates (rows over parsed, calls over the deduplicated ledger —
    // the ledger may hold several attempts per call) meet in a crossJoin.
    val parsed0 = ResponseParser.parse(perRow, spec.output)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val callAggFrame = invoked.dropDuplicates("_attempt", "_call_id")
      .agg(count(lit(1)).as("_calls"), sum("tokens_in").as("_tin"),
        sum("tokens_out").as("_tout"), sum("cost").as("_cost"))
    val qFrame = parsed0.agg(qualityAggs.head, qualityAggs.tail: _*)
    val row0 = qFrame.crossJoin(callAggFrame).head()

    // per-call observability: replay the materialized ledger into one
    // LlmCallCompleted per call — the reference's LLMCallEvent grain
    // (unified_litellm_client.py:473-531) at ZERO hot-path cost, gated on
    // an observer actually opting in. A resumed run replays the WHOLE
    // ledger (prior attempts included): exporters derive deterministic
    // ids from (runId, attempt, callId), so re-emission upserts instead
    // of double-counting — and a run whose first attempt crashed before
    // its replay still surfaces every call.
    if (observers.wantsCallGrain) replayCallEvents(runId, invoked)
    // parsed0 (persisted and just materialized by row0) is the only
    // downstream consumer of the ledger rows — release the ledger cache
    // now instead of carrying two copies of the run to the session's end;
    // the work set's last reader was the key scope above
    invoked.unpersist(blocking = false)
    workSet.unpersist(blocking = false)

    val needRetry = spec.processing.autoRetryAttempts > 0 &&
      lng(row0, "_blank") > 0
    val (parsed, redoSpend) =
      if (needRetry) autoRetry(parsed0, formatted, runId,
        redo => if (budgetOn) budget.check(spent.add(redo.cost)))
      else (parsed0, Enricher.Spend.Zero)
    val qrow = if (needRetry)
      parsed.agg(qualityAggs.head, qualityAggs.tail: _*).head()
    else row0

    // merge result columns back into the original table
    val outs = spec.output.outputColumns
    val merged = ResultMerger.merge(indexed.drop("prompt"), parsed, outs,
      spec.output.mergeStrategy)
    val finalData = if (addedIndex) merged.drop(ColName) else merged
    assemble(finalData, qrow, spendOf(row0) + redoSpend, t0)
  }

  // --- shared tail ------------------------------------------------------

  /** All output columns null/blank — the auto-retry trigger; counted as
    * `_blank` inside the main aggregation pass so a clean run never pays a
    * separate existence probe. */
  private def allBlankExpr = !col("skipped") &&
    spec.output.outputColumns
      .map(c => col(c).isNull || trim(col(c).cast("string")) === "")
      .reduce(_ && _)

  /** Auto-retry rows whose outputs all came back null/blank (reference:
    * ondine/api/pipeline.py:1741-1879; skipped rows carry the sentinel and
    * are NOT retried). Callers invoke this only when the aggregation pass
    * saw at least one blank row, so the first iteration skips the probe.
    * Returns the healed frame and the redo calls' spend, counted by the
    * head-row marker in the action that materializes each redo, and hands
    * the spend so far to `afterPass` after each redo pass (the durable
    * path's budget check). Redo calls are not ledgered. */
  private def autoRetry(parsed0: DataFrame, formatted: DataFrame,
      runId: String, afterPass: Enricher.Spend => Unit = _ => ())
      : (DataFrame, Enricher.Spend) = {
    var parsed = parsed0
    var spent = Enricher.Spend.Zero
    val outs = spec.output.outputColumns
    val allBlank = allBlankExpr
    var attempt = 0
    var mayHaveBlanks = true
    while (attempt < spec.processing.autoRetryAttempts && mayHaveBlanks) {
      val failedIdx = parsed.filter(allBlank).select(ColName)
      val redo = Invoke(
        formatted.join(failedIdx, Seq(ColName), "left_semi"),
        client, spec.prompt, spec.llm, spec.processing, runId)
      val redoParsed = ResponseParser.parse(redo, spec.output)
        .select((ColName +: outs ++: Seq("_call_id", "tokens_in",
          "tokens_out", "cost")).map(col): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      spent = spent + spendOf(redoParsed
        .agg(headRowCallAggs.head, headRowCallAggs.tail: _*).head())
      afterPass(spent)
      val keepCols = parsed.columns.toSeq
      val renamed = outs.foldLeft(
        redoParsed.select((ColName +: outs).map(col): _*))(
        (d, c) => d.withColumnRenamed(c, s"_r_$c"))
      parsed = parsed.join(renamed, Seq(ColName), "left")
      for (c <- outs)
        parsed = parsed.withColumn(c,
          when(col(c).isNull || trim(col(c).cast("string")) === "",
            col(s"_r_$c"))
            .otherwise(col(c))).drop(s"_r_$c")
      parsed = parsed.select(keepCols.map(col): _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      attempt += 1
      // probe only if another iteration is allowed
      mayHaveBlanks = attempt < spec.processing.autoRetryAttempts &&
        !parsed.filter(allBlank).isEmpty
    }
    (parsed, spent)
  }

  /** Calls, tokens and cost over invoked rows, counting each call once by
    * its head row (`_row_index == _call_id`; followers of a call never
    * carry their own index). Exact when all rows come from one attempt. */
  private def headRowCallAggs: Seq[org.apache.spark.sql.Column] = {
    val head = col(ColName) === col("_call_id")
    Seq(
      sum(when(head, 1L).otherwise(0L)).as("_calls"),
      sum(when(head, col("tokens_in"))).as("_tin"),
      sum(when(head, col("tokens_out"))).as("_tout"),
      sum(when(head, col("cost"))).as("_cost"))
  }

  private def spendOf(r: org.apache.spark.sql.Row): Enricher.Spend = {
    val costAt = r.fieldIndex("_cost")
    Enricher.Spend(lng(r, "_calls"), lng(r, "_tin"), lng(r, "_tout"),
      if (r.isNullAt(costAt)) JBigDecimal.ZERO else r.getDecimal(costAt))
  }

  /** Quality counters + the auto-retry blank probe as aggregation columns
    * over a parsed frame: row count, skips, validity per output column,
    * and the count of all-blank rows. Shared by both paths so everything
    * comes out of one aggregation action. */
  private def qualityAggs: Seq[org.apache.spark.sql.Column] = {
    val outs = spec.output.outputColumns
    val invalidAny = outs.map(Quality.invalidCell).reduce(_ || _)
    Seq(
      count(lit(1)).as("_total"),
      sum(when(col("skipped"), 1L).otherwise(0L)).as("_skipped"),
      sum(when(invalidAny, 0L).otherwise(1L)).as("_valid"),
      sum(when(allBlankExpr, 1L).otherwise(0L)).as("_blank")) ++
    outs.map(c => sum(when(Quality.invalidCell(c), 1L).otherwise(0L))
      .as(s"_bad_$c"))
  }

  /** Null-safe long by field name (aggregates over an empty frame sum to
    * null). */
  private def lng(r: org.apache.spark.sql.Row, name: String): Long = {
    val i = r.fieldIndex(name)
    if (r.isNullAt(i)) 0L else r.getLong(i)
  }

  /** Build the result from the quality row (post-retry) and the run's
    * spend (first pass plus auto-retry). */
  private def assemble(finalData: DataFrame, qrow: org.apache.spark.sql.Row,
                       spent: Enricher.Spend, t0: Long): EnrichResult = {
    val outs = spec.output.outputColumns
    val totalRows = lng(qrow, "_total")
    val valid = lng(qrow, "_valid")
    val perCol = outs.map(c => c -> lng(qrow, s"_bad_$c")).toMap
    val rate = if (totalRows == 0) 0.0 else valid.toDouble / totalRows
    val q = QualityReport(totalRows, valid, perCol, rate,
      Quality.rating(rate))
    val metrics = RunMetrics(
      rows = totalRows,
      calls = spent.calls,
      tokensIn = spent.tokensIn,
      tokensOut = spent.tokensOut,
      cost = spent.cost,
      skippedRows = lng(qrow, "_skipped"),
      durationMs = (System.nanoTime() - t0) / 1000000L)
    Quality.noOutputGuard(q, metrics.skippedRows,
      metrics.tokensIn + metrics.tokensOut)
    EnrichResult(finalData, metrics, q)
  }

  /** Stream the ledger's head-of-call rows (`_row_index == _call_id`
    * marks exactly one row per call; `skipped` rows never reached the
    * API, so they carry no call) through the driver in (attempt, call)
    * order, one [[LlmCallCompleted]] per call. `toLocalIterator` bounds
    * driver memory at one partition — a million-call ledger replays
    * without ever materializing on the driver. Auto-retry redo calls are
    * not ledgered (existing contract) and so not replayed. */
  private def replayCallEvents(runId: String, ledger: DataFrame): Unit = {
    val heads = ledger
      .filter(col(ColName) === col("_call_id") && !col("skipped"))
      .select(col("_attempt").cast("long"), col("_call_id"), col("model"),
        col("tokens_in"), col("tokens_out"), col("cost"),
        col("latency_ms"), col("call_rows").cast("long"),
        col("result").isNull.as("_failed"))
      .orderBy(col("_attempt"), col("_call_id"))
    val it = heads.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      observers.emit(LlmCallCompleted(runId,
        callId = r.getLong(1),
        attempt = r.getLong(0),
        model = if (r.isNullAt(2)) null else r.getString(2),
        tokensIn = if (r.isNullAt(3)) 0L else r.getLong(3),
        tokensOut = if (r.isNullAt(4)) 0L else r.getLong(4),
        cost = if (r.isNullAt(5)) JBigDecimal.ZERO else r.getDecimal(5),
        latencyMs = if (r.isNullAt(6)) 0.0 else r.getDouble(6),
        callRows = if (r.isNullAt(7)) 0L else r.getLong(7),
        failed = r.getBoolean(8)))
    }
  }

  /** The parquet ledger at `dir` (a path or any Hadoop URI), if any. */
  private def readLedger(spark: SparkSession,
                         hConf: org.apache.hadoop.conf.Configuration,
                         dir: String): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    if (!path.getFileSystem(hConf).exists(path)) None
    else try Some(spark.read.parquet(dir))
    catch {
      // a crash can leave the dir with only an uncommitted _temporary
      // subdir — no schema to infer means no durable rows yet
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

}

/** Smart-defaults front door (reference: enrich() one-liner
  * ondine/api/enrich.py:45-161 + QuickPipeline auto-detection
  * ondine/api/quick.py:74-332 — input columns from `{placeholders}`,
  * parser = json iff multi-column).
  */
object Enricher {
  /** Inline runs started in this JVM (makes each inline runId unique). */
  private val inlineRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Calls, tokens and cost of a set of provider calls. */
  private final case class Spend(calls: Long, tokensIn: Long, tokensOut: Long,
                                 cost: JBigDecimal) {
    def +(o: Spend): Spend = Spend(calls + o.calls, tokensIn + o.tokensIn,
      tokensOut + o.tokensOut, cost.add(o.cost))
  }
  private object Spend {
    val Zero: Spend = Spend(0L, 0L, 0L, JBigDecimal.ZERO)
  }

  def enrich(df: DataFrame,
             template: String,
             outputColumns: Seq[String],
             client: LlmClient,
             batchSize: Int = 1,
             concurrency: Int = 8,
             maxBudget: Option[BigDecimal] = None,
             runDir: Option[String] = None,
             keyColumn: Option[String] = None): EnrichResult = {
    val inputCols = TemplateCompiler.variables(template)
    val format =
      if (outputColumns.size > 1) ResponseFormat.Json else ResponseFormat.Raw
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = inputCols),
      prompt = PromptSpec(template, batchSize = batchSize),
      llm = LlmSpec(concurrency = concurrency),
      processing = ProcessingSpec(maxBudget = maxBudget),
      output = OutputSpec(outputColumns, responseFormat = format))
    new Enricher(spec, client, runDir, keyColumn).enrich(df)
  }
}
