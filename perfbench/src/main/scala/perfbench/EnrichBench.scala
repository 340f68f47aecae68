package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.MergeStrategy
import graft.llm.LlmClient
import graft.ops.{Invoke, ResponseParser, ResultMerger}
import graft.core.TemplateCompiler
import graft.run.{Enricher, ObserverDispatcher}

/** Outcome of one enrich pass. `e2e` holds the end-to-end values,
  * `layer` the per-layer values of a traced pass. */
final case class PassResult(
    traced: Boolean,
    wall: Double,
    rows: Long,
    /** input rows without a valid output */
    failedRows: Long,
    /** input ids missing from the output */
    lostRows: Long,
    ok: Boolean,
    problems: Seq[String],
    e2e: Map[String, Double],
    layer: Map[String, Double])

/** Inputs of one pass, generated and cached before timing. */
final case class Prepared(rows: Int, input: DataFrame, runDir: Option[Path])

/** Crash phase of the resume workload, run once per process. */
final case class Crash(snapshot: Path, counters: ProviderCounters,
                       bootS: Double, rssMb: Double, seconds: Double)

/** Runs one enrich workload: an untimed warm-up pass over the same path,
  * then timed passes until the run's seconds are spent.
  * Each pass has its own inputs and provider epoch; each is checked after
  * it is timed. */
final class EnrichBench(spark: SparkSession, provider: Provider,
                        w: EnrichWorkload, seed: Long, work: Path,
                        crash: Option[Crash]) {
  private val runs = work.resolve("runs")
  Files.createDirectories(runs)
  w.stageMinRows.foreach(n =>
    spark.conf.set("graft.enrich.stageChunksMinRows", n.toString))

  /** Inputs of a pass, generated and cached before timing. A resume pass
    * gets a fresh copy of the crashed run's directory. */
  def prepare(inputId: Long, tag: String, rows: Int): Prepared = {
    val input = Workloads.input(spark, seed, inputId, w, rows)
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()
    val runDir = if (!w.durable) None else {
      val d = runs.resolve(tag)
      deleteTree(d)
      crash.foreach(c => copyTree(c.snapshot, d))
      Some(d)
    }
    Prepared(rows, input, runDir)
  }

  /** Enrich the first `share` of a pass's rows into its run directory, so
    * that the pass then resumes a partial run. */
  def enrichPart(p: Prepared, share: Double): Unit =
    new Enricher(Workloads.spec(w, provider.url, p.rows),
      Workloads.client(provider.url), p.runDir.map(_.toString), Some("id"))
      .enrich(p.input.filter(col("id") < (p.rows * share).toLong))
      .data.write.format("noop").mode("overwrite").save()

  def cleanup(p: Prepared): Unit = {
    spark.catalog.clearCache()
    p.runDir.foreach(deleteTree)
  }

  /** One timed pass: `Enricher.enrich` plus writing `r.data` to the noop
    * sink. The output check runs afterwards and must not reach the
    * provider. */
  def pass(p: Prepared, epoch: Long, traced: Boolean): PassResult = {
    val counters = provider.beginEpoch(epoch, w.profile)
    val http = Workloads.client(provider.url)
    val client: LlmClient = if (traced) new TimedClient(http) else http
    val observers = new ObserverDispatcher
    val chunkObs = new ChunkObserver
    if (traced) observers.register(chunkObs)
    val sparkCtr = if (traced) Some(new SparkCounters(spark.sparkContext).start())
      else None
    ClientProbe.reset()
    Tracer.runId = s"${w.name}-seed$seed-epoch$epoch"
    val enricher = new Enricher(Workloads.spec(w, provider.url, p.rows),
      client, p.runDir.map(_.toString),
      if (w.durable) Some("id") else None, observers)

    val ((r, enrichSpan, writeSpan), passSpan) = Tracer.span("pass") { id =>
      val (r, es) = Tracer.span("run.enrich", id)(_ => enricher.enrich(p.input))
      val (_, ws) = Tracer.span("run.write", id)(_ =>
        r.data.write.format("noop").mode("overwrite").save())
      (r, es, ws)
    }
    val wall = passSpan.seconds
    sparkCtr.foreach(_.stop())

    val before = counters.requests.sum
    val (rows, valid, distinctValid, distinctIds) = Workloads.check(r.data)
    val checkRequests = counters.requests.sum - before
    val problems = ArrayBuffer.empty[String]
    if (rows != p.rows) problems += s"output has $rows rows, input ${p.rows}"
    if (valid != rows) problems += s"${rows - valid} rows without the expected output"
    if (distinctValid != p.rows)
      problems += s"${p.rows - distinctValid} input rows without a valid output"
    if (distinctIds != p.rows)
      problems += s"${p.rows - distinctIds} input rows lost"
    if (checkRequests != 0)
      problems += s"output check issued $checkRequests provider requests"

    val crashCounters = crash.map(_.counters).toSeq
    val requests = (counters +: crashCounters).map(_.requests.sum).sum
    val billed = (counters +: crashCounters).map(_.billedUsd).sum
    val e2e = Map(
      "wall_s" -> wall,
      "rows_per_s" -> p.rows / wall,
      "calls_per_row" -> requests.toDouble / p.rows,
      "cost_per_row_usd" -> billed / p.rows)

    val layer = if (!traced) Map.empty[String, Double] else {
      val lat = ClientProbe.latenciesNs.asScala.map(_.longValue / 1e6)
        .toIndexedSeq.sorted
      val attempts = ClientProbe.attempts.sum
      val provReq = counters.requests.sum
      val meanAttemptMs = if (attempts == 0) 0.0
        else ClientProbe.busyNs.sum / 1e6 / attempts
      val meanServiceMs = if (provReq == 0) 0.0
        else counters.serviceNs.sum / 1e6 / provReq
      val chunkS = chunkObs.chunkSeconds.sorted.toIndexedSeq
      val ledger = p.runDir.map(_.resolve("responses").toFile)
        .filter(_.isDirectory).toSeq
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .filter(_.getName.endsWith(".parquet"))
      val answered = provReq - counters.faults
      val spans = Tracer.spans.asScala.toSeq
      val mismatch =
        ClientProbe.errors429.sum != counters.faults429.sum ||
          ClientProbe.errors5xx.sum != counters.faults503.sum ||
          ClientProbe.errorsMalformed.sum != counters.faultsMalformed.sum ||
          attempts != provReq
      if (mismatch) problems +=
        s"client saw ${ClientProbe.errors429.sum}/${ClientProbe.errors5xx.sum}/" +
          s"${ClientProbe.errorsMalformed.sum} errors in $attempts attempts, " +
          s"provider injected ${counters.faults429.sum}/" +
          s"${counters.faults503.sum}/${counters.faultsMalformed.sum} " +
          s"in $provReq requests"
      Map(
        "run.enrich_s" -> enrichSpan.seconds,
        "run.write_s" -> writeSpan.seconds,
        "run.enrich_self_s" -> Tracer.selfSeconds(enrichSpan, spans),
        "run.chunks" -> chunkObs.chunks.toDouble,
        "run.chunk_p50_s" -> Stats.percentile(chunkS, 0.5),
        "run.chunk_max_s" -> chunkS.lastOption.getOrElse(0.0),
        "run.ledger_bytes_per_row" -> ledger.map(_.length).sum.toDouble / p.rows,
        "run.ledger_files" -> ledger.size.toDouble,
        "run.cost_reported_over_billed" ->
          (if (billed == 0) 0.0 else r.metrics.cost.doubleValue / billed),
        "run.resume_first_call_s" ->
          (if (crash.isEmpty || counters.firstRequestNs.get == 0) 0.0
           else (counters.firstRequestNs.get - enrichSpan.startNs) / 1e9),
        "run.resume_boot_s" -> crash.map(_.bootS).getOrElse(0.0),
        "run.reinvoked_rows" -> counters.reinvoked.sum.toDouble,
        "llm.attempts" -> attempts.toDouble,
        "llm.attempt_p50_ms" -> Stats.percentile(lat, 0.5),
        "llm.attempt_p99_ms" -> Stats.percentile(lat, 0.99),
        "llm.attempt_n" -> lat.size.toDouble,
        "llm.busy_s" -> ClientProbe.busyNs.sum / 1e9,
        "llm.inflight_max" -> ClientProbe.inflightMax.get.toDouble,
        "llm.client_overhead_ms" -> (meanAttemptMs - meanServiceMs),
        "llm.retry_gap_s" -> ClientProbe.retryGapNs.sum / 1e9,
        "llm.errors_429" -> ClientProbe.errors429.sum.toDouble,
        "llm.errors_5xx" -> ClientProbe.errors5xx.sum.toDouble,
        "llm.errors_malformed" -> ClientProbe.errorsMalformed.sum.toDouble,
        "provider.requests" -> provReq.toDouble,
        "provider.rows_per_request" ->
          (if (answered == 0) 0.0 else counters.itemsIn.sum.toDouble / answered),
        "provider.bytes_in_per_row" -> counters.bytesIn.sum.toDouble / p.rows,
        "provider.bytes_out_per_row" -> counters.bytesOut.sum.toDouble / p.rows,
        "provider.service_s" -> counters.serviceNs.sum / 1e9,
        "provider.faults_429" -> counters.faults429.sum.toDouble,
        "provider.faults_503" -> counters.faults503.sum.toDouble,
        "provider.faults_malformed" -> counters.faultsMalformed.sum.toDouble,
        "provider.items_omitted" -> counters.omitted.sum.toDouble,
        "provider.peak_rps_10s" -> counters.peakRps10s) ++
        sparkCtr.map(_.metrics).getOrElse(Map.empty)
    }
    PassResult(traced, wall, p.rows, p.rows - distinctValid,
      p.rows - distinctIds, problems.isEmpty,
      problems.toSeq, e2e, layer)
  }

  /** Each layer's public call on its own, over a pass-sized input: render,
    * Invoke, parse and merge. Run once, after the traced passes. */
  def layerProbes(p: Prepared, epoch: Long): Map[String, Double] = {
    provider.beginEpoch(epoch, w.profile)
    val spec = Workloads.spec(w, provider.url, p.rows)
    val client = new TimedClient(Workloads.client(provider.url))
    ClientProbe.reset()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val indexed = p.input.withColumn("_row_index", col("id"))
    val formatted = indexed.withColumn("prompt",
      TemplateCompiler.compileFull(spec.prompt))
    val renderS = timed(noop(formatted))
    val invoked = Invoke(formatted.select("_row_index", "prompt"), client,
      spec.prompt, spec.llm, spec.processing, s"probe-$epoch")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val invokeS = timed(invoked.count())
    val busy = ClientProbe.busyNs.sum / 1e9
    val parsed = ResponseParser.parse(invoked, spec.output)
    val parseS = timed(noop(parsed))
    parsed.persist(StorageLevel.MEMORY_AND_DISK).count()
    val blank = parsed.filter(col(Workloads.OutCol).isNull ||
      trim(col(Workloads.OutCol)) === "").count()
    val mergeS = timed(noop(ResultMerger.merge(indexed, parsed,
      Seq(Workloads.OutCol), MergeStrategy.Replace)))
    spark.catalog.clearCache()
    Map(
      "core.render_s" -> renderS,
      "ops.invoke_s" -> invokeS,
      "ops.slot_util" -> busy / (invokeS * Workloads.Concurrency),
      "ops.parse_s" -> parseS,
      "ops.merge_s" -> mergeS,
      "ops.blank_rows" -> blank.toDouble)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}
