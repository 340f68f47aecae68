package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> [--git <commit>]
  *                  [--data-dir <dir> [--pin 1]]   (curation only)
  *
  * Prints one JSON line on stdout: `correct`, `attempted`, `failed` and the
  * metrics (end-to-end untraced, per-layer traced), and writes the full run
  * record under `<work>/results`. Exits 1 when an output check fails.
  */
object Main {
  val Cores = 4

  /** End-to-end metrics, printed by an untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "rows_per_s" -> "rows/s",
    "calls_per_row" -> "req/row",
    "cost_per_row_usd" -> "USD/row",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics, printed by a traced run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.render_s" -> "s",
    "ops.invoke_s" -> "s",
    "ops.slot_util" -> "ratio",
    "ops.parse_s" -> "s",
    "ops.merge_s" -> "s",
    "ops.blank_rows" -> "rows",
    "llm.attempts" -> "count",
    "llm.attempt_p50_ms" -> "ms",
    "llm.attempt_p99_ms" -> "ms",
    "llm.busy_s" -> "s",
    "llm.inflight_max" -> "count",
    "llm.client_overhead_ms" -> "ms",
    "llm.retry_gap_s" -> "s",
    "llm.errors_429" -> "count",
    "llm.errors_5xx" -> "count",
    "llm.errors_malformed" -> "count",
    "run.enrich_s" -> "s",
    "run.write_s" -> "s",
    "run.enrich_self_s" -> "s",
    "run.chunks" -> "count",
    "run.chunk_p50_s" -> "s",
    "run.chunk_max_s" -> "s",
    "run.ledger_bytes_per_row" -> "B/row",
    "run.ledger_files" -> "count",
    "run.resume_first_call_s" -> "s",
    "run.resume_boot_s" -> "s",
    "run.reinvoked_rows" -> "rows",
    "run.cost_reported_over_billed" -> "ratio",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s",
    "spark.executor_run_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB",
    "provider.requests" -> "count",
    "provider.rows_per_request" -> "rows/req",
    "provider.bytes_in_per_row" -> "B/row",
    "provider.bytes_out_per_row" -> "B/row",
    "provider.service_s" -> "s",
    "provider.faults_429" -> "count",
    "provider.faults_503" -> "count",
    "provider.faults_malformed" -> "count",
    "provider.items_omitted" -> "count",
    "provider.peak_rps_10s" -> "1/s",
    "tracing_overhead_s" -> "s",
    "trace.layer_sum_s" -> "s",
    "trace.reconcile_gap_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, git: Option[String],
                        dataDir: Option[String], pin: Boolean)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      m.get("--git").filter(_.nonEmpty), m.get("--data-dir"),
      m.get("--pin").contains("1"))
  }

  def session(app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        Paths.get(System.getProperty("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set (VmHWM) of a process, in MB. */
  def vmHwmMb(pid: Long): Double =
    try Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val provider = new Provider(a.seed)
    var crashRun: Option[CrashRun] = None
    var spark: SparkSession = null
    var exit = 0
    try {
      // the resume workload's crashed engine boots while this JVM does
      crashRun = Workloads.all.get(a.workload).filter(_.crashAtShare.isDefined)
        .map(w => new CrashRun(provider, w, a.seed, a.work))
      spark = session(s"perfbench-${a.workload}")
      val bootS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val out = Workloads.all.get(a.workload) match {
        case Some(w) => runEnrich(spark, provider, w, a, bootS, crashRun)
        case None if a.workload == "curation" =>
          Curation.run(spark, a, bootS)
        case None =>
          throw new IllegalArgumentException(s"unknown workload ${a.workload}")
      }
      writeRecord(a, out.record)
      val metrics = scala.collection.immutable.ListMap(out.metrics.map {
        case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u)
      }: _*)
      println(Json(Map("correct" -> out.correct, "attempted" -> out.attempted,
        "failed" -> out.failed, "metrics" -> metrics)))
      if (!out.correct) exit = 1
    } catch { case e: Throwable =>
      e.printStackTrace()
      exit = 3
    } finally {
      crashRun.foreach(_.kill())
      provider.stop()
      if (spark != null) spark.stop()
    }
    System.out.flush()
    sys.exit(exit)
  }

  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                           metrics: Seq[(String, (Double, String))],
                           record: Map[String, Any])

  private def runEnrich(spark: SparkSession, provider: Provider,
                        w: EnrichWorkload, a: Args, bootS: Double,
                        crashRun: Option[CrashRun]): Outcome = {
    // Set-up: one untimed warm-up pass over the same path (client, JIT,
    // codegen). The resume workload's warm-up enriches part of its rows,
    // then resumes that run; it goes against a second provider while the
    // crashed run goes on in its child JVM.
    def warmUp(bench: EnrichBench): PassResult = {
      val p = bench.prepare(-1L, "warm", w.warmRows)
      try {
        w.crashAtShare.foreach(share => bench.enrichPart(p, share))
        bench.pass(p, 1000L, traced = false)
      } finally bench.cleanup(p)
    }
    val setupStart = System.nanoTime()
    val warm = if (crashRun.isEmpty)
        warmUp(new EnrichBench(spark, provider, w, a.seed, a.work, None))
      else {
        val warmProvider = new Provider(a.seed)
        try warmUp(new EnrichBench(spark, warmProvider, w, a.seed, a.work,
          None))
        finally warmProvider.stop()
      }
    val crash = crashRun.map(_.await())
    val b = new EnrichBench(spark, provider, w, a.seed, a.work, crash)
    // resume passes kept speeding up after that warm-up; one untimed pass
    // over the crashed run itself takes the slowest one out of the timing
    val settle = crash.map { _ =>
      val p = b.prepare(0L, "settle", w.rows)
      try b.pass(p, 999L, traced = false) finally b.cleanup(p)
    }
    val setupRegionS = (System.nanoTime() - setupStart) / 1e9

    // timed passes; each pass's inputs are generated, cached (and for resume
    // the crashed run directory copied) before its timer starts
    val minPasses = if (a.trace) 4 else 3
    val start = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    val prepareS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var k = 0
    while (k < minPasses || (System.nanoTime() - start) / 1e9 < a.seconds) {
      val t0 = System.nanoTime()
      val p = b.prepare(if (crash.isDefined) 0L else k.toLong, s"pass$k",
        w.rows)
      prepareS += (System.nanoTime() - t0) / 1e9
      done += b.pass(p, k.toLong, traced = a.trace && k % 2 == 1)
      b.cleanup(p)
      k += 1
    }
    val setupS = bootS + setupRegionS + Stats.median(prepareS.toSeq)
    val untraced = done.filterNot(_.traced).toSeq
    val traced = done.filter(_.traced).toSeq

    val probes = if (!a.trace) Map.empty[String, Double] else {
      val p = b.prepare(if (crash.isDefined) 0L else k.toLong, "probe",
        w.rows)
      try b.layerProbes(p, 3000L) finally b.cleanup(p)
    }

    val rssMb = math.max(vmHwmMb(ProcessHandle.current.pid),
      crash.map(_.rssMb).getOrElse(0.0))
    val e2e: Map[String, Double] =
      untraced.head.e2e.keys.map(key =>
        key -> Stats.median(untraced.map(_.e2e(key)))).toMap ++
        Map("setup_s" -> setupS, "peak_rss_mb" -> rssMb)
    val untracedWall = Stats.median(untraced.map(_.wall))
    val layer: Map[String, Double] = if (!a.trace) Map.empty else {
      val medians = traced.head.layer.keys.map(key =>
        key -> Stats.median(traced.map(_.layer(key)))).toMap
      val layerSum = Seq("core.render_s", "ops.invoke_s", "ops.parse_s",
        "ops.merge_s").map(probes).sum + medians("run.write_s")
      medians ++ probes ++ Map(
        "tracing_overhead_s" -> (Stats.median(traced.map(_.wall)) - untracedWall),
        "trace.layer_sum_s" -> layerSum,
        "trace.reconcile_gap_s" -> (untracedWall - layerSum))
    }

    val all = warm +: (settle.toSeq ++ done)
    val correct = all.forall(_.ok)
    all.filterNot(_.ok).flatMap(_.problems).distinct
      .foreach(pr => System.err.println(s"[perfbench] check failed: $pr"))
    val declared = if (a.trace) PerLayer else EndToEnd
    val values = e2e ++ layer
    val metrics = declared.map { case (name, unit) =>
      name -> (values.getOrElse(name, 0.0), unit)
    }
    def passRecord(r: PassResult): Map[String, Any] = Map(
      "traced" -> r.traced, "wall_s" -> r.wall, "rows" -> r.rows,
      "failed_rows" -> r.failedRows, "lost_rows" -> r.lostRows, "ok" -> r.ok,
      "problems" -> r.problems,
      "end_to_end" -> r.e2e, "per_layer" -> r.layer)
    val record = Map[String, Any](
      "rows_per_pass" -> w.rows,
      "warm_rows" -> w.warmRows,
      "batch_size" -> w.batchSize,
      "durable" -> w.durable,
      "concurrency" -> Workloads.Concurrency,
      "provider_profile" -> w.profile.toString,
      "setup" -> Map("boot_s" -> bootS, "warmup_and_crash_s" -> setupRegionS,
        "crash_s" -> crash.map(_.seconds), "prepare_s" -> prepareS,
        "warmup_wall_s" -> warm.wall, "settle_wall_s" -> settle.map(_.wall)),
      "crash" -> crash.map(c => Map("boot_s" -> c.bootS, "rss_mb" -> c.rssMb,
        "requests" -> c.counters.requests.sum,
        "faults" -> c.counters.faults,
        "delivered_rows" -> c.counters.delivered.sum)),
      "warmup_pass" -> passRecord(warm),
      "passes" -> done.map(passRecord),
      "end_to_end" -> EndToEnd.map { case (n, _) =>
        n -> (if (n == "setup_s" || n == "peak_rss_mb") Map("value" -> e2e(n))
          else Stats.summary(untraced.map(_.e2e(n)))) }.toMap,
      "per_layer" -> layer,
      "failed_ratio" -> done.map(_.failedRows).sum.toDouble / done.map(_.rows).sum,
      "rows_lost" -> done.map(_.lostRows).sum)
    Outcome(correct, done.map(_.rows).sum, done.map(_.failedRows).sum,
      metrics, record)
  }

  private def writeRecord(a: Args, body: Map[String, Any]): Unit = {
    val stamp = ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss"))
    val pid = ProcessHandle.current.pid
    val dir = a.work.resolve("results")
    Files.createDirectories(dir)
    val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}" +
      s"-$stamp-pid$pid.json"
    val record = Map[String, Any](
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "seconds" -> a.seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_cores" -> Cores,
      "git_commit" -> a.git,
      // no reference or calibration figure is pinned yet
      "reference" -> null) ++ body ++
      (if (!a.trace) Map.empty else {
        val spans = Tracer.spans.asScala.toSeq
        val parents = spans.map(_.parent).toSet
        Map(
          "self_s_by_span" -> spans.groupBy(_.name).map { case (n, ss) =>
            n -> ss.map(s => if (parents(s.id)) Tracer.selfSeconds(s, spans)
              else s.seconds).sum },
          "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
            "run_id" -> s.runId)))
      })
    Files.write(dir.resolve(name), Json(record).getBytes("UTF-8"))
    System.err.println(s"[perfbench] record: ${dir.resolve(name)}")
  }
}
