package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.llm.MockLlmClient
import graft.run.Enricher

/** Benchmark harness. Prints ONE JSON line:
  *   {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Two groups inside "queries":
  *  - every SparkEntry query timed end-to-end (count) on the sf dir;
  *  - BASELINE-aligned enrichment arms mirroring the reference benchmark
  *    (/root/reference/benchmarks/RESULTS.md): 100k rows through the
  *    deterministic in-process client, batch_size=50 — the same shape as
  *    the reference's crash-safety arm (3.79 s crash run / 3.40 s resume),
  *    plus a durable-ledger run and a fully-cached resume.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Single-FILE testdata parquet: the default 128 MB split size reads a
      // 100+ MB table as 1-2 partitions, serializing every downstream sort/
      // join on one core (found at the 10x bench point: q15/q16 went 16x,
      // not 10x). 8 MB splits a 140 MB lineitem into ~17 scan tasks; on a
      // real many-file cluster layout this knob is moot.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // 200+ arms generate far more than the default 100 cached codegen
      // classes; with the cache evicted between an arm's reps, every rep
      // re-compiles its whole-stage classes while all its tasks block on
      // the compile (event-log signature: stage wall >> task CPU). A
      // janino class is ~10-100 KB — 10k entries is bounded and the
      // right setting for ANY long-lived many-query application.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // Per-measurement repetitions, reporting the MIN (steady state): this
    // machine is shared and single-shot timings swing up to 3x; the min of
    // two runs is the stable signal and also absorbs first-query JVM/codegen
    // warmup.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // arms where every rep threw: recorded by name in the published JSON
    // ("failed": [...]) so a fast-failing broken query can never again
    // masquerade as a 13x speedup (round-5 events-table lesson)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]

    // a rep that threw must not publish its fast-fail duration as the
    // "best" time: prefer the min over successful reps; when every rep
    // failed, the arm contributes NO timing at all — it appears only in
    // "failed", and its "queries" entry publishes as null, so a consumer
    // summing "queries" or reading "value" can never silently ingest a
    // fast-fail as a measurement
    def timeBest(name: String, f: => Unit,
                 between: () => Unit = () => ()): Option[Double] = {
      // label every job with its arm (guide §1.5) so event-log/UI
      // profiles attribute time to arms instead of one anonymous stream
      spark.sparkContext.setJobDescription(s"arm:$name")
      val runs = (1 to reps).map { _ =>
        var ok = true
        val t = time { try f catch { case e: Throwable => ok = false
          System.err.println(s"[bench] rep failed ($name): ${e.getMessage}") } }
        between()
        (t, ok)
      }
      spark.sparkContext.setJobDescription(null)
      val good = runs.collect { case (t, true) => t }
      if (good.nonEmpty) Some(good.min)
      else { failed += name; None }
    }

    // focused runs (A/B, noise calibration): SPARK_GRAFT_ONLY=q44_ann_ivf,...
    // restricts the record to the named arms; absent = full inventory
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Option[Double]]

    // Materialize through the noop sink, NOT count(): count() lets the
    // optimizer prune every unreferenced column, so a pure-map query
    // (minhash signatures, PII redaction, media decode) would "run" at
    // scan speed without ever computing its projection — q33 timed 0.45 s
    // under count() vs ~5 s of real signature work at 10x. The noop write
    // demands every output column, executing the full plan with zero IO —
    // the honest analog of the reference writing its results out.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Untimed warmup: the alphabetically-first arm otherwise absorbs the
    // one-time costs (executor thread spin-up, noop-sink codegen, parquet
    // footer caching) — q01 read 4.9 s in a full record vs 1.4 s isolated,
    // a 3.5 s artifact that survived even the min-of-2 rep fold.
    try {
      materialize(spark.read.parquet(s"$sfDir/region.parquet"))
      spark.range(0, 1000000L, 1, 4).select(sum(col("id"))).collect()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}") }

    // Host-speed probe, sf- and engine-code-independent (r15, the fix for
    // the enrich-ratio probe bias declared in r14): a fixed synthetic
    // CPU+shuffle kernel built ONLY from Spark built-ins over range() —
    // no graft operator code on its path, so optimizing the engine can
    // never move it, and no testdata on its path, so the scale factor
    // can't either. Recorded raw (min of 2) alongside the (kept) enrich
    // ratios; cross-round normalization divides by the r15 pin in
    // "synthetic_ref_sec". Runs only for full records (a focused
    // SPARK_GRAFT_ONLY A/B brings its own controls).
    val syntheticKernelSec: Option[Double] =
      if (only.nonEmpty) None
      else {
        spark.sparkContext.setJobDescription("calibration:synthetic_kernel")
        val runs = (1 to 2).map { _ =>
          try Some(time {
            spark.range(0L, 32000000L, 1L, 64)
              .select(pmod(xxhash64(col("id")), lit(100000L)).as("k"),
                // modded so the ANSI-mode sum can never overflow a long
                pmod(xxhash64(col("id"), lit(1L)), lit(1000000L)).as("h"))
              .groupBy("k").agg(sum(col("h")).as("s"), count(lit(1)).as("c"))
              .agg(sum(col("s")), sum(col("c"))).collect()
          }) catch { case e: Throwable =>
            System.err.println(s"[bench] synthetic probe failed: ${e.getMessage}")
            None }
        }
        spark.sparkContext.setJobDescription(null)
        val good = runs.flatten
        if (good.isEmpty) None else Some(good.min)
      }

    // Arms that write and re-scan a many-tiny-file corpus (500-2000 PDFs):
    // their first rep measures cold-page-cache small-file IO, not engine
    // speed — twice (r12, r13) a cross-round delta on them cost a full
    // adjudication cycle that ended at "page-cache temperature". One
    // throwaway warm rep before the timed reps makes the recorded min a
    // steady-state engine measurement.
    val fileCorpusArms = Set("q95_pdf_roundtrip", "q96_scanned_pdf")

    // 1. the full query inventory (cache cleared between runs so
    // operator-internal persists don't leak memory pressure across runs)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
        if (fileCorpusArms(name)) {
          try { materialize(fn(spark, sfDir)); spark.catalog.clearCache() }
          catch { case e: Throwable =>
            System.err.println(s"[bench] warm rep failed ($name): ${e.getMessage}") }
        }
        results(name) = timeBest(name,
          { materialize(fn(spark, sfDir)) },
          () => spark.catalog.clearCache())
      }

    // 2. BASELINE-aligned arms: 100k-row enrichment, mock client, batch 50.
    // 20 slices of exactly 5000 rows — partition size a multiple of the
    // batch size, so partition-local batching yields exactly
    // ceil(100000/50)=2000 calls (the reference's structural ratio).
    val rows100k = spark.range(0L, 100000L, 1L, 20)
      .select(col("id"), concat(lit("review text number "), col("id"))
        .as("review"))
      .persist()
    rows100k.count()

    // a failing arm must never kill the bench — log and move on so the
    // JSON line always prints
    def arm(name: String)(f: => Unit): Unit =
      if (wanted(name)) results(name) = timeBest(name, f)

    arm("enrich_100k_batch50") {
      val r = Enricher.enrich(rows100k, "Classify the tone of: {review}",
        Seq("sentiment"), new MockLlmClient(), batchSize = 50)
      r.data.count()
      if (r.metrics.calls != 2000)
        System.err.println(s"[bench] WARN expected 2000 calls, got ${r.metrics.calls}")
    }

    // each durable rep gets a FRESH ledger dir (a reused one would measure
    // a no-op resume); the resume arm then replays against the last dir
    val runDirBase = s"/tmp/graft_bench_durable_$cpus"
    var runDir = runDirBase
    var durableRep = 0
    arm("enrich_100k_durable") {
      runDir = s"${runDirBase}_$durableRep"
      durableRep += 1
      new scala.reflect.io.Directory(new java.io.File(runDir)).deleteRecursively()
      val r = Enricher.enrich(rows100k, "Classify the tone of: {review}",
        Seq("sentiment"), new MockLlmClient(), batchSize = 50,
        runDir = Some(runDir), keyColumn = Some("id"))
      r.data.count()
    }
    arm("enrich_100k_resume") {
      val before = MockLlmClient.calls.get()
      val r = Enricher.enrich(rows100k, "Classify the tone of: {review}",
        Seq("sentiment"), new MockLlmClient(), batchSize = 50,
        runDir = Some(runDir), keyColumn = Some("id"))
      r.data.count()
      if (MockLlmClient.calls.get() != before)
        System.err.println("[bench] WARN resume re-invoked completed calls")
    }

    // durable overhead must stay flat in chunk count: same 100k rows in 10
    // ledger chunks instead of 1 — compare with enrich_100k_durable (the
    // O(chunks^2) ledger re-read this guards against made this arm grow
    // quadratically)
    var chunkedRep = 0
    arm("enrich_100k_durable_10chunks") {
      import graft.core._
      val dir = s"${runDirBase}_chunked_$chunkedRep"
      chunkedRep += 1
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
      val spec = PipelineSpec(
        dataset = DatasetSpec(Seq("review")),
        prompt = PromptSpec("Classify the tone of: {review}", batchSize = 50),
        processing = ProcessingSpec(chunkRows = 10000),
        output = OutputSpec(Seq("sentiment")))
      val r = new graft.run.Enricher(spec, new MockLlmClient(),
        runDir = Some(dir), keyColumn = Some("id")).enrich(rows100k)
      r.data.count()
      // quantile chunk edges may split a batch (calls ~2000, not exact)
      if (r.metrics.rows != 100000L)
        System.err.println(s"[bench] WARN expected 100k rows, got ${r.metrics.rows}")
    }

    // Durability gate in the standing record (not a timing race — runs
    // ONCE regardless of reps): a child JVM streams the 100k corpus and
    // hard-halts (kill -9 semantics: Runtime.halt, no hooks) mid-micro-
    // batch at 60% of calls; a second child resumes from the checkpoint.
    // rows_lost != 0 or reinvoked_durable != 0 marks the arm FAILED in
    // the published JSON — durability regression becomes a bench failure,
    // not a manual check. Timing recorded = the resume child's own
    // wall_sec (engine work; child JVM boot excluded), comparable to the
    // reference's 3.40 s resume arm at the same 100k scale.
    if (wanted("stream_crash_resume")) {
      val name = "stream_crash_resume"
      // the timed work below runs in CHILD JVMs while this parent idles:
      // drop the parent's pinned blocks and hint a GC first, so ~200
      // arms' worth of cached/garbage heap isn't competing with the
      // children for memory/page cache during the one arm that cannot
      // min-fold away the interference (isolated A/B: 21-25 s vs 52 s
      // inside a full record on the same host; guide §5 unpersist-when-
      // done). Timed region unchanged — the children's own wall is the
      // measurement.
      rows100k.unpersist(blocking = true)
      spark.catalog.clearCache()
      System.gc()
      results(name) = try {
        val work = s"/tmp/graft_bench_scrash_$cpus"
        new scala.reflect.io.Directory(new java.io.File(work)).deleteRecursively()
        val javaBin = s"${System.getProperty("java.home")}/bin/java"
        val cp = System.getProperty("java.class.path")
        // Spark-on-JDK17 module opens from the canonical launcher source —
        // never a hand-copied list that diverges on a Spark upgrade
        val addOpens = org.apache.spark.launcher.JavaModuleOptions
          .defaultModuleOptionArray().toSeq
        def child(phase: String): (Int, String) = {
          val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx8g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            // same codegen-cache headroom as the parent session: the
            // drain's ~10 micro-batches × ~10 generated classes each sit
            // right at the 100-entry default, and an eviction mid-drain
            // recompiles per batch
            "-Dspark.sql.codegen.cache.maxEntries=10000",
            "-cp", cp, "graft.StreamingCrashArm", phase, work)
          val pb = new ProcessBuilder(cmd: _*)
          pb.redirectError(ProcessBuilder.Redirect.INHERIT)
          val p = pb.start()
          // bound the child: a stalled stream must publish as a FAILED arm,
          // never hang the bench ("a failing arm must never kill the bench").
          // stdout is one JSON line, far below the pipe buffer, so waiting
          // before draining cannot deadlock on a full pipe.
          val done = p.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
          if (!done) {
            p.destroyForcibly().waitFor()
            sys.error(s"$phase child exceeded 15 minutes; killed")
          }
          val out = new String(p.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          (p.exitValue(), out)
        }
        val (crashExit, _) = child("crash")
        require(crashExit != 0, s"crash phase must halt the JVM, exited 0")
        val (resumeExit, resumeOut) = child("resume")
        require(resumeExit == 0, s"resume phase failed (exit $resumeExit)")
        def field(k: String): Long =
          s""""$k":(-?\\d+)""".r.findFirstMatchIn(resumeOut)
            .map(_.group(1).toLong)
            .getOrElse(sys.error(s"no $k in resume output: $resumeOut"))
        val lost = field("rows_lost")
        val reinvoked = field("reinvoked_durable_rows")
        require(lost == 0, s"STREAMING DURABILITY REGRESSION: $lost rows lost")
        require(reinvoked == 0,
          s"STREAMING DURABILITY REGRESSION: $reinvoked durable rows re-invoked")
        val wall = """"wall_sec":([0-9.]+)""".r.findFirstMatchIn(resumeOut)
          .map(_.group(1).toDouble)
          .getOrElse(sys.error(s"no wall_sec in resume output"))
        Some(wall)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream_crash_resume FAILED: ${e.getMessage}")
        failed += name
        None
      }
    }

    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(t => f"$t%.3f").getOrElse("null") }
      .mkString("{", ",", "}")
    val total = results.values.flatten.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // In-record machine-speed probe: the four enrich arms run IDENTICAL
    // code regardless of sf (fixed 100k synthetic rows), so their ratio
    // against the pinned round-4 reference timings measures host speed at
    // record time — cross-round comparisons can drift-normalize from the
    // record alone instead of relying on same-day A/B archaeology
    // (BENCH_NOTES.md round-6 lesson).
    val probeRef = Seq(
      "enrich_100k_batch50" -> 0.623, "enrich_100k_durable" -> 1.602,
      "enrich_100k_resume" -> 1.156, "enrich_100k_durable_10chunks" -> 2.736)
    val probeRatios = probeRef.flatMap { case (k, ref) =>
      results.getOrElse(k, None).map(_ / ref) }
    // the synthetic kernel's r15 pin on the reference host (see above):
    // host-speed ratio at record time = synthetic_kernel_sec / this
    val syntheticRef = 0.0 // 0.0 = unpinned; set from the r15 record
    // an unpinned reference is omitted, so no consumer divides by zero
    val synthRefJson =
      if (syntheticRef > 0) f""","synthetic_ref_sec":$syntheticRef%.3f""" else ""
    val synthJson = syntheticKernelSec
      .map(s => f""","synthetic_kernel_sec":$s%.3f$synthRefJson""")
      .getOrElse("")
    val calibration =
      if (probeRatios.isEmpty && syntheticKernelSec.isEmpty) "null"
      else if (probeRatios.isEmpty)
        s"""{"probe":"enrich_arms_vs_r4"$synthJson}"""
      else {
        val sorted = probeRatios.sorted
        val median = sorted(sorted.size / 2)
        f"""{"probe":"enrich_arms_vs_r4","median_speed_ratio":$median%.3f,"ratios":${
          probeRatios.map(r => f"$r%.3f").mkString("[", ",", "]")}$synthJson}"""
      }
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"calibration":$calibration,"sf":"$sfDir"}"""
    println(line)
    // Sidecar copies of the SAME line (r15): the result line is ~6 KB and
    // consumers that keep only a bounded stdout tail truncate it — every
    // BENCH_r*.json since round 1 carries "parsed": null. The stdout
    // contract line stays exactly as before (first and only JSON line);
    // the sidecars give any consumer the full machine-readable record,
    // and the short bracket-prefixed summary below fits ANY tail without
    // being mistakable for the contract line. The /tmp sidecar name
    // carries the JVM pid so concurrent runs keep separate records.
    val tmpSidecar = s"/tmp/graft_bench_${cpus}_${ProcessHandle.current().pid()}.json"
    Seq(java.nio.file.Paths.get("bench_results.json"),
        java.nio.file.Paths.get(tmpSidecar)).foreach { p =>
      try java.nio.file.Files.write(p,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] sidecar write failed ($p): ${e.getMessage}") }
    }
    println(f"[bench] total=$total%.3f sec arms=${results.size} " +
      f"failed=${failed.size} sidecar=bench_results.json,$tmpSidecar")
    spark.stop()
  }
}
