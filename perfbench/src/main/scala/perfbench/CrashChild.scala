package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.storage.StorageLevel

import graft.run.Enricher

/** The crashed engine of the resume workload: a durable enrich run over the
  * workload's pass-0 inputs, against the benchmark's provider. It prints
  * [[Ready]] once its session is up and is SIGKILLed mid-run by the parent.
  *
  *   CrashChild <provider url> <seed> <rows> <run dir>
  */
object CrashChild {
  val Ready = "PERFBENCH_CHILD_READY"

  def main(args: Array[String]): Unit = {
    val Array(url, seed, rows, runDir) = args
    val spark = Main.session("perfbench-crash-child")
    println(Ready)
    System.out.flush()
    val w = Workloads.resume
    val input = Workloads.input(spark, seed.toLong, 0L, w, rows.toInt)
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()
    new Enricher(Workloads.spec(w, url, rows.toInt), Workloads.client(url),
      Some(runDir), Some("id"))
      .enrich(input).data.write.format("noop").mode("overwrite").save()
    spark.stop()
  }
}

/** Parent side of the crash phase. Construction starts the engine in a
  * child JVM right away, so that it boots while the parent does; the
  * provider stops answering once it has answered the workload's crash share
  * of the rows. [[await]] then SIGKILLs the child and keeps its run
  * directory. */
final class CrashRun(provider: Provider, w: EnrichWorkload, seed: Long,
                     work: Path) {
  private val t0 = System.nanoTime()
  private val dir = work.resolve("runs").resolve("crashed")
  Files.createDirectories(dir.getParent)
  private val counters = provider.beginEpoch(5000L, w.profile, record = true)
  provider.holdAfter((w.rows * w.crashAtShare.get).toLong)

  private val proc = {
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        a.startsWith("-XX:CompileThresholdScaling")).toSeq
    // the child is not timed: the client compiler alone boots it fastest
    // and leaves the cores to the parent
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xms1g", "-Xmx1g",
      "-XX:TieredStopAtLevel=1", "-cp", System.getProperty("java.class.path"),
      "perfbench.CrashChild", provider.url, seed.toString, w.rows.toString,
      dir.toString)
    val log = work.resolve("logs").toFile
    log.mkdirs()
    new ProcessBuilder(cmd: _*)
      .redirectError(new File(log, s"crash_child_seed$seed.log")).start()
  }

  // reads the child's stdout until it ends; notes when its session is ready
  private val ready = new CountDownLatch(1)
  @volatile private var readyNs = 0L
  private val reader = new Thread(() => {
    val out = new BufferedReader(new InputStreamReader(proc.getInputStream))
    try {
      var line = out.readLine()
      while (line != null) {
        if (line == CrashChild.Ready) { readyNs = System.nanoTime(); ready.countDown() }
        line = out.readLine()
      }
    } catch { case _: java.io.IOException => () }
    finally ready.countDown()
  })
  reader.setDaemon(true)
  reader.start()

  def await(): Crash =
    try {
      ready.await(120, TimeUnit.SECONDS)
      require(readyNs > 0, "crash child exited before its session was ready")
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (provider.held.get == 0 && proc.isAlive &&
          System.nanoTime() < deadline) Thread.sleep(5)
      require(provider.held.get > 0,
        "crash child never reached the provider's stop point")
      val rss = Main.vmHwmMb(proc.pid)
      kill()
      Crash(dir, counters, (readyNs - t0) / 1e9, rss,
        (System.nanoTime() - t0) / 1e9)
    } finally kill()

  /** Stop the child and wait for it; lets held requests go. */
  def kill(): Unit = {
    if (proc.isAlive) { proc.destroyForcibly(); proc.waitFor() }
    provider.release()
  }
}
