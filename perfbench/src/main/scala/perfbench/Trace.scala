package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, LongAdder}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.llm.{LlmClient, LlmResponse, NetworkError, RateLimitError}
import graft.run.{ChunkCompleted, Observer, PipelineEvent}

/** One traced interval. Spans of one run share `runId`; `parent` is the
  * id of the span that caused it (0 for a root). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span store, written out with the run record at the end. */
object Tracer {
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var runId: String = ""
  /** Parent for spans opened on executor threads (llm attempts). */
  @volatile var current: Long = 0L

  def nextId(): Long = ids.incrementAndGet()

  def span[T](name: String, parent: Long = 0L)(f: Long => T): (T, Span) = {
    val id = nextId()
    val prev = current
    current = id
    val t0 = System.nanoTime()
    try {
      val r = f(id)
      val s = Span(id, parent, name, t0, System.nanoTime(), runId)
      spans.add(s)
      (r, s)
    } finally current = prev
  }

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span, all: Iterable[Span]): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Counters of the timing decorator, JVM-global so the executor-side
  * copies of the client (one per task closure) report into one place. */
object ClientProbe {
  val attempts = new LongAdder
  val busyNs = new LongAdder
  val retryGapNs = new LongAdder
  val errors429 = new LongAdder
  val errors5xx = new LongAdder
  val errorsMalformed = new LongAdder
  val inflight = new AtomicInteger(0)
  val inflightMax = new AtomicInteger(0)
  val latenciesNs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val lastFailEnd = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def reset(): Unit = {
    Seq(attempts, busyNs, retryGapNs, errors429, errors5xx, errorsMalformed)
      .foreach(_.reset())
    inflight.set(0)
    inflightMax.set(0)
    latenciesNs.clear()
  }

  def begin(t0: Long): Unit = {
    val f: Long = lastFailEnd.get
    // the engine retries a failed call on the same pool thread, so the
    // next attempt on this thread is the retry of the failed one
    if (f > 0L) { retryGapNs.add(t0 - f); lastFailEnd.set(0L) }
    val n = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(n, math.max)
  }

  def end(t0: Long, err: Option[Throwable]): Unit = {
    val t1 = System.nanoTime()
    inflight.decrementAndGet()
    attempts.increment()
    busyNs.add(t1 - t0)
    latenciesNs.add(t1 - t0)
    Tracer.spans.add(Span(Tracer.nextId(), Tracer.current, "llm.attempt", t0,
      t1, Tracer.runId))
    err.foreach { e =>
      lastFailEnd.set(t1)
      e match {
        case _: RateLimitError => errors429.increment()
        case n: NetworkError
            if String.valueOf(n.getMessage).startsWith("unparseable 200") =>
          errorsMalformed.increment()
        case n: NetworkError
            if String.valueOf(n.getMessage).matches("^5\\d\\d from .*") =>
          errors5xx.increment()
        case _ => ()
      }
    }
  }
}

/** Timing decorator around the engine's provider client, one span and one
  * latency sample per attempt (the engine retries by calling `invoke`
  * again). */
final class TimedClient(inner: LlmClient) extends LlmClient {
  override def model: String = inner.model
  def invoke(prompt: String, systemMessage: Option[String]): LlmResponse = {
    val t0 = System.nanoTime()
    ClientProbe.begin(t0)
    try {
      val r = inner.invoke(prompt, systemMessage)
      ClientProbe.end(t0, None)
      r
    } catch { case e: Throwable => ClientProbe.end(t0, Some(e)); throw e }
  }
}

/** Records when the engine reports each durable chunk complete. */
final class ChunkObserver extends Observer {
  val chunkEndsNs = new ConcurrentLinkedQueue[java.lang.Long]()
  def onEvent(e: PipelineEvent): Unit = e match {
    case _: ChunkCompleted => chunkEndsNs.add(System.nanoTime())
    case _ => ()
  }
  /** Seconds between consecutive chunk completions (the first chunk also
    * carries the run's up-front work, so it is left out). */
  def chunkSeconds: Seq[Double] = {
    import scala.jdk.CollectionConverters._
    val ends = chunkEndsNs.asScala.map(_.longValue).toSeq.sorted
    ends.zip(ends.drop(1)).map { case (a, b) => (b - a) / 1e9 }
  }
  def chunks: Int = chunkEndsNs.size
}

/** Spark counters over a window: jobs, stages, tasks and task metrics. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val cpuNs = new LongAdder
  val runMs = new LongAdder
  val gcMs = new LongAdder
  val shuffleWrite = new LongAdder
  val shuffleRead = new LongAdder
  val spill = new LongAdder
  val input = new LongAdder
  val output = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
      output.add(m.outputMetrics.bytesWritten)
    }
  }

  def start(): this.type = { sc.addSparkListener(this); this }

  /** Stop listening once every event of the window has been delivered. */
  def stop(): this.type = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    sc.removeSparkListener(this)
    this
  }

  def metrics: Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.sum.toDouble,
      "spark.stages" -> stages.sum.toDouble,
      "spark.tasks" -> tasks.sum.toDouble,
      "spark.executor_cpu_s" -> cpuNs.sum / 1e9,
      "spark.executor_run_s" -> runMs.sum / 1e3,
      "spark.gc_s" -> gcMs.sum / 1e3,
      "spark.shuffle_write_mb" -> shuffleWrite.sum / mb,
      "spark.shuffle_read_mb" -> shuffleRead.sum / mb,
      "spark.spill_mb" -> spill.sum / mb,
      "spark.input_mb" -> input.sum / mb,
      "spark.output_mb" -> output.sum / mb)
  }
}
