package graft.ops

import java.util.concurrent.{ConcurrentHashMap, Executors, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService,
  Promise}
import scala.concurrent.duration.Duration
import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import graft.core.{ErrorPolicy, LlmSpec, ProcessingSpec, PromptSpec, RateLimitScope}
import graft.llm._

/** Per-executor singletons for the Invoke operator: one rate-limit bucket and
  * one bounded call pool per run per JVM, and one single-flight table per
  * `Invoke.apply`. On a cluster each executor holds a bucket with rate =
  * rpm / numExecutors (the reference's per-worker split) unless a
  * `redis://` scope selects the one coordinated bucket, [[RedisBucket]]
  * (the reference's redis_rate_limiter.py scope-key design).
  */
object ClientPool {
  private val log = org.slf4j.LoggerFactory.getLogger(ClientPool.getClass)
  private val limiters = new ConcurrentHashMap[String, GlobalBucket]()
  private val adaptives = new ConcurrentHashMap[String, AdaptiveLimiter]()
  private val pools = new ConcurrentHashMap[String, ExecutionContextExecutorService]()
  private val flightTables = new ConcurrentHashMap[String, Flights]()
  private val abandonedCtrs =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  /** Executor count for the per-worker rpm split of NON-coordinated
    * buckets (worker-local limiter at rate = rpm / executors ≈ the global
    * rate; the coordinated redis bucket needs no split — it IS the
    * global bucket). local[*] → one JVM → Some(1). On a cluster:
    * `spark.executor.instances` when set; under dynamic allocation (which
    * leaves it unset) the `maxExecutors` bound — dividing by MORE than
    * the live count under-admits, the safe failure direction. A
    * deployment with neither conf returns None: that configuration
    * cannot be split honestly, and [[requireSplit]] REFUSES it for a
    * worker-local bucket instead of silently granting every executor the
    * full rate (aggregate admission × fleet size — the one config where
    * a default multiplies). */
  private[graft] def splitFor(master: String, instances: Option[String],
                            maxExecutors: Option[String]): Option[Int] =
    if (master.startsWith("local")) Some(1)
    else instances.flatMap(_.toIntOption) // parsed independently: a malformed
      .orElse(maxExecutors.flatMap(_.toIntOption)) // instances must not hide
      .map(math.max(1, _)) // a valid maxExecutors bound

  private[ops] def executorSplit: Option[Int] =
    try {
      val conf = org.apache.spark.SparkEnv.get.conf
      splitFor(conf.get("spark.master", "local"),
        conf.getOption("spark.executor.instances"),
        conf.getOption("spark.dynamicAllocation.maxExecutors"))
    } catch { case _: Throwable => Some(1) } // off-Spark: one JVM

  /** Fail fast when an uncoordinated rpm cannot be split honestly. */
  private[graft] def requireSplit(split: Option[Int]): Int =
    split.getOrElse(throw new IllegalArgumentException(
      "uncoordinated rate_limit_rpm needs a knowable executor count to " +
        "split the global rate: set spark.executor.instances or " +
        "spark.dynamicAllocation.maxExecutors, or use a coordinated " +
        "scope (redis://host:port/scope) which needs no split"))

  /** Count of calls abandoned by the Invoke dequeue backstop whose pool
    * threads are still wedged (decremented if a wedged call ever
    * completes). When it reaches the pool size, every pool thread is
    * known-wedged and QUEUED calls can never start — the backstop uses
    * this to resolve them instead of waiting for a heartbeat that will
    * never arm. */
  def abandonedCount(runId: String, size: Int): java.util.concurrent.atomic.AtomicInteger =
    abandonedCtrs.computeIfAbsent(s"$runId:$size",
      _ => new java.util.concurrent.atomic.AtomicInteger(0))

  // Singleton keys fold the CONFIG in alongside the runId: two runs that
  // share a runId (e.g. a reused runDir) but carry different rpm/size no
  // longer silently reuse the first run's mis-sized pool — they get their
  // own. shutdown(runId) sweeps every config variant by prefix.

  /** Per-run bucket, picked by scope:
    *   - `redis://host:port/scope` → [[RedisBucket]] against a Redis
    *     server (exact MULTI-host bucket via atomic server-side Lua;
    *     local-fallback + circuit breaker on outage — the reference's
    *     production shape, redis_rate_limiter.py; scope is typically
    *     "provider:model")
    *   - none → per-executor [[RateLimiter]] (rate = rpm / numExecutors)
    *   - anything else → IllegalArgumentException from
    *     [[RateLimitScope.parse]], the same check `PipelineSpec.validate`
    *     runs on the driver
    */
  def limiter(runId: String, rpm: Int, burst: Int,
              scopeFile: Option[String] = None,
              splitHint: Option[Int] = None): GlobalBucket =
    limiters.computeIfAbsent(
      s"$runId:$rpm:$burst:${scopeFile.getOrElse("")}:${splitHint.getOrElse(0)}",
      _ => scopeFile match {
        case Some(uri) =>
          val (host, port, scope) = RateLimitScope.parse(uri)
          // outage fallback: worker-local bucket at rpm/executors —
          // the per-worker SPLIT of the shared rate, so an outage
          // degrades to the uncoordinated approximation instead of
          // multiplying the aggregate admission N× (every executor's
          // breaker opens at once). An explicit rate_limit_split hint
          // wins (the user pre-declares the degraded rate); an
          // unknowable count then keeps the legacy full-rate fallback
          // rather than refusing — the user DID configure
          // coordination, and a refusal at breaker-open time would
          // turn a Redis outage into a hard stop — but the degraded
          // rate is now DECLARED at config time, not discovered
          // mid-outage
          val known = splitHint.orElse(executorSplit)
          if (known.isEmpty)
            log.warn("coordinated scope '{}' on a deployment with no " +
              "knowable executor count: if the bucket server is " +
              "unreachable, the breaker-open fallback admits the FULL " +
              "{} rpm PER EXECUTOR (aggregate = rpm x fleet size); " +
              "set llm.rate_limit_split or spark.executor.instances " +
              "to pre-declare a safe degraded rate", scope, rpm)
          val split = known.getOrElse(1)
          new RedisBucket(host, port, scope, rpm, burst,
            fallback = Some(new RateLimiter(
              math.max(1, rpm / split), math.max(1, burst / split))))
        case None =>
          val split = requireSplit(splitHint.orElse(executorSplit))
          new RateLimiter(math.max(1, rpm / split), math.max(1, burst / split))
      })

  def adaptive(runId: String, initial: Int, max: Int): AdaptiveLimiter =
    adaptives.computeIfAbsent(s"$runId:$initial:$max",
      _ => new AdaptiveLimiter(minLimit = 1, maxLimit = max,
        initialLimit = initial))

  /** Fixed-size call pool whose idle threads time out, so an executor JVM
    * reclaims a finished run's threads without a driver call. */
  def pool(runId: String, size: Int): ExecutionContextExecutorService =
    pools.computeIfAbsent(s"$runId:$size", _ => {
      val tp = new ThreadPoolExecutor(size, size, 30L, TimeUnit.SECONDS,
        new LinkedBlockingQueue[Runnable](), r => {
          val t = new Thread(r, s"graft-invoke-$runId")
          t.setDaemon(true)
          t
        })
      tp.allowCoreThreadTimeOut(true)
      ExecutionContext.fromExecutorService(tp)
    })

  /** The single-flight table of one `Invoke.apply` (`token`) on this JVM,
    * held for the calling task until it completes; the last running task
    * of that apply drops it, so no entry outlives the run. */
  private[ops] def flights(token: String): Flights = {
    val f = flightTables.compute(token, (_, f) => {
      val held = if (f == null) new Flights else f
      held.tasks += 1
      held
    })
    TaskContext.get().addTaskCompletionListener[Unit](_ =>
      flightTables.computeIfPresent(token, (_, f) => {
        f.tasks -= 1
        if (f.tasks == 0) null else f
      }))
    f
  }

  /** Single-flight tables held by running tasks (tests). */
  private[graft] def liveFlightTables: Int = flightTables.size

  /** Single scheduler arming per-call deadlines (interrupt-based
    * cancellation); shared across runs, never holds work. */
  val deadlines: java.util.concurrent.ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-invoke-deadline")
      t.setDaemon(true)
      t
    })

  def shutdown(runId: String): Unit = {
    import scala.jdk.CollectionConverters._
    val prefix = s"$runId:"
    pools.keySet.asScala.filter(_.startsWith(prefix)).foreach(k =>
      Option(pools.remove(k)).foreach(_.shutdown()))
    limiters.keySet.asScala.filter(_.startsWith(prefix)).foreach { k =>
      // a redis bucket holds a persistent TCP connection — close it or
      // a long-lived executor JVM leaks one connection per finished run
      Option(limiters.remove(k)).foreach {
        case c: AutoCloseable =>
          try c.close() catch { case _: Exception => () }
        case _ => ()
      }
    }
    adaptives.keySet.asScala.filter(_.startsWith(prefix)).foreach(adaptives.remove)
    abandonedCtrs.keySet.asScala.filter(_.startsWith(prefix))
      .foreach(abandonedCtrs.remove)
  }
}

/** The single-flight table of one `Invoke.apply` on one JVM: prompt →
  * (the call carrying it, its row index in that call). Calls in flight stay
  * until they finish; a failed call leaves at once, so only the followers
  * already attached share its error. Answered calls stay for later repeats,
  * but at most `capacity` of their prompts: past that the oldest answered
  * call leaves first, so the table's memory is bounded by `capacity`
  * prompts and reply items, not by the number of distinct prompts in the
  * run. A prompt repeated after its call left is called again. */
private[graft] final class Flights(capacity: Int = Flights.AnsweredCapacity) {
  val table = new ConcurrentHashMap[String, (PendingCall, Long)]()
  var tasks = 0 // read and written only inside ClientPool.flightTables.compute*
  private val answeredCalls =
    new java.util.concurrent.ConcurrentLinkedQueue[PendingCall]()
  private val answeredItems = new java.util.concurrent.atomic.AtomicInteger(0)

  private def drop(p: PendingCall): Unit =
    p.items.foreach { case (idx, prompt) =>
      if (prompt != null) table.remove(prompt, (p, idx))
    }

  /** `p` ended in an error: later repeats call again. */
  def failed(p: PendingCall): Unit = drop(p)

  /** `p` was answered: keep it for repeats, evicting the oldest answered
    * calls beyond `capacity` prompts. */
  def answered(p: PendingCall): Unit = {
    answeredCalls.add(p)
    var n = answeredItems.addAndGet(p.items.size)
    while (n > capacity) {
      val old = answeredCalls.poll()
      if (old == null) return
      drop(old)
      n = answeredItems.addAndGet(-old.items.size)
    }
  }
}

private[graft] object Flights {
  /** Answered prompts one table keeps (per apply per executor). */
  val AnsweredCapacity = 10000
}

/** One submitted provider call: the items it carries (`items`: leader row
  * index and prompt), its outcome and the liveness heartbeat the dequeue
  * backstop reads. Followers in other partitions wait on it through the
  * single-flight table, so it lives outside the partition closure; it
  * holds no input rows, only prompts and the reply. */
private[graft] final class PendingCall(val items: Seq[(Long, String)]) {
  def callId: Long = items.head._1
  /** The reply decoded by row index, or the error; set once, by the call
    * or by the dequeue backstop, whichever comes first. */
  val outcome: Promise[PendingCall.Outcome] = Promise()
  /** Completed when the pool thread leaves the call — also a wedged one
    * that finally returns. */
  val finished: Promise[Unit] = Promise()
  /** nanoTime at which the currently-running client attempt began (-1
    * between attempts — backoff sleeps and limiter waits are
    * bounded/honest and never trip the backstop). */
  @volatile var attemptStartNs: Long = -1L
  /** Once-only release of the adaptive-concurrency permit this call
    * holds. The wedged thread's `finally` never runs, so without this the
    * backstop would leak one adaptive slot per abandoned call — after
    * `initialLimit` wedges no further call could ever pass
    * `acquireBlocking`, the heartbeat would never arm, and the task would
    * hang with the abandoned-counter stuck below the pool size. CAS guards
    * the double-release if a wedged thread eventually does return through
    * its own `finally`. */
  private val permitReleased = new java.util.concurrent.atomic.AtomicBoolean(false)
  def releasePermitOnce(adaptive: Option[AdaptiveLimiter]): Unit =
    if (permitReleased.compareAndSet(false, true))
      adaptive.foreach(_.release())
}

private[graft] object PendingCall {
  type Outcome = Either[Throwable, (LlmResponse, Map[Long, String])]
}

/** The one genuinely custom operator (SURVEY §7.3): LLM invocation as a
  * `mapPartitions` stage. A UDF would be 1-row-synchronous, defeating
  * concurrency, rate limiting, retry-after propagation and batch calls
  * (reference: ondine/stages/llm_invocation_stage.py:39-636 +
  * concurrency_controller.py:31-189).
  *
  * Design for scale:
  *  - Batching is PARTITION-LOCAL: leader rows are grouped into
  *    mega-prompts of `batchSize` inside each partition, so forming
  *    batches costs zero shuffle — unlike a groupBy(floor(idx/N)) which
  *    would shuffle every prompt byte. Without repeated prompts batch
  *    membership is deterministic, because `_row_index` is deterministic
  *    and partitioning is fixed for a given input (see RowIndex); a prompt
  *    repeated across partitions joins whichever call publishes it first.
  *  - Disaggregation is fused: the mega-prompt reply is decoded in place and
  *    per-row results are emitted from the same partition pass
  *    (reference does this as two stages; fusing keeps the stage narrow).
  *  - Bounded in-flight window per partition + a per-executor thread pool
  *    capped at `concurrency` gives the same admission control as the
  *    reference's semaphore; 429 penalties drain the shared bucket for all
  *    partitions on the executor.
  *  - Single-flight: each distinct prompt is sent at most once per `apply`
  *    per executor. The first row with a prompt leads a call; every later
  *    row with it, in any partition on that executor, follows: it waits on
  *    the leader's call (no pool thread, no window slot, the same deadline
  *    backstop and error policy) and is emitted as one more row of that
  *    call, copying its `_call_id` and spend columns, so the head-row
  *    marker `_row_index == _call_id` still counts each call once. Only
  *    submitted calls are published, so no task waits on a call another
  *    task has not submitted; a failed call leaves the table, so only the
  *    followers already attached share its error. An answered call stays
  *    for later repeats, up to [[Flights.AnsweredCapacity]] prompts per
  *    table (oldest answered call evicted first), so memory does not grow
  *    with the run's distinct prompts. The table is keyed by a token
  *    minted per `apply` (auto-retry and each durable chunk get a fresh
  *    one) and dropped with the last running task of that `apply`. No
  *    shuffle, no extra job; a run without repeats pays one
  *    concurrent-map operation per row at batch 1 (a few at batch > 1).
  *  - Call journal (durable chunks only, set by the Enricher): each call's
  *    emitted rows, followers included, are appended to the task's
  *    [[CallJournal]] file in one write and flushed to the OS before the
  *    next call is submitted, so a killed process loses at most the calls
  *    in flight. The file opens at the task's first call; without a
  *    journal target nothing is written.
  *
  * Output columns appended to the input row:
  *   result, error, skipped, _call_id, call_rows, tokens_in, tokens_out,
  *   cost (DECIMAL(38,18) — exact, per-call, duplicated across the call's
  *   rows and its followers; aggregate with dropDuplicates(_call_id) or
  *   the head-row marker first), latency_ms, model.
  */
object Invoke {

  val appendedFields: Seq[StructField] = Seq(
    StructField("result", StringType),
    StructField("error", StringType),
    StructField("skipped", BooleanType, nullable = false),
    StructField("_call_id", LongType),
    StructField("call_rows", IntegerType, nullable = false),
    StructField("tokens_in", LongType, nullable = false),
    StructField("tokens_out", LongType, nullable = false),
    StructField("cost", DecimalType(38, 18)),
    StructField("latency_ms", DoubleType, nullable = false),
    // SERVING deployment (router picks / HTTP `model` echo) — the
    // per-deployment cost/latency attribution key (reference tracks a
    // distribution per deployment, router_strategies.py); null on failure
    StructField("model", StringType))

  /** df must contain `_row_index` (long) and `prompt` (string); all other
    * columns pass through untouched.
    */
  def apply(df: DataFrame, client: LlmClient, prompt: PromptSpec,
            llm: LlmSpec, proc: ProcessingSpec, runId: String): DataFrame =
    apply(df, client, prompt, llm, proc, runId, journal = None)

  /** As above; with a `journal` target every call's rows are also appended
    * to the call journal as they are emitted (durable chunks only). */
  private[graft] def apply(df: DataFrame, client: LlmClient, prompt: PromptSpec,
                           llm: LlmSpec, proc: ProcessingSpec, runId: String,
                           journal: Option[CallJournal.Target]): DataFrame = {
    // every call runs under a deadline (PipelineSpec.validate rejects the
    // same configs; callers that skip validate fail here, not by hanging)
    require(llm.timeoutMs > 0, s"llm.timeoutMs must be > 0 (got ${llm.timeoutMs})")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ appendedFields)
    val idxAt = inSchema.fieldIndex(RowIndex.ColName)
    val promptAt = inSchema.fieldIndex("prompt")
    val batchSize = prompt.batchSize
    val system = prompt.systemMessage
    val conc = llm.concurrency
    val rpm = llm.requestsPerMinute
    val maxRetries = llm.maxRetries
    val baseMs = llm.backoffBaseMs
    val capMs = llm.backoffCapMs
    val policy = proc.errorPolicy
    val default = proc.defaultValue
    val timeoutMs = llm.timeoutMs

    val adaptiveOn = llm.adaptiveConcurrency
    val maxConc = llm.maxConcurrency

    val scopeFile = llm.rateLimitScopeFile
    val splitHint = llm.rateLimitSplit
    // mint once on the driver: every task of this apply shares one
    // single-flight table per executor, and no other apply (auto-retry,
    // the next durable chunk) can see it
    val token = java.util.UUID.randomUUID().toString
    df.mapPartitions { rows =>
      val limiter = rpm.map(r =>
        ClientPool.limiter(runId, r, math.max(1, r / 10), scopeFile,
          splitHint))
      val adaptive =
        if (adaptiveOn) Some(ClientPool.adaptive(runId, conc, maxConc))
        else None
      // pool sized at the adaptive MAX; the adaptive limiter gates admission
      implicit val ec: ExecutionContext =
        ClientPool.pool(runId, if (adaptiveOn) maxConc else conc)
      val flights = ClientPool.flights(token)
      val journalWriter = journal.map(new CallJournal.Writer(_, outSchema))

      def emit(row: Row, result: String, error: String, skipped: Boolean,
               callId: Long, callRows: Int, resp: LlmResponse): Row = {
        val (tIn, tOut, cost, lat, served) =
          if (resp == null) (0L, 0L, java.math.BigDecimal.ZERO, 0.0, null)
          else (resp.tokensIn, resp.tokensOut, resp.cost, resp.latencyMs,
            resp.model)
        Row.fromSeq(row.toSeq ++ Seq(result, error, skipped, callId,
          callRows, tIn, tOut, new java.math.BigDecimal(cost.toString), lat,
          served))
      }

      /** The rows a call answers — its own group and the followers of its
        * prompts, each paired with the row index whose reply item it
        * takes — through the reply or, on error, the error policy. */
      def emitAll(p: PendingCall, out: PendingCall.Outcome,
                  rs: Seq[(Long, Row)]): Seq[Row] = out match {
        case Right((resp, byId)) =>
          // ids absent from the reply pad to null → parser → null output
          // → auto-retry picks them up (reference:
          // batch_disaggregator_stage.py:158-163)
          rs.map { case (item, row) =>
            emit(row, byId.getOrElse(item, null), null, skipped = false,
              p.callId, p.items.size, resp)
          }
        case Left(e) => policy match {
          case ErrorPolicy.Skip => rs.map { case (_, row) =>
            emit(row, null, e.getMessage, skipped = true, p.callId,
              p.items.size, null)
          }
          case ErrorPolicy.UseDefault => rs.map { case (_, row) =>
            emit(row, default, e.getMessage, skipped = false, p.callId,
              p.items.size, null)
          }
          case _ => throw e // Fail / Retry-exhausted
        }
      }

      /** Complete a call once and tell the single-flight table how it
        * ended (see [[Flights]]). */
      def resolve(p: PendingCall, out: PendingCall.Outcome): Boolean = {
        val won = p.outcome.trySuccess(out)
        if (won) { if (out.isLeft) flights.failed(p) else flights.answered(p) }
        won
      }

      /** One attempt under the per-call deadline: arm an interrupt at
        * `timeoutMs`, so a hung client (blocking IO, sleep) unwinds as a
        * retryable NetworkError instead of wedging the Spark task forever
        * (reference bounds every call the same way — tenacity timeout).
        * Clients that swallow the interrupt are caught one level up by the
        * dequeue backstop (see `awaitBounded`). */
      def timedInvoke(promptText: String, pending: PendingCall): LlmResponse = {
        pending.attemptStartNs = System.nanoTime()
        val caller = Thread.currentThread()
        // `done` + lock close the cancel race: without it, a trigger
        // already PAST cancel(false) could interrupt the caller after the
        // finally-block clear, poisoning the next blocking op (backoff
        // sleep, limiter acquire, shuffle write) with a stray interrupt
        val lock = new Object
        var done = false
        val trigger = ClientPool.deadlines.schedule(
          new Runnable {
            def run(): Unit =
              lock.synchronized { if (!done) caller.interrupt() }
          },
          timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        try client.invoke(promptText, system)
        catch {
          case _: InterruptedException =>
            throw new NetworkError(s"call exceeded ${timeoutMs}ms deadline")
        } finally {
          pending.attemptStartNs = -1L
          trigger.cancel(false)
          lock.synchronized { done = true }   // no interrupt can fire past here
          Thread.interrupted() // clear one that raced in before the gate
        }
      }

      def callOne(pending: PendingCall): Unit = try {
        // an outcome already set means the backstop resolved this call
        // while it was queued: issue no provider call for emitted rows
        if (pending.outcome.isCompleted) return
        val items = pending.items
        val single = items.size == 1 && batchSize == 1
        val promptText =
          if (single) items.head._2
          else BatchCodec.encodeMegaPrompt(BatchCodec.BatchMarker, items)
        try {
          limiter.foreach(_.acquire())
          adaptive.foreach(_.acquireBlocking())
          // a call abandoned while it waited for a permit (pool-wedged
          // rule) must not issue real provider calls for rows the
          // backstop already emitted
          if (pending.outcome.isCompleted) {
            pending.releasePermitOnce(adaptive)
            return
          }
          val resp =
            try RetryHandler.withRetries(maxRetries, baseMs, capMs, limiter) {
              try timedInvoke(promptText, pending)
              catch { case e: RateLimitError =>
                adaptive.foreach(_.onRateLimit()); throw e
              }
            } finally pending.releasePermitOnce(adaptive)
          adaptive.foreach(_.onSuccess(resp.latencyMs))
          // the table keeps answered calls for repeats: hold the decoded
          // items, not the raw reply text as well
          resolve(pending, Right((resp.copy(text = null),
            if (single) Map(pending.callId -> resp.text)
            else BatchCodec.decodeResults(resp.text).toMap)))
        } catch { case e: Throwable => resolve(pending, Left(e)) }
      } finally pending.finished.trySuccess(())

      /** Dequeue backstop for clients that swallow the deadline interrupt
        * (native code, catch-all retry loops): timedInvoke normally unwinds
        * every attempt within `timeoutMs`, so an attempt still running at
        * 4x its deadline means the interrupt was ignored. Stop waiting and
        * resolve the call through the error policy — the wedged daemon
        * pool thread is abandoned (its late result, if any, is dropped)
        * instead of wedging the Spark task with it. A follower waiting on
        * another partition's call runs the same rule on the same call, so
        * whichever waiter trips first resolves it for all.
        *
        * Waits with NO attempt running (pool queue, limiter acquire,
        * backoff sleep) are honest and never trip the per-attempt rule —
        * EXCEPT when every pool thread is known-wedged: abandoned calls
        * are counted per pool (decremented if one ever completes), and
        * once the count reaches the pool size a queued call can never
        * start, so its heartbeat would never arm and the first backstop
        * shipped here would spin forever. Such calls resolve through the
        * error policy too, and a later start (a wedged thread finally
        * dying) finds the outcome set and issues no provider call for an
        * already-emitted call. */
      val poolSize = if (adaptiveOn) maxConc else conc
      val abandonedCtr = ClientPool.abandonedCount(runId, poolSize)
      val wedgeBoundNs: Long =
        math.max(4L * timeoutMs, timeoutMs + 1000L) * 1000000L
      val task = TaskContext.get()
      def awaitBounded(p: PendingCall): PendingCall.Outcome = {
        val poll = Duration(math.max(timeoutMs / 4, 50L),
          java.util.concurrent.TimeUnit.MILLISECONDS)
        while (true) {
          try return Await.result(p.outcome.future, poll)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              // a killed task (stage failed or cancelled) stops waiting
              if (task.isInterrupted())
                throw new org.apache.spark.TaskKilledException(
                  "task killed while waiting on a provider call")
              val st = p.attemptStartNs
              val attemptWedged =
                st >= 0L && System.nanoTime() - st > wedgeBoundNs
              val poolWedged = st < 0L && abandonedCtr.get() >= poolSize
              if (attemptWedged || poolWedged) {
                val err = new NetworkError(
                  if (attemptWedged)
                    s"client ignored the ${timeoutMs}ms deadline interrupt; " +
                      "abandoning the call (dequeue backstop)"
                  else
                    s"all $poolSize pool threads wedged by abandoned " +
                      "calls; resolving queued call (dequeue backstop)")
                if (resolve(p, Left(err)) && attemptWedged) {
                  abandonedCtr.incrementAndGet()
                  p.finished.future.onComplete(_ =>
                    abandonedCtr.decrementAndGet())(ExecutionContext.parasitic)
                  // free the adaptive slot the wedged thread holds, or
                  // after initialLimit wedges nothing could ever run
                  p.releasePermitOnce(adaptive)
                }
                return p.outcome.future.value.get.get
              }
          }
        }
        throw new IllegalStateException("unreachable")
      }

      // Pull-based bounded pipeline: at most `conc` of this partition's
      // calls in flight, results drained in submission order, and memory
      // bounded at 2 * conc * batchSize buffered rows. A row whose prompt
      // has a call already is a follower: queued behind that call (or
      // carried by this partition's unsubmitted batch) and emitted from
      // its reply, holding no pool thread and no window slot.
      val maxHeld = 2 * conc * batchSize
      new Iterator[Row] {
        // (call, rows it answers here, whether it is this partition's own)
        private val queue =
          mutable.Queue.empty[(PendingCall, Seq[(Long, Row)], Boolean)]
        private var calls = 0 // own calls in the queue
        private var held = 0 // rows in the queue and the open batch
        // the open (unsubmitted) batch: its leaders, the rows following
        // them, and prompt → leader index. Only this partition sees it.
        private val batch = mutable.ArrayBuffer.empty[(Long, String, Row)]
        private val batchFollowers = mutable.ArrayBuffer.empty[(Long, Row)]
        private val batchLeaders = mutable.HashMap.empty[String, Long]
        private var current: Iterator[Row] = Iterator.empty

        // A prompt is published in the table right before its call is
        // handed to the pool, with nothing between that can block, so no
        // task ever waits on a call that is not submitted.
        private def submit(p: PendingCall, rs: Seq[(Long, Row)]): Unit = {
          // a pool that no longer takes work (its run was shut down) fails
          // the call instead of leaving its rows waiting forever
          try ec.execute(() => callOne(p))
          catch { case e: java.util.concurrent.RejectedExecutionException =>
            resolve(p, Left(new LlmError(
              s"call pool of run $runId is shut down: ${e.getMessage}",
              retryable = false)))
            p.finished.trySuccess(())
          }
          queue.enqueue((p, rs, true))
          calls += 1
        }
        private def follow(lead: (PendingCall, Long), r: Row): Unit =
          queue.enqueue((lead._1, Seq((lead._2, r)), false))
        private def submitBatch(): Unit = {
          val p = new PendingCall(batch.map(b => (b._1, b._2)).toSeq)
          p.items.foreach { case (idx, prompt) =>
            if (prompt != null) flights.table.putIfAbsent(prompt, (p, idx))
          }
          submit(p, batch.map(b => (b._1, b._3)).toSeq ++ batchFollowers)
          batch.clear(); batchFollowers.clear(); batchLeaders.clear()
        }
        private def fill(): Unit = {
          while (rows.hasNext && calls < conc && held < maxHeld) {
            val r = rows.next()
            val idx = r.getLong(idxAt)
            val prompt = r.getString(promptAt)
            held += 1
            // a null prompt never shares a call (the table takes no null key)
            if (batchSize == 1) {
              // one putIfAbsent both looks the prompt up and claims it
              val p = new PendingCall(Seq((idx, prompt)))
              (if (prompt == null) null
               else flights.table.putIfAbsent(prompt, (p, idx))) match {
                case null => submit(p, Seq((idx, r)))
                case lead => follow(lead, r)
              }
            } else batchLeaders.get(prompt) match {
              case Some(item) => batchFollowers += ((item, r))
              case None => (if (prompt == null) null
                            else flights.table.get(prompt)) match {
                case null =>
                  batch += ((idx, prompt, r))
                  batchLeaders(prompt) = idx
                  if (batch.size == batchSize) submitBatch()
                case lead => follow(lead, r)
              }
            }
          }
          if (!rows.hasNext && batch.nonEmpty) submitBatch()
        }
        fill()
        def hasNext: Boolean = current.hasNext || queue.nonEmpty || batch.nonEmpty
        def next(): Row = {
          if (!current.hasNext) {
            // the buffer bound stopped the fill with only the open batch
            // left: submit it short rather than wait on nothing
            if (queue.isEmpty) submitBatch()
            val (p, rs, own) = queue.dequeue()
            val out = awaitBounded(p)
            if (own) calls -= 1
            held -= rs.size
            val emitted = emitAll(p, out, rs)
            // journaled before the next call is submitted
            journalWriter.foreach(_.append(emitted))
            current = emitted.iterator
            fill()
          }
          current.next()
        }
      }
    }(Encoders.row(outSchema))
  }
}
