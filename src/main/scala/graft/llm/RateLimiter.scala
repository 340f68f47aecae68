package graft.llm

/** Admission-control seam shared by all limiter implementations — the
  * port surface of the reference's scope-key design
  * (ondine/utils/redis_rate_limiter.py:1-120: N workers, one API key, one
  * logical bucket). Implementations: per-executor [[RateLimiter]] (rate =
  * rpm / numExecutors, the documented default split) and
  * [[FileCoordinatedBucket]] (exact global bucket for all executor JVMs
  * on one host) and [[RedisBucket]] (exact multi-host bucket).
  */
trait GlobalBucket {
  /** Block until a token is available; returns wait time in ms. */
  def acquire(): Long
  /** Honor a server retry-after: stall ALL callers of the bucket. */
  def penalize(delayMs: Long): Unit
}

/** Token-bucket rate limiter with server-penalty support
  * (reference: ondine/utils/rate_limiter.py:41-208 — rpm + burst;
  * `penalize(delay)` drains the bucket until a server-issued deadline so a
  * 429 retry-after is honored by ALL callers sharing the bucket).
  *
  * In the Spark engine there is one bucket per executor JVM per run
  * (see ClientPool); bucket rate = rpm / numExecutors. On local[N] the
  * single JVM bucket enforces the global rate exactly.
  */
final class RateLimiter(requestsPerMinute: Int, burst: Int)
    extends GlobalBucket {
  require(requestsPerMinute > 0)
  /** Configured rpm — lets a deployment assert the rate it declared. */
  private[graft] def ratePerMinute: Int = requestsPerMinute
  private val ratePerMs: Double = requestsPerMinute / 60000.0
  private val capacity: Double = math.max(1, burst).toDouble
  private var tokens: Double = capacity
  private var lastRefillMs: Long = System.nanoTime() / 1000000L
  /** Absolute deadline before which no call may proceed (penalty). */
  private var penaltyUntilMs: Long = 0L

  /** Block until a token is available; returns wait time in ms. */
  def acquire(): Long = {
    var waited = 0L
    var done = false
    while (!done) {
      val sleepMs = synchronized {
        val now = System.nanoTime() / 1000000L
        refill(now)
        if (now < penaltyUntilMs) penaltyUntilMs - now
        else if (tokens >= 1.0) { tokens -= 1.0; done = true; 0L }
        else math.max(1L, math.ceil((1.0 - tokens) / ratePerMs).toLong)
      }
      if (!done && sleepMs > 0) { Thread.sleep(math.min(sleepMs, 1000L)); waited += sleepMs }
    }
    waited
  }

  /** Honor a server retry-after: drain the bucket and stall all callers
    * (reference: rate_limiter.py:133-155). */
  def penalize(delayMs: Long): Unit = synchronized {
    val now = System.nanoTime() / 1000000L
    penaltyUntilMs = math.max(penaltyUntilMs, now + delayMs)
    tokens = 0.0
    lastRefillMs = now
  }

  private def refill(nowMs: Long): Unit = {
    val elapsed = nowMs - lastRefillMs
    if (elapsed > 0) {
      tokens = math.min(capacity, tokens + elapsed * ratePerMs)
      lastRefillMs = nowMs
    }
  }

  def availableTokens: Double = synchronized {
    refill(System.nanoTime() / 1000000L); tokens
  }

  /** Drop any active penalty and restart at full capacity — the local
    * peer of the distributed buckets' reset (reference: RateLimiter.reset,
    * rate_limiter.py). */
  def reset(): Unit = synchronized {
    tokens = capacity
    penaltyUntilMs = 0L
    lastRefillMs = System.nanoTime() / 1000000L
  }
}

/** Exact one-host global bucket: every executor JVM on the machine shares
  * token state through a lock-protected file — the no-Redis port of the
  * reference's distributed limiter (redis_rate_limiter.py's token state +
  * scope key become a state file per scope). Within a JVM a monitor
  * serializes access (FileChannel locks are process-wide and would throw
  * OverlappingFileLockException otherwise); across JVMs the OS file lock
  * serializes. State: "tokensBits lastRefillMs penaltyUntilMs".
  */
final class FileCoordinatedBucket(scopeFile: String, requestsPerMinute: Int,
                                  burst: Int) extends GlobalBucket {
  require(requestsPerMinute > 0)
  private val ratePerMs: Double = requestsPerMinute / 60000.0
  private val capacity: Double = math.max(1, burst).toDouble

  def acquire(): Long = {
    var waited = 0L
    while (true) {
      val sleepMs = withLockedState { case (tokens0, last, penalty) =>
        val now = System.nanoTime() / 1000000L
        val tokens = math.min(capacity,
          tokens0 + math.max(0L, now - last) * ratePerMs)
        if (now < penalty) ((tokens, now, penalty), penalty - now)
        else if (tokens >= 1.0) ((tokens - 1.0, now, penalty), 0L)
        else ((tokens, now, penalty),
          math.max(1L, math.ceil((1.0 - tokens) / ratePerMs).toLong))
      }
      if (sleepMs == 0L) return waited
      Thread.sleep(math.min(sleepMs, 100L))
      waited += sleepMs
    }
    waited
  }

  def penalize(delayMs: Long): Unit =
    withLockedState { case (_, _, penalty) =>
      val now = System.nanoTime() / 1000000L
      ((0.0, now, math.max(penalty, now + delayMs)), ())
    }

  /** Read-modify-write the shared state under JVM monitor + OS file lock. */
  private def withLockedState[T](
      f: ((Double, Long, Long)) => ((Double, Long, Long), T)): T =
    FileCoordinatedBucket.jvmLock(scopeFile).synchronized {
      val raf = new java.io.RandomAccessFile(scopeFile, "rw")
      try {
        val ch = raf.getChannel
        val lock = ch.lock()
        try {
          val state =
            if (raf.length() == 0) (capacity, System.nanoTime() / 1000000L, 0L)
            else {
              raf.seek(0)
              val parts = raf.readLine().trim.split(" ")
              (java.lang.Double.longBitsToDouble(parts(0).toLong),
                parts(1).toLong, parts(2).toLong)
            }
          val ((t, l, p), out) = f(state)
          raf.setLength(0)
          raf.seek(0)
          raf.writeBytes(
            s"${java.lang.Double.doubleToLongBits(t)} $l $p")
          out
        } finally lock.release()
      } finally raf.close()
    }
}

object FileCoordinatedBucket {
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  /** Key the intra-JVM monitor on the CANONICAL path: two instances
    * addressing one scope file via different spellings (relative vs
    * absolute, symlink) must share a monitor, else FileChannel.lock()
    * throws OverlappingFileLockException on the second acquire. */
  private def jvmLock(path: String): Object = {
    val canonical =
      try new java.io.File(path).getCanonicalPath
      catch { case _: java.io.IOException => path }
    jvmLocks.computeIfAbsent(canonical, _ => new Object)
  }
}

/** Exponential backoff retry for retryable errors only
  * (reference: ondine/utils/retry_handler.py:52-172 — 1x,2x,4x... capped;
  * only RetryableError/RateLimitError/NetworkError retry).
  */
object RetryHandler {
  def withRetries[T](maxRetries: Int, baseMs: Long, capMs: Long,
                     limiter: Option[GlobalBucket])(op: => T): T = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= maxRetries) {
      try return op
      catch {
        case e: RateLimitError =>
          lastErr = e
          // propagate server-issued delay to every caller on this bucket
          limiter.foreach(_.penalize(e.retryAfterMs.getOrElse(backoff(attempt, baseMs, capMs))))
          Thread.sleep(e.retryAfterMs.getOrElse(backoff(attempt, baseMs, capMs)))
        case e: LlmError if e.retryable =>
          lastErr = e
          Thread.sleep(backoff(attempt, baseMs, capMs))
        case e: LlmError => throw e // non-retryable: auth/quota/model-not-found
      }
      attempt += 1
    }
    throw lastErr
  }

  def backoff(attempt: Int, baseMs: Long, capMs: Long): Long =
    math.min(capMs, baseMs * (1L << math.min(attempt, 20)))
}
