package graft.llm

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

/** Distributed token bucket with a Redis server as the shared source of
  * truth — the exact-global, multi-host leg of the scope-key design
  * (reference: ondine/utils/redis_rate_limiter.py:1-499). N workers on N
  * hosts, one API key, ONE logical bucket under `{namespace:scope}`.
  *
  * Semantics re-expressed from the reference:
  *  - The whole refill-cap-take-or-deny step runs inside ONE atomic
  *    server-side Lua script (redis_rate_limiter.py:62-124), so
  *    concurrent workers across machines can never double-spend a token.
  *    First call issues EVALSHA with the locally-computed SHA-1; a
  *    NOSCRIPT reply (fresh server, failover) falls back to EVAL, which
  *    populates the server's script cache — redis-py's register_script
  *    discipline.
  *  - Caller-supplied wallclock timestamp (comparable across hosts; NTP
  *    assumed); the script clamps backwards clock moves so skew can only
  *    under-refill, never reset the bucket to capacity
  *    (the reference's skew-reset bug fix, redis_rate_limiter.py:90-105).
  *  - Bucket hash + penalty key share the `{...}` hash tag so Redis
  *    Cluster keeps them in one slot and the multi-key EVAL stays legal.
  *  - `penalize` writes max(stored, candidate) absolute deadline with a
  *    TTL ≈ the delay, visible to every worker on the scope
  *    (redis_rate_limiter.py:135-142,192-230).
  *  - Circuit breaker ([[Breaker]]): while open, calls route through
  *    the worker-local `fallback` limiter — lower ceiling, but nothing
  *    drops (redis_rate_limiter.py:44-47,436-499). With no fallback
  *    configured, errors propagate: the caller opted in to fail-hard.
  *
  * Keys and TTLs: `{namespace:scope}:bucket` (hash: tok, at) and
  * `{namespace:scope}:penalty` (absolute deadline, seconds); the bucket
  * key is PEXPIREd to `keyTtlMs` on every touch so dead scopes
  * self-garbage-collect. Scope is typically "provider:model".
  */
final class RedisBucket(
    host: String, port: Int, scope: String,
    requestsPerMinute: Int, burst: Int,
    namespace: String = "graft:ratelimit",
    fallback: Option[RateLimiter] = None,
    clock: () => Double = () => System.currentTimeMillis() / 1000.0,
    breakerThreshold: Int = 3,
    breakerProbeMs: Long = 10000L,
    keyTtlMs: Long = 600000L)
  extends GlobalBucket with AutoCloseable {
  require(requestsPerMinute > 0)

  /** The breaker-open degraded rate, observable at CONFIG time (rpm of
    * the worker-local fallback bucket, None = no fallback, errors
    * propagate) — so a deployment can assert the outage behavior it
    * declared instead of discovering it mid-outage. */
  private[graft] def fallbackRate: Option[Int] = fallback.map(_.ratePerMinute)

  private val capacity: Double = math.max(1, burst).toDouble
  private val ratePerSec: Double = requestsPerMinute / 60.0
  private val tag = s"{$namespace:$scope}"
  private val bucketKey = s"$tag:bucket"
  private val penaltyKey = s"$tag:penalty"

  private val acquireSha = RedisBucket.sha1Hex(RedisBucket.AcquireLua)
  private val penalizeSha = RedisBucket.sha1Hex(RedisBucket.PenalizeLua)

  /** Locale-independent fixed-point serialization (the script requires
    * '.'-decimal numbers; a comma-locale default would corrupt state). */
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))

  private val breaker = new Breaker(breakerThreshold, breakerProbeMs)
  /** At-least-once with 3 attempts: a repeated ACQUIRE forfeits at most
    * one token, a repeated PENALIZE is idempotent via the script's max(). */
  private val conn = new RespConnection(host, port, attempts = 3)

  /** EVALSHA with EVAL fallback on NOSCRIPT. */
  private def evalScript(lua: String, sha: String, keys: Seq[String],
                         args: Seq[String]): Any = {
    val tail = Seq(keys.size.toString) ++ keys ++ args
    try conn.command(Seq("EVALSHA", sha) ++ tail)
    catch {
      case e: RedisBucket.ErrorReply if e.getMessage.startsWith("NOSCRIPT") =>
        conn.command(Seq("EVAL", lua) ++ tail)
    }
  }

  /** Run the acquire script once: (granted, remainingTokens).
    * want = 0 always grants and reports depth (the availableTokens probe). */
  private def evalAcquire(want: Double): (Boolean, Double) = {
    val r = evalScript(RedisBucket.AcquireLua, acquireSha,
      Seq(bucketKey, penaltyKey),
      Seq(fmt(ratePerSec), fmt(capacity), fmt(want),
        fmt(clock()), keyTtlMs.toString))
    r match {
      case arr: Array[_] if arr.length == 2 =>
        val granted = arr(0).asInstanceOf[Long] == 1L
        val remaining = arr(1).asInstanceOf[String].toDouble
        (granted, remaining)
      case other => throw new NetworkError(s"bad acquire reply: $other")
    }
  }

  /** Block until a token is granted (50 ms poll, the reference's
    * interval); returns total wait in ms. Transport failures route to the
    * fallback (or rethrow when none). */
  def acquire(): Long = {
    if (breaker.isOpen && fallback.isDefined) return fallback.get.acquire()
    var waited = 0L
    while (true) {
      val granted =
        try { val g = evalAcquire(1.0)._1; breaker.recordSuccess(); g }
        catch {
          case e: java.io.IOException =>
            breaker.recordFailure()
            fallback match {
              case Some(f) => return waited + f.acquire()
              case None => throw new NetworkError(s"redis bucket: $e")
            }
        }
      if (granted) return waited
      Thread.sleep(50L)
      waited += 50L
    }
    waited
  }

  /** Propagate a server retry-after to every worker on the scope: absolute
    * deadline, max-merged server-side, TTL = delay + 1 s. */
  def penalize(delayMs: Long): Unit = {
    if (delayMs <= 0) return
    if (breaker.isOpen && fallback.isDefined) {
      fallback.get.penalize(delayMs); return
    }
    val deadline = clock() + delayMs / 1000.0
    try {
      evalScript(RedisBucket.PenalizeLua, penalizeSha, Seq(penaltyKey),
        Seq(fmt(deadline), (delayMs + 1000L).toString))
      breaker.recordSuccess()
    } catch {
      case e: java.io.IOException =>
        breaker.recordFailure()
        fallback match {
          case Some(f) => f.penalize(delayMs)
          case None => throw new NetworkError(s"redis bucket: $e")
        }
    }
  }

  /** Authoritative server-side token depth (triggers a refill, takes
    * nothing). Routes through the breaker like every other call: while
    * open it reports the local fallback's depth (or fails as
    * [[NetworkError]] with no fallback) instead of dialing the dead
    * endpoint for ~15 s per probe. */
  def availableTokens: Double = {
    if (breaker.isOpen && fallback.isDefined) return fallback.get.availableTokens
    try { val d = evalAcquire(0.0)._2; breaker.recordSuccess(); d }
    catch {
      case e: java.io.IOException =>
        breaker.recordFailure()
        fallback match {
          case Some(f) => f.availableTokens
          case None => throw new NetworkError(s"redis bucket: $e")
        }
    }
  }

  /** Drop the shared bucket and any active penalty; next acquire starts
    * at full capacity. The worker-local fallback resets too — penalties
    * route into it during an outage, so skipping it would leave this
    * worker stalled on a deadline the caller just asked to clear. While
    * the breaker is open the unreachable remote state is left to its own
    * TTLs (penalty keys expire with their delay); a transport failure
    * with the breaker closed ALWAYS surfaces as [[NetworkError]] — a
    * reset that silently didn't happen would leave every worker
    * throttled by state the caller believes deleted. */
  def reset(): Unit = {
    fallback.foreach(_.reset())
    if (breaker.isOpen && fallback.isDefined) return
    try { conn.command(Seq("DEL", bucketKey, penaltyKey)); breaker.recordSuccess() }
    catch {
      case e: java.io.IOException =>
        breaker.recordFailure()
        throw new NetworkError(s"redis bucket: $e")
    }
  }

  def close(): Unit = conn.close()
}

/** Consecutive-failure circuit breaker shared by the Redis clients:
  * `threshold` consecutive failures open it; after `probeMs` the next
  * call goes half-open (one real attempt; success closes, failure
  * re-opens). */
private[llm] final class Breaker(threshold: Int, probeMs: Long) {
  private var failures = 0
  private var openedAtMs = -1L
  def isOpen: Boolean = synchronized {
    openedAtMs >= 0L && System.currentTimeMillis() - openedAtMs < probeMs
  }
  def recordFailure(): Unit = synchronized {
    failures += 1
    if (failures >= threshold) openedAtMs = System.currentTimeMillis()
  }
  def recordSuccess(): Unit = synchronized {
    failures = 0; openedAtMs = -1L
  }
}

/** One persistent RESP connection to a Redis server, (re)opened lazily.
  * `command` is one round trip with up to `attempts` tries, reconnecting
  * after each transport failure; it throws [[RedisBucket.ErrorReply]] on
  * a `-ERR`-class reply and IOException once every attempt failed. */
private[llm] final class RespConnection(host: String, port: Int, attempts: Int) {
  private var sock: Socket = _
  private var in: BufferedInputStream = _
  private var out: BufferedOutputStream = _

  private def ensureConnected(): Unit = {
    if (sock == null || sock.isClosed) {
      sock = new Socket()
      sock.setTcpNoDelay(true)
      sock.connect(new InetSocketAddress(host, port), 5000)
      in = new BufferedInputStream(sock.getInputStream)
      out = new BufferedOutputStream(sock.getOutputStream)
    }
  }

  def command(parts: Seq[String]): Any = synchronized {
    var lastErr: java.io.IOException = null
    var attempt = 0
    while (attempt < attempts) {
      try {
        ensureConnected()
        out.write(RedisBucket.encode(parts))
        out.flush()
        return RedisBucket.parse(in)
      } catch {
        case e: java.io.IOException =>
          lastErr = e
          try if (sock != null) sock.close() catch { case _: Exception => () }
          sock = null
      }
      attempt += 1
    }
    throw new java.io.IOException(s"redis unreachable at $host:$port: $lastErr")
  }

  def close(): Unit = if (sock != null) sock.close()
}

object RedisBucket {

  /** A `-`-class RESP reply (server-reported error, e.g. NOSCRIPT). */
  final class ErrorReply(msg: String) extends RuntimeException(msg)

  /** Atomic acquire: penalty gate first, then refill (clamping backwards
    * clock moves to zero elapsed — never reset on skew), then conditional
    * take. Fixed-point ts serialization keeps Lua from emitting scientific
    * notation. Returns {granted 0/1, tokens-after as string}. */
  val AcquireLua: String =
    """-- graft:acquire
      |local now = tonumber(ARGV[4])
      |local pen = tonumber(redis.call('GET', KEYS[2]))
      |if pen and now < pen then return {0, '0'} end
      |local rate = tonumber(ARGV[1])
      |local cap = tonumber(ARGV[2])
      |local want = tonumber(ARGV[3])
      |local h = redis.call('HMGET', KEYS[1], 'tok', 'at')
      |local tok = tonumber(h[1])
      |local at = tonumber(h[2])
      |if tok == nil or at == nil then tok = cap; at = now end
      |local dt = now - at
      |if dt < 0 then dt = 0; now = at end
      |tok = math.min(cap, tok + dt * rate)
      |local granted = 0
      |if want <= 0 or tok >= want then tok = tok - want; granted = 1 end
      |redis.call('HMSET', KEYS[1], 'tok', tostring(tok),
      |           'at', string.format('%.6f', now))
      |redis.call('PEXPIRE', KEYS[1], tonumber(ARGV[5]))
      |return {granted, tostring(tok)}
      |""".stripMargin

  /** Max-merge an absolute penalty deadline so a late short retry-after
    * can never shorten an earlier long one. */
  val PenalizeLua: String =
    """-- graft:penalize
      |local cur = tonumber(redis.call('GET', KEYS[1]))
      |local cand = tonumber(ARGV[1])
      |if cur == nil or cand > cur then
      |  redis.call('SET', KEYS[1], tostring(cand), 'PX', tonumber(ARGV[2]))
      |end
      |return 1
      |""".stripMargin

  def sha1Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** RESP2 encode: array of bulk strings. */
  def encode(parts: Seq[String]): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    sb.append('*').append(parts.size).append("\r\n")
    parts.foreach { p =>
      val b = p.getBytes(StandardCharsets.UTF_8)
      sb.append('$').append(b.length).append("\r\n").append(p).append("\r\n")
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** RESP2 parse: simple string → String, error → throw [[ErrorReply]],
    * integer → Long, bulk → String (null bulk → null), array →
    * Array[Any] (null array → null). */
  def parse(in: java.io.InputStream): Any = {
    val t = in.read()
    if (t < 0) throw new java.io.IOException("connection closed")
    t.toChar match {
      case '+' => readLine(in)
      case '-' => throw new ErrorReply(readLine(in))
      case ':' => readLine(in).toLong
      case '$' =>
        val n = readLine(in).toInt
        if (n < 0) null
        else {
          val buf = new Array[Byte](n)
          var off = 0
          while (off < n) {
            val r = in.read(buf, off, n - off)
            if (r < 0) throw new java.io.IOException("truncated bulk")
            off += r
          }
          in.read(); in.read() // trailing \r\n
          new String(buf, StandardCharsets.UTF_8)
        }
      case '*' =>
        val n = readLine(in).toInt
        if (n < 0) null
        else Array.tabulate[Any](n)(_ => parse(in))
      case c => throw new java.io.IOException(s"bad RESP type byte '$c'")
    }
  }

  private def readLine(in: java.io.InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\r') {
      if (c < 0) throw new java.io.IOException("connection closed")
      sb.append(c.toChar)
      c = in.read()
    }
    in.read() // \n
    sb.toString
  }
}
