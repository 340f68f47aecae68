package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import java.util.concurrent.atomic.LongAdder

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Latency and fault profile of the simulated provider. Rates are per
  * attempt; faults are injected only on a request's first
  * [[Provider.FaultAttempts]] attempts, so every request succeeds inside the
  * engine's default retry budget (3 retries) and no run fails. Item omission
  * applies only to an item's first answered appearance, so one auto-retry
  * pass heals it. */
final case class ProviderProfile(
    medianMs: Double,
    sigma: Double,
    p429: Double,
    p503: Double,
    pMalformed: Double,
    pOmit: Double = 0.0)

/** Prices the provider bills at and the client is configured with. */
object Pricing {
  val InPer1k: BigDecimal = BigDecimal("0.00015")
  val OutPer1k: BigDecimal = BigDecimal("0.0006")
  val Model = "sim-1"
}

/** Counters of one epoch (one pass). */
final class ProviderCounters {
  val requests = new LongAdder
  val faults429 = new LongAdder
  val faults503 = new LongAdder
  val faultsMalformed = new LongAdder
  val omitted = new LongAdder
  val itemsIn = new LongAdder
  val delivered = new LongAdder
  val bytesIn = new LongAdder
  val bytesOut = new LongAdder
  val serviceNs = new LongAdder
  val billedTokensIn = new LongAdder
  val billedTokensOut = new LongAdder
  val reinvoked = new LongAdder
  /** Order-independent digest of (content, attempt, outcome) over the
    * epoch's requests: equal schedules give equal digests. */
  val scheduleDigest = new LongAdder
  val firstRequestNs = new AtomicLong(0L)
  /** Requests per wall-clock second, for the peak 10-second rate. */
  val perSecond = new ConcurrentHashMap[Long, LongAdder]()

  def billedUsd: Double =
    billedTokensIn.sum / 1000.0 * Pricing.InPer1k.toDouble +
      billedTokensOut.sum / 1000.0 * Pricing.OutPer1k.toDouble

  def faults: Long = faults429.sum + faults503.sum + faultsMalformed.sum

  def peakRps10s: Double = {
    import scala.jdk.CollectionConverters._
    val secs = perSecond.asScala.map { case (s, n) => s -> n.sum }.toMap
    if (secs.isEmpty) 0.0
    else secs.keys.map(s => (s until s + 10).map(secs.getOrElse(_, 0L)).sum)
      .max / 10.0
  }
}

/** Seeded, closed-loop chat-completions provider on 127.0.0.1.
  *
  * Every draw (latency, fault, item omission) is keyed on
  * hash(seed, epoch, request content, that content's attempt number), so a
  * schedule does not depend on thread timing: the same seed and inputs give
  * the same request and fault counts. Replies follow the engine mock's
  * contract: the md5 hex of each item's prompt; mega-prompts (a marker line,
  * then a JSON array of {"id","prompt"}) get a JSON array of
  * {"id","result"}. `usage` is length/4 per side.
  *
  * The engine's own Invoke window is the load generator; the server pool is
  * sized well above the engine's concurrency so it never serializes
  * requests.
  */
final class Provider(seed: Long) {
  import Provider._

  @volatile private var profile: ProviderProfile =
    ProviderProfile(1.0, 0.0, 0.0, 0.0, 0.0)
  @volatile private var epoch: Long = 0L
  @volatile private var counters = new ProviderCounters
  private val attempts = new ConcurrentHashMap[Long, AtomicInteger]()
  private val itemAttempts = new ConcurrentHashMap[Long, AtomicInteger]()

  // stop-answering mode (crash workload): once `holdAfterItems` items have
  // been answered, every further request blocks until `release()`
  private val holdLock = new Object
  @volatile private var holdAfterItems: Long = -1L
  private var answeredItems = 0L
  @volatile private var holdLatch = new CountDownLatch(0)
  val held = new AtomicInteger(0)
  // items delivered in a recorded epoch, to count re-invoked rows later
  private val recorded = ConcurrentHashMap.newKeySet[Long]()
  private val deliveredThisEpoch = ConcurrentHashMap.newKeySet[Long]()
  @volatile private var recording = false

  private val mapper = new ObjectMapper()
  private val pool = Executors.newFixedThreadPool(ServerThreads, r => {
    val t = new Thread(r, "perfbench-provider")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 256)
  server.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val url: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

  /** Start a new epoch: fresh counters and attempt numbers, and draws salted
    * with the epoch so each pass gets its own schedule. */
  def beginEpoch(e: Long, p: ProviderProfile,
                 record: Boolean = false): ProviderCounters = {
    profile = p
    epoch = e
    attempts.clear()
    itemAttempts.clear()
    recording = record
    if (record) recorded.clear()
    deliveredThisEpoch.clear()
    counters = new ProviderCounters
    counters
  }

  def current: ProviderCounters = counters

  def holdAfter(items: Long): Unit = holdLock.synchronized {
    holdLatch = new CountDownLatch(1)
    answeredItems = 0L
    holdAfterItems = items
  }

  def release(): Unit = {
    holdAfterItems = -1L
    holdLatch.countDown()
  }

  def stop(): Unit = {
    release()
    server.stop(0)
    pool.shutdownNow()
  }

  private def base(content: String): Long =
    mix(mix(seed) ^ mix(epoch + 0x51ed27L)) ^ fnv64(content)

  private def handle(ex: HttpExchange): Unit = try {
    val t0 = System.nanoTime()
    val c = counters
    val p = profile
    val body = ex.getRequestBody.readAllBytes()
    c.requests.increment()
    c.bytesIn.add(body.length)
    c.firstRequestNs.compareAndSet(0L, t0)
    c.perSecond.computeIfAbsent(System.currentTimeMillis() / 1000L,
      _ => new LongAdder).increment()

    val msgs = mapper.readTree(body).path("messages")
    val content = msgs.path(msgs.size - 1).path("content").asText("")
    val h = base(content)
    val attempt =
      attempts.computeIfAbsent(h, _ => new AtomicInteger()).getAndIncrement()
    val latencyNs = (lognormalMs(p, h, attempt) * 1e6).toLong
    val u = uniform(h, attempt, SaltFault)
    val fault =
      if (attempt >= FaultAttempts) FaultNone
      else if (u < p.p429) Fault429
      else if (u < p.p429 + p.p503) Fault503
      else if (u < p.p429 + p.p503 + p.pMalformed) FaultMalformed
      else FaultNone

    c.scheduleDigest.add(mix(h ^ mix(attempt.toLong * 4L + fault)))
    val batch = content.startsWith(BatchMarkerPrefix)
    val items: Seq[(Long, String)] =
      if (batch) decodeItems(content) else Seq((-1L, content))
    if (fault == FaultNone && holdAfterItems >= 0) {
      val hold = holdLock.synchronized {
        if (holdAfterItems >= 0 && answeredItems >= holdAfterItems) true
        else { answeredItems += items.size; false }
      }
      if (hold) {
        held.incrementAndGet()
        holdLatch.await()
        respond(ex, 503, "{\"error\":\"provider stopped\"}", Map.empty, c)
        return
      }
    }
    LockSupport.parkNanos(latencyNs)

    fault match {
      case Fault429 =>
        c.faults429.increment()
        respond(ex, 429,
          "{\"error\":{\"message\":\"rate limit exceeded, slow down\"}}",
          Map("retry-after-ms" -> RetryAfterMs.toString), c)
      case Fault503 =>
        c.faults503.increment()
        respond(ex, 503, "{\"error\":{\"message\":\"upstream overloaded\"}}",
          Map.empty, c)
      case FaultMalformed =>
        c.faultsMalformed.increment()
        respond(ex, 200, "<html>upstream gateway garbage", Map.empty, c)
      case _ =>
        c.itemsIn.add(items.size)
        val answered = items.filter { case (_, prompt) =>
          val ih = base(prompt)
          val key = mix(seed) ^ fnv64(prompt) // epoch-free, for re-invocation
          val ia = itemAttempts.computeIfAbsent(ih, _ => new AtomicInteger())
            .getAndIncrement()
          val omit = batch && ia == 0 && uniform(ih, 0, SaltOmit) < p.pOmit
          if (omit) c.omitted.increment()
          else if (recording) recorded.add(key)
          else if (!recorded.isEmpty && recorded.contains(key) &&
              deliveredThisEpoch.add(key)) c.reinvoked.increment()
          !omit
        }
        c.delivered.add(answered.size)
        val text =
          if (!batch) md5Hex(content)
          else {
            val arr = mapper.createArrayNode()
            answered.foreach { case (id, prompt) =>
              val o = arr.addObject()
              o.put("id", id)
              o.put("result", md5Hex(prompt))
            }
            mapper.writeValueAsString(arr)
          }
        val tIn = math.max(1L, content.length / 4L)
        val tOut = math.max(1L, text.length / 4L)
        c.billedTokensIn.add(tIn)
        c.billedTokensOut.add(tOut)
        val root = mapper.createObjectNode()
        root.put("id", s"cmpl-${java.lang.Long.toHexString(h)}-$attempt")
        root.put("object", "chat.completion")
        root.put("model", Pricing.Model)
        val choice = root.putArray("choices").addObject()
        choice.put("index", 0)
        val msg = choice.putObject("message")
        msg.put("role", "assistant")
        msg.put("content", text)
        choice.put("finish_reason", "stop")
        val usage = root.putObject("usage")
        usage.put("prompt_tokens", tIn)
        usage.put("completion_tokens", tOut)
        usage.put("total_tokens", tIn + tOut)
        respond(ex, 200, mapper.writeValueAsString(root), Map.empty, c)
    }
    c.serviceNs.add(System.nanoTime() - t0)
  } catch {
    case _: java.io.IOException => () // client gone (killed engine)
  } finally ex.close()

  private def respond(ex: HttpExchange, status: Int, body: String,
                      headers: Map[String, String],
                      c: ProviderCounters): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
    c.bytesOut.add(bytes.length)
  }

  private def decodeItems(megaPrompt: String): Seq[(Long, String)] = {
    val arr = mapper.readTree(megaPrompt.substring(megaPrompt.indexOf('\n') + 1))
    (0 until arr.size).map { i =>
      val n = arr.get(i)
      (n.get("id").asLong(), n.get("prompt").asText())
    }
  }

  private def lognormalMs(p: ProviderProfile, h: Long, attempt: Int): Double = {
    // Box-Muller on two keyed uniforms
    val u1 = math.max(uniform(h, attempt, SaltLat1), 1e-12)
    val u2 = uniform(h, attempt, SaltLat2)
    val z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    p.medianMs * math.exp(p.sigma * z)
  }
}

object Provider {
  val FaultAttempts = 3
  val RetryAfterMs = 50L
  private val ServerThreads = 32
  private val FaultNone = 0
  private val Fault429 = 1
  private val Fault503 = 2
  private val FaultMalformed = 3
  private val SaltFault = 1
  private val SaltLat1 = 2
  private val SaltLat2 = 3
  private val SaltOmit = 4

  /** First words of the engine's mega-prompt marker line. The provider
    * recognises batch requests by this prefix, as a model reads the
    * instruction; it does not link against the engine's codec. */
  val BatchMarkerPrefix = "Answer each item. Reply ONLY with a JSON array"

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** Uniform in [0, 1) from a key, an attempt number and a salt. */
  def uniform(h: Long, attempt: Int, salt: Int): Double =
    (mix(h ^ mix(attempt.toLong * 31L + salt)) >>> 11) * (1.0 / (1L << 53))

  private val Hex = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}
