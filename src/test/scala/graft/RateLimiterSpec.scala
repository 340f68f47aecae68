package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{RateLimiter, RetryHandler, NetworkError, AuthError}

class RateLimiterSpec extends AnyFunSuite {

  test("burst tokens are granted immediately, then throttled") {
    val rl = new RateLimiter(requestsPerMinute = 6000, burst = 5) // 100/s
    val t0 = System.nanoTime()
    (1 to 5).foreach(_ => rl.acquire()) // burst
    val burstMs = (System.nanoTime() - t0) / 1e6
    assert(burstMs < 200, s"burst should be instant, took $burstMs ms")
    rl.acquire() // 6th must wait ~10ms for refill
    val totalMs = (System.nanoTime() - t0) / 1e6
    assert(totalMs >= 5, s"6th acquire should throttle, total $totalMs ms")
  }

  test("penalize stalls all callers until the deadline") {
    val rl = new RateLimiter(requestsPerMinute = 60000, burst = 10)
    rl.penalize(150)
    val t0 = System.nanoTime()
    rl.acquire()
    val waited = (System.nanoTime() - t0) / 1e6
    assert(waited >= 100, s"expected >=100ms penalty stall, got $waited")
  }

  test("retry handler: retryable errors retry, non-retryable do not") {
    var attempts = 0
    val r = RetryHandler.withRetries(3, 1, 10, None) {
      attempts += 1
      if (attempts < 3) throw new NetworkError("flaky")
      "ok"
    }
    assert(r == "ok" && attempts == 3)

    var authAttempts = 0
    intercept[AuthError] {
      RetryHandler.withRetries(3, 1, 10, None) {
        authAttempts += 1
        throw new AuthError("bad key")
      }
    }
    assert(authAttempts == 1, "non-retryable must not retry")
  }

  test("backoff grows exponentially and caps") {
    assert(RetryHandler.backoff(0, 100, 60000) == 100)
    assert(RetryHandler.backoff(1, 100, 60000) == 200)
    assert(RetryHandler.backoff(3, 100, 60000) == 800)
    assert(RetryHandler.backoff(20, 100, 60000) == 60000)
  }

  test("file-coordinated bucket enforces ONE rate across instances") {
    // two bucket instances (stand-ins for two executor JVMs) share one
    // scope file; draining burst + 10 refill tokens through BOTH must take
    // at least the refill time of the SHARED bucket - if each instance had
    // its own tokens the drain would be nearly instant.
    val scope = java.nio.file.Files.createTempFile("graft_bucket", ".state")
      .toString
    val rpm = 6000 // 100 tokens/sec
    val a = new graft.llm.FileCoordinatedBucket(scope, rpm, 5)
    val b = new graft.llm.FileCoordinatedBucket(scope, rpm, 5)
    val t0 = System.nanoTime()
    val counts = new java.util.concurrent.atomic.AtomicIntegerArray(2)
    val threads = Seq((a, 0), (b, 1)).map { case (bucket, i) =>
      new Thread(() => (0 until 8).foreach { _ =>
        bucket.acquire(); counts.incrementAndGet(i)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    // 16 acquisitions - 5 burst = 11 refill tokens at 100/s >= 110 ms ideal;
    // assert half that to stay robust on a loaded machine
    assert(elapsedMs >= 55.0,
      f"16 tokens through a shared 5-burst 100/s bucket in $elapsedMs%.0f ms")
    assert(counts.get(0) == 8 && counts.get(1) == 8)
  }

  test("penalty through one instance stalls the other") {
    val scope = java.nio.file.Files.createTempFile("graft_bucket2", ".state")
      .toString
    val a = new graft.llm.FileCoordinatedBucket(scope, 60000, 50)
    val b = new graft.llm.FileCoordinatedBucket(scope, 60000, 50)
    a.acquire() // initialize state
    a.penalize(300)
    val t0 = System.nanoTime()
    b.acquire()
    val waitedMs = (System.nanoTime() - t0) / 1e6
    assert(waitedMs >= 150.0,
      f"server penalty must stall ALL instances, waited only $waitedMs%.0f ms")
  }

  test("router: weighted pick is deterministic, failover skips dead deployments") {
    import graft.llm._
    final class CountingClient(name: String, fail: Boolean = false)
        extends LlmClient {
      val calls = new java.util.concurrent.atomic.AtomicLong(0)
      def model: String = name
      def invoke(prompt: String, sys: Option[String]): LlmResponse = {
        calls.incrementAndGet()
        if (fail) throw new NetworkError(s"$name down")
        LlmResponse(s"$name:$prompt", 1, 1, name,
          java.math.BigDecimal.ZERO, 0.0)
      }
    }
    val a = new CountingClient("a"); val b = new CountingClient("b")
    val router = new RouterClient(Seq((a, 3.0), (b, 1.0)))
    val prompts = (0 until 400).map(i => s"prompt $i")
    val first = prompts.map(p => router.invoke(p, None).model)
    // deterministic: the same prompt always routes the same way
    assert(prompts.map(p => router.invoke(p, None).model) == first)
    // weights respected within a loose band (3:1 -> ~300/100)
    val aShare = first.count(_ == "a")
    assert(aShare > 240 && aShare < 360, s"3:1 weighting gave a=$aShare/400")

    // failover: dead primary falls through to the healthy deployment
    val dead = new CountingClient("dead", fail = true)
    val alive = new CountingClient("alive")
    val failover = new RouterClient(Seq((dead, 100.0), (alive, 1.0)))
    assert((0 until 20).forall(i =>
      failover.invoke(s"x $i", None).model == "alive"))
    // every deployment failing propagates the last error
    val doomed = new RouterClient(Seq((dead, 1.0),
      (new CountingClient("dead2", fail = true), 1.0)))
    intercept[NetworkError](doomed.invoke("y", None))
  }

  test("uncoordinated rpm split: honest counts split, unknowable refuses") {
    import graft.ops.ClientPool.{splitFor, requireSplit}
    // local master: one JVM, no split needed
    assert(splitFor("local[4]", None, None) === Some(1))
    assert(splitFor("local[*]", Some("8"), None) === Some(1))
    // static allocation: instances win
    assert(splitFor("spark://m:7077", Some("8"), None) === Some(8))
    assert(splitFor("yarn", Some("16"), Some("64")) === Some(16))
    // dynamic allocation: the maxExecutors bound (under-admits, safe)
    assert(splitFor("k8s://api", None, Some("64")) === Some(64))
    // malformed counts don't silently become full-rate-per-executor
    assert(splitFor("yarn", Some("not-a-number"), None) === None)
    // ...and a malformed instances must NOT hide a valid maxExecutors
    // bound (each conf parses independently)
    assert(splitFor("yarn", Some("not-a-number"), Some("64")) === Some(64))
    // neither conf on a cluster master: unknowable
    assert(splitFor("yarn", None, None) === None)
    assert(requireSplit(Some(8)) === 8)
    val e = intercept[IllegalArgumentException] { requireSplit(None) }
    assert(e.getMessage.contains("coordinated scope"))
    assert(e.getMessage.contains("spark.executor.instances"))
    // the local-mode pool path still constructs the worker-local bucket
    val id = s"splitok-${System.nanoTime()}"
    assert(graft.ops.ClientPool.limiter(id, 600, 10, None)
      .isInstanceOf[graft.llm.RateLimiter])
    graft.ops.ClientPool.shutdown(id)
  }

  test("rate_limit_split hint pre-declares the per-worker rate") {
    // Uncoordinated bucket: an explicit split hint overrides the
    // Spark-derived count, so the declared per-worker rate is rpm/hint.
    val id = s"splithint-${System.nanoTime()}"
    val l = graft.ops.ClientPool.limiter(id, 600, 40, None, Some(4))
    assert(l.asInstanceOf[graft.llm.RateLimiter].ratePerMinute === 150)
    graft.ops.ClientPool.shutdown(id)
    // Coordinated redis:// scope: the SAME hint pre-declares the
    // breaker-open degraded rate — the outage behavior is a config-time
    // fact, not a mid-outage discovery.
    val redis = new MiniRedis
    try {
      val id2 = s"splithint2-${System.nanoTime()}"
      val r = graft.ops.ClientPool.limiter(id2, 600, 40,
        Some(s"redis://127.0.0.1:${redis.port}/prov:m"), Some(4))
        .asInstanceOf[graft.llm.RedisBucket]
      assert(r.fallbackRate === Some(150))
      graft.ops.ClientPool.shutdown(id2)
      // different hints must not share a cached bucket
      val id3 = s"splithint3-${System.nanoTime()}"
      val r1 = graft.ops.ClientPool.limiter(id3, 600, 40,
        Some(s"redis://127.0.0.1:${redis.port}/prov:m"), Some(2))
        .asInstanceOf[graft.llm.RedisBucket]
      assert(r1.fallbackRate === Some(300))
      graft.ops.ClientPool.shutdown(id3)
    } finally redis.close()
  }

  test("redis bucket enforces ONE aggregate rate through the RESP server") {
    // Two RedisBucket clients stand in for two executor JVMs sharing one
    // provider:model scope. The bucket arithmetic runs atomically inside
    // the (fake) server, so draining through both must take the refill
    // time of the SHARED bucket — the reference's Redis deployment shape
    // (redis_rate_limiter.py Lua script), spoken over real RESP with
    // EVALSHA-then-EVAL-on-NOSCRIPT.
    val redis = new MiniRedis
    try {
      val rpm = 6000 // 100 tokens/sec
      val a = new graft.llm.RedisBucket("127.0.0.1", redis.port,
        "prov:model-a", rpm, 5)
      val b = new graft.llm.RedisBucket("127.0.0.1", redis.port,
        "prov:model-a", rpm, 5)
      val t0 = System.nanoTime()
      val counts = new java.util.concurrent.atomic.AtomicIntegerArray(2)
      val threads = Seq((a, 0), (b, 1)).map { case (bucket, i) =>
        new Thread(() => (0 until 8).foreach { _ =>
          bucket.acquire(); counts.incrementAndGet(i)
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      // 16 acquisitions - 5 burst = 11 refill tokens at 100/s >= 110 ms
      // ideal; assert half to stay robust on a loaded machine
      assert(elapsedMs >= 55.0,
        f"16 tokens through a shared 5-burst 100/s bucket in $elapsedMs%.0f ms")
      assert(counts.get(0) == 8 && counts.get(1) == 8)
      // isolated scope drains instantly; depth probe reads server state
      // (slow refill — 10/s — so the drained depth is still observable)
      val c = new graft.llm.RedisBucket("127.0.0.1", redis.port,
        "prov:model-b", 600, 50)
      val t1 = System.nanoTime()
      (0 until 10).foreach(_ => c.acquire())
      assert((System.nanoTime() - t1) / 1e6 < 1000.0)
      assert(c.availableTokens < 45.0)
      c.reset()
      assert(math.abs(c.availableTokens - 50.0) < 0.5)
      a.close(); b.close(); c.close()
    } finally redis.close()
  }

  test("redis penalty propagates to every worker on the scope") {
    val redis = new MiniRedis
    try {
      val a = new graft.llm.RedisBucket("127.0.0.1", redis.port,
        "prov:pen", 60000, 50)
      val b = new graft.llm.RedisBucket("127.0.0.1", redis.port,
        "prov:pen", 60000, 50)
      a.acquire()
      a.penalize(300) // worker A saw the 429 retry-after
      val t0 = System.nanoTime()
      b.acquire()     // worker B must honor it via the shared penalty key
      val waitedMs = (System.nanoTime() - t0) / 1e6
      assert(waitedMs >= 150.0,
        f"server penalty must stall ALL workers, waited only $waitedMs%.0f ms")
      // a shorter late penalty must not cut the stored deadline short
      a.penalize(500); a.penalize(10)
      val t1 = System.nanoTime()
      b.acquire()
      assert((System.nanoTime() - t1) / 1e6 >= 200.0,
        "late short retry-after shortened an earlier long penalty")
      a.close(); b.close()
    } finally redis.close()
  }

  test("redis outage routes through the local fallback; breaker recovers") {
    // Grab an ephemeral port and release it so nothing listens there.
    val probe = new java.net.ServerSocket(0)
    val deadPort = probe.getLocalPort
    probe.close()
    val fb = new graft.llm.RateLimiter(60000, 50)
    val bucket = new graft.llm.RedisBucket("127.0.0.1", deadPort,
      "prov:out", 60000, 50, fallback = Some(fb), breakerProbeMs = 300L)
    // every acquire succeeds via the worker-local fallback, no exception
    val t0 = System.nanoTime()
    (0 until 5).foreach(_ => bucket.acquire())
    assert((System.nanoTime() - t0) / 1e6 < 30000.0)
    // after 3 failures the breaker is open: acquires skip the dead socket
    // entirely (fast), including penalties
    val t1 = System.nanoTime()
    (0 until 5).foreach(_ => bucket.acquire())
    assert((System.nanoTime() - t1) / 1e6 < 1000.0,
      "open breaker must not retry the dead endpoint per call")
    bucket.penalize(50) // routes to fallback, no throw
    // half-open probe: once a server appears on the port and the probe
    // window elapses, the next acquire goes through Redis again
    val redis2 = new MiniRedis(deadPort)
    try {
      Thread.sleep(350)
      val before = redis2.commandsServed.get()
      bucket.acquire()
      assert(redis2.commandsServed.get() > before,
        "half-open breaker never probed the recovered server")
    } finally redis2.close()
    // no fallback configured → fail hard, as the reference documents
    val hard = new graft.llm.RedisBucket("127.0.0.1", deadPort + 1,
      "prov:hard", 600, 5)
    intercept[graft.llm.NetworkError] { hard.acquire() }
    bucket.close(); hard.close()
  }

  test("ClientPool dispatches redis:// scopes to the redis bucket") {
    val redis = new MiniRedis
    try {
      val id = s"redisdisp-${System.nanoTime()}"
      val l = graft.ops.ClientPool.limiter(id, 600, 10,
        Some(s"redis://127.0.0.1:${redis.port}/prov:model"))
      assert(l.isInstanceOf[graft.llm.RedisBucket])
      l.acquire() // round-trips real RESP
      assert(redis.commandsServed.get() > 0)
      graft.ops.ClientPool.shutdown(id)
      intercept[IllegalArgumentException] {
        graft.ops.ClientPool.limiter(s"$id-bad", 600, 10,
          Some("redis://malformed"))
      }
      // any other scheme is refused, not taken as a lock-file path: a
      // mistyped redis URI must not quietly become a one-host bucket
      for (uri <- Seq("bucket://127.0.0.1:1/s", "rediss://h:1/s",
          "REDIS://h:1/s")) {
        val e = intercept[IllegalArgumentException] {
          graft.ops.ClientPool.limiter(s"$id-scheme", 600, 10, Some(uri))
        }
        assert(e.getMessage.contains("redis://host:port/scope"))
        assert(e.getMessage.contains("filesystem path"))
      }
    } finally redis.close()
  }
}

/** 429-storm integration arc (r12): the full Invoke path — Enricher +
  * HttpLlmClient + the shared token bucket — against a REAL loopback
  * HTTP server that issues one Retry-After mid-run under multi-partition
  * concurrent load. Asserts the two things unit tests can't: the
  * AGGREGATE admitted request stream obeys the configured token-bucket
  * law at the server (admission count measured per arrival), and a
  * server penalty stalls EVERY concurrent caller of the bucket, not just
  * the throttled one.
  */
class RateLimitStormSpec extends SparkSpec {
  import java.net.InetSocketAddress
  import java.nio.charset.StandardCharsets
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import graft.core._
  import graft.llm.HttpLlmClient
  import graft.run.Enricher

  test("aggregate admission obeys the configured bucket; retry-after stalls all callers") {
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reqCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val stormAt = 30          // the Nth request draws the 429
    val retryAfterSec = 2
    @volatile var penaltyIssuedAtMs = 0L
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16))
    server.createContext("/v1", (ex: HttpExchange) => {
      arrivals.add(System.nanoTime() / 1000000L)
      val n = reqCount.incrementAndGet()
      val (status, body) =
        if (n == stormAt) {
          penaltyIssuedAtMs = System.nanoTime() / 1000000L
          ex.getResponseHeaders.add("Retry-After", retryAfterSec.toString)
          (429, """{"error":{"message":"Rate limit reached, slow down"}}""")
        } else (200,
          """{"model":"m","choices":[{"message":{"role":"assistant",""" +
          """"content":"ok"}}],"usage":{"prompt_tokens":1,"completion_tokens":1}}""")
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length)
      val os = ex.getResponseBody
      os.write(bytes); os.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      import spark.implicits._
      val rows = (0 until 40).map(i => s"row $i").toDF("text")
        .repartition(8) // multi-partition: concurrent callers share the bucket
      val rpm = 240 // 4/s; ClientPool burst = rpm/10 = 24
      val spec = PipelineSpec(
        dataset = DatasetSpec(Seq("text")),
        prompt = PromptSpec("P:{text}", batchSize = 1),
        llm = LlmSpec(concurrency = 8, requestsPerMinute = Some(rpm),
          maxRetries = 2),
        output = OutputSpec(Seq("out")))
      val client = new HttpLlmClient(
        s"http://127.0.0.1:$port/v1", "m", timeoutMs = 20000L)
      val r = new Enricher(spec, client).enrich(rows)
      // every row healed through the retry — the storm lost nothing
      assert(r.data.filter(org.apache.spark.sql.functions.col("out")
        .isNotNull).count() == 40)
      // exactly one deliberate 429; a transient loopback hiccup may add
      // a retry, never subtract one
      assert(reqCount.get() >= 41 && reqCount.get() <= 43,
        s"expected 40 + 1 retry (+slack), got ${reqCount.get()}")

      // (1) token-bucket law at the SERVER: the i-th arrival (0-based)
      // can only exist once burst + rate·t tokens were issued — slack 3
      // for clock skew between acquire and arrival. Host slowness only
      // DELAYS arrivals, so the assert is noise-immune in one direction.
      import scala.jdk.CollectionConverters._
      val ts = arrivals.asScala.toSeq.sorted
      val t0 = ts.head
      val burst = rpm / 10
      ts.zipWithIndex.foreach { case (t, i) =>
        val issued = burst + (t - t0) * rpm / 60000.0
        assert(i <= issued + 3,
          s"arrival $i at +${t - t0}ms outruns the bucket (issued ≈ $issued)")
      }

      // (2) penalize-drain propagation: after the 429, the bucket stalls
      // ALL callers until the retry-after deadline. In-flight requests
      // land within moments of the penalty; nothing NEW may arrive in the
      // heart of the stall window.
      assert(penaltyIssuedAtMs > 0L)
      // generous in-flight grace (1 s) against GC/scheduler pauses on a
      // loaded host: an already-admitted request may arrive late, but
      // nothing NEW may land in the heart of the stall
      val inStall = ts.count(t => t > penaltyIssuedAtMs + 1000 &&
        t < penaltyIssuedAtMs + retryAfterSec * 1000L - 300)
      assert(inStall == 0,
        s"$inStall arrivals inside the retry-after stall window")
      // and the run did resume after the deadline (the retried call +
      // any remaining admissions)
      assert(ts.exists(_ >= penaltyIssuedAtMs + retryAfterSec * 1000L - 100))
    } finally server.stop(0)
  }
}
