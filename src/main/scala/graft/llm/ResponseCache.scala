package graft.llm

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** Shared response-cache tier behind [[CachingClient]] (reference: the
  * LiteLLM Redis/disk response cache wired at the client seam —
  * ondine/adapters/unified_litellm_client.py:375-384, builder surface
  * ondine/api/pipeline_builder.py:1362-1409 with_redis_cache /
  * with_disk_cache: identical requests answer from cache with zero new
  * spend, shared ACROSS processes and hosts).
  *
  * Contract: a cache must never fail the pipeline. `get` returns None on
  * miss AND on backend outage; `put` is best-effort. Implementations are
  * Serializable (client stacks ride into task closures) with transient
  * connection state re-established lazily per executor.
  */
trait ResponseCacheBackend extends Serializable with AutoCloseable {
  def get(key: String): Option[LlmResponse]
  def put(key: String, resp: LlmResponse): Unit
  override def close(): Unit = ()
}

/** Versioned wire/disk codec for cached responses. Tab-separated with
  * URL-encoded text: no JSON library on the hot path, unambiguous under
  * newlines/tabs in the response body, and a version prefix so a format
  * change reads as a miss (re-invoke), never a parse error. */
object ResponseCacheCodec {
  private val Version = "g1"

  def encode(r: LlmResponse): String = {
    val text = java.net.URLEncoder.encode(r.text, "UTF-8")
    s"$Version\t${r.tokensIn}\t${r.tokensOut}\t${
      java.net.URLEncoder.encode(r.model, "UTF-8")}\t${r.cost.toPlainString}\t${
      r.latencyMs}\t$text"
  }

  /** None on any malformed/foreign/other-version payload — a corrupt
    * entry is a miss, not an error. */
  def decode(s: String): Option[LlmResponse] = {
    val parts = s.split("\t", -1)
    if (parts.length != 7 || parts(0) != Version) None
    else try Some(LlmResponse(
      java.net.URLDecoder.decode(parts(6), "UTF-8"),
      parts(1).toLong, parts(2).toLong,
      java.net.URLDecoder.decode(parts(3), "UTF-8"),
      new JBigDecimal(parts(4)), parts(5).toDouble))
    catch { case _: Exception => None }
  }
}

/** Redis-backed response cache: one GET on lookup, one SET PX on store,
  * over the [[RespConnection]] and [[Breaker]] [[RedisBucket]] uses. Identical
  * prompts from different executors/hosts mid-run answer from the shared
  * server with zero new spend.
  *
  * Outage discipline is [[RedisBucket]]'s breaker: `breakerThreshold`
  * consecutive transport failures open the breaker for `breakerProbeMs`;
  * while open every get is a miss and every put a no-op (the in-memory L1
  * in [[CachingClient]] keeps caching), then ONE probe call goes through.
  * The pipeline never fails, never blocks on a dead cache host.
  */
final class RedisResponseCache(
    host: String, port: Int,
    namespace: String = "graft:respcache",
    ttlSeconds: Int = 3600,
    breakerThreshold: Int = 3,
    breakerProbeMs: Long = 10000L)
  extends ResponseCacheBackend {
  require(ttlSeconds > 0, "ttlSeconds must be positive")

  @transient private lazy val breaker = new Breaker(breakerThreshold, breakerProbeMs)
  /** Test hook: whether the outage breaker is currently open. */
  private[graft] def breakerIsOpen: Boolean = breaker.isOpen

  /** Per deserialized copy = per executor. Two attempts: GET is
    * idempotent, a repeated SET overwrites with the same value. */
  @transient private lazy val conn = new RespConnection(host, port, attempts = 2)

  private def redisKey(key: String): String = s"$namespace:$key"

  def get(key: String): Option[LlmResponse] = {
    if (breaker.isOpen) return None
    try {
      val r = conn.command(Seq("GET", redisKey(key)))
      breaker.recordSuccess()
      r match {
        case s: String => ResponseCacheCodec.decode(s)
        case _ => None // null bulk = miss
      }
    } catch {
      case _: java.io.IOException | _: RedisBucket.ErrorReply =>
        breaker.recordFailure(); None
    }
  }

  def put(key: String, resp: LlmResponse): Unit = {
    if (breaker.isOpen) return
    try {
      conn.command(Seq("SET", redisKey(key), ResponseCacheCodec.encode(resp),
        "PX", (ttlSeconds * 1000L).toString))
      breaker.recordSuccess()
    } catch {
      case _: java.io.IOException | _: RedisBucket.ErrorReply =>
        breaker.recordFailure()
    }
  }

  override def close(): Unit = conn.close()
}

/** Filesystem response cache (reference: with_disk_cache,
  * pipeline_builder.py:1390-1409): one file per key under a 256-way
  * hex-prefix shard (no directory ever collects the whole corpus), writes
  * atomic via same-directory tmp+rename so concurrent writers and a
  * reader mid-put see either the old entry or the complete new one,
  * never a torn file. On a shared filesystem this is the cross-process
  * / cross-host tier; TTL (0 = keep forever) is enforced at read time
  * from the file's mtime. IO failures degrade to miss / no-op — the
  * cache never fails the pipeline.
  *
  * Growth bound: read-time TTL alone never deletes anything (a prompt
  * cache's keys are mostly never re-requested, so "overwritten by the
  * next put" never comes), so puts amortize a janitor — every
  * `sweepEveryPuts` stores sweep ONE rotating shard, deleting expired
  * entries and crash-stranded `.put*.tmp` files. Over 256 sweeps the
  * whole cache is covered; no wall-clock spikes, no separate process. */
final class DiskResponseCache(dir: String, ttlSeconds: Long = 0L,
    sweepEveryPuts: Int = 4096)
  extends ResponseCacheBackend {

  private def pathFor(key: String): Path = {
    val safe = MockLlmClient.md5Hex(key)
    java.nio.file.Paths.get(dir, safe.substring(0, 2), s"$safe.resp")
  }

  @transient private lazy val putCount =
    new java.util.concurrent.atomic.AtomicLong(0L)
  @transient private lazy val sweepShard =
    new java.util.concurrent.atomic.AtomicInteger(0)
  private val TmpMaxAgeMs = 3600000L

  private def sweepOneShard(): Unit = {
    val shard = java.nio.file.Paths.get(dir,
      f"${sweepShard.getAndIncrement() & 0xff}%02x")
    if (!Files.isDirectory(shard)) return
    val now = System.currentTimeMillis()
    try {
      val ds = Files.newDirectoryStream(shard)
      try ds.forEach { f =>
        try {
          val name = f.getFileName.toString
          val age = now - Files.getLastModifiedTime(f).toMillis
          val dead =
            (name.endsWith(".resp") && ttlSeconds > 0L &&
              age > ttlSeconds * 1000L) ||
            (name.startsWith(".put") && age > TmpMaxAgeMs)
          if (dead) Files.deleteIfExists(f)
        } catch { case _: java.io.IOException => () }
      } finally ds.close()
    } catch { case _: java.io.IOException => () }
  }

  /** Test hook: sweep every shard once (production amortizes via put). */
  private[graft] def sweepAllShards(): Unit =
    (0 until 256).foreach(_ => sweepOneShard())

  def get(key: String): Option[LlmResponse] = {
    val p = pathFor(key)
    try {
      if (!Files.exists(p)) None
      else if (ttlSeconds > 0L &&
        System.currentTimeMillis() - Files.getLastModifiedTime(p).toMillis >
          ttlSeconds * 1000L) None // expired: leave for the next put to overwrite
      else ResponseCacheCodec.decode(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => None }
  }

  def put(key: String, resp: LlmResponse): Unit = {
    val p = pathFor(key)
    try {
      Files.createDirectories(p.getParent)
      val tmp = Files.createTempFile(p.getParent, ".put", ".tmp")
      Files.write(tmp,
        ResponseCacheCodec.encode(resp).getBytes(StandardCharsets.UTF_8))
      try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
      }
    } catch { case _: java.io.IOException => () } // best-effort store
    if (putCount.incrementAndGet() % sweepEveryPuts == 0) sweepOneShard()
  }
}
