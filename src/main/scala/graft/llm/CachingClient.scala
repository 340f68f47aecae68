package graft.llm

import java.util.concurrent.ConcurrentHashMap

/** Client-side response cache at the LlmClient seam (reference: response
  * caching in ondine's client adapters — identical prompts answer from
  * cache with zero new spend). Two tiers:
  *
  *  - L1, always on: JVM-global and named — client instances re-serialize
  *    into every task closure, so per-instance maps would silently start
  *    empty on executors (same lesson as the mock's call counters). On a
  *    cluster this gives per-executor caching.
  *  - L2, optional [[ResponseCacheBackend]] (Redis or shared-filesystem
  *    disk — the reference's LiteLLM cache tier,
  *    ondine/adapters/unified_litellm_client.py:375-384): identical
  *    prompts from DIFFERENT executors/hosts mid-run answer from the
  *    shared store. An L2 hit back-fills L1; an L2 outage degrades to
  *    L1-only (the backend's breaker guarantees no blocking, no failure).
  *
  * Cache hits from either tier return the original response text with
  * tokens and cost zeroed — run metrics then report actual spend, not
  * what the calls would have cost uncached.
  *
  * Within one run, Invoke already sends each distinct prompt at most once
  * per executor (its single-flight table, which keeps the last 10,000
  * answered prompts), so this wrapper's value is across runs in one JVM
  * (L1), across executors and hosts (L2), and for repeats further apart
  * than that table holds. The
  * durable response ledger remains the per-run-dir resume record.
  */
final class CachingClient(inner: LlmClient, cacheName: String,
                          maxEntries: Int = 100000,
                          backend: Option[ResponseCacheBackend] = None)
  extends LlmClient {

  override def model: String = inner.model

  private def zeroSpend(r: LlmResponse): LlmResponse =
    r.copy(tokensIn = 0L, tokensOut = 0L,
      cost = java.math.BigDecimal.ZERO, latencyMs = 0.0)

  def invoke(prompt: String, systemMessage: Option[String]): LlmResponse = {
    val cache = CachingClient.cache(cacheName)
    val key = MockLlmClient.md5Hex(
      s"${inner.model}\u0000${systemMessage.getOrElse("")}\u0000$prompt")
    val hit = cache.get(key)
    if (hit != null) zeroSpend(hit)
    else backend.flatMap(_.get(key)) match {
      case Some(shared) =>
        // back-fill L1 with the ORIGINAL spend so later local hits zero
        // out exactly the same way a fresh invoke's would
        if (cache.size() >= maxEntries) cache.clear()
        cache.put(key, shared)
        zeroSpend(shared)
      case None =>
        val resp = inner.invoke(prompt, systemMessage)
        // approximate LRU: wipe a full cache rather than track access order
        // (correct, bounded, and contention-free; misses just re-invoke)
        if (cache.size() >= maxEntries) cache.clear()
        cache.put(key, resp)
        backend.foreach(_.put(key, resp)) // best-effort share
        resp
    }
  }
}

object CachingClient {
  private val caches =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, LlmResponse]]()
  private def cache(name: String): ConcurrentHashMap[String, LlmResponse] =
    caches.computeIfAbsent(name, _ => new ConcurrentHashMap())
  /** Test hygiene hook: drop a named cache. */
  def drop(name: String): Unit = caches.remove(name)
}
