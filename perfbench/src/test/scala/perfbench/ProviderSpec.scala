package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The simulated provider's schedule depends only on the seed and the
  * request contents, never on timing. */
class ProviderSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private val noisy = ProviderProfile(medianMs = 0.05, sigma = 0.5,
    p429 = 0.2, p503 = 0.1, pMalformed = 0.1, pOmit = 0.3)

  private def post(p: Provider, content: String): HttpResponse[String] = {
    val root = mapper.createObjectNode()
    root.put("model", Pricing.Model)
    val m = root.putArray("messages").addObject()
    m.put("role", "user")
    m.put("content", content)
    http.send(HttpRequest.newBuilder(URI.create(p.url))
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(root)))
      .build(), HttpResponse.BodyHandlers.ofString())
  }

  private def withProvider[T](seed: Long)(f: Provider => T): T = {
    val p = new Provider(seed)
    try f(p) finally p.stop()
  }

  /** Status codes of 300 prompts, each sent until it succeeds. */
  private def schedule(seed: Long): Seq[Int] = withProvider(seed) { p =>
    p.beginEpoch(0L, noisy)
    (0 until 300).flatMap { i =>
      Iterator.continually(post(p, s"prompt $i").statusCode)
        .zipWithIndex.takeWhile { case (s, k) => k == 0 || s != 200 }
        .map(_._1).toSeq
    }
  }

  test("the same seed gives the same schedule; another seed does not") {
    val a = schedule(11L)
    assert(a == schedule(11L))
    assert(a != schedule(12L))
    assert(a.count(_ == 429) > 0 && a.count(_ == 503) > 0)
  }

  test("faults stop after Provider.FaultAttempts attempts") {
    withProvider(3L) { p =>
      p.beginEpoch(0L, noisy.copy(p429 = 1.0, p503 = 0.0, pMalformed = 0.0))
      val codes = (0 until 5).map(_ => post(p, "same prompt").statusCode)
      assert(codes == Seq(429, 429, 429, 200, 200))
      assert(p.current.faults429.sum == 3)
    }
  }

  test("a reply carries md5 of the prompt and length/4 usage") {
    withProvider(3L) { p =>
      p.beginEpoch(0L, noisy.copy(p429 = 0, p503 = 0, pMalformed = 0))
      val body = mapper.readTree(post(p, "hello world, twelve").body)
      assert(body.at("/choices/0/message/content").asText ==
        Provider.md5Hex("hello world, twelve"))
      assert(body.at("/usage/prompt_tokens").asLong == 4)
    }
  }

  test("item omission keys on (item, that item's attempt), so a retry heals it") {
    withProvider(5L) { p =>
      p.beginEpoch(0L, noisy.copy(p429 = 0, p503 = 0, pMalformed = 0))
      def batch(items: Seq[(Long, String)]): Set[Long] = {
        val arr = mapper.createArrayNode()
        items.foreach { case (id, s) =>
          arr.addObject().put("id", id).put("prompt", s)
        }
        val content = Provider.BatchMarkerPrefix + " of {\"id\",\"result\"}.\n" +
          mapper.writeValueAsString(arr)
        val reply = mapper.readTree(mapper.readTree(post(p, content).body)
          .at("/choices/0/message/content").asText)
        (0 until reply.size).map { i =>
          val n = reply.get(i)
          assert(n.get("result").asText == Provider.md5Hex(items.find(_._1 ==
            n.get("id").asLong).get._2))
          n.get("id").asLong
        }.toSet
      }
      val items = (0L until 200L).map(i => i -> s"item $i")
      val answered = batch(items)
      val missing = items.filterNot(i => answered.contains(i._1))
      assert(missing.nonEmpty)
      assert(p.current.omitted.sum == missing.size)
      // regrouped, as the engine's auto-retry regroups blank rows
      assert(batch(missing.reverse) == missing.map(_._1).toSet)
    }
  }

  test("enrich_latency: same seed, same request and fault counts") {
    val spark = Main.session("perfbench-provider-spec")
    val work = Files.createTempDirectory(
      Files.createDirectories(java.nio.file.Paths.get("target")), "spec")
    val w = Workloads.latency.copy(rows = 300)
    def run(seed: Long): (Long, Long, Long, Long, Long, Boolean) =
      withProvider(seed) { p =>
        val b = new EnrichBench(spark, p, w, seed, work, crash = None)
        val prep = b.prepare(0L, "spec", w.rows)
        val r = b.pass(prep, 0L, traced = false)
        b.cleanup(prep)
        val c = p.current
        (c.requests.sum, c.faults429.sum, c.faults503.sum,
          c.faultsMalformed.sum, c.scheduleDigest.sum, r.ok)
      }
    try {
      val a = run(21L)
      assert(a._6)
      assert(a == run(21L))
      assert(a._5 != run(22L)._5)
    } finally spark.stop()
  }
}
