package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{LlmError, LlmClients, NetworkError, ProcessLlmClient}

/** Drives [[ProcessLlmClient]] against a real child process speaking the
  * newline-JSON sidecar protocol — the same loopback discipline as
  * HttpLlmClientSpec, but over stdin/stdout. The fixture is a
  * stdlib-only python3 script (present in this image; the spec cancels
  * cleanly where it isn't). */
class ProcessLlmClientSpec extends AnyFunSuite {

  private def python3: Option[String] =
    Seq("/usr/bin/python3", "/usr/local/bin/python3").find(p =>
      new java.io.File(p).canExecute)

  /** Sidecar: echoes sha1(prompt); "sleep" stalls; "die" exits;
    * "boom" reports a fatal per-request error. */
  private lazy val script: Path = {
    val p = Files.createTempFile("graft_sidecar", ".py")
    Files.writeString(p,
      """import sys, json, hashlib, time
        |for line in sys.stdin:
        |    req = json.loads(line)
        |    p = req["prompt"]
        |    if p == "die":
        |        sys.exit(3)
        |    if p == "sleep":
        |        time.sleep(30)
        |    if p == "boom":
        |        out = {"id": req["id"], "error": "bad input", "retryable": False}
        |    else:
        |        text = hashlib.sha1((req.get("system", "") + p).encode()).hexdigest()
        |        out = {"id": req["id"], "text": text,
        |               "tokens_in": len(p), "tokens_out": len(text)}
        |    sys.stdout.write(json.dumps(out) + "\n")
        |    sys.stdout.flush()
        |""".stripMargin)
    p
  }

  private def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def withClient[A](timeoutMs: Long = 10000L)(f: ProcessLlmClient => A): A = {
    val py = python3.getOrElse(cancel("python3 not available"))
    val c = new ProcessLlmClient(Seq(py, script.toString), "local-test",
      timeoutMs = timeoutMs)
    try f(c) finally ProcessLlmClient.shutdownAll()
  }

  test("round-trips through a real sidecar with zero cost and sidecar token counts") {
    withClient() { c =>
      val r = c.invoke("hello world", Some("sys!"))
      assert(r.text === sha1("sys!hello world"))
      assert(r.tokensIn === 11L && r.tokensOut === 40L)
      assert(r.cost.signum() === 0)
      assert(r.model === "local-test")
    }
  }

  test("16 concurrent callers each get their own reply through one child") {
    withClient() { c =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Await.result(
        Future.sequence((0 until 16).map(i => Future {
          i -> c.invoke(s"prompt-$i", None).text
        })), 30.seconds)
      for ((i, text) <- results) assert(text === sha1(s"prompt-$i"))
    }
  }

  test("a dead child fails retryably and is respawned on the next call") {
    withClient() { c =>
      val e = intercept[NetworkError] { c.invoke("die", None) }
      assert(e.retryable)
      // next call spawns a fresh sidecar and succeeds
      assert(c.invoke("after", None).text === sha1("after"))
    }
  }

  test("a stalled sidecar call times out as a retryable NetworkError") {
    withClient(timeoutMs = 500L) { c =>
      val e = intercept[NetworkError] { c.invoke("sleep", None) }
      assert(e.getMessage.contains("timed out"))
    }
  }

  test("a per-request sidecar error surfaces as fatal without killing the child") {
    withClient() { c =>
      val e = intercept[LlmError] { c.invoke("boom", None) }
      assert(!e.retryable && e.getMessage === "bad input")
      assert(c.invoke("still alive", None).text === sha1("still alive"))
    }
  }

  test("end-to-end enrichment runs through the sidecar from executor threads") {
    val py = python3.getOrElse(cancel("python3 not available"))
    val spark = SparkSpec.session
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
    val c = new ProcessLlmClient(Seq(py, script.toString), "local-test")
    try {
      val r = graft.run.Enricher.enrich(df, "summarize: {text}",
        Seq("out"), c, concurrency = 4)
      val out = r.data.select("id", "out").as[(Long, String)].collect().toMap
      assert(out.size === 40)
      for (i <- 0 until 40)
        assert(out(i.toLong) === sha1(s"summarize: doc $i"))
      assert(r.metrics.cost.signum() === 0)
    } finally ProcessLlmClient.shutdownAll()
  }

  test("LlmClients dispatches proc: endpoints to the sidecar client") {
    val py = python3.getOrElse(cancel("python3 not available"))
    val spec = graft.core.LlmSpec(model = "m",
      endpoint = Some(s"proc:$py ${script.toString}"))
    val c = LlmClients.forSpec(spec, graft.core.OutputSpec(Seq("out")))
    assert(c.isInstanceOf[ProcessLlmClient])
    try assert(c.invoke("via spec", None).text === sha1("via spec"))
    finally ProcessLlmClient.shutdownAll()
  }
}
