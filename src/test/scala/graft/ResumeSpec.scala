package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.core._
import graft.llm.{LlmError, MockLlmClient, LlmResponse}
import graft.run.Enricher

/** Crash-safety / resume contract (reference headline: 0 rows lost on
  * kill -9 at 60%, resume re-invokes nothing —
  * /root/reference/benchmarks/RESULTS.md:38-43).
  *
  * Simulates the crash by a client that dies after N calls, then resumes
  * with a healthy client and asserts (a) all rows complete, (b) the resumed
  * run invoked ONLY the missing rows (mock call counter).
  */
class ResumeSpec extends SparkSpec {
  import spark.implicits._

  private def spec(batch: Int = 1) = PipelineSpec(
    dataset = DatasetSpec(Seq("text")),
    prompt = PromptSpec("P:{text}", batchSize = batch),
    llm = LlmSpec(maxRetries = 0, concurrency = 1),
    processing = ProcessingSpec(errorPolicy = ErrorPolicy.Fail, chunkRows = 20),
    output = OutputSpec(Seq("out")))

  test("resume after crash: zero rows lost, zero re-invocations") {
    val dir = Files.createTempDirectory("graft_resume").toString
    val df = (0 until 100).map(i => s"text $i").toDF("text").repartition(1)

    // run 1: client dies after 60 calls → job fails mid-run
    ResumeSpec.DeathCounter.set(0)
    intercept[Exception] {
      new Enricher(spec(), new ResumeSpec.DyingClient(60), Some(dir))
        .enrich(df).data.count()
    }
    val ledger = spark.read.parquet(s"$dir/responses")
    val durable = ledger.filter(col("result").isNotNull).count()
    assert(durable > 0 && durable < 100,
      s"expected partial progress durable, got $durable")

    // run 2: healthy client; must only invoke the missing rows
    val before = MockLlmClient.calls.get()
    val r = new Enricher(spec(), new MockLlmClient(), Some(dir)).enrich(df)
    assert(r.quality.validRows == 100)
    val invokedOnResume = MockLlmClient.calls.get() - before
    assert(invokedOnResume == 100 - durable,
      s"resume invoked $invokedOnResume, expected ${100 - durable}")
    // results correct end-to-end
    val got = r.data.select("text", "out").as[(String, String)].collect().toMap
    assert(got("text 42") == MockLlmClient.md5Hex("P:text 42"))
  }

  test("run dir given as a file: URI: the ledger is read back on resume") {
    val dir = "file:" + Files.createTempDirectory("graft_resume_uri").toString
    val df = (0 until 100).map(i => s"text $i").toDF("text").repartition(1)
    ResumeSpec.DeathCounter.set(0)
    intercept[Exception] {
      new Enricher(spec(), new ResumeSpec.DyingClient(60), Some(dir))
        .enrich(df).data.count()
    }
    val durable = spark.read.parquet(s"$dir/responses")
      .filter(col("result").isNotNull).count()
    assert(durable > 0 && durable < 100)
    val before = MockLlmClient.calls.get()
    val r = new Enricher(spec(), new MockLlmClient(), Some(dir)).enrich(df)
    assert(r.metrics.rows == 100 && r.quality.validRows == 100)
    assert(MockLlmClient.calls.get() - before == 100 - durable)
    val got = r.data.select("text", "out").as[(String, String)].collect().toMap
    assert(got("text 42") == MockLlmClient.md5Hex("P:text 42"))
  }

  test("completed run resumes with zero invocations") {
    val dir = Files.createTempDirectory("graft_resume2").toString
    val df = (0 until 30).map(i => s"v $i").toDF("text").repartition(1)
    new Enricher(spec(batch = 10), new MockLlmClient(), Some(dir)).enrich(df)
    val before = MockLlmClient.calls.get()
    val r = new Enricher(spec(batch = 10), new MockLlmClient(), Some(dir)).enrich(df)
    assert(MockLlmClient.calls.get() == before,
      "fully-cached resume must not re-invoke")
    assert(r.quality.validRows == 30)
  }
  test("grown/shrunk input vs standing ledger: only truly-missing rows invoked, staging cleaned") {
    // ledger keys need not be a subset of the current input's — a caller
    // may resume a grown or shrunk frame against an old run dir
    val dir = Files.createTempDirectory("graft_resume_grow").toString
    def frame(n: Int) = (0 until n).map(i => i.toLong -> s"text $i")
      .toDF("k", "text")
    val sp = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("G:{text}", batchSize = 1),
      processing = ProcessingSpec(chunkRows = 10),
      output = OutputSpec(Seq("out")))
    def run(n: Int) =
      new Enricher(sp, new MockLlmClient(), runDir = Some(dir),
        keyColumn = Some("k")).enrich(frame(n))

    run(40)
    // grown: 20 genuinely new rows → exactly 20 invocations, all 60 out
    val before1 = MockLlmClient.calls.get()
    val r2 = run(60)
    assert(MockLlmClient.calls.get() - before1 == 20,
      "grown input must invoke only the new rows")
    assert(r2.quality.validRows == 60)
    // shrunk: ledger now holds MORE keys than the input — zero missing,
    // zero chunks, zero invocations, and only the input's rows returned
    val before2 = MockLlmClient.calls.get()
    val r3 = run(15)
    assert(MockLlmClient.calls.get() == before2,
      "shrunk input fully covered by the ledger must invoke nothing")
    assert(r3.quality.validRows == 15 && r3.data.count() == 15)
    // a finished run leaves nothing but the ledger in its run dir
    assert(new java.io.File(dir).list().toSeq == Seq("responses"))
  }

  test("a durable attempt reads its source once, fresh or resumed") {
    // the source sits behind an opaque step that counts the rows it
    // yields, so no chunk's key-range filter can be pushed below the count
    val n = 80
    val read = spark.sparkContext.longAccumulator("source_rows")
    val base = (0 until n).map(i => i.toLong -> s"text $i").toDF("k", "text")
      .repartition(2)
    val df = base.mapPartitions(_.map { r => read.add(1); r })(
      org.apache.spark.sql.Encoders.row(base.schema))
    def readBy(f: => Unit): Long = { val b = read.sum; f; read.sum - b }

    // fresh: 80 rows in 4 chunks of 20
    val fresh = Files.createTempDirectory("graft_read_once").toString
    val freshRead = readBy {
      val r = new Enricher(spec(), new MockLlmClient(), Some(fresh), Some("k"))
        .enrich(df)
      assert(r.quality.validRows == n)
    }
    assert(freshRead <= n, s"fresh run read $freshRead source rows for $n")

    // resume: the crash lands in chunk 2, so 3 chunks remain
    val dir = Files.createTempDirectory("graft_read_once_resume").toString
    ResumeSpec.DeathCounter.set(0)
    intercept[Exception] {
      new Enricher(spec(), new ResumeSpec.DyingClient(25), Some(dir), Some("k"))
        .enrich(df).data.count()
    }
    val durable = spark.read.parquet(s"$dir/responses")
      .filter(col("result").isNotNull).count()
    assert(durable >= 20 && durable < 40, s"$durable rows durable")
    val resumeRead = readBy {
      val r = new Enricher(spec(), new MockLlmClient(), Some(dir), Some("k"))
        .enrich(df)
      assert(r.quality.validRows == n)
    }
    assert(resumeRead <= n, s"resume read $resumeRead source rows for $n")
  }

  test("string key column: durable run chunks by key quantiles, resumes cleanly") {
    // string keys hash to the full long range - a dense [0,max) stride
    // loop would iterate ~2^63/chunkRows times (this test would hang)
    val dir = java.nio.file.Files.createTempDirectory("graft_strkey").toString
    val df = (0 until 60).map(i => s"id-$i" -> s"text $i")
      .toDF("ext_id", "text").repartition(2)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("S:{text}", batchSize = 5),
      processing = ProcessingSpec(chunkRows = 25),
      output = OutputSpec(Seq("out")))
    val r = new Enricher(spec, new MockLlmClient(),
      runDir = Some(dir), keyColumn = Some("ext_id")).enrich(df)
    assert(r.metrics.rows == 60)
    assert(r.quality.validRows == 60)
    val got = r.data.select("ext_id", "out").as[(String, String)]
      .collect().toMap
    assert(got("id-7") == MockLlmClient.md5Hex("S:text 7"))
    // resume: nothing missing, nothing re-invoked
    val before = MockLlmClient.calls.get()
    val r2 = new Enricher(spec, new MockLlmClient(),
      runDir = Some(dir), keyColumn = Some("ext_id")).enrich(df)
    assert(MockLlmClient.calls.get() == before)
    assert(r2.quality.validRows == 60)
  }
}

object ResumeSpec {
  val DeathCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Client that hard-fails (non-retryable) after `maxCalls` invocations.
    * Lives in the companion (a suite-inner class would capture the
    * non-serializable ScalaTest engine); the counter is JVM-global because
    * instance fields re-serialize fresh into every task closure. */
  class DyingClient(maxCalls: Int) extends MockLlmClient() {
    override def invoke(prompt: String, sys: Option[String]): LlmResponse = {
      if (DeathCounter.incrementAndGet() > maxCalls)
        throw new LlmError("simulated crash", retryable = false)
      super.invoke(prompt, sys)
    }
  }

}
