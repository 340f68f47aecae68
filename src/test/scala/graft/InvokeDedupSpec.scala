package graft

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.llm.{LlmError, LlmResponse, MockLlmClient}
import graft.ops.{ClientPool, Flights, Invoke, PendingCall}
import graft.run.Enricher

/** Single-flight in Invoke: each distinct prompt is sent at most once per
  * `Invoke.apply` per executor, and the rows repeating it are emitted from
  * that one call with its spend columns, so run metrics stay exact. */
class InvokeDedupSpec extends SparkSpec {
  import spark.implicits._
  import InvokeDedupSpec._

  /** Explicit partitions: `parts(i)` is partition i, in order. */
  private def frame(parts: Seq[String]*): DataFrame =
    spark.sparkContext.parallelize(parts, parts.size).flatMap(identity)
      .toDF("text")

  private def spec(batch: Int, conc: Int, template: String,
                   policy: ErrorPolicy.Value = ErrorPolicy.Retry,
                   autoRetry: Int = 0) = PipelineSpec(
    dataset = DatasetSpec(Seq("text")),
    prompt = PromptSpec(template, batchSize = batch),
    llm = LlmSpec(maxRetries = 0, concurrency = conc),
    processing = ProcessingSpec(errorPolicy = policy,
      autoRetryAttempts = autoRetry, chunkRows = 20),
    output = OutputSpec(Seq("out")))

  private def md5(s: String) = MockLlmClient.md5Hex(s)

  private def assertMd5(data: DataFrame, template: String): Unit = {
    val rows = data.select("text", "out").as[(String, String)].collect()
    rows.foreach { case (t, o) =>
      assert(o == md5(template.replace("{text}", t)), s"row '$t' got $o")
    }
  }

  private def billedCost: JBigDecimal =
    billed.asScala.map(_._2).foldLeft(JBigDecimal.ZERO)(_ add _)

  private def callsTo(prompt: String): Int =
    billed.asScala.count(_._1 == prompt) + failed.asScala.count(_ == prompt)

  test("batch 1: duplicates across two partitions cost one call per prompt") {
    reset()
    val ds = (0 until 10).map(i => s"d$i")
    val df = frame(ds ++ ds.take(5), ds.reverse ++ ds.drop(5))
    val before = MockLlmClient.calls.get()
    val r = new Enricher(spec(1, 2, "B1:{text}"),
      new BillingClient(latencyMs = 100)).enrich(df)
    assert(MockLlmClient.calls.get() - before == 10)
    assert(r.metrics.calls == 10)
    assert(r.metrics.rows == 30)
    assert(r.metrics.cost.compareTo(billedCost) == 0,
      s"reported ${r.metrics.cost}, billed $billedCost")
    assertMd5(r.data, "B1:{text}")
    assert(ClientPool.liveFlightTables == 0)
  }

  test("batch 5: repeats inside and across partitions join the call that carries them") {
    reset()
    val ds = (0 until 10).map(i => s"e$i")
    val xs = (0 until 10).map(i => s"x$i")
    // the second partition reaches the shared prompts only after two
    // calls of its own, so the first partition has submitted them by then
    val df = frame(ds ++ ds.take(5), xs ++ ds)
    val before = MockLlmClient.calls.get()
    val r = new Enricher(spec(5, 1, "B5:{text}"),
      new BillingClient(latencyMs = 200)).enrich(df)
    assert(MockLlmClient.calls.get() - before == 4)
    assert(r.metrics.calls == 4)
    assert(r.metrics.rows == 35)
    assert(r.metrics.cost.compareTo(billedCost) == 0)
    assertMd5(r.data, "B5:{text}")
  }

  test("batch 5: crossing duplicates between partitions do not deadlock") {
    reset()
    val ps = (1 to 5).map(i => s"p$i")
    val qs = (1 to 5).map(i => s"q$i")
    val df = frame(ps :+ "q1", qs :+ "p1")
    val before = MockLlmClient.calls.get()
    val r = Await.result(Future(new Enricher(spec(5, 4, "X:{text}"),
      new BillingClient(latencyMs = 100)).enrich(df)), 60.seconds)
    assert(r.metrics.rows == 12)
    assert(r.metrics.calls == MockLlmClient.calls.get() - before)
    assert(r.metrics.cost.compareTo(billedCost) == 0)
    assertMd5(r.data, "X:{text}")
  }

  test("blank first answers: duplicated rows heal through one redo call per prompt") {
    reset()
    val ds = Seq("a", "b", "c")
    val df = frame(ds ++ ds, ds.reverse ++ ds)
    val r = new Enricher(spec(1, 2, "BL:{text}", autoRetry = 1),
      new BillingClient(latencyMs = 100, blankFirst = true)).enrich(df)
    ds.foreach(t => assert(callsTo(s"BL:$t") == 2, s"calls for $t"))
    assert(r.metrics.calls == 6)
    assert(r.metrics.cost.compareTo(billedCost) == 0)
    assert(r.quality.validRows == 12)
    assertMd5(r.data, "BL:{text}")
  }

  test("Skip: one failed call skips every row repeating it; a fresh run calls again") {
    reset()
    val df = frame(Seq("bad", "bad", "bad", "fine"))
    def run() = new Enricher(spec(1, 4, "SK:{text}", ErrorPolicy.Skip),
      new BillingClient(failOn = Some("bad"))).enrich(df)
    val r = run()
    assert(r.metrics.skippedRows == 3)
    assert(r.data.filter(col("out") === Sentinels.SkippedOutput).count() == 3)
    assert(callsTo("SK:bad") == 1)
    run()
    assert(callsTo("SK:bad") == 2)
  }

  test("durable crash and resume: ledger cost matches billing, followers not re-invoked") {
    reset()
    val dir = Files.createTempDirectory("graft_dedup_resume").toString
    // 60 keys, 15 prompts: every prompt repeats inside each 20-key chunk
    val df = (0 until 60).map(k => k.toLong -> s"t${k % 15}").toDF("k", "text")
      .repartition(2)
    val sp = spec(1, 1, "R:{text}", ErrorPolicy.Fail)
    def ledger = spark.read.parquet(s"$dir/responses")
    def ledgerCost(l: DataFrame): JBigDecimal =
      l.dropDuplicates("_attempt", "_call_id").agg(sum("cost")).head()
        .getDecimal(0)

    // crash: the client dies after 20 calls, inside the second chunk
    intercept[Exception] {
      new Enricher(sp, new BillingClient(dieAfter = 20), Some(dir), Some("k"))
        .enrich(df).data.count()
    }
    val firstKeys = ledger.filter(col("result").isNotNull)
      .select("_row_index").as[Long].collect().toSet
    assert(firstKeys.nonEmpty && firstKeys.size < 60)
    val firstAttempt = ledger.select("_attempt").distinct().as[Long].head()

    billed.clear()
    val r = new Enricher(sp, new BillingClient(), Some(dir), Some("k"))
      .enrich(df)
    assert(r.quality.validRows == 60)
    assertMd5(r.data, "R:{text}")
    val resumed = ledger.filter(col("_attempt") =!= firstAttempt)
    // no row the first attempt ledgered, leader or follower, is invoked again
    val again = resumed.select("_row_index").as[Long].collect().toSet
    assert(again.intersect(firstKeys).isEmpty)
    assert(again.size == 60 - firstKeys.size)
    assert(resumed.dropDuplicates("_call_id").count() == billed.size)
    assert(ledgerCost(resumed).compareTo(billedCost) == 0)
    assert(r.metrics.cost.compareTo(ledgerCost(ledger)) == 0)
  }

  test("single-flight table keeps answered calls up to its capacity, oldest out first") {
    val f = new Flights(capacity = 4)
    val calls = (0 until 6).map(i =>
      new PendingCall(Seq((2L * i, s"a$i"), (2L * i + 1, s"b$i"))))
    calls.foreach(p => p.items.foreach { case (idx, prompt) =>
      f.table.putIfAbsent(prompt, (p, idx))
    })
    assert(f.table.size == 12) // calls in flight are never evicted
    calls.take(5).foreach(f.answered)
    assert(f.table.size == 4 + 2)
    assert(Seq("a3", "b3", "a4", "b4", "a5", "b5").forall(f.table.containsKey))
    f.failed(calls(5))
    assert(f.table.size == 4)
    assert(Flights.AnsweredCapacity >= 1000)
  }

  test("a call pool shut down mid-partition fails the remaining calls instead of hanging") {
    reset()
    val runId = s"dedup_shutdown_${System.nanoTime()}"
    val df = spark.sparkContext.parallelize(
      (0 until 12).map(i => (i.toLong, s"SD:$i")), 1)
      .toDF("_row_index", "prompt")
    val sp = spec(1, 2, "{text}", ErrorPolicy.Skip)
    val out = Future(Invoke(df, new GatedClient, sp.prompt, sp.llm,
      sp.processing, runId).collect())
    assert(gateEntered.await(30, TimeUnit.SECONDS))
    ClientPool.shutdown(runId) // the partition still has rows to submit
    gate.countDown()
    val rows = Await.result(out, 60.seconds)
    assert(rows.length == 12)
    val skipped = rows.filter(_.getAs[Boolean]("skipped"))
    assert(skipped.nonEmpty)
    skipped.foreach(r => assert(r.getAs[String]("error").contains("shut down")))
    rows.filterNot(_.getAs[Boolean]("skipped")).foreach(r =>
      assert(r.getAs[String]("result") == md5(r.getAs[String]("prompt"))))
  }
}

object InvokeDedupSpec {
  /** Prompt and cost of every answered call, and the prompt of every
    * failed one. JVM-global: clients re-serialize into each task. */
  val billed = new ConcurrentLinkedQueue[(String, JBigDecimal)]()
  val failed = new ConcurrentLinkedQueue[String]()
  private val blanked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val calls = new java.util.concurrent.atomic.AtomicInteger(0)

  def reset(): Unit = {
    billed.clear(); failed.clear(); blanked.clear(); calls.set(0)
  }

  val gateEntered = new CountDownLatch(1)
  val gate = new CountDownLatch(1)

  /** Mock client whose call on "SD:0" waits at `gate`. */
  class GatedClient extends MockLlmClient {
    override def invoke(prompt: String, sys: Option[String]): LlmResponse = {
      if (prompt == "SD:0") { gateEntered.countDown(); gate.await() }
      super.invoke(prompt, sys)
    }
  }

  /** Mock client that records what it bills. `blankFirst` answers a
    * prompt's first call blank; `failOn` fails (non-retryable, after a
    * pause that lets repeats attach) on prompts containing it;
    * `dieAfter` fails every call past that many. */
  class BillingClient(latencyMs: Long = 0L, blankFirst: Boolean = false,
                      failOn: Option[String] = None, dieAfter: Int = 0)
    extends MockLlmClient(simulatedLatencyMs = latencyMs) {
    override def invoke(prompt: String, sys: Option[String]): LlmResponse = {
      if (dieAfter > 0 && calls.incrementAndGet() > dieAfter)
        throw new LlmError("simulated crash", retryable = false)
      if (failOn.exists(prompt.contains)) {
        Thread.sleep(300L)
        failed.add(prompt)
        throw new LlmError(s"rejected: $prompt", retryable = false)
      }
      val r = super.invoke(prompt, sys)
      billed.add(prompt -> r.cost)
      if (blankFirst && blanked.add(prompt)) r.copy(text = "") else r
    }
  }
}
