package graft

import java.io.File
import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.core._
import graft.llm.{BatchCodec, LlmResponse, MockLlmClient}
import graft.ops.{CallJournal, ClientPool, Invoke}
import graft.run.{BudgetExceededException, CollectingObserver, Enricher,
  ObserverDispatcher, RunProgress}

/** The call journal of a durable run: every answered call is journaled as
  * its rows are emitted, so a process killed inside a chunk re-pays at most
  * the calls in flight. Kills run in a child JVM (`JournalCrashChild`),
  * halted at the start of its Nth provider call. */
class JournalSpec extends SparkSpec {
  import spark.implicits._
  import JournalSpec._

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  /** Run the durable enrich in a child JVM until its client halts it. */
  private def crash(dir: String, batch: Int, repeat: Boolean, haltAfter: Int,
                    bills: String): Unit = {
    val (code, _) = ChildCli.run("graft.JournalCrashChild",
      Seq(dir, batch.toString, repeat.toString, haltAfter.toString, bills),
      "768m", 180)
    assert(code == HaltCode, s"crash child exited $code")
  }

  private def ledger(dir: String) = spark.read.parquet(s"$dir/responses")

  private def callCost(l: DataFrame): JBigDecimal =
    Option(l.dropDuplicates("_attempt", "_call_id").agg(sum("cost")).head()
      .getDecimal(0)).getOrElse(JBigDecimal.ZERO)

  private def assertMd5(data: DataFrame): Unit =
    data.select("text", "out").as[(String, String)].collect().foreach {
      case (t, o) => assert(o == MockLlmClient.md5Hex(s"J:$t"), s"row '$t'")
    }

  /** Kill mid-chunk, then resume in this JVM: nothing lost, at most one
    * call window of answered items paid again, and the ledger's call cost
    * is exactly what both attempts were billed. */
  private def killAndResume(batch: Int, repeat: Boolean,
                            haltAfter: Int): (String, Seq[(Long, Long)]) = {
    val dir = tmp(s"graft_journal_b$batch")
    crash(dir, batch, repeat, haltAfter, s"$dir.bills0")
    val committed = ledger(dir).count()
    assert(committed > 0 && committed < Rows, s"committed $committed rows")
    val journal = CallJournal.read(spark, journalDirs(dir),
      CallJournal.schema(formattedSchema))
      .select("_row_index", "_call_id").as[(Long, Long)].collect().toSeq
    assert(journal.nonEmpty, "the killed chunk journaled nothing")
    val childBills = readBills(s"$dir.bills0")
    assert(childBills.size == haltAfter)

    val r = new Enricher(spec(batch), new HaltingClient(Int.MaxValue,
      s"$dir.bills1"), Some(dir), Some("k")).enrich(input(spark, repeat))
    assert(r.metrics.rows == Rows && r.quality.validRows == Rows)
    assertMd5(r.data)
    val resumeBills = readBills(s"$dir.bills1")

    // items answered before the kill and paid again: one window at most
    val childItems = childBills.flatMap(_._2).toSet
    val repaid = resumeBills.flatMap(_._2).toSet.intersect(childItems)
    assert(repaid.size <= Concurrency * batch, s"re-paid $repaid")
    // rows the resume invoked: the rows the child never answered, plus at
    // most one window of those it had
    val answered = input(spark, repeat)
      .filter(concat(lit("J:"), col("text")).isin(childItems.toSeq: _*)).count()
    val resumeAttempt = ledger(dir).agg(max("_attempt")).head().getLong(0)
    val resumeRows = ledger(dir).filter(col("_attempt") === resumeAttempt).count()
    assert(resumeRows <= Concurrency * batch + (Rows - answered),
      s"resume invoked $resumeRows rows, $answered were answered before")
    val billed = (childBills ++ resumeBills).map(_._1)
      .foldLeft(JBigDecimal.ZERO)(_ add _)
    assert(callCost(ledger(dir)).compareTo(billed) == 0,
      s"ledger ${callCost(ledger(dir))} vs billed $billed")
    assert(r.metrics.cost.compareTo(billed) == 0)
    assert(!new File(dir, CallJournal.DirName).exists(), "journal left behind")
    (dir, journal)
  }

  test("kill mid-chunk at batch 1: journaled calls survive, followers are not re-invoked") {
    // prompts repeat in pairs, so half the rows follow a call; 10 calls per
    // chunk, and the child halts at its 16th: mid-chunk 2
    val (dir, journal) = killAndResume(batch = 1, repeat = true, haltAfter = 15)
    val followers = journal.collect { case (k, call) if k != call => k }.toSet
    assert(followers.nonEmpty, "no follower row was journaled")
    val resumeAttempt = ledger(dir).agg(max("_attempt")).head().getLong(0)
    val again = ledger(dir).filter(col("_attempt") === resumeAttempt)
      .select("_row_index").as[Long].collect().toSet
    assert(again.intersect(followers).isEmpty)
  }

  test("kill mid-chunk at batch 5: journaled mega-batch calls survive the kill") {
    // 4 calls per chunk; the child halts at its 7th: mid-chunk 2
    killAndResume(batch = 5, repeat = false, haltAfter = 6)
  }

  test("a budgeted resume counts the killed chunk's journaled spend") {
    val dir = tmp("graft_journal_budget")
    crash(dir, 1, repeat = false, haltAfter = 30, s"$dir.bills0")
    val committed = callCost(ledger(dir))
    val billed = readBills(s"$dir.bills0").map(_._1)
      .foldLeft(JBigDecimal.ZERO)(_ add _)
    assert(billed.compareTo(committed) > 0)
    // the cap sits between the committed spend and what was really paid
    val cap = committed.add(billed).divide(new JBigDecimal(2))
    val sp = spec(1).copy(processing = spec(1).processing.copy(
      maxBudget = Some(BigDecimal(cap))))
    val before = HaltCounter.get()
    intercept[BudgetExceededException] {
      new Enricher(sp, new HaltingClient(Int.MaxValue, s"$dir.bills1"),
        Some(dir), Some("k")).enrich(input(spark, repeat = false))
    }
    assert(HaltCounter.get() == before, "resume over budget called the provider")
  }

  test("a budgeted resume counts each chunk's spend and stops between chunks") {
    val dir = tmp("graft_journal_budget_chunks")
    def run(n: Int, cap: Option[BigDecimal], bills: String) =
      new Enricher(spec(1).copy(processing = spec(1).processing.copy(
        maxBudget = cap)), new HaltingClient(Int.MaxValue, bills), Some(dir),
        Some("k")).enrich(input(spark, repeat = false).filter(col("k") < n))
    run(10, None, s"$dir.bills0")
    val prior = callCost(ledger(dir))
    val perCall = prior.divide(new JBigDecimal(10))
    // the 50 missing rows resume in three chunks; the cap leaves room for
    // one of them, so the run stops after the second
    val cap = prior.add(perCall.multiply(new JBigDecimal(25)))
    intercept[BudgetExceededException](run(60, Some(BigDecimal(cap)), s"$dir.bills1"))
    val resumed = readBills(s"$dir.bills1").size
    assert(resumed > 25 && resumed < 50, s"resume called $resumed times")
  }

  /** A journal of `n` rows as one chunk task writes it, in run dir `dir`. */
  private def journalOf(dir: String, n: Int): File = {
    val hConf = spark.sessionState.newHadoopConf()
    val target = CallJournal.Target(s"$dir/${CallJournal.DirName}/7", 7L,
      new SerializableConfiguration(hConf))
    val rows = spark.sparkContext.parallelize(
      (0 until n).map(k => (k.toLong, s"J:t$k")), 1).toDF("_row_index", "prompt")
    val sp = spec(1)
    val runId = s"journal_${System.nanoTime()}"
    Invoke(rows, new MockLlmClient(), sp.prompt, sp.llm, sp.processing,
      runId, Some(target)).collect()
    ClientPool.shutdown(runId)
    val files = new File(target.dir).listFiles().filter(_.getName.endsWith(".json"))
    assert(files.length == 1)
    assert(Files.readAllLines(files.head.toPath).size == n)
    files.head
  }

  private def resume(dir: String, n: Int) =
    new Enricher(spec(1), new MockLlmClient(), Some(dir), Some("k"))
      .enrich(input(spark, repeat = false).filter(col("k") < n))

  test("a torn last journal line is dropped and its row invoked again") {
    val dir = tmp("graft_journal_torn")
    val f = journalOf(dir, 10)
    val bytes = Files.readAllBytes(f.toPath)
    // cut the last line in half, as a kill in the middle of a write would
    val lastStart = bytes.lastIndexOf('\n', bytes.length - 2) + 1
    Files.write(f.toPath, bytes.take(lastStart + (bytes.length - lastStart) / 2))
    val before = MockLlmClient.calls.get()
    val r = resume(dir, 10)
    assert(MockLlmClient.calls.get() - before == 1)
    assert(r.quality.validRows == 10 && r.metrics.calls == 10)
    assertMd5(r.data)
    assert(ledger(dir).filter(col("_row_index").isNull).count() == 0)
  }

  test("duplicate journal lines from a retried task attempt dedupe") {
    val dir = tmp("graft_journal_dup")
    val f = journalOf(dir, 10)
    // a second task attempt of the same chunk journaled the same calls
    Files.copy(f.toPath, new File(f.getParent, "part-0-999999.json").toPath)
    val once = callCost(spark.read.schema(CallJournal.schema(formattedSchema))
      .json(f.getPath))
    val before = MockLlmClient.calls.get()
    val r = resume(dir, 10)
    assert(MockLlmClient.calls.get() == before)
    assert(ledger(dir).count() == 20)
    assert(r.metrics.rows == 10 && r.quality.validRows == 10)
    assert(r.metrics.calls == 10)
    assert(r.metrics.cost.compareTo(once) == 0)
    assertMd5(r.data)

    // with 10 more rows to run, progress counts each done key once
    val dir2 = tmp("graft_journal_dup_progress")
    val f2 = journalOf(dir2, 10)
    Files.copy(f2.toPath, new File(f2.getParent, "part-0-999999.json").toPath)
    val seen = new CollectingObserver
    val r2 = new Enricher(spec(1), new MockLlmClient(), Some(dir2), Some("k"),
      new ObserverDispatcher().register(seen))
      .enrich(input(spark, repeat = false).filter(col("k") < 20))
    assert(r2.quality.validRows == 20)
    val progress = seen.events.asScala.collect { case p: RunProgress => p }
    assert(progress.nonEmpty)
    assert(progress.last.rowsDone == 20 && progress.last.totalRows == 20,
      progress.toString)
  }

  test("each call is journaled before the next one starts; a clean run leaves no journal") {
    val dir = tmp("graft_journal_clean")
    JournalLines.clear()
    val r = new Enricher(spec(1), new JournalProbe(dir), Some(dir), Some("k"))
      .enrich(input(spark, repeat = false))
    assert(r.quality.validRows == Rows)
    // lines in the journal at each call's start: one more per call inside
    // a chunk, back to 0 once the chunk is in the ledger
    val seen = JournalLines.asScala.toSeq
    assert(seen.size == Rows)
    seen.zip(seen.tail).foreach { case (a, b) =>
      assert(b == a + 1 || b == 0, s"journal lines went $a -> $b: $seen")
    }
    assert(seen.count(_ == 0) == 3 && seen.max >= 15, seen.toString)
    assert(!new File(dir, CallJournal.DirName).exists())
  }

  test("the inline path journals nothing") {
    def journals(root: String): Set[String] =
      Option(new File(root).listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten :+ d)
        .filter(_.getName == CallJournal.DirName).map(_.getPath).toSet
    val roots = Seq(sys.props("user.dir"), sys.props("java.io.tmpdir"))
    val before = roots.flatMap(journals).toSet
    val r = new Enricher(spec(1), new MockLlmClient())
      .enrich(input(spark, repeat = false))
    assert(r.quality.validRows == Rows)
    assert(roots.flatMap(journals).toSet == before)
  }
}

object JournalSpec {
  val Rows = 60L
  val Concurrency = 1
  /** Exit code of a halted crash child. */
  val HaltCode = 9

  /** 60 keyed rows on one partition; with `repeat` rows 2j and 2j+1 share
    * a prompt. */
  def input(spark: SparkSession, repeat: Boolean): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize((0L until Rows).map(k =>
      (k, s"t${if (repeat) k / 2 else k}")), 1).toDF("k", "text")
  }

  /** The columns a durable run hands to Invoke. */
  val formattedSchema: StructType = StructType(Seq(
    StructField("_row_index", LongType), StructField("prompt", StringType)))

  /** One call in flight, three chunks of ~20 keys, failures fatal. */
  def spec(batch: Int) = PipelineSpec(
    dataset = DatasetSpec(Seq("text")),
    prompt = PromptSpec("J:{text}", batchSize = batch),
    llm = LlmSpec(maxRetries = 0, concurrency = Concurrency),
    processing = ProcessingSpec(errorPolicy = ErrorPolicy.Fail, chunkRows = 20),
    output = OutputSpec(Seq("out")))

  /** The attempt directories of the call journal under run dir `dir`. */
  def journalDirs(dir: String): Seq[String] =
    Option(new File(dir, CallJournal.DirName).listFiles()).toSeq.flatten
      .map(_.getPath)

  /** (cost, item prompts) of every call a bills file records. */
  def readBills(path: String): Seq[(JBigDecimal, Seq[String])] =
    if (!new File(path).exists()) Nil
    else Files.readAllLines(Paths.get(path)).asScala.toSeq.map { l =>
      val Array(cost, items) = l.split("\t", 2)
      (new JBigDecimal(cost), items.split("\u001f").toSeq)
    }

  /** Provider calls started in this JVM by [[HaltingClient]]s. */
  val HaltCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Mock client that halts the JVM at the start of call `haltAfter + 1`
    * (a kill -9: no shutdown hook, no flush) and appends every answered
    * call, with its cost and item prompts, to `bills`. */
  class HaltingClient(haltAfter: Int, bills: String) extends MockLlmClient {
    override def invoke(prompt: String, sys: Option[String]): LlmResponse = {
      if (HaltCounter.incrementAndGet() > haltAfter)
        Runtime.getRuntime.halt(HaltCode)
      val r = super.invoke(prompt, sys)
      val items =
        if (prompt.startsWith(BatchCodec.BatchMarker))
          BatchCodec.decodeItems(prompt).map(_._2)
        else Seq(prompt)
      BillsLock.synchronized {
        Files.write(Paths.get(bills),
          s"${r.cost.toPlainString}\t${items.mkString("\u001f")}\n"
            .getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
      r
    }
  }
  private val BillsLock = new Object

  /** Journal lines under run dir `dir` at the start of each call. */
  val JournalLines = new java.util.concurrent.ConcurrentLinkedQueue[Int]()

  class JournalProbe(dir: String) extends MockLlmClient {
    override def invoke(prompt: String, sys: Option[String]): LlmResponse = {
      val files = Option(new File(dir, CallJournal.DirName).listFiles())
        .toSeq.flatten.flatMap(d => Option(d.listFiles()).toSeq.flatten)
      JournalLines.add(files.map(f => Files.readAllLines(f.toPath).size).sum)
      super.invoke(prompt, sys)
    }
  }
}

/** The killed engine of [[JournalSpec]]:
  * `JournalCrashChild <runDir> <batch> <repeat> <haltAfter> <billsFile>`. */
object JournalCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(dir, batch, repeat, haltAfter, bills) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new Enricher(JournalSpec.spec(batch.toInt),
      new JournalSpec.HaltingClient(haltAfter.toInt, bills), Some(dir), Some("k"))
      .enrich(JournalSpec.input(spark, repeat.toBoolean)).data.count()
    sys.exit(1) // the client halts the JVM before the run can finish
  }
}
