package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core._
import graft.llm.MockLlmClient
import graft.ops.CallJournal
import graft.streaming.StreamingEnrich

/** A kill -9 inside a streaming micro-batch. The engine replays the torn
  * micro-batch from its offset log, and that batch's own ledger and call
  * journal anti-join away the calls answered before the halt. So the
  * restarted query loses no row, invokes nothing a committed micro-batch
  * answered, and re-pays at most the calls in flight. Both runs are child
  * JVMs (`StreamingCrashChild`); the crash child halts at the start of its
  * Nth provider call, and each child bills its calls as JournalSpec's do. */
class StreamingCrashSpec extends SparkSpec {
  import spark.implicits._
  import StreamingCrashSpec._

  test("kill -9 mid-micro-batch: 0 rows lost, committed batches not invoked again, one in-flight window re-paid") {
    val work = Files.createTempDirectory("graft_stream_crash").toString
    // file f holds the ids = f (mod InputFiles), so each chunk of a
    // micro-batch spans the partitions of both its files
    for (f <- 0 until InputFiles)
      (0 until RowsPerFile).map(i => i.toLong * InputFiles + f)
        .map(id => (id, s"review $id")).toDF("id", "text").coalesce(1)
        .write.parquet(f"$work/input/f$f%02d")
    def child(haltAfter: Int, bills: String): Int =
      ChildCli.run("graft.StreamingCrashChild",
        Seq(work, haltAfter.toString, bills), "768m", 300)._1
    def batchIds(log: String): Set[Long] =
      Option(new File(s"$work/ckpt/$log").listFiles()).toSeq.flatten
        .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).toSet

    assert(child(HaltAfter, s"$work.bills0") == JournalSpec.HaltCode,
      "crash child did not halt")

    // the topology the anti-join needs: committed micro-batches behind the
    // halt, and a torn one that already holds durable work
    val committed = batchIds("commits")
    val torn = batchIds("offsets").max
    assert(committed.nonEmpty && !committed.contains(torn),
      s"committed $committed, torn $torn")
    val tornDir = f"$work/ledger/batch_$torn%06d"
    val ledgered =
      if (!new File(s"$tornDir/responses").exists()) Set.empty[Long]
      else spark.read.parquet(s"$tornDir/responses")
        .filter(col("result").isNotNull).select("_row_index").as[Long]
        .collect().toSet
    val journals = JournalSpec.journalDirs(tornDir)
    val journaled =
      if (journals.isEmpty) Set.empty[Long]
      else CallJournal.read(spark, journals,
        CallJournal.schema(JournalSpec.formattedSchema))
        .filter(col("result").isNotNull).select("_row_index").as[Long]
        .collect().toSet
    val tornDurable = ledgered ++ journaled
    assert(tornDurable.nonEmpty,
      s"torn micro-batch $torn holds no ledger chunk or journaled call")
    val committedPrompts = spark.read
      .parquet(committed.toSeq.map(b => f"$work/out/batch_$b%06d"): _*)
      .select(concat(lit("S:"), col("text"))).as[String].collect().toSet

    assert(child(Int.MaxValue, s"$work.bills1") == 0, "resume child failed")
    assert(batchIds("commits").size >= 3, "fewer than 3 micro-batches")

    val out = spark.read.parquet(s"$work/out/batch_*")
      .select("id", "text", "out").as[(Long, String, String)].collect()
    assert(out.length == Rows && out.map(_._1).toSet == (0L until Rows).toSet,
      s"${out.length} output rows, ${out.map(_._1).distinct.length} ids")
    out.foreach { case (id, t, o) =>
      assert(o == MockLlmClient.md5Hex(s"S:$t"), s"row $id")
    }
    val paidBefore = JournalSpec.readBills(s"$work.bills0").flatMap(_._2).toSet
    val resumeBills = JournalSpec.readBills(s"$work.bills1")
    val paidAgain = resumeBills.flatMap(_._2).toSet
    assert((paidAgain intersect committedPrompts).isEmpty,
      "a committed micro-batch was invoked again")
    val repaid = paidAgain intersect paidBefore
    assert(repaid.size <= WindowItems, s"re-paid ${repaid.size} items: $repaid")
    // one call per full batch of the rows no store held at the halt
    val missing = Rows - committedPrompts.size - tornDurable.size
    info(s"micro-batches $committed committed, $torn torn with " +
      s"${ledgered.size} rows ledgered and ${journaled.size} journaled; " +
      s"resume: ${resumeBills.size} calls for $missing missing rows, " +
      s"${repaid.size} items re-paid")
    assert(resumeBills.size >= (missing + Batch - 1) / Batch,
      s"resume made ${resumeBills.size} calls for $missing missing rows")
  }
}

object StreamingCrashSpec {
  val InputFiles = 8
  val RowsPerFile = 30
  val Rows: Long = InputFiles.toLong * RowsPerFile
  /** Two files per trigger: 4 micro-batches of 60 rows. */
  val FilesPerTrigger = 2
  val Batch = 3
  val Concurrency = 2
  val Cores = 2
  /** ~6 calls per chunk of 15 rows and ~24 per micro-batch, so the halt
    * lands mid-chunk in the third micro-batch. */
  val HaltAfter = 63
  /** Items answered but not yet journaled when the JVM dies: each running
    * task holds at most `Concurrency` calls (Invoke's `calls < conc`). */
  val WindowItems: Int = Cores * Concurrency * Batch

  /** Four ledger chunks per micro-batch, failures fatal. */
  val spec = PipelineSpec(
    dataset = DatasetSpec(Seq("text")),
    prompt = PromptSpec("S:{text}", batchSize = Batch),
    llm = LlmSpec(maxRetries = 0, concurrency = Concurrency),
    processing = ProcessingSpec(errorPolicy = ErrorPolicy.Fail, chunkRows = 15),
    output = OutputSpec(Seq("out")))
}

/** The engine of [[StreamingCrashSpec]]:
  * `StreamingCrashChild <workDir> <haltAfter> <billsFile>` streams
  * `workDir/input` through [[StreamingEnrich]] until its client halts the
  * JVM or the input is drained. */
object StreamingCrashChild {
  import StreamingCrashSpec._

  def main(args: Array[String]): Unit = {
    val Array(work, haltAfter, bills) = args
    val spark = SparkSession.builder().master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stream = spark.readStream.schema("id LONG, text STRING")
      .option("maxFilesPerTrigger", FilesPerTrigger.toString)
      .parquet(s"$work/input/*")
    StreamingEnrich.start(stream, spec,
      new JournalSpec.HaltingClient(haltAfter.toInt, bills), s"$work/ckpt",
      // overwrite by batch id: a replayed batch rewrites only its own slice
      (data, batchId) => data.select("id", "text", "out")
        .write.mode("overwrite").parquet(f"$work/out/batch_$batchId%06d"),
      runDir = Some(s"$work/ledger"), keyColumn = Some("id"))
      .awaitTermination()
    spark.stop()
  }
}
