package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.llm.HttpLlmClient

/** One enrich workload: inputs, engine settings and provider profile. A
  * durable pass splits its rows into `chunks` chunks; the warm-up pass has
  * `warmRows` rows. */
final case class EnrichWorkload(
    name: String,
    rows: Int,
    chunks: Int,
    warmRows: Int,
    promptLen: (Int, Int),
    repeatFrac: Double,
    batchSize: Int,
    durable: Boolean,
    autoRetry: Int,
    rpm: Option[Int],
    /** Sets `graft.enrich.stageChunksMinRows`, so that a fresh durable pass
      * takes the staged-chunk path at the benchmark's row count. */
    stageMinRows: Option[Long],
    profile: ProviderProfile,
    /** Resume workload: the crashed run is stopped once the provider has
      * answered this share of the rows. */
    crashAtShare: Option[Double] = None)

object Workloads {
  val Concurrency = 4
  val Prefix = "Rate the sentiment of this review: "
  val Template: String = Prefix + "{text}"
  val OutCol = "label"

  val latency = EnrichWorkload("enrich_latency", rows = 500, chunks = 1,
    warmRows = 100, promptLen = (50, 70), repeatFrac = 0.2, batchSize = 1,
    durable = false, autoRetry = 0, rpm = Some(60000), stageMinRows = None,
    profile = ProviderProfile(medianMs = 10.0, sigma = 0.8, p429 = 0.02,
      p503 = 0.01, pMalformed = 0.01))

  private val bulkProfile = ProviderProfile(medianMs = 2.0, sigma = 0.5,
    p429 = 0.02, p503 = 0.01, pMalformed = 0.01, pOmit = 0.002)

  // the bulk workload warms up on a full-size pass: after a small one, its
  // first timed pass still ran slower than the later ones
  val bulk = EnrichWorkload("enrich_bulk", rows = 20000, chunks = 3,
    warmRows = 20000, promptLen = (50, 300), repeatFrac = 0.0,
    batchSize = 50, durable = true, autoRetry = 1, rpm = None,
    stageMinRows = Some(1000L), profile = bulkProfile)

  val resume = EnrichWorkload("enrich_resume", rows = 6000, chunks = 3,
    warmRows = 6000, promptLen = (50, 300), repeatFrac = 0.0,
    batchSize = 50, durable = true, autoRetry = 1, rpm = None,
    stageMinRows = None, profile = bulkProfile, crashAtShare = Some(0.5))

  val all: Map[String, EnrichWorkload] =
    Seq(latency, bulk, resume).map(w => w.name -> w).toMap

  private val Words: Seq[String] = Seq(
    "battery", "screen", "arrived", "late", "broken", "great", "value",
    "cheap", "sturdy", "flimsy", "love", "hate", "works", "fine", "again",
    "never", "always", "quick", "slow", "shipping", "support", "refund",
    "quality", "price", "color", "size", "fits", "small", "large", "sound",
    "noise", "bright", "dim", "heavy", "light", "easy", "hard", "setup",
    "manual", "missing", "parts", "excellent", "poor", "average", "gift",
    "kids", "daily", "weeks", "months", "returned", "replaced", "charger",
    "cable", "button", "stopped", "working", "recommend", "avoid", "perfect",
    "okay", "decent", "terrible", "solid", "would")

  /** Deterministic input rows (id, text) of one pass, from the seed alone.
    * With `repeatFrac` a share of rows copy the text of an earlier row. */
  def input(spark: SparkSession, seed: Long, pass: Long, w: EnrichWorkload,
            n: Int): DataFrame = {
    def h(cs: Column*): Column = xxhash64(lit(seed) +: lit(pass) +: cs: _*)
    val (lo, hi) = w.promptLen
    val src =
      if (w.repeatFrac <= 0) col("id")
      else when(col("id") > 0 &&
          pmod(h(col("id"), lit("repeat")), lit(1000L)) <
            lit((w.repeatFrac * 1000).toLong),
        pmod(h(col("id"), lit("source")), col("id")))
        .otherwise(col("id"))
    val words = typedLit(Words)
    spark.range(0L, n.toLong, 1L, 4)
      .withColumn("_src", src)
      .withColumn("_len",
        (lit(lo) + pmod(h(col("_src"), lit("len")), lit((hi - lo + 1).toLong)))
          .cast("int"))
      .withColumn("text", array_join(
        transform(sequence(lit(0), (col("_len") / 4).cast("int")), i =>
          element_at(words,
            (pmod(h(col("_src"), i), lit(Words.size.toLong)) + 1).cast("int"))),
        " ").substr(lit(1), col("_len")))
      .select(col("id"), col("text"))
  }

  def spec(w: EnrichWorkload, url: String, n: Int): PipelineSpec =
    PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec(Template, batchSize = w.batchSize),
      llm = LlmSpec(model = Pricing.Model, inputCostPer1k = Pricing.InPer1k,
        outputCostPer1k = Pricing.OutPer1k, concurrency = Concurrency,
        requestsPerMinute = w.rpm, endpoint = Some(url), timeoutMs = 30000L),
      processing = ProcessingSpec(chunkRows = (n + w.chunks - 1) / w.chunks,
        autoRetryAttempts = w.autoRetry),
      output = OutputSpec(Seq(OutCol)))

  def client(url: String): HttpLlmClient =
    new HttpLlmClient(url, Pricing.Model, inPer1k = Pricing.InPer1k,
      outPer1k = Pricing.OutPer1k, timeoutMs = 30000L)

  /** The reply the provider gives for a row: md5 of the rendered prompt. */
  def expected: Column = md5(concat(lit(Prefix), col("text")))

  /** Counts over an enrich result: rows, rows whose output equals the
    * expected reply, distinct ids among those rows, and distinct ids. */
  def check(data: DataFrame): (Long, Long, Long, Long) = {
    val ok = col(OutCol).isNotNull && col(OutCol) === expected
    val r = data.agg(count(lit(1)), sum(when(ok, 1L).otherwise(0L)),
      count_distinct(when(ok, col("id"))), count_distinct(col("id"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2),
      r.getLong(3))
  }
}
