package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, RangeJoin}
import Tables.t

/** Event-table coverage: time-window aggregation (batch and Structured
  * Streaming), sessionization (gaps-and-islands), as-of join, and JSON
  * property extraction. The reference has no event-time processing
  * (SURVEY §2.12) — these come "for free" from Spark and are part of the
  * 100 TB pipeline surface.
  */
object EventQueries {

  /** Tumbling 1-hour window aggregate. Double values are cast to
    * DECIMAL(18,6) pre-sum: double summation order is nondeterministic
    * under partial aggregation, decimal summation is exact. */
  def q50HourlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("string").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("hour", "event_type")

  val q50Sql: String =
    """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** State-partition count for bounded streaming drains (BENCH_NOTES
    * r12, "streaming drains sized by state partitions"). */
  private val DrainStatePartitions = 8

  /** Drains a streaming frame into a fresh memory sink with
    * Trigger.AvailableNow and returns the sink table. The drain runs at
    * a bounded state-partition count: per-micro-batch state-store
    * machinery scales with partitions, not data (a stream-stream join
    * holds four stores per partition) — see
    * [[graft.ops.Parallelism.scopedShufflePartitions]], which scopes the
    * override to a cloned session so concurrent drains each plan at
    * their own count and the caller's conf is never mutated. `mkStream`
    * must build the stream FROM the session it is handed — a plan built
    * on the parent session would plan with the parent's partition count.
    * Fresh temp checkpoints each run, so the state-repartition
    * restriction never binds. The default count is
    * [[DrainStatePartitions]]. */
  private def drainToMemory(spark: SparkSession,
      mkStream: SparkSession => DataFrame,
      mode: String, sinkName: String, statePartitions: Int = 0): DataFrame = {
    val n = if (statePartitions > 0) statePartitions else DrainStatePartitions
    graft.ops.Parallelism.scopedShufflePartitions(spark, n) { scoped =>
      val query = mkStream(scoped).writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(sinkName)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      // the memory sink registers its table in the session that started
      // the query — resolve it there, not on the parent
      scoped.table(sinkName)
    }
  }

  /** The same tumbling-window aggregate through Structured Streaming:
    * parquet file stream → event-time window() agg → complete-mode memory
    * sink. Proves the engine's streaming path computes exactly the batch
    * answer (Trigger.AvailableNow drains the source then stops). */
  def q51StreamingRollup(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // stream source sees the RAW file schema (nanos-as-long or, on
    // Spark 4.1.2+, TIMESTAMP_NTZ); normalization happens inside the stream
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file-stream source lists a DIRECTORY; stage the single parquet
    // file into one via symlink
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_src_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    val sinkName = "graft_stream_rollup"
    def stream(s: SparkSession) = Tables.normalizeTs(
      s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    drainToMemory(spark, stream, "complete", sinkName)
      .select(col("window.start").cast("string").as("hour"),
        col("event_type"), col("n"))
      .orderBy("hour", "event_type")
  }

  val q51Sql: String =
    """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Streaming exact dedup: the event file staged TWICE into the stream
    * directory (every event arrives as a duplicate), drained through
    * stateful dropDuplicates on event_id, then aggregated — output must
    * equal the single-copy batch counts. The 100 TB shape is
    * dropDuplicatesWithinWatermark (bounded state); here the unbounded
    * variant keeps the oracle exact regardless of file arrival order,
    * and the watermarked form is exercised in StatefulSessionizerSpec
    * territory (stateful ops + event time). */
  def q55StreamingDedup(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_dup_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    for (name <- Seq("a.parquet", "b.parquet")) {
      val link = streamDir.resolve(name)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$dir/events.parquet"))
    }
    val sinkName = "graft_stream_dedup"
    def stream(s: SparkSession) = s.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    drainToMemory(spark, stream, "complete", sinkName)
      .select(col("event_type"), col("n"))
      .orderBy("event_type")
  }

  val q55Sql: String =
    """SELECT event_type, COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Sessionization: a session break is a >30 min gap per user
    * (gaps-and-islands via lag + running sum). */
  def q52Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // gap math on exact microsecond longs so the oracle computes the
    // identical integer expression (epoch_us on both sides)
    val withGap = ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          1L)
          .otherwise(0L))
    withGap.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("new_session")).as("n_sessions"))
      .orderBy("user_id")
  }

  val q52Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN prev_ts IS NULL
      |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_sessions
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** As-of join: each error event picks up the user's most recent click at
    * or before it (union + running last_value — no row explosion). */
  def q53AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_event_id"))
    AsOfJoin.asOf(errors, clicks, Seq("user_id"), "ts", "event_id",
      Seq("click_event_id"))
      .select(col("event_id"), col("user_id"),
        col("asof_click_event_id").as("click_event_id"))
      .orderBy("event_id")
  }

  val q53Sql: String =
    """WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      |clk AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT err.event_id, err.user_id, clk.event_id AS click_event_id,
      |    ROW_NUMBER() OVER (PARTITION BY err.event_id
      |      ORDER BY clk.ts DESC, clk.event_id DESC) AS rn
      |  FROM err LEFT JOIN clk
      |    ON err.user_id = clk.user_id AND clk.ts <= err.ts)
      |SELECT event_id, user_id, click_event_id FROM j WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** JSON property extraction (Spark: native get_json_object; oracle uses
    * an equivalent regexp so it runs without DuckDB's json extension). */
  def q54JsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"))
      .orderBy("event_type")

  val q54Sql: String =
    """SELECT event_type,
      |  CAST(SUM(TRY_CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS INT))
      |    AS BIGINT) AS sum_k,
      |  COUNT(TRY_CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS INT)) AS n_with_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bucketed range join: 60 overlapping 18-hour promo windows (12-hour
    * stride, so an event can belong to two) joined to the event stream —
    * an equi-join on 12-hour buckets, never a nested-loop. Decimal-cast
    * sums keep the aggregate order-independent, like q50. */
  def q56RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // 2024-01-01T00:00:00Z = epoch 1704067200
    val windows = spark.range(0, 60).select(
      col("id").as("window_id"),
      timestamp_seconds(lit(1704067200L) + col("id") * 43200).as("lo"),
      timestamp_seconds(
        lit(1704067200L) + col("id") * 43200 + 64800).as("hi"))
    RangeJoin.bucketed(ev, "ts", windows, "lo", "hi",
      bucketSeconds = 43200)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("window_id")
  }

  val q56Sql: String =
    """WITH w AS (
      |  SELECT ws.w AS window_id,
      |    TIMESTAMP '2024-01-01 00:00:00' + to_hours(12 * ws.w) AS lo,
      |    TIMESTAMP '2024-01-01 00:00:00' + to_hours(12 * ws.w + 18) AS hi
      |  FROM (SELECT unnest(generate_series(0, 59)) AS w) ws)
      |SELECT window_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events e JOIN w ON e.ts >= w.lo AND e.ts < w.hi
      |GROUP BY window_id ORDER BY window_id""".stripMargin

  // --- q122: streaming curation (stateful content dedup + gate) ----------

  /** Curation AS a stream: the documents table arrives twice (two files,
    * one micro-batch each — a crawl re-delivering every page), stateful
    * `dropDuplicates` on the content fingerprint holds the seen-ledger
    * across batches, the composite quality gate runs map-side on the
    * survivors, and the sink keeps running (pass → docs, token mass)
    * totals. All aggregates are functions of the TEXT only, so whichever
    * twin of a duplicate arrives first, the output is deterministic and
    * replays in batch SQL. At scale the dedup state is 16-byte
    * fingerprints in the state store — the streaming form of the
    * incremental ledger ([[graft.operators.Dedup.dropSeenBefore]]). */
  def q122StreamingCuration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{fingerprint, tokens, tokenCount}
    import graft.functions.CurationFunctions.{dupFrac, meanWordLen}
    val rawSchema = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_cur_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    for (name <- Seq("a.parquet", "b.parquet")) {
      val link = streamDir.resolve(name)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$dir/documents.parquet"))
    }
    val w = tokens(col("text"))
    val dup = dupFrac(w)
    val mwl = meanWordLen(w)
    val stopCt = size(filter(w, t => t.isin("the", "a")))
    val pass = when(size(w).between(30, 1000) && dup <= 0.55 &&
      mwl >= 3.0 && mwl <= 6.0 && stopCt >= 1, 1).otherwise(0)
    val sinkName = "graft_stream_curation"
    def stream(s: SparkSession) = s.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .withColumn("fp", fingerprint(col("text")))
      .dropDuplicates("fp")
      .select(pass.as("pass_filter"), tokenCount(col("text")).as("ntok"))
      .groupBy(col("pass_filter"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).cast("long")
        .as("total_tokens"))
    drainToMemory(spark, stream, "complete", sinkName)
      .select(col("pass_filter"), col("n_docs"), col("total_tokens"))
      .orderBy("pass_filter")
  }

  /** Oracle: one representative per content fingerprint (text identical
    * within a group, so min() is canonical), then the same gate and
    * totals in batch. */
  val q122Sql: String =
    """WITH ded AS (
      |  SELECT min(text) AS text FROM documents
      |  GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))),
      |sig AS (
      |  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
      |    x -> x <> '') AS w
      |  FROM ded),
      |flags AS (
      |  SELECT len(w) AS ntok,
      |    CASE WHEN len(w) BETWEEN 30 AND 1000
      |      AND (CASE WHEN len(w) = 0 THEN 0
      |        ELSE (len(w) - len(list_distinct(w)))::DOUBLE / len(w) END) <= 0.55
      |      AND (CASE WHEN len(w) = 0 THEN 0
      |        ELSE list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) END)
      |        BETWEEN 3.0 AND 6.0
      |      AND len(list_filter(w, x -> x IN ('the', 'a'))) >= 1
      |      THEN 1 ELSE 0 END AS pass_filter
      |  FROM sig)
      |SELECT pass_filter, count(*) AS n_docs,
      |  CAST(sum(ntok) AS BIGINT) AS total_tokens
      |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q130: watermarked stream-stream interval join ----------------------

  /** Stream-stream INTERVAL join (the attribution shape): each `error`
    * event joins the same user's `click` events from the preceding
    * hour, both sides watermarked — Spark's state-store machinery must
    * buffer each side and emit append-mode matches. The whole file
    * drains in one AvailableNow trigger so the watermark (a STATE BOUND,
    * sized so either side tolerates an hour of skew before eviction)
    * provably drops nothing, and the batch interval-join oracle is
    * exact. Pair rows land in the sink; the compact per-user rollup
    * aggregates the sink table in batch. */
  def q130StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_ssj_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    def src(s: SparkSession) = Tables.normalizeTs(
      s.readStream.schema(rawSchema).parquet(streamDir.toString))
    def joined(s: SparkSession) = {
      val errors = src(s).filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          col("ts").as("err_ts"))
        .withWatermark("err_ts", "1 hour")
      val clicks = src(s).filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("click_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      errors.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("err_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("err_ts"))
    }
    val sinkName = "graft_stream_ssj"
    // measured 0.44x at 8 vs 32 state partitions (four stores per
    // partition for a stream-stream join) — see drainToMemory
    drainToMemory(spark, joined, "append", sinkName)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("error_id")).as("n_errors_with_click"))
      .orderBy("user_id")
  }

  val q130Sql: String =
    """SELECT e.user_id, count(*) AS n_pairs,
      |  count(DISTINCT e.event_id) AS n_errors_with_click
      |FROM events e JOIN events c
      |  ON c.user_id = e.user_id
      |  AND e.event_type = 'error' AND c.event_type = 'click'
      |  AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- q139: per-type z-score anomaly flags -------------------------------

  /** Statistical outlier detection per event_type: z-scores against the
    * type's own mean/std, the ops-dashboard primitive. Cross-engine
    * determinism by EXACT moments: Σv and Σv² accumulate in DECIMAL
    * (order-independent, exact at 2/4 dp), the variance numerator
    * `n·Σv² − (Σv)²` stays exact decimal, and only then does ONE fixed
    * IEEE chain produce std and each row's z — so the oracle matches
    * every z to 6dp and the anomaly set exactly. One k-group aggregate
    * broadcast back over the scan; no window, no per-type sort. */
  def q139Anomalies(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val vd = col("value").cast("decimal(18,2)")
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(vd).as("s1"),
      sum(vd * vd).as("s2"))
    // moments cast to double AFTER the exact decimal accumulation; every
    // cast value and every product here is < 2^53, so the double
    // arithmetic is itself exact until the one final division + sqrt
    val nD = col("n").cast("double")
    val s1D = col("s1").cast("double")
    val s2D = col("s2").cast("double")
    val std = sqrt((nD * s2D - s1D * s1D) / (nD * nD))
    val mean = s1D / nD
    val z = round((col("value") - col("mean")) / col("std"), 6)
    ev.join(broadcast(stats
        .select(col("event_type"), mean.as("mean"), std.as("std"))),
        Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        z.as("z"),
        when(abs(z) > 1.5, 1L).otherwise(0L).as("is_anomaly"))
      .orderBy("event_id")
  }

  val q139Sql: String =
    """WITH stats AS (
      |  SELECT event_type, count(*)::BIGINT AS n,
      |    sum(CAST(value AS DECIMAL(18,2))) AS s1,
      |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT event_type,
      |    s1::DOUBLE / n::DOUBLE AS mean,
      |    sqrt((n::DOUBLE * s2::DOUBLE - s1::DOUBLE * s1::DOUBLE)
      |      / (n::DOUBLE * n::DOUBLE)) AS std
      |  FROM stats)
      |SELECT e.event_id, e.event_type, e.value,
      |  round((e.value - m.mean) / m.std, 6) AS z,
      |  CAST(CASE WHEN abs(round((e.value - m.mean) / m.std, 6)) > 1.5
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
      |FROM events e JOIN m USING (event_type)
      |ORDER BY event_id""".stripMargin

  // --- q141: ordered conversion funnel ------------------------------------

  /** Strictly-ordered event funnel (view → later click → later error)
    * through the parameterized [[graft.operators.Funnel]] operator: per
    * stage, how many users progressed — the product-analytics primitive.
    * Each stage is one filtered aggregate joined to the previous stage's
    * first-completion time, so the plan is a chain of user-keyed joins
    * of per-user 1-row tables, never a per-user event-sequence sort.
    * The oracle replays the chain. */
  def q141Funnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnel(Tables.events(spark, dir),
      "user_id", "ts", "event_type", Seq("view", "click", "error"))

  val q141Sql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t2
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
      |er AS (
      |  SELECT e.user_id, min(e.ts) AS t3
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'error' AND e.ts > c.t2 GROUP BY 1)
      |SELECT '1_view' AS stage, count(*) AS n_users FROM v
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_error', count(*) FROM er
      |ORDER BY stage""".stripMargin

  // --- q143: watermarked streaming dedup (bounded state) ------------------

  /** q55's exact streaming dedup with BOUNDED state: the event file
    * arrives twice (every event a duplicate), deduped by
    * `dropDuplicatesWithinWatermark` under a 1-hour event-time watermark
    * — the state store holds only events younger than the watermark
    * (16 bytes/event-hour instead of growing forever, the 100 TB
    * continuous-crawl shape; q55 keeps the unbounded variant for the
    * arrival-order-free oracle). Correctness here leans on the watermark
    * CONTRACT: batch 1 admits everything (watermark starts at epoch 0)
    * and emits each event once; by batch 2 the watermark sits 1 hour
    * behind the max event time, so the duplicate copies are either
    * late (already emitted in batch 1 — dropped as late data) or
    * in-watermark (still in state — deduped). Either way every event
    * counts exactly once and the single-copy batch oracle is exact.
    * StatefulSessionizerSpec proves the state-eviction side (final
    * state rows ≪ distinct events). */
  def q143StreamingDedupWatermark(spark: SparkSession,
      dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_wmdup_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    for (name <- Seq("a.parquet", "b.parquet")) {
      val link = streamDir.resolve(name)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$dir/events.parquet"))
    }
    val sinkName = "graft_stream_wmdedup"
    def stream(s: SparkSession) = Tables.normalizeTs(
      s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    drainToMemory(spark, stream, "complete", sinkName)
      .select(col("event_type"), col("n"))
      .orderBy("event_type")
  }

  /** Same single-copy oracle as q55: watermarked dedup must not change
    * the answer, only bound the state. */
  val q143Sql: String = q55Sql

  // --- q144: four-stage funnel ---------------------------------------------

  /** The parameterized funnel at depth 4 (signup → view → click →
    * purchase): same join-chain plan as q141, one more link — proving
    * the operator generalizes past the hardcoded 3-stage shape. The
    * oracle replays the chain CTE by CTE. */
  def q144Funnel4(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnel(Tables.events(spark, dir),
      "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase"))

  val q144Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, min(ts) AS t FROM events
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN s1 USING (user_id)
      |  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN s2 USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
      |s4 AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN s3 USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
      |SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
      |UNION ALL SELECT '2_view', count(*) FROM s2
      |UNION ALL SELECT '3_click', count(*) FROM s3
      |UNION ALL SELECT '4_purchase', count(*) FROM s4
      |ORDER BY stage""".stripMargin

  // --- q142: cohort retention matrix --------------------------------------

  /** Classic cohort retention: users grouped by first-seen WEEK, then
    * distinct-user counts per (cohort week, weeks-since) cell — the
    * churn dashboard. One per-user min aggregate, one distinct
    * (user, week) projection, one join; cohort arithmetic is integer
    * week-diff on date-truncated timestamps (exact both engines). */
  def q142CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date")
        .as("wk"))
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    ev.distinct()
      .join(first, Seq("user_id"))
      .groupBy(col("cohort_week").cast("string").as("cohort_week"),
        (datediff(col("wk"), col("cohort_week")) / 7).cast("long")
          .as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "weeks_since")
  }

  val q142Sql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |first AS (
      |  SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1)
      |SELECT CAST(f.cohort_week AS VARCHAR) AS cohort_week,
      |  (datediff('day', f.cohort_week, ev.wk) // 7)::BIGINT AS weeks_since,
      |  count(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN first f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, weeks_since""".stripMargin

  /** Per-user exponentially-decayed activity ([[graft.operators
    * .Recency]], half-life 7 days, reference = corpus max ts): the
    * freshness/churn signal next to q142's cohort matrix. Each event's
    * weight rounds to integer micro units before the per-user sum, so
    * accumulation is exact and the oracle replays event-for-event. */
  def q160RecencyScores(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Recency.recencyScores(
      Tables.events(spark, dir), "user_id", "ts", halfLifeDays = 7.0)
      .orderBy("user_id")

  val q160Sql: String =
    """WITH m AS (SELECT max(epoch_us(ts))::BIGINT AS mx FROM events),
      |w AS (
      |  SELECT user_id,
      |    CAST(round(pow(2.0, -((m.mx - epoch_us(ts))::DOUBLE
      |      / 604800000000.0)) * 1000000.0, 0) AS BIGINT) AS wm
      |  FROM events CROSS JOIN m)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |  round(sum(wm)::DOUBLE / 1000000.0, 6) AS recency_score
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-user inter-arrival burstiness ([[graft.operators.Recency
    * .burstiness]]) — the bot/scraper periodicity signal. Exact
    * integer gap sums (Σg² in decimal), one IEEE chain with a
    * correctly-rounded sqrt, so the oracle replays every user's
    * B = (σ−μ)/(σ+μ) bit-for-bit. */
  def q168Burstiness(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Recency.burstiness(
      Tables.events(spark, dir), "user_id", "ts")
      .orderBy("user_id")

  val q168Sql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY ts) AS gap
      |  FROM events),
      |a AS (
      |  SELECT user_id, count(*)::BIGINT AS n_gaps,
      |    sum(gap)::BIGINT AS s,
      |    sum(gap::HUGEINT * gap::HUGEINT) AS ssq
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_gaps,
      |  round(s::DOUBLE / n_gaps::DOUBLE / 1000000.0, 6) AS mean_gap_s,
      |  CASE WHEN s > 0 THEN round(
      |    sqrt((n_gaps::HUGEINT * ssq - s::HUGEINT * s::HUGEINT)::DOUBLE
      |      / (n_gaps * n_gaps)::DOUBLE)
      |    / (s::DOUBLE / n_gaps::DOUBLE), 6) END AS cv,
      |  CASE WHEN s > 0 THEN round(
      |    (sqrt((n_gaps::HUGEINT * ssq - s::HUGEINT * s::HUGEINT)::DOUBLE
      |       / (n_gaps * n_gaps)::DOUBLE) - s::DOUBLE / n_gaps::DOUBLE)
      |    / (sqrt((n_gaps::HUGEINT * ssq - s::HUGEINT * s::HUGEINT)::DOUBLE
      |       / (n_gaps * n_gaps)::DOUBLE) + s::DOUBLE / n_gaps::DOUBLE),
      |    6) END AS burstiness
      |FROM a ORDER BY user_id""".stripMargin

  /** Rolling DAU/WAU stickiness per day — the engagement-depth ratio
    * product dashboards track. The trailing-7-day distinct-user count
    * (WAU) avoids any per-day recount of raw events: the (user, day)
    * DISTINCT activity table explodes each activity into the ≤7 days
    * it supports (a bounded generator, the q74 slice discipline), and
    * both DAU and WAU are then map-combinable distinct aggregations.
    * Days are calendar-dated from event time; the first 6 days have a
    * shorter lookback by construction (reported as-is, the usual
    * dashboard convention). */
  def q169Stickiness(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val dau = act.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = act
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("off"),
        col("day"))
      .select(col("user_id"), date_add(col("day"), col("off")).as("day"))
      .join(dau.select(col("day")), Seq("day"), "left_semi")
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day").cast("string").as("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy("day")
  }

  val q169Sql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |dau AS (SELECT day, count(DISTINCT user_id) AS dau
      |        FROM act GROUP BY 1),
      |sup AS (
      |  SELECT DISTINCT a.user_id, a.day + o.off::INTEGER AS day
      |  FROM act a CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o
      |  WHERE a.day + o.off::INTEGER IN (SELECT day FROM dau)),
      |wau AS (SELECT day, count(*)::BIGINT AS wau FROM sup GROUP BY 1)
      |SELECT CAST(dau.day AS VARCHAR) AS day, dau, wau,
      |  round(dau::DOUBLE / wau::DOUBLE, 6) AS stickiness
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  /** Per-user session quality stats over the q52 sessionization islands:
    * sessions, bounce rate (single-event sessions), mean session
    * duration. Island ids come from the running sum of session breaks
    * (the gaps-and-islands form q52 pins); durations are exact integer
    * µs max−min per island, bounce/mean one IEEE chain each. */
  def q170SessionStats(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val withGap = ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          1L).otherwise(0L))
      .withColumn("sess", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perSession = withGap.groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_ev"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("dur_us"))
    perSession.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("dur_us")).as("__graft_d"))
      .select(col("user_id"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces").cast("double") /
          col("n_sessions").cast("double"), 6).as("bounce_rate"),
        round(col("__graft_d").cast("double") /
          col("n_sessions").cast("double") / lit(1e6), 6)
          .as("mean_session_s"))
      .orderBy("user_id")
  }

  val q170Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |isl AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM g),
      |ps AS (
      |  SELECT user_id, sess, count(*)::BIGINT AS n_ev,
      |    (max(epoch_us(ts)) - min(epoch_us(ts)))::BIGINT AS dur_us
      |  FROM isl GROUP BY 1, 2)
      |SELECT user_id, count(*)::BIGINT AS n_sessions,
      |  sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
      |  round(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)::DOUBLE
      |    / count(*)::DOUBLE, 6) AS bounce_rate,
      |  round(sum(dur_us)::DOUBLE / count(*)::DOUBLE / 1000000.0, 6)
      |    AS mean_session_s
      |FROM ps GROUP BY 1 ORDER BY user_id""".stripMargin

  /** Column profile of the events table ([[graft.operators.Profiler]])
    * — counts, null fractions, exact distincts, min/max — restricted
    * to the columns whose string rendering is engine-portable
    * (timestamps and doubles format differently across engines; the
    * operator itself profiles any frame). One pass, one aggregation
    * row, driver-side reshape bounded by the column count. */
  def q172ProfileEvents(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.profile(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("props")))

  val q172Sql: String = {
    def one(c: String, dtype: String) =
      s"""SELECT '$c' AS "column", '$dtype' AS dtype,
         |  count(*)::BIGINT AS n_rows, count($c)::BIGINT AS n_nonnull,
         |  round((count(*) - count($c))::DOUBLE / count(*)::DOUBLE, 6)
         |    AS null_frac,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  min($c)::VARCHAR AS min_str, max($c)::VARCHAR AS max_str
         |FROM events""".stripMargin
    Seq(one("event_id", "bigint"), one("user_id", "bigint"),
      one("event_type", "string"), one("props", "string"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  /** Pivot: the day × event-type count matrix via Spark's native
    * `groupBy().pivot()` (values pinned explicitly — at scale an
    * unpinned pivot pays a distinct-scan planning job and risks a
    * column explosion; pinning makes the plan static and the schema
    * deterministic). Oracle replays it as conditional aggregation —
    * exactly the rewrite Catalyst itself applies. */
  def q174PivotMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  val q174Sql: String =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
      |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
      |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
      |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
      |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Streaming trending: top-2 event types per 6-hour tumbling window,
    * with the stateful windowed count running through Structured
    * Streaming (file stream → event-time window() agg → complete-mode
    * memory sink, drained with AvailableNow — the q51 discipline) and
    * the rank applied over the drained result. The oracle computes the
    * same epoch-aligned buckets and ranking in batch, so the streaming
    * state machinery must reproduce the batch answer exactly. */
  def q175StreamingTrending(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_trend_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    val sinkName = "graft_stream_trending"
    def stream(s: SparkSession) = Tables.normalizeTs(
      s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString))
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val sunk = drainToMemory(spark, stream, "complete", sinkName)
    val w = Window.partitionBy(col("ws"))
      .orderBy(desc("n"), col("event_type"))
    sunk
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("ws").cast("string").as("window_start"), col("rank"),
        col("event_type"), col("n"))
      .orderBy("window_start", "rank")
  }

  // --- q179: append-mode watermarked trending (bounded state) -------------

  /** q175's windowed trending under the q143 state discipline: APPEND
    * output mode + a 1-hour event-time watermark, so each 6-hour window
    * emits EXACTLY ONCE when the watermark passes its end and is then
    * EVICTED from the state store. This is the unbounded-stream-safe
    * sibling: complete mode (q175, kept as the declared re-emitting
    * variant) retains every window ever seen and replays the whole
    * result each trigger, while here state is bounded by the windows
    * still inside the watermark horizon regardless of stream length.
    *
    * Drain protocol: one sentinel event far past the corpus arrives as
    * the LAST file (newest mod-time — the file source processes oldest
    * first), driving the final watermark past every real window end, the
    * streaming analog of "the crawl moved on". All real windows
    * therefore close and the drained output equals the batch oracle
    * (q175's SQL verbatim); the sentinel's own window stays open and is
    * never emitted, so no filtering is needed — if the engine ever
    * emitted an open window, the oracle compare would catch it.
    * StatefulSessionizerSpec asserts the eviction side: final state rows
    * = the one still-open sentinel window, not the windows×types
    * history. */
  def q179TrendingAppend(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_trenda_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    val sentinel = streamDir.resolve("z_sentinel.parquet")
    if (!java.nio.file.Files.exists(sentinel)) {
      val sentinelTs = rawSchema("ts").dataType match {
        // nanos-as-long layout: 2024-03-01T00:00:00Z in nanoseconds
        case org.apache.spark.sql.types.LongType =>
          lit(1709251200000000000L)
        case dt => lit("2024-03-01 00:00:00").cast(dt)
      }
      val buildDir = streamDir.resolve("_sentinel_build")
      spark.read.schema(rawSchema).parquet(s"$dir/events.parquet").limit(1)
        .withColumn("ts", sentinelTs)
        .withColumn("event_id", lit(-1L))
        .withColumn("event_type", lit("__graft_sentinel"))
        .coalesce(1).write.mode("overwrite").parquet(buildDir.toString)
      val part = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(buildDir).iterator().asScala
          .find(p => p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet"))
          .getOrElse(sys.error("sentinel parquet part file missing"))
      }
      java.nio.file.Files.copy(part, sentinel)
    }
    val sinkName = "graft_stream_trend_append"
    def stream(s: SparkSession) = Tables.normalizeTs(
      s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val sunk = drainToMemory(spark, stream, "append", sinkName)
    val w = Window.partitionBy(col("ws"))
      .orderBy(desc("n"), col("event_type"))
    sunk
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("ws").cast("string").as("window_start"), col("rank"),
        col("event_type"), col("n"))
      .orderBy("window_start", "rank")
  }

  val q175Sql: String =
    """WITH wc AS (
      |  SELECT time_bucket(INTERVAL 6 HOURS, ts) AS ws, event_type,
      |    count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT CAST(ws AS VARCHAR) AS window_start,
      |    row_number() OVER (PARTITION BY ws ORDER BY n DESC, event_type)::INT
      |      AS rank,
      |    event_type, n
      |  FROM wc)
      |SELECT window_start, rank, event_type, n
      |FROM r WHERE rank <= 2 ORDER BY window_start, rank""".stripMargin

  /** Append + watermark must not change the answer vs the batch/complete
    * trending — only bound the state and emit each window once. */
  val q179Sql: String = q175Sql

  // --- q182: CUSUM changepoint chart per event type ------------------------

  /** Per-type hourly CUSUM ([[graft.operators.Changepoint
    * .cusumHourly]]): the sustained-rate-shift alarm. Everything is
    * exact integer math scaled by the hour-span H, so the oracle
    * replays the running sum + running floor windows bit-for-bit; the
    * arm casts cusum_scaled to BIGINT (exact at any declared scale —
    * the operator itself carries DECIMAL(38,0)) and the hour to a
    * string (the timestamp-column oracle discipline). */
  def q182CusumHourly(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Changepoint.cusumHourly(
      Tables.events(spark, dir), "event_type", "ts")
      .select(col("event_type"),
        date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n_events"), col("cusum_scaled").cast("long").as("cusum_scaled"))
      .orderBy("event_type", "hour")

  val q182Sql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT event_type, date_trunc('hour', ts) AS h
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
      |counts AS MATERIALIZED (
      |  SELECT event_type, h, count(*)::BIGINT AS x FROM e GROUP BY 1, 2),
      |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
      |hours AS MATERIALIZED (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
      |hh AS (SELECT count(*)::BIGINT AS hn FROM hours),
      |tot AS (SELECT event_type, sum(x)::BIGINT AS t FROM counts GROUP BY 1),
      |st AS (
      |  SELECT s.event_type, s.h, coalesce(c.x, 0)::BIGINT AS x,
      |    (hh.hn::HUGEINT * coalesce(c.x, 0)::HUGEINT - t.t::HUGEINT) AS y
      |  FROM (SELECT k.event_type, hours.h
      |        FROM (SELECT DISTINCT event_type FROM e) k
      |        CROSS JOIN hours) s
      |  LEFT JOIN counts c ON s.event_type = c.event_type AND s.h = c.h
      |  JOIN tot t ON s.event_type = t.event_type CROSS JOIN hh),
      |ps AS (
      |  SELECT event_type, h, x, sum(y) OVER (PARTITION BY event_type
      |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      |  FROM st),
      |fs AS (
      |  SELECT event_type, h, x, p,
      |    least(0::HUGEINT, min(p) OVER (PARTITION BY event_type ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS fl
      |  FROM ps)
      |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  x AS n_events, (p - fl)::BIGINT AS cusum_scaled
      |FROM fs ORDER BY event_type, hour""".stripMargin

  // --- q190: exact A/B z-test ------------------------------------------------

  /** Two-sample z over the event `value` with variant = user_id parity
    * ([[graft.operators.Eval.abZTest]]): exact integer moments over
    * micro-quantized values, one pinned IEEE chain — the experiment
    * readout `avg`/`stddev` could never hash-verify. */
  def q190AbZTest(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.abZTest(
      Tables.events(spark, dir)
        .select(pmod(col("user_id"), lit(2L)).as("variant"),
          round(col("value") * lit(1e6), 0).cast("long").as("vm")),
      "variant", "vm")

  val q190Sql: String =
    """WITH e AS (
      |  SELECT user_id % 2 AS v,
      |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS x
      |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      |m AS (
      |  SELECT
      |    sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN v = 0 THEN x ELSE 0 END)::BIGINT AS s0,
      |    sum(CASE WHEN v = 0 THEN x::HUGEINT * x::HUGEINT
      |        ELSE 0::HUGEINT END) AS ss0,
      |    sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN v = 1 THEN x ELSE 0 END)::BIGINT AS s1,
      |    sum(CASE WHEN v = 1 THEN x::HUGEINT * x::HUGEINT
      |        ELSE 0::HUGEINT END) AS ss1
      |  FROM e),
      |dd AS (
      |  SELECT *,
      |    sqrt((n1::HUGEINT * ss1 - s1::HUGEINT * s1::HUGEINT)::DOUBLE
      |        / n1::DOUBLE / n1::DOUBLE / n1::DOUBLE
      |      + (n0::HUGEINT * ss0 - s0::HUGEINT * s0::HUGEINT)::DOUBLE
      |        / n0::DOUBLE / n0::DOUBLE / n0::DOUBLE) AS den
      |  FROM m)
      |SELECT n0 AS n_0, n1 AS n_1,
      |  CASE WHEN n0 > 0
      |    THEN round(s0::DOUBLE / n0::DOUBLE / 1000000.0, 6) END AS mean_0,
      |  CASE WHEN n1 > 0
      |    THEN round(s1::DOUBLE / n1::DOUBLE / 1000000.0, 6) END AS mean_1,
      |  CASE WHEN n0 > 0 AND n1 > 0 AND den > 0
      |    THEN round((s1::DOUBLE / n1::DOUBLE - s0::DOUBLE / n0::DOUBLE)
      |      / den, 6) END AS z
      |FROM dd""".stripMargin

  // --- q187: Markov next-event transitions ----------------------------------

  /** First-order transition table over per-user event sequences
    * ([[graft.operators.Markov.transitions]]): counts, floor-divided
    * micro probabilities, per-prev ranking — all integer, ordered
    * deterministically by (ts, event_id). */
  def q187Transitions(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Markov.transitions(
      Tables.events(spark, dir), "user_id", "event_type", "ts", "event_id")
      .orderBy("prev_type", "rank")

  val q187Sql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS nx
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |    AND ts IS NOT NULL),
      |census AS (
      |  SELECT event_type AS prev_type, nx AS next_type,
      |    count(*)::BIGINT AS n
      |  FROM seq WHERE nx IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT prev_type, sum(n)::BIGINT AS t FROM census GROUP BY 1)
      |SELECT c.prev_type, c.next_type, c.n,
      |  (c.n * 1000000) // t.t AS prob_micro,
      |  row_number() OVER (PARTITION BY c.prev_type
      |    ORDER BY c.n DESC, c.next_type)::BIGINT AS rank
      |FROM census c JOIN tot t USING (prev_type)
      |ORDER BY prev_type, rank""".stripMargin

  // --- q184: event-mix x time-of-day mutual information --------------------

  /** MI between event type and hour-of-day ([[graft.operators.Drift
    * .mutualInformation]]): are the two dimensions entangled — the
    * check before stratifying a sample on both. Full dependence table
    * + headline MI in one hashable report (the q165 PSI shape). */
  def q184TypeHourMi(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.mutualInformation(
      Tables.events(spark, dir)
        .withColumn("hod", hour(col("ts")).cast("long")),
      "event_type", "hod")
      .orderBy("event_type", "hod")

  val q184Sql: String =
    """WITH e AS (
      |  SELECT event_type, extract(hour FROM ts)::BIGINT AS hod
      |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      |cells AS MATERIALIZED (
      |  SELECT event_type, hod, count(*)::BIGINT AS nab FROM e GROUP BY 1, 2),
      |ma AS (SELECT event_type, sum(nab)::BIGINT AS na FROM cells GROUP BY 1),
      |mb AS (SELECT hod, sum(nab)::BIGINT AS nb FROM cells GROUP BY 1),
      |tot AS (SELECT sum(nab)::BIGINT AS n FROM cells),
      |terms AS MATERIALIZED (
      |  SELECT c.event_type, c.hod, c.nab,
      |    CAST(round((c.nab::DOUBLE / tot.n::DOUBLE) *
      |      ln(c.nab::DOUBLE * tot.n::DOUBLE / (ma.na::DOUBLE * mb.nb::DOUBLE))
      |      * 1000000000.0, 0) AS BIGINT) AS mi_term_nano
      |  FROM cells c JOIN ma USING (event_type) JOIN mb USING (hod)
      |  CROSS JOIN tot),
      |mi AS (SELECT sum(mi_term_nano)::BIGINT AS s FROM terms)
      |SELECT t.event_type, t.hod, t.nab AS n_ab, t.mi_term_nano, tot.n,
      |  round(mi.s::DOUBLE / 1000000000.0, 6) AS mi_nats
      |FROM terms t CROSS JOIN tot CROSS JOIN mi
      |ORDER BY t.event_type, t.hod""".stripMargin

  // --- q198: streaming stateful funnel ---------------------------------------

  /** The q144 four-stage funnel AS A STREAM
    * ([[graft.streaming.StatefulFunnel]]): events arrive as two
    * chronologically-split files (one micro-batch each — a log shipped
    * in arrival order), per-user funnel state carries ACROSS the batch
    * boundary, and the drained depths reproduce the batch first-touch
    * chain exactly — q144's oracle verbatim. Update-mode emissions are
    * reconciled with max() (depth only grows); the final counts are a
    * 4-row spine joined to the ≤9-row depth histogram, never a
    * per-user driver pass. */
  def q198StreamingFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stages = Seq("signup", "view", "click", "purchase")
    // Cache keyed on the source file's mtime (regenerated data at the
    // same path gets a fresh split) and published by a single atomic
    // directory rename: a crash mid-build leaves only an orphaned temp
    // dir, never a half-visible cache, and a retry never hits a
    // FileAlreadyExists on the copy.
    val srcMtime = java.nio.file.Files
      .getLastModifiedTime(java.nio.file.Paths.get(s"$dir/events.parquet"))
      .toMillis
    val streamDir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_funnel_${dir.replaceAll("[^A-Za-z0-9]", "_")}" +
        s"_$srcMtime")
    val boundaryUs = 1705276800000000L // 2024-01-15T00:00:00Z
    if (!java.nio.file.Files.isDirectory(streamDir)) {
      val tmp = java.nio.file.Files.createTempDirectory(
        streamDir.getParent, streamDir.getFileName.toString + ".build")
      val ev = Tables.events(spark, dir).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      for ((name, cond) <- Seq(
          ("a.parquet", col("ts_us") < boundaryUs),
          ("b.parquet", col("ts_us") >= boundaryUs))) {
        // _build_* stays underscore-prefixed so the file-stream source
        // ignores it even if it survives in the published dir
        val buildDir = tmp.resolve(s"_build_$name")
        ev.filter(cond).coalesce(1)
          .write.mode("overwrite").parquet(buildDir.toString)
        val part = {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(buildDir).iterator().asScala
            .find(p => p.getFileName.toString.startsWith("part-") &&
              p.getFileName.toString.endsWith(".parquet"))
            .getOrElse(sys.error(s"missing part file for $name"))
        }
        java.nio.file.Files.copy(part, tmp.resolve(name))
      }
      try
        java.nio.file.Files.move(tmp, streamDir,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException |
            _: java.nio.file.AccessDeniedException =>
          // another builder won the rename; discard our copy
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val schema = spark.read.parquet(streamDir.resolve("a.parquet").toString)
      .schema
    def stream(s: SparkSession) = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .as[graft.streaming.StatefulFunnel.Ev]
    val sinkName = "graft_stream_funnel"
    val depths = drainToMemory(spark,
      s => graft.streaming.StatefulFunnel.userDepths(stream(s), stages).toDF(),
      "update", sinkName)
      .groupBy(col("user_id"))
      .agg(max(col("stages_completed")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("c")) // ≤ 9 rows
    val spine = stages.zipWithIndex
      .map { case (s, i) => (i + 1, s) }.toDF("k", "name")
    // LEFT join: a stage nobody completed must still emit n_users = 0,
    // matching the batch funnel and the declared oracle
    spine.join(broadcast(depths), col("d") >= col("k"), "left")
      .groupBy(col("k"), col("name"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_users"))
      .select(concat(col("k").cast("string"), lit("_"), col("name"))
        .as("stage"), col("n_users"))
      .orderBy("stage")
  }

  /** Streaming must not change the funnel answer — q144's oracle
    * verbatim. */
  val q198Sql: String = q144Sql

  // --- q199: two-sample Kolmogorov-Smirnov A/B distribution test ------------

  /** Exact KS statistic ([[graft.operators.Eval.ksTest]]) between the
    * two q190 variants' value distributions — the whole-distribution
    * companion to the mean z-test (a treatment can shift the tails
    * while leaving the mean fixed; D catches it anywhere on the CDF).
    * The max CDF gap is an exact integer max (|cum₀·n₁ − cum₁·n₀|)
    * over the value census followed by one division; the oracle
    * replays the census, both inclusive cumulations, and the max. */
  def q199KsTest(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.ksTest(
      Tables.events(spark, dir)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(pmod(col("user_id"), lit(2L)).as("variant"),
          round(col("value") * lit(1e6), 0).cast("long").as("vm")),
      "variant", "vm")

  val q199Sql: String =
    """WITH e AS (
      |  SELECT user_id % 2 AS v,
      |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS s
      |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      |hist AS (
      |  SELECT s,
      |    sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS c0,
      |    sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS c1
      |  FROM e GROUP BY 1),
      |cum AS (
      |  SELECT
      |    sum(c0) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
      |    sum(c1) OVER (ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
      |  FROM hist),
      |t AS (SELECT sum(c0)::BIGINT AS n0, sum(c1)::BIGINT AS n1 FROM hist)
      |SELECT n0 AS n_0, n1 AS n_1,
      |  round(max(abs(cum0::HUGEINT * n1::HUGEINT -
      |                cum1::HUGEINT * n0::HUGEINT))::DOUBLE /
      |    (n0::DOUBLE * n1::DOUBLE), 6) AS d_stat
      |FROM cum, t GROUP BY n0, n1""".stripMargin

  // --- q200: Brown-Forsythe variance-equality A/B test -----------------------

  /** Brown–Forsythe W ([[graft.operators.Eval.brownForsythe]]) between
    * the two q190 variants' CENTI-quantized values — did the treatment
    * change the spread (q190 tests the mean, q199 the whole CDF, this
    * the variance, the three standard A/B readouts)? Centi units keep
    * S²·n·N inside DECIMAL(38,0) to ~1e9 rows (the operator's
    * documented re-quantize contract); the oracle replays the
    * RankCuts lower medians, the deviation moments, and the cleared
    * rational chain. */
  def q200BrownForsythe(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.brownForsythe(
      Tables.events(spark, dir)
        .filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(pmod(col("user_id"), lit(2L)).as("variant"),
          round(col("value") * lit(100.0), 0).cast("long").as("vc")),
      "variant", "vc")

  val q200Sql: String =
    """WITH e AS (
      |  SELECT user_id % 2 AS v,
      |    CAST(round(value * 100.0, 0) AS BIGINT) AS s
      |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      |h AS (SELECT v, s, count(*)::BIGINT AS c FROM e GROUP BY 1, 2),
      |cum AS (
      |  SELECT v, s, sum(c) OVER (PARTITION BY v ORDER BY s) AS cs,
      |    sum(c) OVER (PARTITION BY v) AS n
      |  FROM h),
      |med AS (SELECT v, min(s) AS med FROM cum
      |        WHERE cs >= (n + 1) // 2 GROUP BY 1),
      |dev AS (SELECT e.v, m.med, abs(e.s - m.med) AS z
      |        FROM e JOIN med m USING (v)),
      |m AS (
      |  SELECT
      |    sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN v = 0 THEN z ELSE 0 END)::BIGINT AS s0,
      |    sum(CASE WHEN v = 0 THEN z::HUGEINT * z::HUGEINT
      |        ELSE 0::HUGEINT END) AS q0,
      |    max(CASE WHEN v = 0 THEN med END) AS med0,
      |    sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN v = 1 THEN z ELSE 0 END)::BIGINT AS s1,
      |    sum(CASE WHEN v = 1 THEN z::HUGEINT * z::HUGEINT
      |        ELSE 0::HUGEINT END) AS q1,
      |    max(CASE WHEN v = 1 THEN med END) AS med1
      |  FROM dev),
      |k AS (
      |  SELECT *, (n0 + n1)::HUGEINT AS nn,
      |    (s0 + s1)::HUGEINT AS ss, q0 + q1 AS qq
      |  FROM m),
      |f AS (
      |  SELECT *,
      |    s0::HUGEINT * s0::HUGEINT * n1::HUGEINT * nn +
      |      s1::HUGEINT * s1::HUGEINT * n0::HUGEINT * nn -
      |      ss * ss * n0::HUGEINT * n1::HUGEINT AS b_,
      |    qq * n0::HUGEINT * n1::HUGEINT * nn -
      |      s0::HUGEINT * s0::HUGEINT * n1::HUGEINT * nn -
      |      s1::HUGEINT * s1::HUGEINT * n0::HUGEINT * nn AS w_
      |  FROM k)
      |SELECT n0 AS n_0, n1 AS n_1, med0 AS med_0, med1 AS med_1,
      |  CASE WHEN n0 > 0 AND n1 > 0 AND nn > 2 AND w_ <> 0
      |    THEN round((nn - 2)::DOUBLE * b_::DOUBLE / w_::DOUBLE, 6)
      |  END AS w
      |FROM f""".stripMargin

  // --- q191: mean reciprocal rank of the first conversion -------------------

  /** MRR@10 ([[graft.operators.Eval.mrr]]) of the first 'purchase' in
    * each user's time-ordered event stream — "how front-loaded is
    * conversion", and the declared arm for the exact-rational MRR
    * primitive (integer lcm(1..10)/m weights, ONE division; any
    * upstream ranker plugs into the same operator). Deterministic
    * ranking: (ts, event_id) compound order, the q187 discipline. */
  def q191Mrr(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rank", row_number().over(w))
      .withColumn("rel", col("event_type") === "purchase")
    graft.operators.Eval.mrr(ranked, "user_id", "rank", "rel", k = 10)
  }

  val q191Sql: String =
    """WITH r AS (
      |  SELECT user_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS rank,
      |    (event_type = 'purchase') AS rel
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_id IS NOT NULL),
      |h AS (
      |  SELECT user_id, min(rank) AS m FROM r
      |  WHERE rel AND rank BETWEEN 1 AND 10 GROUP BY 1),
      |agg AS (
      |  SELECT count(*)::BIGINT AS n_hit,
      |    coalesce(sum(2520 // m), 0)::BIGINT AS wsum FROM h),
      |q AS (SELECT count(DISTINCT user_id)::BIGINT AS nq FROM r)
      |SELECT 10 AS k, nq AS n_queries, n_hit,
      |  round(wsum::DOUBLE / (nq::DOUBLE * 2520.0), 6) AS mrr
      |FROM agg, q""".stripMargin

  // --- q192: per-user nDCG@10 of time-order vs value-order -------------------

  /** nDCG@10 ([[graft.operators.Eval.ndcgAt]]) per user, presented
    * order = event time, gain = micro-quantized event value: does the
    * session front-load its value? The declared arm for the
    * graded-relevance ranking metric (micro-rounded ln-discount terms,
    * exact integer per-query sums, one division per user — the
    * ln-discount nDCG is EXACTLY the textbook log2 nDCG, the ln 2
    * cancels in the ratio). The oracle replays presented ranks, the
    * deterministic ideal re-rank, both term chains, and the ratio. */
  def q192Ndcg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * lit(1e6), 0).cast("long").as("gain"))
      .withColumn("rank", row_number().over(w))
    graft.operators.Eval.ndcgAt(ranked, "user_id", "rank", "gain", k = 10)
      .orderBy("user_id")
  }

  val q192Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS r,
      |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS g0
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_id IS NOT NULL AND value IS NOT NULL),
      |rr AS (
      |  SELECT user_id, r, greatest(g0, 0) AS g,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY greatest(g0, 0) DESC, r) AS ir
      |  FROM e),
      |t AS (
      |  SELECT user_id,
      |    sum(CASE WHEN r <= 10 THEN CAST(round(
      |      g::DOUBLE / ln(r::DOUBLE + 1.0), 0) AS BIGINT)
      |      ELSE 0 END)::BIGINT AS dcg_micro,
      |    sum(CASE WHEN ir <= 10 THEN CAST(round(
      |      g::DOUBLE / ln(ir::DOUBLE + 1.0), 0) AS BIGINT)
      |      ELSE 0 END)::BIGINT AS idcg_micro
      |  FROM rr GROUP BY 1)
      |SELECT user_id, dcg_micro, idcg_micro,
      |  CASE WHEN idcg_micro > 0
      |    THEN round(dcg_micro::DOUBLE / idcg_micro::DOUBLE, 6)
      |    ELSE NULL END AS ndcg
      |FROM t ORDER BY user_id""".stripMargin

  // --- q194: chi-square independence of event mix x variant ------------------

  /** Pearson χ² ([[graft.operators.Eval.chiSquare]]) of event type vs
    * the q190 A/B variant (user parity) — "did the treatment change
    * the event MIX", the frequency-table sibling of the q190 mean
    * test and the significance layer under q184's MI. Full |A|×|B|
    * spine (zero-observed cells contribute E), exact integer
    * (O·T − R·C)² numerators, micro-rounded terms, integer total. */
  def q194Chi2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Eval.chiSquare(
      Tables.events(spark, dir)
        .filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .withColumn("variant", pmod(col("user_id"), lit(2L))),
      "event_type", "variant")
      .orderBy("event_type", "variant")

  val q194Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id % 2 AS variant FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
      |cells AS MATERIALIZED (
      |  SELECT event_type, variant, count(*)::BIGINT AS nab
      |  FROM e GROUP BY 1, 2),
      |ma AS (SELECT event_type, sum(nab)::BIGINT AS na FROM cells GROUP BY 1),
      |mb AS (SELECT variant, sum(nab)::BIGINT AS nb FROM cells GROUP BY 1),
      |tot AS (SELECT sum(nab)::BIGINT AS n FROM cells),
      |spine AS (SELECT ma.event_type, ma.na, mb.variant, mb.nb
      |          FROM ma CROSS JOIN mb),
      |terms AS MATERIALIZED (
      |  SELECT s.event_type, s.variant,
      |    coalesce(c.nab, 0)::BIGINT AS n_ab,
      |    CAST(round(
      |      ((coalesce(c.nab, 0)::HUGEINT * tot.n::HUGEINT
      |          - s.na::HUGEINT * s.nb::HUGEINT) *
      |       (coalesce(c.nab, 0)::HUGEINT * tot.n::HUGEINT
      |          - s.na::HUGEINT * s.nb::HUGEINT))::DOUBLE
      |      / (tot.n::DOUBLE * s.na::DOUBLE * s.nb::DOUBLE)
      |      * 1000000.0, 0) AS BIGINT) AS chi2_term_micro
      |  FROM spine s LEFT JOIN cells c USING (event_type, variant)
      |  CROSS JOIN tot),
      |st AS (SELECT sum(n_ab)::BIGINT AS n,
      |         sum(chi2_term_micro)::BIGINT AS ssum FROM terms),
      |dof AS (SELECT ((SELECT count(*) FROM ma) - 1) *
      |               ((SELECT count(*) FROM mb) - 1) AS dof)
      |SELECT t.event_type, t.variant, t.n_ab, t.chi2_term_micro,
      |  st.n, dof.dof, round(st.ssum::DOUBLE / 1000000.0, 6) AS chi2
      |FROM terms t CROSS JOIN st CROSS JOIN dof
      |ORDER BY t.event_type, t.variant""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_mrr" -> q191Mrr _,
    "q192_ndcg" -> q192Ndcg _,
    "q194_chi2" -> q194Chi2 _,
    "q198_streaming_funnel" -> q198StreamingFunnel _,
    "q199_ks_test" -> q199KsTest _,
    "q200_brown_forsythe" -> q200BrownForsythe _,
    "q179_trending_append" -> q179TrendingAppend _,
    "q182_cusum_hourly" -> q182CusumHourly _,
    "q184_type_hour_mi" -> q184TypeHourMi _,
    "q187_markov_transitions" -> q187Transitions _,
    "q190_ab_ztest" -> q190AbZTest _,
    "q175_streaming_trending" -> q175StreamingTrending _,
    "q174_pivot_matrix" -> q174PivotMatrix _,
    "q172_profile_events" -> q172ProfileEvents _,
    "q170_session_stats" -> q170SessionStats _,
    "q169_stickiness" -> q169Stickiness _,
    "q168_burstiness" -> q168Burstiness _,
    "q160_recency_scores" -> q160RecencyScores _,
    "q144_funnel_4stage" -> q144Funnel4 _,
    "q143_streaming_dedup_watermark" -> q143StreamingDedupWatermark _,
    "q142_cohort_retention" -> q142CohortRetention _,
    "q141_funnel" -> q141Funnel _,
    "q139_anomaly_zscore" -> q139Anomalies _,
    "q130_stream_stream_join" -> q130StreamStreamJoin _,
    "q50_hourly_rollup" -> q50HourlyRollup _,
    "q122_streaming_curation" -> q122StreamingCuration _,
    "q51_streaming_rollup" -> q51StreamingRollup _,
    "q52_sessionize" -> q52Sessionize _,
    "q53_asof_join" -> q53AsOfJoin _,
    "q54_json_props" -> q54JsonProps _,
    "q55_streaming_dedup" -> q55StreamingDedup _,
    "q56_range_join" -> q56RangeJoin _)

  val oracles: Map[String, String] = Map(
    "q191_mrr" -> q191Sql,
    "q192_ndcg" -> q192Sql,
    "q194_chi2" -> q194Sql,
    "q198_streaming_funnel" -> q198Sql,
    "q199_ks_test" -> q199Sql,
    "q200_brown_forsythe" -> q200Sql,
    "q160_recency_scores" -> q160Sql,
    "q168_burstiness" -> q168Sql,
    "q169_stickiness" -> q169Sql,
    "q170_session_stats" -> q170Sql,
    "q172_profile_events" -> q172Sql,
    "q174_pivot_matrix" -> q174Sql,
    "q175_streaming_trending" -> q175Sql,
    "q179_trending_append" -> q179Sql,
    "q182_cusum_hourly" -> q182Sql,
    "q184_type_hour_mi" -> q184Sql,
    "q187_markov_transitions" -> q187Sql,
    "q190_ab_ztest" -> q190Sql,
    "q144_funnel_4stage" -> q144Sql,
    "q143_streaming_dedup_watermark" -> q143Sql,
    "q142_cohort_retention" -> q142Sql,
    "q141_funnel" -> q141Sql,
    "q139_anomaly_zscore" -> q139Sql,
    "q130_stream_stream_join" -> q130Sql,
    "q50_hourly_rollup" -> q50Sql,
    "q122_streaming_curation" -> q122Sql,
    "q51_streaming_rollup" -> q51Sql,
    "q52_sessionize" -> q52Sql,
    "q53_asof_join" -> q53Sql,
    "q54_json_props" -> q54Sql,
    "q55_streaming_dedup" -> q55Sql,
    "q56_range_join" -> q56Sql)
}
