package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._
import graft.tools.GoldenHash

/** The curation inventory: every `SparkEntry.queries` arm once, in sorted
  * order, over a table directory, each written to the noop sink with the
  * cache cleared before it. Each arm's output is then checked against its
  * golden `GoldenHash.checksum` triple (rows, fingerprint sum, xor) in
  * `perfbench/golden/curation_<dir name>.json`.
  *
  * With `--pin 1` the run writes its triples as the golden file. When one
  * exists already, an arm whose triple differs is kept in the file's
  * "nondeterministic" list with both triples instead of being replaced, so
  * pinning twice shows which arms do not repeat.
  */
object Curation {
  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("Relational" -> RelationalQueries.all, "Enrich" -> EnrichQueries.all,
      "Text" -> TextQueries.all, "Curation" -> CurationQueries.all,
      "Similarity" -> SimilarityQueries.all, "Event" -> EventQueries.all,
      "Rag" -> RagQueries.all, "Verify" -> VerifyQueries.all,
      "Source" -> SourceQueries.all)

  /** Arms timed again after the inventory pass, for their quartiles. */
  val FocusArms: Seq[String] = Seq("q61_sparse_search")
  val FocusReps = 10

  final case class Arm(name: String, family: String, wall: Double,
                       ok: Boolean, error: Option[String],
                       counters: Map[String, Double],
                       triple: Option[(Long, Long, Long)])

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, a: Main.Args, bootS: Double): Main.Outcome = {
    val dir = a.dataDir.getOrElse(
      throw new IllegalArgumentException("curation needs --data-dir"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    val goldenFile = a.work.getParent.resolve("golden")
      .resolve(s"curation_${Path.of(dir).getFileName}.json")
    val golden = readGolden(goldenFile)
    val family = Families.flatMap { case (f, m) => m.keys.map(_ -> f) }.toMap
    val arms = graft.SparkEntry.queries.toSeq.sortBy(_._1)

    // untimed warm-up: the first arm would otherwise absorb executor and
    // codegen start-up
    val t0 = System.nanoTime()
    noop(spark.range(0L, 1000000L, 1L, Main.Cores).selectExpr("sum(id)"))
    val setupS = bootS + (System.nanoTime() - t0) / 1e9

    val results = arms.map { case (name, q) =>
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"arm:$name")
      val ctr = new SparkCounters(spark.sparkContext).start()
      val t1 = System.nanoTime()
      val err =
        try { noop(q(spark, dir)); None }
        catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
      val wall = (System.nanoTime() - t1) / 1e9
      ctr.stop()
      val triple =
        if (err.isDefined) None
        else try Some(GoldenHash.checksum(q(spark, dir)))
        catch { case _: Throwable => None }
      spark.sparkContext.setJobDescription(null)
      System.err.println(f"[perfbench] $name%-32s $wall%8.3f s" +
        err.map(e => s" FAILED: $e").getOrElse(""))
      Arm(name, family.getOrElse(name, "Other"), wall, err.isEmpty, err,
        ctr.metrics, triple)
    }

    val focus = FocusArms.filter(graft.SparkEntry.queries.contains).map { n =>
      val q = graft.SparkEntry.queries(n)
      n -> (1 to FocusReps).map { _ =>
        spark.catalog.clearCache()
        val t1 = System.nanoTime()
        noop(q(spark, dir))
        (System.nanoTime() - t1) / 1e9
      }
    }.toMap

    val mismatched = results.filter { r =>
      r.triple.isDefined && golden.deterministic.get(r.name).exists(g =>
        !r.triple.contains(g))
    }
    val unpinned = results.filter(r =>
      !golden.deterministic.contains(r.name) &&
        !golden.nondeterministic.contains(r.name)).map(_.name)
    if (a.pin) writeGolden(goldenFile, dir, golden, results)

    val failed = results.filterNot(_.ok)
    failed.foreach(r => System.err.println(s"[perfbench] arm failed: ${r.name}"))
    mismatched.foreach(r => System.err.println(
      s"[perfbench] checksum differs from golden: ${r.name} " +
        s"${r.triple.get} vs ${golden.deterministic(r.name)}"))
    val wall = results.map(_.wall).sum
    val byFamily = results.groupBy(_.family)
    val layer = Families.map(_._1).flatMap { f =>
      val rs = byFamily.getOrElse(f, Nil)
      Seq(s"queries.${f.toLowerCase}_s" -> rs.map(_.wall).sum,
        s"queries.${f.toLowerCase}_tasks" ->
          rs.map(_.counters("spark.tasks")).sum,
        s"queries.${f.toLowerCase}_shuffle_mb" ->
          rs.map(_.counters("spark.shuffle_write_mb")).sum)
    }
    val e2e = Seq("setup_s" -> (setupS, "s"), "wall_s" -> (wall, "s"),
      "arms" -> (results.size.toDouble, "count"),
      "failed_ratio" -> (failed.size.toDouble / results.size, "ratio"),
      "peak_rss_mb" -> (Main.vmHwmMb(ProcessHandle.current.pid), "MB"))
    val metrics =
      if (!a.trace) e2e
      else layer.map { case (k, v) =>
        k -> (v, if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
          else "count")
      }
    val record = Map[String, Any](
      "data_dir" -> dir,
      "golden_file" -> goldenFile.toString,
      "arms" -> results.map(r => Map(
        "name" -> r.name, "family" -> r.family, "wall_s" -> r.wall,
        "ok" -> r.ok, "error" -> r.error,
        "tasks" -> r.counters("spark.tasks"),
        "shuffle_write_mb" -> r.counters("spark.shuffle_write_mb"),
        "jobs" -> r.counters("spark.jobs"),
        "triple" -> r.triple.map(t => Seq(t._1, t._2, t._3)))),
      "focus" -> focus.map { case (n, xs) => n -> Stats.summary(xs) },
      "checksum_mismatches" -> mismatched.map(_.name),
      "nondeterministic" -> golden.nondeterministic.keys.toSeq.sorted,
      "unpinned" -> unpinned,
      "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }.toMap,
      "per_layer" -> layer.toMap)
    Main.Outcome(failed.isEmpty && mismatched.isEmpty, results.size,
      failed.size + mismatched.size, metrics, record)
  }

  final case class Golden(deterministic: Map[String, (Long, Long, Long)],
                          nondeterministic: Map[String, Seq[(Long, Long, Long)]])

  private val mapper = new ObjectMapper()

  private def triple(n: com.fasterxml.jackson.databind.JsonNode) =
    (n.get(0).asLong, n.get(1).asLong, n.get(2).asLong)

  def readGolden(f: Path): Golden =
    if (!Files.exists(f)) Golden(Map.empty, Map.empty)
    else {
      val root = mapper.readTree(f.toFile)
      val det = root.path("arms").fields.asScala
        .map(e => e.getKey -> triple(e.getValue)).toMap
      val nd = root.path("nondeterministic").fields.asScala
        .map(e => e.getKey ->
          (0 until e.getValue.size).map(i => triple(e.getValue.get(i)))).toMap
      Golden(det, nd)
    }

  private def writeGolden(f: Path, dir: String, old: Golden,
                          results: Seq[Arm]): Unit = {
    val now = results.flatMap(r => r.triple.map(r.name -> _)).toMap
    val moved = now.collect {
      case (n, t) if old.deterministic.get(n).exists(_ != t) =>
        n -> Seq(old.deterministic(n), t)
    }
    val nd = old.nondeterministic.map { case (n, ts) =>
      n -> (ts ++ now.get(n).filterNot(ts.contains).toSeq)
    } ++ moved
    val det = (old.deterministic ++ now).filterNot { case (n, _) => nd.contains(n) }
    def t(x: (Long, Long, Long)) = s"[${x._1}, ${x._2}, ${x._3}]"
    def block(m: Map[String, String]): String =
      m.toSeq.sortBy(_._1).map { case (n, v) => s"    ${Json(n)}: $v" }
        .mkString("{\n", ",\n", "\n  }")
    val about = "GoldenHash.checksum (rows, fingerprint sum, xor) of each " +
      s"SparkEntry.queries arm over ${Path.of(dir).getFileName}; an arm " +
      "whose triple differed between two pinning runs of the same code is " +
      "listed under nondeterministic with every triple seen"
    val body = s"{\n  \"about\": ${Json(about)},\n" +
      s"  \"arms\": ${block(det.map { case (n, x) => n -> t(x) })},\n" +
      s"  \"nondeterministic\": ${block(nd.map { case (n, xs) =>
        n -> xs.map(t).mkString("[", ", ", "]") })}\n}\n"
    Files.createDirectories(f.getParent)
    Files.write(f, body.getBytes("UTF-8"))
    System.err.println(s"[perfbench] golden triples written: $f")
  }
}
