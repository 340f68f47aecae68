package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Suffix-dispatched source/sink layer
  * (reference: ondine/stages/data_loader_stage.py:17-110 create_container
  * dispatch; ondine/stages/result_writer_stage.py:41-161 writer).
  *
  * `spark.read` supplies the streaming/pruning/pushdown machinery the
  * reference hand-built per format; this layer adds the dispatch, the
  * reader options the reference exposes (delimiter/encoding/sheet), and
  * required-column validation with the same failure semantics (missing
  * columns fail BEFORE any LLM spend).
  */
object Sources {

  /** The CSV options a pipeline's `dataset` section sets. A CSV always
    * reads with a header row and an inferred schema. */
  final case class ReadOptions(
      delimiter: String = ",",
      encoding: String = "UTF-8")

  object ReadOptions {
    def of(dataset: graft.core.DatasetSpec): ReadOptions =
      ReadOptions(dataset.delimiter, dataset.encoding)
  }

  /** Read any supported file by suffix: .csv / .tsv / .parquet / .pq /
    * .json / .jsonl / .ndjson / .orc / .xlsx. */
  def read(spark: SparkSession, path: String,
           opts: ReadOptions = ReadOptions()): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".parquet") || lower.endsWith(".pq"))
      spark.read.parquet(path)
    else if (lower.endsWith(".orc"))
      spark.read.orc(path)
    else if (lower.endsWith(".csv") || lower.endsWith(".tsv"))
      spark.read
        .option("header", "true")
        .option("inferSchema", "true")
        .option("delimiter", if (lower.endsWith(".tsv")) "\t" else opts.delimiter)
        .option("encoding", opts.encoding)
        // multiline/quote handling so text columns round-trip
        .option("quote", "\"").option("escape", "\"")
        .csv(path)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl") ||
             lower.endsWith(".ndjson"))
      spark.read.json(path)
    else if (lower.endsWith(".xlsx"))
      Xlsx.read(spark, path) // driver-side; see Xlsx scaladoc
    else if (lower.endsWith(".xls")) {
      // The reference accepts legacy .xls via pandas
      // (ondine/stages/data_loader_stage.py:95-108). Files named .xls are
      // frequently mislabeled modern workbooks, so dispatch on CONTENT:
      // a zip magic (PK) is SpreadsheetML and reads through the xlsx
      // reader; a genuine CFB/BIFF container gets a loud, typed,
      // actionable rejection instead of the generic suffix fall-through.
      val magic = {
        val in = new java.io.FileInputStream(path)
        try { val b = new Array[Byte](8); in.read(b); b } finally in.close()
      }
      if (magic(0) == 'P'.toByte && magic(1) == 'K'.toByte)
        Xlsx.read(spark, path) // mislabeled xlsx
      else if (magic.take(4).sameElements(
          Array(0xD0, 0xCF, 0x11, 0xE0).map(_.toByte)))
        throw new IllegalArgumentException(
          s"$path is a legacy BIFF (.xls) workbook, which this engine does " +
            "not read — re-save it as .xlsx or export to .csv and load that " +
            "instead (every other behavior is identical; only the container " +
            "parser differs)")
      else
        throw new IllegalArgumentException(
          s"$path has a .xls suffix but is neither a zip (xlsx) nor a CFB " +
            "(BIFF) container — not an Excel workbook?")
    }
    else
      throw new IllegalArgumentException(s"unsupported source suffix: $path")
  }

  /** Validate required columns exist — analyzer-time failure, matching the
    * reference's pre-flight validation (data_loader_stage.py:113-211). */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"required columns missing from source: ${missing.mkString(", ")} " +
        s"(have: ${df.columns.mkString(", ")})")
    df
  }

  /** Write by suffix. Spark's commit protocol makes every write atomic-
    * per-job — the reference's `atomic_write` flag is the default here. */
  def write(df: DataFrame, path: String, mode: String = "overwrite"): Unit = {
    val lower = path.toLowerCase
    val w: DataFrameWriter[Row] = df.write.mode(mode)
    if (lower.endsWith(".parquet") || lower.endsWith(".pq")) w.parquet(path)
    else if (lower.endsWith(".orc")) w.orc(path)
    else if (lower.endsWith(".csv"))
      w.option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(path)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl") ||
             lower.endsWith(".ndjson")) w.json(path)
    else if (lower.endsWith(".xlsx")) Xlsx.write(df, path)
    else throw new IllegalArgumentException(s"unsupported sink suffix: $path")
  }
}
