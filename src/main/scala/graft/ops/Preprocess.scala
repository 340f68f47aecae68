package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Input text cleaning chain
  * (reference: ondine/utils/input_preprocessing.py:45-157 — NFC unicode
  * normalize → strip control chars → strip special marks/zero-width/quote
  * normalize → collapse whitespace → word-boundary truncate).
  *
  * Everything compiles to codegen'd expressions: the strip/collapse steps
  * are built-in `regexp_replace` chains; NFC and word-boundary truncation
  * are native kernels, static calls in the generated code
  * (graft.functions.Expressions) — no UDF boundary anywhere in the chain.
  */
object Preprocess {

  def nfcNormalize(c: Column): Column =
    graft.functions.Expressions.nfc_normalize(c)

  def stripControlChars(c: Column): Column =
    regexp_replace(c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")

  /** ®™© marks, zero-width chars, smart-quote normalization. */
  def stripSpecialChars(c: Column): Column = {
    val noMarks = regexp_replace(c, "[\\u00ae\\u2122\\u00a9\\u200b\\u200c\\u200d\\ufeff]", "")
    val quotes1 = regexp_replace(noMarks, "[\\u2018\\u2019]", "'")
    regexp_replace(quotes1, "[\\u201c\\u201d]", "\"")
  }

  def collapseWhitespace(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** The full chain. */
  def clean(c: Column, maxLength: Option[Int] = None): Column = {
    val base = collapseWhitespace(stripSpecialChars(stripControlChars(nfcNormalize(c))))
    maxLength match {
      case Some(m) => graft.functions.Expressions.truncate_words(base, m)
      case None    => base
    }
  }

  /** Preprocessing statistics (reference: PreprocessingStats,
    * input_preprocessing.py's per-run counters): rows touched, rows
    * changed by cleaning, rows truncated, characters removed — ONE
    * aggregation over the raw column. */
  final case class Stats(rows: Long, changed: Long, truncated: Long,
                         charsRemoved: Long)

  def stats(df: org.apache.spark.sql.DataFrame, column: String,
            maxLength: Option[Int] = None): Stats = {
    val raw = col(column)
    val cleaned = clean(raw, maxLength)
    val cleanedNoTrunc = clean(raw, None)
    val row = df.agg(
      count(lit(1)).as("_rows"),
      sum(when(cleaned =!= raw, 1L).otherwise(0L)).as("_changed"),
      sum(when(length(cleanedNoTrunc) > length(cleaned), 1L).otherwise(0L))
        .as("_truncated"),
      sum(greatest(length(raw) - length(cleaned), lit(0))).as("_removed"))
      .head()
    def lng(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    Stats(lng(0), lng(1), lng(2), lng(3))
  }
}
