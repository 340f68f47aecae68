package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{CurationFunctions, Expressions, TextFunctions}

/** SparkSessionExtensions registration: exposes the engine's native
  * kernels AND the composed text/curation functions to SQL users —
  *
  *   spark.sql("SELECT graft_nfc(text), graft_truncate_words(text, 100), " +
  *     "graft_redact_pii(text), graft_quality_score(text) ...")
  *
  * Activate via
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * Every function registers through the Column→Expression bridge, so SQL
  * callers get the exact same Catalyst tree (and codegen) as the Scala
  * API — one semantics, two surfaces.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Register a Column function of `arity` arguments under `name`. */
  private def register(ext: SparkSessionExtensions, name: String,
      usage: String, arity: Int)(f: Seq[Expression] => Column): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(classOf[CurationFunctions.type].getName, name),
      (args: Seq[Expression]) => {
        require(args.size == arity, usage)
        ColumnBridge.catalystExpression(f(args))
      }))

  /** Register a 1-string-arg composed Column function under `name`. */
  private def composed(ext: SparkSessionExtensions, name: String,
      f: Column => Column): Unit =
    register(ext, name, s"$name(str)", 1)(a => f(ColumnBridge.column(a.head)))

  override def apply(ext: SparkSessionExtensions): Unit = {
    composed(ext, "graft_redact_pii", CurationFunctions.redactPii)
    composed(ext, "graft_pii_count", c =>
      CurationFunctions.piiCount(c, CurationFunctions.EmailPattern) +
        CurationFunctions.piiCount(c, CurationFunctions.PhonePattern) +
        CurationFunctions.piiCount(c, CurationFunctions.IpPattern))
    composed(ext, "graft_dup_word_frac", c =>
      CurationFunctions.dupFrac(TextFunctions.tokens(c)))
    composed(ext, "graft_quality_score", TextFunctions.qualityScore)
    composed(ext, "graft_lang_id", TextFunctions.langId)
    composed(ext, "graft_token_count", c =>
      TextFunctions.tokenCount(c).cast("int"))
    composed(ext, "graft_micro_vec", Expressions.micro_vec)
    composed(ext, "graft_nfc", Expressions.nfc_normalize)
    register(ext, "graft_term_counts", "graft_term_counts(array<string>)",
      1)(a => Expressions.term_counts(ColumnBridge.column(a.head)))
    register(ext, "graft_truncate_words", "graft_truncate_words(str, maxLen)",
      2)(a => Expressions.truncate_words(ColumnBridge.column(a.head),
        a(1).eval().asInstanceOf[Number].intValue()))
  }
}
