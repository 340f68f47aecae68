package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("graft SQL functions register via SparkSessionExtensions") {
    // extensions bind at session-creation time; force a NEW session (it
    // shares any existing SparkContext) and restore the default after.
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = spark.sql(
        "SELECT graft_nfc('café') AS nfc, " +
          "graft_truncate_words('alpha beta gamma delta', 12) AS cut")
        .head()
      assert(r.getString(0) == "caf\u00e9",
        "combining acute must NFC-compose")
      assert(r.getString(1) == "alpha beta")
      val c = spark.sql(
        "SELECT graft_redact_pii('mail a@b.io now') AS red, " +
          "graft_pii_count('a@b.io and 10.0.0.1') AS n, " +
          "graft_dup_word_frac('a b a') AS dw, " +
          "graft_token_count('x y z') AS tc, " +
          "graft_lang_id('the quick brown fox and the dog') AS lang, " +
          "graft_quality_score('some text here') AS q")
        .head()
      assert(c.getString(0) == "mail <EMAIL> now")
      assert(c.getInt(1) == 2)
      assert(c.getDouble(2) == 1.0 / 3)
      assert(c.getInt(3) == 3)
      assert(c.getString(4) == "en")
      assert(c.getDouble(5) > 0.0 && c.getDouble(5) <= 1.0)
      val tc = spark.sql(
        "SELECT graft_term_counts(array('b', 'a', 'b', NULL)) AS tc").head()
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => (Option(r.getString(0)), r.getLong(1)))
      assert(tc == Seq((Some("b"), 2L), (Some("a"), 1L), (None, 1L)))
    } finally {
      SparkSession.clearActiveSession()
      prevDefault match {
        case Some(s) => SparkSession.setDefaultSession(s)
        case None    => ()
      }
    }
  }
}
