package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Expressions._

/** Guards every native kernel wrapper in `graft.functions.Expressions`:
  * its generated code compiles (two instances in one projection, with
  * compile fallback off), its rows equal the interpreted path's, and its
  * output type and nullability stay pinned. */
class KernelGuardSpec extends SparkSpec {
  import spark.implicits._

  private val cbL = Array(
    Array(Array(0L, 0L), Array(1000000L, 2000000L), Array(-5L, 7L)),
    Array(Array(3L, 4L), Array(0L, 1L), Array(9L, -9L)))
  private val cbD = Array(
    Array(Array(0.0, 0.0), Array(1.0, 2.0), Array(-0.5, 0.5)),
    Array(Array(3.0, 4.0), Array(0.0, 1.0), Array(0.25, -2.0)))

  /** Fixed inputs: a typical row, an all-null row, an edge row (empty
    * text and arrays, a null vector cell, short vectors) and a second
    * typical row. `id` is the only non-nullable column. */
  private def input: DataFrame = Seq(
    (0L, Some("The café runners were running quickly"),
      Some(Seq("the", "cat", "sat", "on", "the", "mat")),
      Some(Seq(Some(0.5f), Some(-1.25f), Some(2.0f), Some(0.0f))),
      Some(Seq(1.5, -0.25, 3.0, 2.0)), Some(Seq(3, -4, 5, 0)),
      Some(Seq(-7L, 2L, 2L, 9L)), Some(-0.0), Some(1),
      Some(Seq(1000001L, 1999999L))),
    (1L, None, None, None, None, None, None, None, None, None),
    (2L, Some(""), Some(Seq.empty[String]),
      Some(Seq(Some(1.0f), None, Some(3.0f), Some(4.0f))),
      Some(Seq(1.0, 2.0, 3.0)), Some(Seq.empty[Int]), Some(Seq.empty[Long]),
      Some(Double.NaN), Some(5), Some(Seq(1L))),
    (3L, Some("running\tcats  a b"), Some(Seq("a", "b", "a", "c", "b")),
      Some(Seq(Some(-3.0f), Some(0.125f), Some(7.5f), Some(-1.0f))),
      Some(Seq(-1.0, 0.0, 1e-7, 5.0)), Some(Seq(99, 1, -99, 2)),
      Some(Seq(1L, 3L, 5L, 7L)), Some(Double.NegativeInfinity), Some(0),
      Some(Seq(4L, -8L))))
    .toDF("id", "s", "toks", "f", "dbl", "i", "l", "d", "j", "sub")

  /** `c` with its nulls replaced by a literal: a non-nullable input. */
  private def nn(c: String): Column = coalesce(col(c), c match {
    case "s" => lit("a b c")
    case "toks" => typedLit(Seq("x", "y", "x"))
    case "f" => typedLit(Seq(1.0f, 2.0f, 3.0f, 4.0f))
    case "dbl" => typedLit(Seq(0.5, 0.25, 0.125, 1.0))
    case "i" => typedLit(Seq(1, 2, 3, 4))
    case "l" | "sub" => typedLit(Seq(2L, 4L))
    case "d" => lit(1.5)
    case "j" => lit(1)
  })

  private def lut(n: Int): Column = typedLit(Array.tabulate(n)(_.toLong))

  /** Two instances of every wrapper, one over nullable and one over
    * non-nullable inputs. */
  private val kernels: Seq[(String, Column, Column)] = Seq(
    ("nfc_normalize", nfc_normalize(col("s")), nfc_normalize(nn("s"))),
    ("truncate_words", truncate_words(col("s"), 10),
      truncate_words(nn("s"), 3)),
    ("double_order_key", double_order_key(col("d")),
      double_order_key(nn("d"))),
    ("kgram_rolling_hashes", kgram_rolling_hashes(col("s"), 3),
      kgram_rolling_hashes(nn("s"), 5)),
    ("window_mins", window_mins(col("l"), 2), window_mins(nn("l"), 3)),
    ("word_shingle_minhash", word_shingle_minhash(col("toks"), 2, 4),
      word_shingle_minhash(nn("toks"), 3, 2)),
    ("shingle_hash_bands", shingle_hash_bands(col("toks"), 2, 3),
      shingle_hash_bands(nn("toks"), 2, 0)),
    ("simhash_agg", simhash_agg(col("toks"), 16),
      simhash_agg(nn("toks"), 64)),
    ("word_shingles", word_shingles(col("toks"), 2),
      word_shingles(nn("toks"), 3)),
    ("term_counts", term_counts(col("toks")), term_counts(nn("toks"))),
    ("vec_dot", vec_dot(col("f"), col("dbl")), vec_dot(nn("dbl"), nn("f"))),
    ("vec_dot_long", vec_dot_long(col("i"), col("l")),
      vec_dot_long(nn("l"), nn("i"))),
    ("vec_dot_long_bounded", vec_dot_long_bounded(col("i"), col("l"), 100L),
      vec_dot_long_bounded(nn("i"), nn("l"), 1000L)),
    ("lsh_bucket", lsh_bucket(col("f"), 8, 0), lsh_bucket(nn("dbl"), 4, 1)),
    ("int8_codes", int8_codes(col("f")), int8_codes(nn("dbl"))),
    ("micro_vec", micro_vec(col("f")), micro_vec(nn("dbl"))),
    ("micro_vec_integral", micro_vec(col("i")), micro_vec(nn("l"))),
    ("dsir_buckets", dsir_buckets(col("toks"), 64),
      dsir_buckets(nn("toks"), 16)),
    ("dsir_logw", dsir_logw(col("toks"), lut(64)),
      dsir_logw(nn("toks"), lut(16))),
    ("whitespace_tokens", whitespace_tokens(col("s")),
      whitespace_tokens(nn("s"))),
    ("porter_stem", porter_stem(col("s")), porter_stem(nn("s"))),
    ("clipped_count", clipped_count(col("toks"), nn("toks")),
      clipped_count(nn("toks"), nn("toks"))),
    ("sorted_set_ops", sorted_set_ops(col("l"), nn("l")),
      sorted_set_ops(nn("l"), typedLit(Seq(1L, 2L, 9L)))),
    ("cms_cells", cms_cells(col("s"), 3, 16), cms_cells(nn("s"), 2, 8)),
    ("cms_rare_count", cms_rare_count(col("toks"), lut(48), 3, 16, 2L),
      cms_rare_count(nn("toks"), lut(16), 2, 8, 5L)),
    ("vec_sq_dist_long", vec_sq_dist_long(col("l"), nn("l")),
      vec_sq_dist_long(nn("l"), typedLit(Seq(1L, 2L, 3L, 4L)))),
    ("pq_assign_micro", pq_assign_micro(col("sub"), col("j"), cbL),
      pq_assign_micro(nn("sub"), nn("j"), cbL)),
    ("pq_encode", pq_encode(col("f"), cbD), pq_encode(nn("dbl"), cbD)),
    ("int_div", int_div(col("id"), lit(3L)),
      int_div(col("id") * 7, lit(2L))))

  /** Output type with every containsNull and field nullability spelled
    * out (`?` = may be null). */
  private def show(t: DataType): String = t match {
    case ArrayType(e, cn) => s"array<${show(e)}${if (cn) "?" else ""}>"
    case StructType(fs) => fs.map(f =>
      s"${f.name}:${show(f.dataType)}${if (f.nullable) "?" else ""}")
      .mkString("struct<", ",", ">")
    case o => o.simpleString
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val before = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // a Project straight over a local relation is otherwise evaluated by
  // the optimizer, interpreted, and the generated code is never built
  private val NoLocalFold = "spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  private def project(name: String, a: Column, b: Column): DataFrame =
    input.select(col("id"), a.as(s"${name}_a"), b.as(s"${name}_b"))

  test("every kernel compiles twice in one projection and matches the " +
      "interpreted rows") {
    kernels.foreach { case (name, a, b) =>
      val compiled = withConf(NoLocalFold,
          "spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val df = project(name, a, b)
        assert(df.queryExecution.executedPlan.toString
          .contains("*(1) Project"), s"$name: projection not in codegen")
        df.orderBy("id").collect().toSeq
      }
      val interpreted = withConf(NoLocalFold,
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        project(name, a, b).orderBy("id").collect().toSeq
      }
      assert(compiled == interpreted, name)
      assert(compiled.size == 4, name)
    }
  }

  test("every kernel's output type and nullability are pinned") {
    val got = kernels.flatMap { case (name, a, b) =>
      project(name, a, b).schema.fields.drop(1).map(f =>
        s"${f.name} ${show(f.dataType)}${if (f.nullable) "?" else ""}")
    }
    // pinned from the kernels' earlier hand-written expression classes
    val pinned = Seq(
      "nfc_normalize_a string?",
      "nfc_normalize_b string",
      "truncate_words_a string?",
      "truncate_words_b string",
      "double_order_key_a bigint?",
      "double_order_key_b bigint",
      "kgram_rolling_hashes_a array<bigint>?",
      "kgram_rolling_hashes_b array<bigint>",
      "window_mins_a array<bigint>?",
      "window_mins_b array<bigint>",
      "word_shingle_minhash_a array<bigint>?",
      "word_shingle_minhash_b array<bigint>?",
      "shingle_hash_bands_a struct<hsh:array<bigint>,bm:array<bigint>?>?",
      "shingle_hash_bands_b struct<hsh:array<bigint>,bm:array<bigint>?>",
      "simhash_agg_a bigint?",
      "simhash_agg_b bigint",
      "word_shingles_a array<string>?",
      "word_shingles_b array<string>",
      "term_counts_a array<struct<term:string?,cnt:bigint>>?",
      "term_counts_b array<struct<term:string?,cnt:bigint>>",
      "vec_dot_a double?",
      "vec_dot_b double?",
      "vec_dot_long_a bigint?",
      "vec_dot_long_b bigint?",
      "vec_dot_long_bounded_a bigint?",
      "vec_dot_long_bounded_b bigint?",
      "lsh_bucket_a bigint?",
      "lsh_bucket_b bigint?",
      "int8_codes_a array<tinyint>?",
      "int8_codes_b array<tinyint>?",
      "micro_vec_a array<bigint?>?",
      "micro_vec_b array<bigint?>?",
      "micro_vec_integral_a array<bigint?>?",
      "micro_vec_integral_b array<bigint?>?",
      "dsir_buckets_a array<bigint>?",
      "dsir_buckets_b array<bigint>?",
      "dsir_logw_a bigint?",
      "dsir_logw_b bigint?",
      "whitespace_tokens_a array<string>?",
      "whitespace_tokens_b array<string>",
      "porter_stem_a string?",
      "porter_stem_b string",
      "clipped_count_a bigint?",
      "clipped_count_b bigint",
      "sorted_set_ops_a struct<inter:bigint,uni:bigint>?",
      "sorted_set_ops_b struct<inter:bigint,uni:bigint>",
      "cms_cells_a array<bigint>?",
      "cms_cells_b array<bigint>",
      "cms_rare_count_a bigint?",
      "cms_rare_count_b bigint",
      "vec_sq_dist_long_a bigint?",
      "vec_sq_dist_long_b bigint?",
      "pq_assign_micro_a int?",
      "pq_assign_micro_b int?",
      "pq_encode_a array<tinyint>?",
      "pq_encode_b array<tinyint>?",
      "int_div_a bigint?",
      "int_div_b bigint?")
    assert(got == pinned,
      got.map(g => "\"" + g + "\"").mkString("actual:\n", ",\n", ""))
  }

  test("an unsupported array element type fails at analysis") {
    val strs = Seq(Seq("a", "b")).toDF("v")
    val v = col("v")
    Seq[(String, () => Column)](
      "vec_dot" -> (() => vec_dot(v, v)),
      "vec_dot_long" -> (() => vec_dot_long(v, v)),
      "vec_dot_long_bounded" -> (() => vec_dot_long_bounded(v, v, 10L)),
      "lsh_bucket" -> (() => lsh_bucket(v, 4, 0)),
      "int8_codes" -> (() => int8_codes(v)),
      "micro_vec" -> (() => micro_vec(v)),
      "pq_encode" -> (() => pq_encode(v, cbD))).foreach { case (name, k) =>
      // select alone analyzes the plan; no action runs
      withClue(name)(intercept[AnalysisException](strs.select(k())))
    }
  }
}
