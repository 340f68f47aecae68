package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.core.{OutputSpec, ResponseFormat, Sentinels}

/** Response → output columns, entirely as Catalyst expressions
  * (reference: ondine/stages/response_parser_stage.py:152-319 + parser
  * factory :15-111). Three formats:
  *
  *  - Raw: the cleaned response text becomes the single output column.
  *  - Json: strict parse → code-fence extract → first-brace extract fallback
  *    chain (reference :60-81), then per-column lookup with the reference's
  *    fallback order: exact key → "output" key → first value (reference
  *    :227-266).
  *  - Regex: named pattern per column, capture group 1 if present else the
  *    full match (reference :118-149).
  *
  * Skipped rows (error policy SKIP) get the `[SKIPPED]` sentinel in every
  * output column (reference: ondine/core/models.py:14-18).
  */
object ResponseParser {

  /** Strip role prefixes like "assistant:" (reference :32-45). */
  def cleanRaw(c: Column): Column =
    trim(regexp_replace(trim(c), "^(?i)(assistant|user|system):\\s*", ""))

  /** Best-effort JSON object text: strict → fenced → first-brace span. */
  def extractJsonObject(c: Column): Column = {
    val t = trim(c)
    val fenced = regexp_extract(t, "```(?:json)?\\s*(\\{[\\s\\S]*?\\})\\s*```", 1)
    val braced = regexp_extract(t, "(\\{[\\s\\S]*\\})", 1)
    when(t.startsWith("{"), t)
      .otherwise(when(fenced =!= "", fenced).otherwise(braced))
  }

  def parse(df: DataFrame, output: OutputSpec): DataFrame = {
    val resp = col("result")
    val skipped = col("skipped")

    def guard(parsed: Column): Column =
      when(skipped, lit(Sentinels.SkippedOutput))
        .otherwise(when(resp.isNull, lit(null).cast(StringType)).otherwise(parsed))

    output.responseFormat match {
      case ResponseFormat.Raw =>
        require(output.outputColumns.size == 1,
          "raw format supports exactly one output column")
        df.withColumn(output.outputColumns.head, guard(cleanRaw(resp)))

      case ResponseFormat.Json =>
        // Parse once into a map; column projections share the parsed value
        // via a single intermediate column (Catalyst CSE doesn't always
        // dedupe from_json).
        val parsedCol = "_graft_parsed"
        val withMap = df.withColumn(parsedCol,
          from_json(extractJsonObject(resp), MapType(StringType, StringType)))
        val m = col(parsedCol)
        // nested {"items":[{"result": ...}]} unwrap (reference :255-266):
        // if the only useful key is "items", re-parse its first element.
        val itemsFirst = from_json(element_at(m, "items"),
          org.apache.spark.sql.types.DataType.fromDDL("array<map<string,string>>"))
          .getItem(0)
        val out = output.outputColumns.foldLeft(withMap) { (d, c) =>
          val exact = element_at(m, c)
          val viaOutput = element_at(m, "output")
          val viaItems = element_at(itemsFirst, c)
          val viaItemsResult = element_at(itemsFirst, "result")
          val firstValue = when(size(map_values(m)) === 1,
            map_values(m).getItem(0))
          d.withColumn(c, guard(coalesce(
            exact, viaItems, viaOutput, viaItemsResult, firstValue)))
        }
        out.drop(parsedCol)

      case ResponseFormat.Regex =>
        output.outputColumns.foldLeft(df) { (d, c) =>
          val pat = output.regexPatterns(c)
          val group = if (pat.contains("(")) 1 else 0
          val hit = regexp_extract(resp, pat, group)
          d.withColumn(c, guard(when(hit =!= "", hit)))
        }

      case ResponseFormat.Typed =>
        // Instructor-style schema enforcement with the same fallback chain
        // (strict -> fenced -> brace-scan, via extractJsonObject). A reply
        // that fails every mode parses to a null struct -> all output
        // columns null -> the auto-retry loop re-invokes exactly those rows
        // (the structural-rejection retry of
        // unified_litellm_client.py:124-168). Fields land TYPED; skipped
        // rows get null (a string sentinel has no typed representation).
        val schema = output.typedSchema.get
        val parsedCol = "_graft_typed"
        val withStruct = df.withColumn(parsedCol,
          from_json(extractJsonObject(resp), schema))
        val out = output.outputColumns.foldLeft(withStruct) { (d, c) =>
          d.withColumn(c,
            when(skipped || resp.isNull, lit(null))
              .otherwise(col(s"$parsedCol.$c")))
        }
        out.drop(parsedCol)
    }
  }
}
