package graft.queries

/** Composable DuckDB oracle-SQL fragments — the building blocks the
  * declared-arm oracles share, extracted (r12) so a new arm composes
  * instead of re-deriving the text (the q33/q62/q121 shingle+band chain
  * and the micro-quantized vector lift each existed 3–5 times across
  * files). Lives beside [[OracleSqlGen]] (the mod-2^64 hash replays);
  * this module is the plain-SQL half.
  *
  * Every builder renders the exact text the arms used before extraction
  * — whitespace-stable where an arm's oracle is hash-verified, knob-
  * parameterized where instances legitimately differ (alias names,
  * shingle k, lower-casing).
  */
private[queries] object OracleCtes {

  /** Floor division `a // b` with floored (not truncated) semantics —
    * DuckDB's `//` truncates toward zero, so negative operands need the
    * explicit sign adjustment. Matches BigInt/Long floorDiv on the
    * Scala side. */
  def fdiv(a: String, b: String): String =
    s"(($a) // ($b) - CASE WHEN ($a) % ($b) <> 0 AND " +
      s"((($a) < 0) <> (($b) < 0)) THEN 1 ELSE 0 END)"

  /** Whitespace tokens of column `text` — the oracle twin of
    * `TextFunctions.tokens` (split on \s+, drop empties). */
  val tokensExpr: String =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"

  /** `<alias> AS (SELECT doc_id, tokens AS w FROM documents)`. */
  def tokensCte(alias: String): String =
    s"""$alias AS (
       |  SELECT doc_id,
       |    $tokensExpr AS w
       |  FROM documents)""".stripMargin

  /** Distinct word k-shingles of the token list `w` — the oracle twin of
    * `TextFunctions.shingles` (space-joined k-grams, deduped; short
    * docs yield an empty list). */
  def shinglesExpr(k: Int): String =
    s"list_distinct(CASE WHEN len(w) < $k THEN []::VARCHAR[]\n" +
      s"    ELSE [array_to_string(w[i:i+${k - 1}], ' ')\n" +
      s"          for i in range(1, len(w) - ${k - 2})] END)"

  /** tokens + shingles as a two-CTE chain: `<toks>, <sh>` where `<sh>`
    * holds (doc_id, shingles). */
  def shingleCtes(k: Int, toksAlias: String = "toks",
                  shAlias: String = "sh"): String =
    s"""${tokensCte(toksAlias)},
       |$shAlias AS (
       |  SELECT doc_id, ${shinglesExpr(k)} AS shingles
       |  FROM $toksAlias)""".stripMargin

  /** MinHash band column b over the unnested shingle variable `s`: the
    * min of a 60-bit slice of sha256('<seed>|' || s) — the oracle twin of
    * `Dedup.minhashSignatures`' band formula (4 bands per digest, 15 hex
    * chars each). */
  def bandMinExpr(b: Int): String =
    s"min(('0x' || substr(sha256('${b / 4}|' || s), " +
      s"${1 + (b % 4) * 15}, 15))::UBIGINT)::BIGINT AS band_$b"

  /** All `numBands` band columns, one per line. */
  def bandMinExprs(numBands: Int): String =
    (0 until numBands).map(bandMinExpr).mkString(",\n  ")

  /** Unpivot band_0..band_{n-1} of `bands` into (id, band_idx, band_val)
    * rows — mirrors the Spark side's posexplode over the band array. */
  def bandUnpivot(numBands: Int): String =
    (0 until numBands).map(b =>
      s"SELECT doc_id AS id, $b AS band_idx, band_$b AS band_val FROM bands")
      .mkString("\n  UNION ALL ")

  /** 1e-6 micro quantization of column `embedding` — the oracle twin of
    * `KMeans.microVec` (round-half-up to BIGINT on the 1e-6 grid). */
  val microVecExpr: String =
    "list_transform(embedding,\n" +
      "      x -> CAST(round((x::DOUBLE) * 1000000.0, 0) AS BIGINT))"

  /** `<alias> AS (SELECT vec_id, micro(embedding) AS v FROM embeddings)` —
    * the opening CTE of every micro-exact vector oracle. */
  def microVecCte(alias: String): String =
    s"""$alias AS (
       |  SELECT vec_id,
       |    $microVecExpr AS v
       |  FROM embeddings)""".stripMargin

  /** The quoted stopword list every quality oracle interpolates. */
  val stopsList: String = graft.functions.TextFunctions.EnglishStopwords
    .map(s => s"'$s'").mkString(", ")

  /** The composite quality score (q30 formula: length, punctuation
    * density, stopword-ratio mix) over columns `text` and `w` —
    * UNROUNDED; callers wrap in round(., 6) or [[qualityMicroExpr]]. */
  val qualityScoreExpr: String =
    s"""least(length(text)::DOUBLE / 500.0, 1.0) * 0.4 +
       |      (1.0 - least((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::DOUBLE
       |         / CASE WHEN length(text)=0 THEN 1 ELSE length(text) END * 5.0, 1.0)) * 0.3 +
       |      least((CASE WHEN len(w) = 0 THEN 0
       |        ELSE len(list_filter([lower(x) for x in w], x -> x IN ($stopsList)))::DOUBLE / len(w) END) * 4.0, 1.0) * 0.3""".stripMargin

  /** The quality score on the 1e-6 micro grid (round 6dp, then lift) —
    * the exact-integer form the eval/statistics arms rank and bucket. */
  val qualityMicroExpr: String =
    s"""CAST(round(round(
       |      $qualityScoreExpr,
       |    6) * 1000000.0, 0) AS BIGINT)""".stripMargin

  /** Gopher-style shape signals over a token list `w`: duplicate-word
    * fraction (`dup`), mean word length (`mwl`), tiny-stopword count
    * (`stop_ct`) — the three columns the C4/Gopher gate oracles share. */
  val gopherSignalExprs: String =
    s"""CASE WHEN len(w) = 0 THEN 0
       |      ELSE (len(w) - len(list_distinct(w)))::DOUBLE / len(w) END AS dup,
       |    CASE WHEN len(w) = 0 THEN 0
       |      ELSE list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) END AS mwl,
       |    len(list_filter(w, x -> x IN ('the', 'a'))) AS stop_ct""".stripMargin
}
