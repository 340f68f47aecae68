package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal}
import graft.sources.{GlyphOcr, Ocr}
import Tables.{t, tp}

/** Text-analysis / dedup / multimodal queries over the documents table —
  * the training-data-pipeline operator coverage. Each oracle reproduces the
  * exact arithmetic in DuckDB SQL (integer/decimal math exact; doubles
  * rounded at 6dp with deterministic tie-breaks).
  */
object TextQueries {

  // --- token stats + quality -------------------------------------------

  def q30TokenStats(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "documents").select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      length(col("text")).as("len_chars"),
      round(stopwordRatio(col("text")), 6).as("stop_ratio"),
      qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  val q30Sql: String = {
    val stops = EnglishStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
       |  FROM documents)
       |SELECT doc_id, len(w) AS n_tokens, length(text) AS len_chars,
       |  round(CASE WHEN len(w) = 0 THEN 0
       |    ELSE len(list_filter([lower(x) for x in w], x -> x IN ($stops)))::DOUBLE / len(w) END, 6) AS stop_ratio,
       |  round(
       |    ${OracleCtes.qualityScoreExpr},
       |  6) AS quality
       |FROM toks ORDER BY doc_id""".stripMargin
  }

  // --- language id ------------------------------------------------------

  def q31LangId(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  val q31Sql: String = {
    def occ(m: String) =
      s"((length(p) - length(replace(p, '$m', ''))) / ${m.length})::INT"
    val scoreExprs = LangMarkers.map { case (lang, markers) =>
      lang -> markers.map(occ).mkString("(", " + ", ")")
    }
    val scores = scoreExprs.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n    ")
    val best = s"greatest(${scoreExprs.map("s_" + _._1).mkString(", ")})"
    val caseChain = scoreExprs.map { case (l, _) =>
      s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
    }.mkString("\n    ")
    s"""WITH padded AS (
       |  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM padded),
       |withbest AS (
       |  SELECT *, $best AS best FROM scored)
       |SELECT doc_id, lang,
       |  CASE $caseChain ELSE 'und' END AS lang_pred
       |FROM withbest ORDER BY doc_id""".stripMargin
  }

  // --- exact dedup ------------------------------------------------------

  def q32ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(tp(spark, dir, "documents"), "doc_id", "text")
      .orderBy("content_hash")

  val q32Sql: String =
    """SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS content_hash,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin

  // --- minhash signatures ----------------------------------------------

  private val NumBands = 4
  private val ShingleK = 3

  def q33MinhashSigs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(tp(spark, dir, "documents"), "doc_id", "text",
      NumBands, ShingleK).orderBy("doc_id")

  /** Shared SQL fragment: distinct word 3-shingles per doc. */
  private val shingleCte: String = OracleCtes.shingleCtes(ShingleK)

  val q33Sql: String = {
    val bands = OracleCtes.bandMinExprs(NumBands)
    s"""WITH $shingleCte
       |SELECT doc_id, $bands
       |FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --- incremental near-dup vs a signature ledger -----------------------

  /** Ledger = every 10th doc's band signatures (a standing corpus that
    * kept bands, not text); incoming = the rest. Kept = incoming docs
    * sharing NO band with the ledger. The oracle replays the identical
    * sha256-slice band arithmetic and anti-joins on distinct ledger
    * bands. */
  def q75IncrementalNearDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents")
    val ledger = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
      NumBands, ShingleK)
    Dedup.dropNearSeenBefore(
      docs.filter(col("doc_id") % 10 =!= 0), ledger, "doc_id", "text",
      NumBands, ShingleK)
      .select(col("doc_id")).orderBy("doc_id")
  }

  val q75Sql: String = {
    val bandMins = OracleCtes.bandMinExprs(NumBands)
    val bandList = (0 until NumBands).map(b => s"band_$b").mkString(", ")
    s"""WITH $shingleCte,
       |bands AS (
       |  SELECT doc_id, $bandMins
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) GROUP BY doc_id),
       |exploded AS (
       |  SELECT doc_id, unnest([$bandList]) AS band_val,
       |    generate_subscripts([$bandList], 1) AS band_idx
       |  FROM bands),
       |ledger AS (
       |  SELECT DISTINCT band_idx, band_val FROM exploded WHERE doc_id % 10 = 0),
       |hits AS (
       |  SELECT DISTINCT e.doc_id FROM exploded e
       |  JOIN ledger USING (band_idx, band_val) WHERE e.doc_id % 10 <> 0)
       |SELECT t.doc_id FROM toks t
       |LEFT JOIN hits h ON t.doc_id = h.doc_id
       |WHERE t.doc_id % 10 <> 0 AND h.doc_id IS NULL
       |ORDER BY t.doc_id""".stripMargin
  }

  // --- LSH near-duplicate pairs ----------------------------------------

  def q34NearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDuplicatePairs(tp(spark, dir, "documents"), "doc_id", "text",
      NumBands, ShingleK, threshold = 0.12)
      .orderBy("id_a", "id_b")

  /** Shared CTE chain ending in `jac` (confirmed pair jaccards) — used by
    * q34 (pairs) and q76 (greedy keep-min removal). */
  private val nearDupCtes: String = {
    val bandMins = OracleCtes.bandMinExprs(NumBands)
    val bandList = (0 until NumBands).map(b => s"band_$b").mkString(", ")
    s"""$shingleCte,
       |bands AS (
       |  SELECT doc_id, $bandMins
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) GROUP BY doc_id),
       |exploded AS (
       |  SELECT doc_id, unnest([$bandList]) AS band_val,
       |    generate_subscripts([$bandList], 1) AS band_idx
       |  FROM bands),
       |capped AS (
       |  SELECT doc_id, band_val, band_idx FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bsz
       |    FROM exploded) WHERE bsz <= 100),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |hsh AS (
       |  SELECT doc_id,
       |    list_transform(shingles,
       |      s -> ('0x' || substr(md5(s), 1, 15))::UBIGINT::BIGINT) AS h
       |  FROM sh),
       |jac AS (
       |  SELECT id_a, id_b,
       |    round(len(list_intersect(sa.h, sb.h))::DOUBLE /
       |      CASE WHEN len(list_distinct(sa.h || sb.h)) = 0 THEN 1
       |           ELSE len(list_distinct(sa.h || sb.h)) END, 6) AS jaccard
       |  FROM cands JOIN hsh sa ON sa.doc_id = id_a
       |             JOIN hsh sb ON sb.doc_id = id_b)""".stripMargin
  }

  val q34Sql: String =
    s"""WITH $nearDupCtes
       |SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.12
       |ORDER BY id_a, id_b""".stripMargin

  // --- greedy near-dup removal (keep-min) -------------------------------

  def q76DropNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDuplicates(tp(spark, dir, "documents"), "doc_id", "text",
      NumBands, ShingleK, threshold = 0.12)
      .select(col("doc_id")).orderBy("doc_id")

  val q76Sql: String =
    s"""WITH $nearDupCtes,
       |dropped AS (SELECT DISTINCT id_b FROM jac WHERE jaccard >= 0.12)
       |SELECT t.doc_id FROM toks t
       |LEFT JOIN dropped d ON t.doc_id = d.id_b
       |WHERE d.id_b IS NULL ORDER BY t.doc_id""".stripMargin

  // --- transitive near-dup clusters -------------------------------------

  def q78NearDupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupClusters(tp(spark, dir, "documents"), "doc_id", "text",
      NumBands, ShingleK, threshold = 0.12)
      .orderBy("doc_id")

  /** Oracle: transitive closure by recursive CTE over the symmetric
    * confirmed-pair edges, cluster = min reachable id. */
  val q78Sql: String =
    s"""WITH RECURSIVE $nearDupCtes,
       |pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.12),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM toks
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  // --- cross-source duplication matrix ------------------------------------

  /** Which sources copy from which: confirmed near-dup pairs labeled by
    * the two docs' sources, aggregated into an (unordered) source-pair
    * matrix — the provenance view that catches a mirror site or a
    * scraped-twice domain before it skews the mixture. Pair volume ∝
    * duplicated mass; the id-keyed label joins move only (id, source). */
  def q121SourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents")
    val pairs = Dedup.nearDuplicatePairs(docs, "doc_id", "text",
      NumBands, ShingleK, threshold = 0.12)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val q121Sql: String =
    s"""WITH $nearDupCtes,
       |pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.12),
       |lab AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |         greatest(da.source, db.source) AS source_b
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.id_a
       |  JOIN documents db ON db.doc_id = p.id_b)
       |SELECT source_a, source_b, count(*) AS n_pairs
       |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- leakage-safe split ------------------------------------------------

  /** 80/20 train/holdout split hashed on the q78 near-dup FAMILY label:
    * every member of a dup family carries the same verdict, so no
    * paraphrase of a training doc can leak into the holdout. */
  def q118LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents")
    val labels = Dedup.nearDupClusters(docs, "doc_id", "text",
      NumBands, ShingleK, threshold = 0.12)
    graft.operators.Sampling.leakageSafeSplit(
      docs.select(col("doc_id")), "doc_id", labels, "cluster_id",
      Seq("train" -> 0.8, "holdout" -> 0.2))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy("doc_id")
  }

  /** Oracle: the q78 closure labels, then the q57 hash-threshold rule
    * applied to the LABEL. */
  val q118Sql: String =
    s"""WITH RECURSIVE $nearDupCtes,
       |pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.12),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM toks
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |lab AS (
       |  SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
       |  FROM reach GROUP BY src)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN ('0x' || substr(md5('split|' || cluster_id::VARCHAR), 1, 15))::UBIGINT
       |    % 1000000 < 800000 THEN 'train' ELSE 'holdout' END AS split
       |FROM lab ORDER BY doc_id""".stripMargin

  // --- winnowing fingerprints -------------------------------------------

  /** Winnowed (MOSS) fingerprints, k=8-char grams, window w=4: one row
    * per (doc, distinct fingerprint). Two barrier stages — the k-gram
    * hash array materializes before window selection (a lambda would
    * otherwise re-hash the doc per window), and the fingerprint set
    * materializes before the explode. */
  def q79Winnowing(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Parallelism.barrier
    val staged = barrier(tp(spark, dir, "documents").select(col("doc_id"),
      kgramHashes(col("text"), 8).as("kh")))
    val fps = barrier(staged.select(col("doc_id"),
      array_sort(array_distinct(winnowSelect(col("kh"), 4))).as("fp_arr")))
    fps.select(col("doc_id"), explode(col("fp_arr")).as("fp"))
      .orderBy("doc_id", "fp")
  }

  val q79Sql: String =
    """WITH kh AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) - 7 <= 0 THEN []::BIGINT[]
      |      ELSE [('0x' || substr(md5(substr(text, i, 8)), 1, 15))::UBIGINT::BIGINT
      |            for i in range(1, length(text) - 7 + 1)] END AS h
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id,
      |    CASE WHEN len(h) = 0 THEN []::BIGINT[]
      |      ELSE [list_min(h[j:j+3])
      |            for j in range(1, greatest(len(h) - 3, 1) + 1)] END AS w
      |  FROM kh)
      |SELECT doc_id, unnest(list_sort(list_distinct(w))) AS fp
      |FROM wins ORDER BY doc_id, fp""".stripMargin

  /** q79 through the FAST tier — the production knob for the winnowing
    * family: `kgram_rolling_hashes` computes all m gram hashes in one
    * O(m) rolling pass (no per-gram substring, no per-gram digest) and
    * the native deque window-min selects in O(m). Hash-verified since
    * r11: the rolling polynomial + murmur fmix64 is a pure integer
    * function, and [[OracleSqlGen.q147Sql]] replays it exactly in DuckDB
    * (Horner mod 2^64 per gram, the fmix pipeline as cascaded CTE
    * columns) — so this arm gets a hard oracle row, not rows-only. The
    * tier's kernel contracts (rolling≡direct recurrence, guarantee,
    * tier-mismatch visibility) stay spec-covered in CurationSpec. Same
    * output shape as q79: one row per (doc, distinct fingerprint). */
  def q147WinnowingFast(spark: SparkSession, dir: String): DataFrame =
    graft.functions.TextFunctions.winnowFingerprints(
      tp(spark, dir, "documents"), "text", k = 8, w = 4,
      outCol = "fp_arr", portable = false)
      .select(col("doc_id"), explode(col("fp_arr")).as("fp"))
      .orderBy("doc_id", "fp")

  // --- collocations / keywords ------------------------------------------

  /** Corpus PMI collocations (Church & Hanks 1990), minCount=2: the
    * bigrams that co-occur far above chance — the signal behind
    * multi-word tokenizer entries and boilerplate phrase detection.
    * Exact integer censuses; one IEEE chain per bigram rounded at 6dp
    * (the q137 discipline). */
  def q148PmiCollocations(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.pmi(
      tp(spark, dir, "documents"), "text", minCount = 2)
      .orderBy("w1", "w2")

  val q148Sql: String =
    """WITH toksl AS (
      |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                     x -> x <> '') AS w
      |  FROM documents),
      |uni AS (
      |  SELECT t, count(*)::BIGINT AS c
      |  FROM (SELECT unnest(w) AS t FROM toksl) GROUP BY 1),
      |big AS (
      |  SELECT unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))])
      |    AS bg
      |  FROM toksl),
      |c12 AS (
      |  SELECT bg, count(*)::BIGINT AS c12 FROM big GROUP BY 1
      |  HAVING count(*) >= 2),
      |tot AS (
      |  SELECT (SELECT sum(c) FROM uni)::BIGINT AS t_,
      |         (SELECT count(*) FROM big)::BIGINT AS b_)
      |SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
      |  c12,
      |  round(ln((c12::DOUBLE / b_::DOUBLE) /
      |    ((u1.c::DOUBLE / t_::DOUBLE) * (u2.c::DOUBLE / t_::DOUBLE)))
      |    / ln(2.0), 6) AS pmi
      |FROM c12, tot
      |JOIN uni u1 ON u1.t = split_part(bg, ' ', 1)
      |JOIN uni u2 ON u2.t = split_part(bg, ' ', 2)
      |ORDER BY w1, w2""".stripMargin

  // --- q197: Dunning log-likelihood-ratio collocations -----------------------

  /** G² collocations ([[graft.operators.Collocations
    * .logLikelihoodRatio]]) — the significance-calibrated companion to
    * q148's PMI (PMI over-ranks rare pairs; G² weighs the evidence).
    * Each bigram's 2×2 positional contingency derives from the ONE
    * bigram census by rollup; the oracle replays census, marginals,
    * and the four-cell ln chain per row. */
  def q197Llr(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.logLikelihoodRatio(
      tp(spark, dir, "documents"), "text", minCount = 2L)
      .orderBy("w1", "w2")

  val q197Sql: String =
    """WITH toksl AS (
      |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |                     x -> x <> '') AS w
      |  FROM documents),
      |big AS (
      |  SELECT unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))])
      |    AS bg
      |  FROM toksl),
      |census AS MATERIALIZED (
      |  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
      |    count(*)::BIGINT AS c12
      |  FROM big GROUP BY 1, 2),
      |m1 AS (SELECT w1, sum(c12)::BIGINT AS r1 FROM census GROUP BY 1),
      |m2 AS (SELECT w2, sum(c12)::BIGINT AS c1 FROM census GROUP BY 1),
      |tot AS (SELECT sum(c12)::BIGINT AS b_ FROM census)
      |SELECT census.w1, census.w2, c12,
      |  round(2.0 * (
      |    (CASE WHEN c12 > 0 THEN c12::DOUBLE *
      |      ln(c12::DOUBLE * b_::DOUBLE / (r1::DOUBLE * c1::DOUBLE))
      |      ELSE 0.0 END) +
      |    (CASE WHEN r1 - c12 > 0 THEN (r1 - c12)::DOUBLE *
      |      ln((r1 - c12)::DOUBLE * b_::DOUBLE /
      |         (r1::DOUBLE * (b_ - c1)::DOUBLE)) ELSE 0.0 END) +
      |    (CASE WHEN c1 - c12 > 0 THEN (c1 - c12)::DOUBLE *
      |      ln((c1 - c12)::DOUBLE * b_::DOUBLE /
      |         ((b_ - r1)::DOUBLE * c1::DOUBLE)) ELSE 0.0 END) +
      |    (CASE WHEN b_ - r1 - c1 + c12 > 0
      |      THEN (b_ - r1 - c1 + c12)::DOUBLE *
      |        ln((b_ - r1 - c1 + c12)::DOUBLE * b_::DOUBLE /
      |           ((b_ - r1)::DOUBLE * (b_ - c1)::DOUBLE)) ELSE 0.0 END)
      |  ), 6) AS g2
      |FROM census JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
      |WHERE c12 >= 2
      |ORDER BY census.w1, census.w2""".stripMargin

  /** Top-3 TF-IDF keywords per document — the per-doc topical summary
    * (SparseIndex's exact weighting, ranked within each doc: G-parallel
    * small sorts, never a global order). */
  def q149Keywords(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Collocations.keywords(
      tp(spark, dir, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  val q149Sql: String =
    """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
      |posts AS (
      |  SELECT doc_id, t AS term, count(*)::BIGINT AS cnt
      |  FROM (SELECT doc_id, unnest(list_filter(
      |          regexp_split_to_array(trim(lower(text)), '\s+'),
      |          x -> x <> '')) AS t
      |        FROM documents)
      |  GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(cnt)::BIGINT AS len FROM posts GROUP BY 1),
      |df_ AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
      |        FROM posts GROUP BY 1),
      |scored AS (
      |  SELECT p.doc_id, p.term,
      |    round((p.cnt::DOUBLE / dl.len::DOUBLE) *
      |      (ln((n.n + 1)::DOUBLE / (df_.df + 1)::DOUBLE) + 1.0), 6)
      |      AS score
      |  FROM posts p
      |  JOIN dl USING (doc_id) JOIN df_ USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY score DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, term, score FROM ranked
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // --- HLL distinct sketch ----------------------------------------------

  /** HyperLogLog distinct estimates NEXT TO the exact censuses they
    * approximate — the mergeable-sketch distinct counter
    * ([[graft.operators.Hll]]). Two arms so BOTH estimate branches are
    * hash-verified: `tok` = per-source distinct tokens (small counts →
    * the linear-counting branch), `pair` = token#doc_id pairs in 4
    * buckets (thousands of distincts at p=10 → the raw harmonic-mean
    * branch). The oracle rebuilds the registers with pure integer math
    * (md5 hash, smear+popcount rank, exact scaled register sum) and
    * replays the one-expression IEEE estimate, so the sketch core is
    * hash-verified, not just bounded. */
  def q150HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val toks = tp(spark, dir, "documents").select(col("source"),
      col("doc_id"),
      explode(TextFunctions.tokens(lower(col("text")))).as("t"))
    val items = toks.select(lit("tok").as("arm"), col("source").as("grp"),
        col("t").as("item"))
      .unionByName(toks.select(lit("pair").as("arm"),
        concat(lit("g"), pmod(col("doc_id"), lit(4))).as("grp"),
        concat(col("t"), lit("#"), col("doc_id")).as("item")))
    val est = graft.operators.Hll.distinctEstimate(
      items, "item", Seq("arm", "grp"), p = 10)
    val exact = items.groupBy("arm", "grp")
      .agg(countDistinct(col("item")).as("n_exact"))
    est.join(exact, Seq("arm", "grp")).orderBy("arm", "grp")
  }

  val q150Sql: String =
    """WITH toks AS (
      |  SELECT source, doc_id, unnest(list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS t
      |  FROM documents),
      |items AS (
      |  SELECT 'tok' AS arm, source AS grp, t AS item FROM toks
      |  UNION ALL
      |  SELECT 'pair' AS arm, 'g' || (doc_id % 4) AS grp,
      |    t || '#' || doc_id AS item
      |  FROM toks),
      |hash AS (
      |  SELECT DISTINCT arm, grp, item,
      |    (('0x' || substr(md5('hll|' || item), 1, 15))::UBIGINT)::BIGINT AS h
      |  FROM items),
      |w0 AS (SELECT arm, grp, h % 1024 AS b, h >> 10 AS w FROM hash),
      |w1 AS (SELECT arm, grp, b, w | (w >> 1) AS w FROM w0),
      |w2 AS (SELECT arm, grp, b, w | (w >> 2) AS w FROM w1),
      |w3 AS (SELECT arm, grp, b, w | (w >> 4) AS w FROM w2),
      |w4 AS (SELECT arm, grp, b, w | (w >> 8) AS w FROM w3),
      |w5 AS (SELECT arm, grp, b, w | (w >> 16) AS w FROM w4),
      |w6 AS (SELECT arm, grp, b, w | (w >> 32) AS w FROM w5),
      |regs AS (
      |  SELECT arm, grp, b, max(51 - bit_count(w)) AS reg
      |  FROM w6 GROUP BY 1, 2, 3),
      |agg AS (
      |  SELECT arm, grp,
      |    sum(2251799813685248 >> reg)::BIGINT AS sp,
      |    count(*)::BIGINT AS nb
      |  FROM regs GROUP BY 1, 2),
      |sc AS (
      |  SELECT arm, grp, 1024 - nb AS v_zero,
      |    sp + (1024 - nb) * 2251799813685248 AS s_scaled
      |  FROM agg),
      |est AS (
      |  SELECT arm, grp, v_zero, s_scaled,
      |    round(CASE WHEN 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 *
      |          2251799813685248.0 / s_scaled::DOUBLE <= 2.5 * 1024.0
      |        AND v_zero > 0
      |      THEN 1024.0 * ln(1024.0 / v_zero::DOUBLE)
      |      ELSE 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 *
      |        2251799813685248.0 / s_scaled::DOUBLE END, 6) AS hll_est
      |  FROM sc),
      |ex AS (SELECT arm, grp, count(DISTINCT item)::BIGINT AS n_exact
      |       FROM items GROUP BY 1, 2)
      |SELECT est.arm, est.grp, v_zero, s_scaled, hll_est, n_exact
      |FROM est JOIN ex USING (arm, grp) ORDER BY arm, grp""".stripMargin

  // --- bigram diversity (distinct-n) ------------------------------------

  /** Per-source distinct-bigram ratio — the "distinct-n" diversity
    * metric used to QC synthetic/duplicated corpora (low diversity =
    * templated or repetitive text). Exact total bigram occurrences;
    * distinct bigrams through the [[graft.operators.Hll]] sketch (the
    * count a 100 TB corpus cannot census exactly), both replayed by
    * the oracle register-for-register. */
  def q152BigramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col("text")))
    val bi = tp(spark, dir, "documents").select(col("source"),
      explode(graft.functions.Expressions.word_shingles(toks, 2)).as("bg"))
    val est = graft.operators.Hll.distinctEstimate(
      bi, "bg", Seq("source"), p = 10)
    val tot = bi.groupBy("source").agg(count(lit(1)).as("n_bigrams"))
    est.join(tot, Seq("source"))
      .select(col("source"), col("n_bigrams"), col("hll_est"),
        round(col("hll_est") / col("n_bigrams").cast("double"), 6)
          .as("diversity"))
      .orderBy("source")
  }

  val q152Sql: String =
    """WITH toksl AS (
      |  SELECT source, list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |big AS (
      |  SELECT source,
      |    unnest([w[i] || ' ' || w[i + 1] for i in range(1, len(w))]) AS bg
      |  FROM toksl),
      |hash AS (
      |  SELECT DISTINCT source, bg,
      |    (('0x' || substr(md5('hll|' || bg), 1, 15))::UBIGINT)::BIGINT AS h
      |  FROM big),
      |w0 AS (SELECT source, h % 1024 AS b, h >> 10 AS w FROM hash),
      |w1 AS (SELECT source, b, w | (w >> 1) AS w FROM w0),
      |w2 AS (SELECT source, b, w | (w >> 2) AS w FROM w1),
      |w3 AS (SELECT source, b, w | (w >> 4) AS w FROM w2),
      |w4 AS (SELECT source, b, w | (w >> 8) AS w FROM w3),
      |w5 AS (SELECT source, b, w | (w >> 16) AS w FROM w4),
      |w6 AS (SELECT source, b, w | (w >> 32) AS w FROM w5),
      |regs AS (
      |  SELECT source, b, max(51 - bit_count(w)) AS reg
      |  FROM w6 GROUP BY 1, 2),
      |agg AS (
      |  SELECT source,
      |    sum(2251799813685248 >> reg)::BIGINT AS sp,
      |    count(*)::BIGINT AS nb
      |  FROM regs GROUP BY 1),
      |sc AS (
      |  SELECT source, 1024 - nb AS v_zero,
      |    sp + (1024 - nb) * 2251799813685248 AS s_scaled
      |  FROM agg),
      |est AS (
      |  SELECT source,
      |    round(CASE WHEN 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 *
      |          2251799813685248.0 / s_scaled::DOUBLE <= 2.5 * 1024.0
      |        AND v_zero > 0
      |      THEN 1024.0 * ln(1024.0 / v_zero::DOUBLE)
      |      ELSE 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0 *
      |        2251799813685248.0 / s_scaled::DOUBLE END, 6) AS hll_est
      |  FROM sc),
      |tot AS (SELECT source, count(*)::BIGINT AS n_bigrams
      |        FROM big GROUP BY 1)
      |SELECT est.source, n_bigrams, hll_est,
      |  round(hll_est / n_bigrams::DOUBLE, 6) AS diversity
      |FROM est JOIN tot USING (source) ORDER BY source""".stripMargin

  // --- exact heavy hitters ----------------------------------------------

  /** Exact tokens above 1/40 of corpus mass via Misra–Gries candidate
    * pruning + one confirm pass ([[graft.operators.HeavyHitters]]) —
    * exact answers in bounded memory, the complement to q125's
    * overestimating CMS route. The oracle is the plain census filter
    * the operator provably equals regardless of partitioning. */
  def q151HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = tp(spark, dir, "documents").select(
      explode(TextFunctions.tokens(lower(col("text")))).as("t"))
    graft.operators.HeavyHitters.frequentItems(toks, "t", k = 40)
      .orderBy("item")
  }

  val q151Sql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS t
      |  FROM documents),
      |cnt AS (SELECT t AS item, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
      |tot AS (SELECT sum(cnt)::BIGINT AS n FROM cnt)
      |SELECT item, cnt FROM cnt, tot WHERE cnt * 40 > n ORDER BY item""".stripMargin

  // --- n-gram overlap (BLEU-2) ------------------------------------------

  /** Row-level BLEU-2 against a synthesized reference — the
    * deterministic eval sibling of the LLM-judge
    * ([[graft.operators.Overlap]]). References are jittered in-query
    * (the q134 discipline) so BOTH brevity-penalty branches are
    * hash-verified: even docs score against a truncated reference
    * (candidate longer → bp=1), odd docs against a padded one
    * (candidate shorter → bp=exp(1−r/c)<1). */
  def q153Bleu(spark: SparkSession, dir: String): DataFrame = {
    val w = TextFunctions.tokens(lower(col("text")))
    val base = tp(spark, dir, "documents")
      .select(col("doc_id"), w.as("cand"))
      .withColumn("ref",
        when(pmod(col("doc_id"), lit(2)) === 0,
          slice(col("cand"), lit(1),
            floor(size(col("cand")) * 4 / 5).cast("int")))
          .otherwise(concat(col("cand"),
            slice(col("cand"), lit(1),
              floor(size(col("cand")) / 3).cast("int")))))
    base.select(col("doc_id") +:
      graft.operators.Overlap.bleu2(col("cand"), col("ref")): _*)
      .orderBy("doc_id")
  }

  val q153Sql: String =
    """WITH toksl AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |pair AS (
      |  SELECT doc_id, w AS cand,
      |    CASE WHEN doc_id % 2 = 0 THEN w[1:(4 * len(w)) // 5]
      |         ELSE list_concat(w, w[1:len(w) // 3]) END AS ref
      |  FROM toksl),
      |grams AS (
      |  SELECT doc_id, cand, ref,
      |    [cand[i] || ' ' || cand[i + 1] for i in range(1, len(cand))] AS cg,
      |    [ref[i] || ' ' || ref[i + 1] for i in range(1, len(ref))] AS rg
      |  FROM pair),
      |m AS (
      |  SELECT doc_id, len(cand) AS c_len, len(ref) AS r_len, len(cg) AS g_len,
      |    coalesce(list_sum(list_transform(list_distinct(cand),
      |      g -> least(len(list_filter(cand, x -> x = g)),
      |                 len(list_filter(ref,  x -> x = g))))), 0) AS clip1,
      |    coalesce(list_sum(list_transform(list_distinct(cg),
      |      g -> least(len(list_filter(cg, x -> x = g)),
      |                 len(list_filter(rg, x -> x = g))))), 0) AS clip2
      |  FROM grams),
      |sc AS (
      |  SELECT doc_id,
      |    CASE WHEN c_len > 0 THEN clip1::DOUBLE / c_len ELSE 0.0 END AS p1,
      |    CASE WHEN g_len > 0 THEN clip2::DOUBLE / g_len ELSE 0.0 END AS p2,
      |    CASE WHEN c_len = 0 THEN 0.0
      |         WHEN c_len > r_len THEN 1.0
      |         ELSE exp(1.0 - r_len::DOUBLE / c_len::DOUBLE) END AS bp,
      |    c_len, r_len
      |  FROM m)
      |SELECT doc_id, round(p1, 6) AS p1, round(p2, 6) AS p2,
      |  round(bp, 6) AS bp,
      |  round(CASE WHEN c_len >= 2 AND r_len >= 2 AND p1 > 0 AND p2 > 0
      |    THEN bp * exp((ln(p1) + ln(p2)) / 2.0) ELSE 0.0 END, 6) AS bleu
      |FROM sc ORDER BY doc_id""".stripMargin

  // --- q185: ROUGE-1/2 recall + F1 ----------------------------------------

  /** Row-level ROUGE against the q153 jittered references
    * ([[graft.operators.Overlap.rouge2]]): the truncated-reference arm
    * exercises recall < 1 at precision 1, the padded-reference arm the
    * reverse — both directions of every ratio hash-verified. */
  def q185Rouge(spark: SparkSession, dir: String): DataFrame = {
    val w = TextFunctions.tokens(lower(col("text")))
    val base = tp(spark, dir, "documents")
      .select(col("doc_id"), w.as("cand"))
      .withColumn("ref",
        when(pmod(col("doc_id"), lit(2)) === 0,
          slice(col("cand"), lit(1),
            floor(size(col("cand")) * 4 / 5).cast("int")))
          .otherwise(concat(col("cand"),
            slice(col("cand"), lit(1),
              floor(size(col("cand")) / 3).cast("int")))))
    base.select(col("doc_id") +:
      graft.operators.Overlap.rouge2(col("cand"), col("ref")): _*)
      .orderBy("doc_id")
  }

  val q185Sql: String =
    """WITH toksl AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |pair AS (
      |  SELECT doc_id, w AS cand,
      |    CASE WHEN doc_id % 2 = 0 THEN w[1:(4 * len(w)) // 5]
      |         ELSE list_concat(w, w[1:len(w) // 3]) END AS ref
      |  FROM toksl),
      |grams AS (
      |  SELECT doc_id, cand, ref,
      |    [cand[i] || ' ' || cand[i + 1] for i in range(1, len(cand))] AS cg,
      |    [ref[i] || ' ' || ref[i + 1] for i in range(1, len(ref))] AS rg
      |  FROM pair),
      |m AS (
      |  SELECT doc_id, len(cand) AS c1, len(ref) AS r1,
      |    len(cg) AS c2, len(rg) AS r2,
      |    coalesce(list_sum(list_transform(list_distinct(cand),
      |      g -> least(len(list_filter(cand, x -> x = g)),
      |                 len(list_filter(ref,  x -> x = g))))), 0) AS ov1,
      |    coalesce(list_sum(list_transform(list_distinct(cg),
      |      g -> least(len(list_filter(cg, x -> x = g)),
      |                 len(list_filter(rg, x -> x = g))))), 0) AS ov2
      |  FROM grams),
      |sc AS (
      |  SELECT doc_id,
      |    CASE WHEN r1 > 0 THEN ov1::DOUBLE / r1 ELSE 0.0 END AS rec1,
      |    CASE WHEN c1 > 0 THEN ov1::DOUBLE / c1 ELSE 0.0 END AS pre1,
      |    CASE WHEN r2 > 0 THEN ov2::DOUBLE / r2 ELSE 0.0 END AS rec2,
      |    CASE WHEN c2 > 0 THEN ov2::DOUBLE / c2 ELSE 0.0 END AS pre2
      |  FROM m)
      |SELECT doc_id,
      |  round(rec1, 6) AS rouge1_r,
      |  round(CASE WHEN pre1 + rec1 > 0
      |    THEN 2.0 * pre1 * rec1 / (pre1 + rec1) ELSE 0.0 END, 6) AS rouge1_f,
      |  round(rec2, 6) AS rouge2_r,
      |  round(CASE WHEN pre2 + rec2 > 0
      |    THEN 2.0 * pre2 * rec2 / (pre2 + rec2) ELSE 0.0 END, 6) AS rouge2_f
      |FROM sc ORDER BY doc_id""".stripMargin

  // --- containment (asymmetric near-dup) --------------------------------

  /** Quote detection via exact containment pairs
    * ([[Dedup.containmentPairs]]): 1-in-10 docs get a synthesized
    * "quoting" page (the original text embedded in unique padding —
    * the q66 fixture discipline), whose Jaccard to its source is low
    * (the padding dominates the union) but whose containment is 1.0 —
    * exactly the asymmetric case MinHash banding misses. The oracle
    * replays shingle hashes, df-cut, pair census and both ratios. */
  def q158Containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents").select(col("doc_id"), col("text"))
    val filler = concat_ws(" ", transform(sequence(lit(1), lit(40)),
      i => concat(lit("pad"), col("doc_id"), lit("x"), i)))
    val quotes = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" "), filler).as("text"))
    Dedup.containmentPairs(docs.unionByName(quotes), "doc_id", "text",
      shingleSize = 3, threshold = 0.8, maxDf = 8)
      .orderBy("id_a", "id_b")
  }

  val q158Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 20000,
      |    text || ' ' || array_to_string(
      |      list_transform(range(1, 41), i -> 'pad' || doc_id || 'x' || i),
      |      ' ')
      |  FROM documents WHERE doc_id % 10 = 0),
      |toksl AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
      |  FROM base),
      |shl AS (
      |  SELECT doc_id, list_distinct(
      |    [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
      |     for i in range(1, len(w) - 1)]) AS ss
      |  FROM toksl WHERE len(w) >= 3),
      |sh AS (
      |  SELECT doc_id, (('0x' || substr(md5(s), 1, 15))::UBIGINT)::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(ss) AS s FROM shl)),
      |dfc AS (SELECT h FROM (SELECT h, count(*) AS c FROM sh GROUP BY 1)
      |        WHERE c <= 8),
      |kept AS (SELECT sh.doc_id, sh.h FROM sh JOIN dfc USING (h)),
      |sz AS (SELECT doc_id, count(*)::BIGINT AS s FROM kept GROUP BY 1),
      |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter
      |       FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b, inter, sa.s AS size_a, sb.s AS size_b
      |      FROM pr JOIN sz sa ON sa.doc_id = id_a
      |           JOIN sz sb ON sb.doc_id = id_b)
      |SELECT id_a, id_b, inter, size_a, size_b,
      |  round(inter::DOUBLE / size_a, 6) AS c_ab,
      |  round(inter::DOUBLE / size_b, 6) AS c_ba
      |FROM j
      |WHERE greatest(inter::DOUBLE / size_a, inter::DOUBLE / size_b) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  // --- readability ------------------------------------------------------

  /** Flesch reading ease + FK grade per document
    * ([[TextFunctions.readability]]) — the classic readability screen,
    * as a zero-shuffle map. Sentence punctuation is synthesized
    * in-query (the corpus is unpunctuated): every 7th word boundary
    * gets a period, 1-in-3 docs a trailing '?', so the sentence count
    * genuinely varies. The oracle counts identical regex matches and
    * replays both IEEE chains. */
  def q171Readability(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      regexp_replace(col("text"), "((\\S+\\s+){6}\\S+)\\s+", "$1. "),
      when(col("doc_id") % 3 === 0, lit("?")).otherwise(lit(".")))
    tp(spark, dir, "documents")
      .select(col("doc_id") +: TextFunctions.readability(page): _*)
      .orderBy("doc_id")
  }

  val q171Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    regexp_replace(text, '((\S+\s+){6}\S+)\s+', '\1. ', 'g')
      |      || CASE WHEN doc_id % 3 = 0 THEN '?' ELSE '.' END AS page
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, page, list_filter(
      |    regexp_split_to_array(trim(lower(page)), '\s+'), x -> x <> '') AS w
      |  FROM aug),
      |m AS (
      |  SELECT doc_id, len(w) AS nw,
      |    greatest(len(regexp_extract_all(page, '[.!?]+')), 1) AS ns,
      |    list_sum(list_transform(w,
      |      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))) AS ny
      |  FROM toks)
      |SELECT doc_id, nw AS n_words, ns::INT AS n_sentences,
      |  coalesce(ny, 0)::INT AS n_syllables,
      |  CASE WHEN nw > 0 THEN round(0.39 * (nw::DOUBLE / ns::DOUBLE)
      |    + 11.8 * (ny::DOUBLE / nw::DOUBLE) - 15.59, 6) END AS fk_grade,
      |  CASE WHEN nw > 0 THEN round(206.835 - 1.015 * (nw::DOUBLE / ns::DOUBLE)
      |    - 84.6 * (ny::DOUBLE / nw::DOUBLE), 6) END AS flesch
      |FROM m ORDER BY doc_id""".stripMargin

  // --- fuzzy (edit-distance) duplicates ---------------------------------

  /** Typo-tolerant duplicate detection ([[Dedup.fuzzyDuplicatePairs]]):
    * 1-in-20 docs get a one-character-substituted twin (6th char →
    * 'q'), which MUST confirm at levenshtein ≤ 2 through the
    * shingle-blocked candidate pass; the oracle replays blocking,
    * shared-shingle pruning, and the built-in levenshtein confirm. */
  def q167FuzzyDups(spark: SparkSession, dir: String): DataFrame = {
    val docs = tp(spark, dir, "documents").select(col("doc_id"), col("text"))
    val twins = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 30000).as("doc_id"),
        expr("concat(substr(text, 1, 5), 'q', substr(text, 7))").as("text"))
    Dedup.fuzzyDuplicatePairs(docs.unionByName(twins), "doc_id", "text",
      maxDist = 2, shingleSize = 3, minShared = 10, maxDf = 8)
      .orderBy("id_a", "id_b")
  }

  val q167Sql: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 30000,
      |    substr(text, 1, 5) || 'q' || substr(text, 7)
      |  FROM documents WHERE doc_id % 20 = 0),
      |toksl AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
      |  FROM base),
      |shl AS (
      |  SELECT doc_id, list_distinct(
      |    [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
      |     for i in range(1, len(w) - 1)]) AS ss
      |  FROM toksl WHERE len(w) >= 3),
      |sh AS (
      |  SELECT doc_id, (('0x' || substr(md5(s), 1, 15))::UBIGINT)::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(ss) AS s FROM shl)),
      |dfc AS (SELECT h FROM (SELECT h, count(*) AS c FROM sh GROUP BY 1)
      |        WHERE c <= 8),
      |kept AS (SELECT sh.doc_id, sh.h FROM sh JOIN dfc USING (h)),
      |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS inter
      |       FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2 HAVING count(*) >= 10),
      |j AS (SELECT id_a, id_b, inter, ta.text AS t1, tb.text AS t2
      |      FROM pr JOIN base ta ON ta.doc_id = id_a
      |           JOIN base tb ON tb.doc_id = id_b)
      |SELECT id_a, id_b, inter, levenshtein(t1, t2)::INT AS dist
      |FROM j WHERE levenshtein(t1, t2) <= 2 ORDER BY id_a, id_b""".stripMargin

  // --- stemming ---------------------------------------------------------

  /** Porter-stemmed vocabulary census — the search-side normalization
    * the reference's FTS5 index gets from SQLite's porter tokenizer,
    * as a per-token map ([[graft.functions.Porter]] via the native
    * `porter_stem` kernel; zero shuffle until the census).
    * Hash-verified since r11: the full rule chain IS SQL-expressible —
    * [[OracleSqlGen.q166Sql]] replays every paper step over the distinct
    * token set (c/v form via list_reduce, measure m as 'v+c+' run count,
    * longest-first CASE arms mirroring the Scala tables), and the same
    * SQL stems all ~80 PorterSpec canonical vectors verbatim. The
    * expression ≡ function codegen-parity test stays in PorterSpec. */
  def q166StemmedCensus(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "documents").select(explode(
      transform(TextFunctions.tokens(lower(col("text"))),
        t => graft.functions.Expressions.porter_stem(t))).as("stem"))
      .groupBy(col("stem")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("stem"))

  // --- simhash ----------------------------------------------------------

  def q35Simhash(spark: SparkSession, dir: String): DataFrame =
    tp(spark, dir, "documents").select(
      col("doc_id"),
      Dedup.simhash(tokens(col("text"))).as("simhash"))
      .orderBy("doc_id")

  val q35Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS w
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::UBIGINT AS h
      |  FROM (SELECT doc_id, unnest(w) AS t FROM toks)),
      |bitv AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) bits
      |  GROUP BY doc_id, b)
      |SELECT doc_id,
      |  SUM(CASE WHEN v > 0 THEN (1::UBIGINT << b)::BIGINT ELSE 0 END)::BIGINT AS simhash
      |FROM bitv GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- multimodal: REAL image decode over synthesized fixtures ---------
  // The sandbox ships no media files, so each query synthesizes real
  // PNG/GIF payloads (JDK ImageIO encoders, measured byte-deterministic)
  // with gray pixel(x,y) = (seed + 7x + 13y) % 251 — a formula the DuckDB
  // oracle reproduces independently, so width/height/frames/pixels coming
  // back from the DECODER prove the decode is real. Fixture synthesis is
  // the one UDF use (black-box encode, like templating); decode itself is
  // the batched partition pass in Multimodal.

  private val grayPngUdf =
    udf((w: Int, h: Int, seed: Long) => Multimodal.encodeGrayPng(w, h, seed))
  private val animGifUdf =
    udf((w: Int, h: Int, n: Int, seed: Long) =>
      Multimodal.encodeAnimatedGif(w, h, n, seed))

  /** Sum of a gray buffer's byte values via hex-pair arithmetic — native
    * codegen'd higher-order functions, no UDF on the decode-probe side. */
  private def byteSum(bin: org.apache.spark.sql.Column,
                      nBytes: Int): org.apache.spark.sql.Column = {
    val h = hex(bin)
    aggregate(
      transform(sequence(lit(0), lit(nBytes - 1)),
        i => conv(substring(h, lit(1) + i * 2, lit(2)), 16, 10).cast("long")),
      lit(0L), (acc, x) => acc + x)
  }

  /** Real metadata decode: PNG fixtures (3 of every 4 docs) must yield
    * the generated dimensions from the container header; every 4th doc
    * carries raw (non-image) bytes and takes the documented deterministic
    * fallback — both paths and the magic-byte sniff in one query. */
  def q36Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val withBin = tp(spark, dir, "documents")
      .withColumn("content",
        when(col("doc_id") % 4 < 3,
          grayPngUdf((col("doc_id") % 13 + 4).cast("int"),
            (col("doc_id") % 7 + 3).cast("int"), col("doc_id") % 199))
          .otherwise(to_binary(col("text"), lit("UTF-8"))))
    Multimodal.withDecodedMeta(withBin, "content")
      .select(col("doc_id"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.n_frames").as("n_frames"),
        col("media_meta.format").as("format"))
      .orderBy("doc_id")
  }

  val q36Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 4 < 3 THEN (doc_id % 13 + 4)::INT
      |       ELSE ((octet_length(encode(text)) % 64) * 16 + 16)::INT END AS width,
      |  CASE WHEN doc_id % 4 < 3 THEN (doc_id % 7 + 3)::INT
      |       ELSE ((octet_length(encode(text)) % 48) * 16 + 16)::INT END AS height,
      |  CASE WHEN doc_id % 4 < 3 THEN 1
      |       ELSE ((octet_length(encode(text)) % 30) + 1)::INT END AS n_frames,
      |  CASE WHEN doc_id % 4 < 3 THEN 'png' ELSE 'raw' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Real frame sampling: animated-GIF fixtures with (doc_id%5)+2 frames;
    * `sampleFrames` must decode every sampled frame (stride 2) through the
    * multi-frame reader. The oracle recomputes each frame's head pixel and
    * full pixel sum from the fixture formula — only a real decode of the
    * right frame matches. */
  def q37FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val withBin = tp(spark, dir, "documents").filter(col("doc_id") < 50)
      .withColumn("content",
        animGifUdf(lit(8), lit(6), (col("doc_id") % 5 + 2).cast("int"),
          (col("doc_id") * 31) % 211))
    Multimodal.sampleFrames(withBin, "content", stride = 2)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).as("frame_len"),
        hex(substring(col("frame"), 1, 1)).as("head_hex"),
        byteSum(col("frame"), 8 * 6).as("px_sum"))
      .orderBy("doc_id", "frame_idx")
  }

  val q37Sql: String =
    """WITH d AS (
      |  SELECT doc_id, (doc_id % 5 + 2)::INT AS nf, (doc_id * 31) % 211 AS seed
      |  FROM documents WHERE doc_id < 50),
      |f0 AS (
      |  SELECT doc_id, seed, unnest(range(0, nf, 2)) AS frame_idx FROM d),
      |f AS (
      |  SELECT doc_id, frame_idx, seed + 17 * frame_idx AS fs FROM f0),
      |px AS (
      |  SELECT doc_id, frame_idx, fs,
      |    CAST(SUM((fs + 7 * xs.x + 13 * ys.y) % 251) AS BIGINT) AS px_sum
      |  FROM f
      |  CROSS JOIN (SELECT unnest(range(8)) AS x) xs
      |  CROSS JOIN (SELECT unnest(range(6)) AS y) ys
      |  GROUP BY doc_id, frame_idx, fs)
      |SELECT doc_id, frame_idx::INT AS frame_idx, 48 AS frame_len,
      |  printf('%02X', fs % 251) AS head_hex, px_sum
      |FROM px ORDER BY doc_id, frame_idx""".stripMargin

  /** Real decode + nearest-neighbor resize: PNG fixtures of varying
    * source dims resampled to 32x24 gray. out(x,y) =
    * src(x*sw/32, y*sh/24) with integer division, so the oracle
    * recomputes the head/tail pixels and the whole buffer's byte sum from
    * the fixture formula — every output pixel is pinned. */
  def q38Resize(spark: SparkSession, dir: String): DataFrame = {
    val src = tp(spark, dir, "documents").filter(col("doc_id") < 100)
      .withColumn("content",
        grayPngUdf((col("doc_id") % 29 + 8).cast("int"),
          (col("doc_id") % 17 + 8).cast("int"), col("doc_id") % 199))
    Multimodal.resizeTo(src, "content", width = 32, height = 24)
      .select(col("doc_id"),
        length(col("content")).as("out_len"),
        col("resized_meta.width").as("width"),
        col("resized_meta.height").as("height"),
        hex(substring(col("content"), 1, 1)).as("head_hex"),
        hex(substring(col("content"), 32 * 24, 1)).as("tail_hex"),
        byteSum(col("content"), 32 * 24).as("px_sum"))
      .orderBy("doc_id")
  }

  val q38Sql: String =
    """WITH d AS (
      |  SELECT doc_id, (doc_id % 29 + 8) AS sw, (doc_id % 17 + 8) AS sh,
      |    doc_id % 199 AS seed
      |  FROM documents WHERE doc_id < 100),
      |px AS (
      |  SELECT doc_id,
      |    CAST(SUM((seed + 7 * ((xs.x * sw) // 32) + 13 * ((ys.y * sh) // 24))
      |      % 251) AS BIGINT) AS px_sum
      |  FROM d
      |  CROSS JOIN (SELECT unnest(range(32)) AS x) xs
      |  CROSS JOIN (SELECT unnest(range(24)) AS y) ys
      |  GROUP BY doc_id)
      |SELECT d.doc_id, 768 AS out_len, 32 AS width, 24 AS height,
      |  printf('%02X', seed % 251) AS head_hex,
      |  printf('%02X',
      |    (seed + 7 * ((31 * sw) // 32) + 13 * ((23 * sh) // 24)) % 251)
      |    AS tail_hex,
      |  px.px_sum
      |FROM d JOIN px ON d.doc_id = px.doc_id ORDER BY d.doc_id""".stripMargin

  /** Real optical round trip over every document: normalize the text to
    * its printable-ASCII single-line form, PRINT it onto a raster (PNG
    * bytes via [[GlyphOcr.render]]), then read it back from pixels alone
    * with [[Ocr.ocrImages]]. The oracle recomputes only the normalization
    * — the hash matches iff the full render→binarize→segment→classify
    * loop recovers every one of the 500 lines exactly (reference OCR
    * surface: ondine/knowledge/ocr.py:46-136). */
  def q39OcrRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(col("text"), "[^ -~]", "?"), " +", " "))
    val withPage = tp(spark, dir, "documents")
      .withColumn("page", renderPageUdf(substring(norm, 1, 48)))
    Ocr.ocrImages(withPage, "page", "ocr_text")
      .select(col("doc_id"), col("ocr_text"))
      .orderBy("doc_id")
  }

  private val renderPageUdf =
    udf((s: String) => GlyphOcr.renderPng(if (s == null) "" else s))

  val q39Sql: String =
    """SELECT doc_id,
      |  rtrim(substr(trim(regexp_replace(regexp_replace(text, '[^ -~]', '?', 'g'),
      |    ' +', ' ', 'g')), 1, 48)) AS ocr_text
      |FROM documents ORDER BY doc_id""".stripMargin

  private val wavUdf =
    udf((n: Long, rate: Int, seed: Long, ch: Int) =>
      graft.operators.Audio.encodePcmWav(n, rate, seed, ch))

  /** Real WAV container decode: PCM fixtures (3 of every 4 docs, varying
    * rate/channels/length) must yield rate, channels, frame count, and
    * integer-exact duration from the RIFF chunk walk; every 4th doc
    * carries raw text bytes and takes the zeros+raw fallback. */
  def q45AudioMeta(spark: SparkSession, dir: String): DataFrame = {
    val withBin = tp(spark, dir, "documents")
      .withColumn("content",
        when(col("doc_id") % 4 < 3,
          wavUdf(col("doc_id") % 400 + 100,
            (lit(8000) + (col("doc_id") % 3) * 4000).cast("int"),
            (col("doc_id") * 31) % 211,
            (col("doc_id") % 2 + 1).cast("int")))
          .otherwise(to_binary(col("text"), lit("UTF-8"))))
    graft.operators.Audio.withAudioMeta(withBin, "content")
      .select(col("doc_id"),
        col("audio_meta.n_bytes").as("n_bytes"),
        col("audio_meta.sample_rate").as("sample_rate"),
        col("audio_meta.channels").as("channels"),
        col("audio_meta.bits_per_sample").as("bits_per_sample"),
        col("audio_meta.n_frames").as("n_frames"),
        col("audio_meta.duration_ms").as("duration_ms"),
        col("audio_meta.format").as("format"))
      .orderBy("doc_id")
  }

  val q45Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 4 < 3
      |    THEN 44 + (doc_id % 400 + 100) * (doc_id % 2 + 1) * 2
      |    ELSE octet_length(encode(text)) END::BIGINT AS n_bytes,
      |  CASE WHEN doc_id % 4 < 3 THEN 8000 + (doc_id % 3) * 4000
      |    ELSE 0 END::INT AS sample_rate,
      |  CASE WHEN doc_id % 4 < 3 THEN (doc_id % 2 + 1) ELSE 0 END::INT AS channels,
      |  CASE WHEN doc_id % 4 < 3 THEN 16 ELSE 0 END::INT AS bits_per_sample,
      |  CASE WHEN doc_id % 4 < 3 THEN doc_id % 400 + 100 ELSE 0 END::BIGINT AS n_frames,
      |  CASE WHEN doc_id % 4 < 3
      |    THEN (doc_id % 400 + 100) * 1000 // (8000 + (doc_id % 3) * 4000)
      |    ELSE 0 END::BIGINT AS duration_ms,
      |  CASE WHEN doc_id % 4 < 3 THEN 'wav' ELSE 'raw' END AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Real sample decode: per-window RMS of the PCM stream. The squared
    * sums accumulate exactly in integers, so only a correct 16-bit LE
    * sample decode of every window reproduces the oracle's math. */
  def q46AudioRms(spark: SparkSession, dir: String): DataFrame = {
    val withBin = tp(spark, dir, "documents").filter(col("doc_id") < 60)
      .withColumn("content",
        wavUdf(col("doc_id") % 200 + 50, lit(8000),
          (col("doc_id") * 31) % 211, lit(1)))
    graft.operators.Audio.extractFeatures(withBin, "content", windows = 4)
      .select(col("doc_id"),
        posexplode(col("audio_features")).as(Seq("win", "rms")))
      .orderBy("doc_id", "win")
  }

  val q46Sql: String =
    """WITH d AS (
      |  SELECT doc_id, (doc_id % 200 + 50)::BIGINT AS n,
      |    ((doc_id * 31) % 211)::BIGINT AS seed
      |  FROM documents WHERE doc_id < 60),
      |ser AS (SELECT unnest(generate_series(0, 299)) AS i),
      |s AS (
      |  SELECT doc_id, ((seed + 31 * i) % 65536) - 32768 AS smp,
      |    ((i * 4) // n)::INT AS win
      |  FROM d JOIN ser ON ser.i < d.n),
      |agg AS (
      |  SELECT doc_id, win, (sum(smp * smp))::BIGINT AS ss,
      |    count(*)::BIGINT AS c
      |  FROM s GROUP BY doc_id, win)
      |SELECT doc_id, win,
      |  CAST(round(sqrt(ss::DOUBLE / c) / 32768, 6) AS FLOAT) AS rms
      |FROM agg ORDER BY doc_id, win""".stripMargin

  private val aviUdf =
    udf((w: Int, h: Int, n: Int, seed: Long, fps: Int) =>
      graft.operators.Video.encodeMjpegAvi(w, h, n, seed, fps))

  /** Real AVI container decode: the avih header (found through the nested
    * LIST walk) must yield the generated dims, frame count, frame
    * interval, and integer-exact duration; every 4th doc carries raw
    * bytes and takes the zeros+raw fallback. */
  def q47VideoMeta(spark: SparkSession, dir: String): DataFrame = {
    val withBin = tp(spark, dir, "documents").filter(col("doc_id") < 120)
      .withColumn("content",
        when(col("doc_id") % 4 < 3,
          aviUdf((col("doc_id") % 9 + 4).cast("int"),
            (col("doc_id") % 7 + 3).cast("int"),
            (col("doc_id") % 6 + 1).cast("int"),
            (col("doc_id") * 31) % 211,
            (lit(10) + (col("doc_id") % 3) * 5).cast("int")))
          .otherwise(to_binary(col("text"), lit("UTF-8"))))
    graft.operators.Video.withVideoMeta(withBin, "content")
      .select(col("doc_id"),
        col("video_meta.width").as("width"),
        col("video_meta.height").as("height"),
        col("video_meta.n_frames").as("n_frames"),
        col("video_meta.us_per_frame").as("us_per_frame"),
        col("video_meta.duration_ms").as("duration_ms"),
        col("video_meta.format").as("format"))
      .orderBy("doc_id")
  }

  val q47Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 4 < 3 THEN doc_id % 9 + 4 ELSE 0 END::INT AS width,
      |  CASE WHEN doc_id % 4 < 3 THEN doc_id % 7 + 3 ELSE 0 END::INT AS height,
      |  CASE WHEN doc_id % 4 < 3 THEN doc_id % 6 + 1 ELSE 0 END::INT AS n_frames,
      |  CASE WHEN doc_id % 4 < 3
      |    THEN 1000000 // (10 + (doc_id % 3) * 5) ELSE 0 END::INT AS us_per_frame,
      |  CASE WHEN doc_id % 4 < 3
      |    THEN ((doc_id % 6 + 1) * (1000000 // (10 + (doc_id % 3) * 5))) // 1000
      |    ELSE 0 END::BIGINT AS duration_ms,
      |  CASE WHEN doc_id % 4 < 3 THEN 'avi' ELSE 'raw' END AS format
      |FROM documents WHERE doc_id < 120 ORDER BY doc_id""".stripMargin

  /** Real MJPEG frame extraction: every sampled `..dc` chunk must be a
    * standalone JPEG whose decoded dimensions equal the fixture's — the
    * oracle pins sampled index set, JPEG magic, and decoded dims (pixel
    * values are lossy-codec territory and deliberately unpinned). */
  def q48VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    val withBin = tp(spark, dir, "documents").filter(col("doc_id") < 40)
      .withColumn("content",
        aviUdf(lit(8), lit(6), (col("doc_id") % 5 + 2).cast("int"),
          (col("doc_id") * 31) % 211, lit(25)))
    val sampled = graft.operators.Video.sampleFrames(withBin, "content",
      stride = 2)
    graft.operators.Multimodal.withDecodedMeta(sampled, "frame")
      .select(col("doc_id"), col("frame_idx"),
        hex(substring(col("frame"), 1, 2)).as("magic"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.format").as("format"))
      .orderBy("doc_id", "frame_idx")
  }

  val q48Sql: String =
    """WITH d AS (
      |  SELECT doc_id, (doc_id % 5 + 2)::INT AS nf
      |  FROM documents WHERE doc_id < 40),
      |idx AS (SELECT unnest(generate_series(0, 6)) AS frame_idx),
      |s AS (
      |  SELECT doc_id, frame_idx FROM d JOIN idx
      |  ON frame_idx < nf AND frame_idx % 2 = 0)
      |SELECT doc_id, frame_idx::INT AS frame_idx, 'FFD8' AS magic,
      |  8::INT AS width, 6::INT AS height, 'jpeg' AS format
      |FROM s ORDER BY doc_id, frame_idx""".stripMargin

  /** Deterministic 30% sample + 80/10/10 split, both pure functions of a
    * salted portable hash of the key — the oracle recomputes membership
    * independently, which is exactly the auditability property the
    * operator exists for (rand()-based sampling can never hash-match). */
  def q57SampleSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = tp(spark, dir, "documents")
    Sampling.withSplit(
      Sampling.deterministicSample(docs, "doc_id", 0.3),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")
  }

  val q57Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15))::UBIGINT
      |      % 1000000 AS hs,
      |    ('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15))::UBIGINT
      |      % 1000000 AS hp
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN hp < 800000 THEN 'train'
      |       WHEN hp < 900000 THEN 'val' ELSE 'test' END AS split
      |FROM h WHERE hs < 300000 ORDER BY doc_id""".stripMargin

  /** Per-language quota of 20 docs, chosen by hash rank within the
    * group — deterministic, unbiased, partitioning-independent. */
  def q58StratifiedQuota(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.stratifiedQuota(tp(spark, dir, "documents"),
      groupCol = "lang", keyCol = "doc_id", quota = 20)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val q58Sql: String =
    """WITH r AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
      |      ('0x' || substr(md5('quota|' || doc_id::VARCHAR), 1, 15))::UBIGINT
      |        % 1000000, doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, lang FROM r WHERE rk <= 20 ORDER BY doc_id""".stripMargin

  /** Weighted sampling without replacement (Efraimidis–Spirakis, q162):
    * 5 docs per source drawn with probability ∝ length — the
    * quality-weighted subcorpus draw. The oracle replays the salted
    * hash draw, the ln(u)/w key chain, and the per-group ranking, so
    * the full A-ES selection is cross-engine verified. */
  def q162WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.weightedSample(tp(spark, dir, "documents"),
      groupCol = "source", keyCol = "doc_id", weightCol = "n_chars", k = 5)
      .select(col("source"), col("es_rank"), col("doc_id"), col("n_chars"))
      .orderBy("source", "es_rank")
  }

  val q162Sql: String =
    """WITH key AS (
      |  SELECT source, doc_id, n_chars,
      |    ln(((('0x' || substr(md5('ws|' || doc_id::VARCHAR), 1, 15))
      |          ::UBIGINT)::BIGINT::DOUBLE + 1.0) / 1152921504606846976.0)
      |      / n_chars::DOUBLE AS ek
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |r AS (
      |  SELECT source, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY ek DESC, doc_id)
      |      AS es_rank
      |  FROM key)
      |SELECT source, es_rank, doc_id, n_chars
      |FROM r WHERE es_rank <= 5 ORDER BY source, es_rank""".stripMargin

  /** Pile/Dolma-style mixture re-sampling: re-mix the five-language
    * corpus to 1:2:2:2:3 target parts at the corpus's own row count —
    * `en` downsamples, the rest upsample with 0-based `epoch` copies.
    * The oracle replays the driver's exact integer plan (census →
    * truncating-division need/threshold) and the hash membership, so the
    * full planner arithmetic is cross-engine verified, not just the
    * per-row filter. */
  def q100MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = tp(spark, dir, "documents")
    val total = docs.count()
    Sampling.mixtureSample(docs, domainCol = "lang", keyCol = "doc_id",
      weights = Seq("en" -> 1L, "zh" -> 2L, "es" -> 2L,
        "de" -> 2L, "fr" -> 3L),
      totalRows = total)
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  val q100Sql: String =
    """WITH w(domain, wt) AS (
      |  VALUES ('en', 1), ('zh', 2), ('es', 2), ('de', 2), ('fr', 3)),
      |census AS (
      |  SELECT lang AS domain, count(*)::BIGINT AS n FROM documents
      |  WHERE lang IN (SELECT domain FROM w) GROUP BY 1),
      |plan AS (
      |  SELECT c.domain, c.n,
      |    ((SELECT count(*) FROM documents) * w.wt)
      |      // (SELECT sum(wt) FROM w) AS need
      |  FROM census c JOIN w ON w.domain = c.domain),
      |thresholds AS (
      |  SELECT domain, need // n AS full_ep,
      |    ((need % n) * 1000000) // n AS thr
      |  FROM plan),
      |hashed AS (
      |  SELECT d.doc_id, d.lang,
      |    t.full_ep + CASE WHEN
      |      ('0x' || substr(md5('mix|' || d.doc_id::VARCHAR), 1, 15))::UBIGINT
      |        % 1000000 < t.thr THEN 1 ELSE 0 END AS n_copies
      |  FROM documents d JOIN thresholds t ON t.domain = d.lang)
      |SELECT doc_id, lang,
      |  unnest(generate_series(0, (n_copies - 1)::INT))::INT AS epoch
      |FROM hashed WHERE n_copies > 0 ORDER BY doc_id, epoch""".stripMargin

  /** Deterministic hash-shard assignment (the write path's membership
    * function): 8 shards over doc_id, per-shard row and char totals.
    * The oracle recomputes the portable hash mod — proving any row's
    * shard is auditable engine-independently, the property the
    * training-shard writer (`Shards.writeShards`) is built on. */
  def q101ShardAssign(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Shards
    Shards.withShard(tp(spark, dir, "documents"), "doc_id", numShards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .orderBy("shard")
  }

  val q101Sql: String =
    """SELECT
      |  (('0x' || substr(md5('shard|' || doc_id::VARCHAR), 1, 15))::UBIGINT
      |    % 8)::INT AS shard,
      |  count(*) AS n_docs, sum(n_chars)::BIGINT AS chars
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Temperature-scaled re-mixing over the 20-source corpus at α = 1/2:
    * weights are `isqrt(n_source)` derived from the census itself (the
    * mBERT/XLM-R low-resource-upweighting recipe), then the exact q100
    * integer plan. The oracle recomputes the census, the isqrt weights,
    * and the full planner arithmetic — the derived-weight step is
    * cross-engine verified end-to-end. */
  def q126TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = tp(spark, dir, "documents")
    val total = docs.count()
    Sampling.temperatureMixture(docs, domainCol = "source",
      keyCol = "doc_id", totalRows = total)
      .select(col("doc_id"), col("source"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  val q126Sql: String =
    """WITH census AS (
      |  SELECT source AS domain, count(*)::BIGINT AS n
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT domain, n, CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) AS wt
      |  FROM census),
      |plan AS (
      |  SELECT domain, n,
      |    ((SELECT count(*) FROM documents) * wt)
      |      // (SELECT sum(wt) FROM w) AS need
      |  FROM w),
      |thresholds AS (
      |  SELECT domain, need // n AS full_ep,
      |    ((need % n) * 1000000) // n AS thr
      |  FROM plan),
      |hashed AS (
      |  SELECT d.doc_id, d.source,
      |    t.full_ep + CASE WHEN
      |      ('0x' || substr(md5('mix|' || d.doc_id::VARCHAR), 1, 15))::UBIGINT
      |        % 1000000 < t.thr THEN 1 ELSE 0 END AS n_copies
      |  FROM documents d JOIN thresholds t ON t.domain = d.source)
      |SELECT doc_id, source,
      |  unnest(generate_series(0, (n_copies - 1)::INT))::INT AS epoch
      |FROM hashed WHERE n_copies > 0 ORDER BY doc_id, epoch""".stripMargin

  /** Rendezvous-hash shard movement matrix: assign every doc under 3
    * nodes, then again with a 4th added, and publish the (before,
    * after) counts. HRW's point IS this output's shape — every row that
    * moved, moved TO the new node (~1/4 of the corpus); mod-sharding
    * would scatter ~3/4 of it. The oracle replays the per-node hash
    * argmax and the matrix. */
  def q138RendezvousShards(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Shards
    val docs = tp(spark, dir, "documents")
    val before = Shards.rendezvousShard(docs, "doc_id",
      Seq("node-a", "node-b", "node-c"), "node_before")
    val both = Shards.rendezvousShard(before, "doc_id",
      Seq("node-a", "node-b", "node-c", "node-d"), "node_after")
    both.groupBy(col("node_before"), col("node_after"))
      .agg(count(lit(1)).as("n"))
      .orderBy("node_before", "node_after")
  }

  val q138Sql: String =
    """WITH nodes3 AS (
      |  SELECT unnest(['node-a', 'node-b', 'node-c']) AS nd),
      |nodes4 AS (
      |  SELECT unnest(['node-a', 'node-b', 'node-c', 'node-d']) AS nd),
      |b AS (
      |  SELECT doc_id, nd, row_number() OVER (PARTITION BY doc_id ORDER BY
      |    ('0x' || substr(md5(nd || '|hrw|' || doc_id::VARCHAR), 1, 15))::UBIGINT
      |      DESC, nd DESC) AS rk
      |  FROM documents CROSS JOIN nodes3),
      |a AS (
      |  SELECT doc_id, nd, row_number() OVER (PARTITION BY doc_id ORDER BY
      |    ('0x' || substr(md5(nd || '|hrw|' || doc_id::VARCHAR), 1, 15))::UBIGINT
      |      DESC, nd DESC) AS rk
      |  FROM documents CROSS JOIN nodes4)
      |SELECT b.nd AS node_before, a.nd AS node_after, count(*) AS n
      |FROM (SELECT doc_id, nd FROM b WHERE rk = 1) b
      |JOIN (SELECT doc_id, nd FROM a WHERE rk = 1) a USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- seeded epoch shuffle ---------------------------------------------

  /** Epoch-seeded deterministic shuffle: every doc addressed by (shard,
    * pos) under the epoch-1 hash order. Reading shards in order yields
    * the epoch's reproducible global sample order; a different seed
    * string is a different epoch permutation. */
  def q117SeededShuffle(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Shards
    Shards.seededShuffle(tp(spark, dir, "documents"), "doc_id",
      numShards = 8, seed = "epoch1")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  val q117Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5('epoch1|' || doc_id::VARCHAR), 1, 15))::UBIGINT
      |      AS hv
      |  FROM documents)
      |SELECT doc_id, (hv % 8)::INT AS shard,
      |  ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
      |FROM h ORDER BY doc_id""".stripMargin

  /** Count–min sketch frequency estimation, the full arc: build a 4×32
    * sketch over corpus tokens (width deliberately small so collisions
    * genuinely fire at this scale), probe the exact top-20 tokens, and
    * publish estimate vs truth. The oracle replays hashing, the sketch
    * grid, and the min-of-rows probe — proving the overestimate-only
    * guarantee (`cms_est ≥ exact_ct`, every row) cross-engine. */
  def q125CmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val toks = tp(spark, dir, "documents").select(
      explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
        .as("token"))
    val sketch = Sketches.cmsBuild(toks, "token", depth = 4, width = 32)
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_ct"))
      .orderBy(col("exact_ct").desc, col("token").asc).limit(20)
    Sketches.cmsEstimate(sketch, top, "token", depth = 4, width = 32)
      .select(col("token"), col("exact_ct"), col("cms_est"),
        (col("cms_est") - col("exact_ct")).as("overestimate"))
      .orderBy(col("exact_ct").desc, col("token"))
  }

  val q125Sql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(
      |    regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')) AS token
      |  FROM documents),
      |census AS (SELECT token, count(*)::BIGINT AS exact_ct FROM toks GROUP BY 1),
      |top AS (SELECT token, exact_ct FROM census ORDER BY exact_ct DESC, token LIMIT 20),
      |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |cells AS (
      |  SELECT r,
      |    (('0x' || substr(md5('cms' || r || '|' || token), 1, 15))::UBIGINT
      |      % 32)::BIGINT AS c
      |  FROM toks CROSS JOIN rows_),
      |sketch AS (SELECT r, c, count(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2),
      |probe AS (
      |  SELECT t.token, t.exact_ct, r,
      |    (('0x' || substr(md5('cms' || r || '|' || t.token), 1, 15))::UBIGINT
      |      % 32)::BIGINT AS c
      |  FROM top t CROSS JOIN rows_),
      |est AS (
      |  SELECT p.token, p.exact_ct,
      |    min(coalesce(s.cnt, 0))::BIGINT AS cms_est
      |  FROM probe p LEFT JOIN sketch s ON p.r = s.r AND p.c = s.c
      |  GROUP BY 1, 2)
      |SELECT token, exact_ct, cms_est, cms_est - exact_ct AS overestimate
      |FROM est ORDER BY exact_ct DESC, token""".stripMargin

  /** The C4 heuristic cleaning pass over synthesized pages (the q66/q102
    * discipline — the corpus is single-line, so pages are built
    * in-query): every page carries a good body, a too-short line and an
    * unterminated line (line-dropped); 1-in-4 a javascript notice
    * (line-dropped), 1-in-6 a lorem-ipsum filler (page-dropped), 1-in-8
    * code markup (page-dropped via brace), and 1-in-5 bodies have only
    * one sentence (page-dropped via min-sentences). The oracle replays
    * every rule including the reason precedence. */
  def q127C4Filters(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.C4Filters
    val body = when(col("doc_id") % 5 === 0, concat(col("text"), lit(".")))
      .otherwise(concat(col("text"),
        lit(". It has more detail here. It ends well.")))
    val page = concat_ws("\n",
      body,
      lit("short line."),
      lit("this line has no terminal punctuation"),
      when(col("doc_id") % 4 === 0,
        lit("please enable javascript to continue reading.")),
      when(col("doc_id") % 6 === 0,
        lit("lorem ipsum dolor sit amet consectetur.")),
      when(col("doc_id") % 8 === 0, lit("var config = { mode: 1 };")))
    val aug = tp(spark, dir, "documents").select(col("doc_id"), page.as("page"))
    C4Filters.clean(aug, "page")
      .select(col("doc_id"), col("n_lines_kept"), col("n_lines_dropped"),
        col("n_sentences"), col("reason"), col("kept"), col("cleaned"))
      .orderBy("doc_id")
  }

  val q127Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    text || CASE WHEN doc_id % 5 = 0 THEN '.'
      |      ELSE '. It has more detail here. It ends well.' END,
      |    'short line.',
      |    'this line has no terminal punctuation',
      |    CASE WHEN doc_id % 4 = 0
      |      THEN 'please enable javascript to continue reading.' END,
      |    CASE WHEN doc_id % 6 = 0
      |      THEN 'lorem ipsum dolor sit amet consectetur.' END,
      |    CASE WHEN doc_id % 8 = 0 THEN 'var config = { mode: 1 };' END) AS page
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, page, string_split(page, chr(10)) AS parts,
      |    list_filter(string_split(page, chr(10)), l ->
      |      regexp_matches(rtrim(l), '[.!?"]$')
      |      AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
      |            x -> x <> '')) >= 5
      |      AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS keptl
      |  FROM aug),
      |c AS (
      |  SELECT doc_id, page, len(keptl)::BIGINT AS n_lines_kept,
      |    (len(parts) - len(keptl))::BIGINT AS n_lines_dropped,
      |    array_to_string(keptl, chr(10)) AS cleaned
      |  FROM f),
      |s AS (
      |  SELECT doc_id, n_lines_kept, n_lines_dropped, cleaned,
      |    len(regexp_extract_all(cleaned, '[.!?]'))::BIGINT AS n_sentences,
      |    CASE WHEN contains(lower(page), 'lorem ipsum') THEN 'lorem_ipsum'
      |         WHEN contains(page, '{') THEN 'brace'
      |         WHEN len(regexp_extract_all(cleaned, '[.!?]')) < 3
      |           THEN 'too_few_sentences'
      |         ELSE 'ok' END AS reason
      |  FROM c)
      |SELECT doc_id, n_lines_kept, n_lines_dropped, n_sentences, reason,
      |  CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS kept,
      |  cleaned
      |FROM s ORDER BY doc_id""".stripMargin

  /** CMS-composed novelty scoring: each page carries two copies of a
    * doc-unique marker token (the q66 fixture discipline — the tiny
    * synthetic vocabulary has no naturally rare tokens), the corpus
    * builds one 4×1024 sketch, and every doc scores its rare-token
    * fraction map-side against the broadcast grid. The oracle replays
    * sketch, min-of-rows estimates, and per-doc fractions; ~540
    * distinct keys in 1024 columns means real collisions fire and the
    * overestimate direction is genuinely exercised. */
  def q134CmsNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val aug = tp(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" uniq"), col("doc_id"),
        lit(" uniq"), col("doc_id")).as("page"))
    Sketches.cmsNoveltyScore(aug, "doc_id", "page",
      depth = 4, width = 1024, rareMax = 2)
      .orderBy("doc_id")
  }

  /** q134 through the xxHash64 FAST tier — the production knob for the
    * hash-bound flat scan (the portable md5 tier costs ~8 digests per
    * token; xxHash64 is codegen'd and ~2.4× cheaper at 10×). Hash-
    * verified since r11: DuckDB has no xxHash64 built-in, but XXH64 is a
    * published integer algorithm (Collet 2012) and
    * [[OracleSqlGen.q145Sql]] replays Spark's seed-chained xxhash64
    * exactly in single-statement SQL (mod-2^64 HUGEINT arithmetic,
    * little-endian word folds, the avalanche as CTE steps) — a hard
    * oracle row replaces the old rows-only record. Kernel contracts
    * (overestimate guarantee, build/probe agreement, tier-mismatch
    * failure) stay spec-covered in DsirSketchSpec. */
  def q145CmsNoveltyFast(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val aug = tp(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" uniq"), col("doc_id"),
        lit(" uniq"), col("doc_id")).as("page"))
    Sketches.cmsNoveltyScore(aug, "doc_id", "page",
      depth = 4, width = 1024, rareMax = 2, portable = false)
      .orderBy("doc_id")
  }

  val q134Sql: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    text || ' uniq' || doc_id || ' uniq' || doc_id AS page
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(trim(lower(page)), '\s+'), x -> x <> '')) AS t
      |  FROM aug),
      |rows_ AS (SELECT unnest([0, 1, 2, 3]) AS r),
      |cells AS (
      |  SELECT r,
      |    (('0x' || substr(md5('cms' || r || '|' || t), 1, 15))::UBIGINT
      |      % 1024)::BIGINT AS c
      |  FROM toks CROSS JOIN rows_),
      |sketch AS (SELECT r, c, count(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2),
      |dist AS (SELECT DISTINCT t FROM toks),
      |probe AS (
      |  SELECT dist.t, rows_.r,
      |    (('0x' || substr(md5('cms' || rows_.r || '|' || dist.t), 1, 15))::UBIGINT
      |      % 1024)::BIGINT AS c
      |  FROM dist CROSS JOIN rows_),
      |estc AS (
      |  SELECT p.t, min(coalesce(s.cnt, 0))::BIGINT AS est
      |  FROM probe p LEFT JOIN sketch s ON p.r = s.r AND p.c = s.c
      |  GROUP BY 1),
      |sc AS (
      |  SELECT toks.doc_id, count(*)::BIGINT AS n_tokens,
      |    sum(CASE WHEN estc.est <= 2 THEN 1 ELSE 0 END)::BIGINT AS n_rare
      |  FROM toks JOIN estc ON toks.t = estc.t
      |  GROUP BY 1)
      |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
      |  coalesce(sc.n_rare, 0) AS n_rare,
      |  round(CASE WHEN coalesce(sc.n_tokens, 0) = 0 THEN 0
      |    ELSE sc.n_rare::DOUBLE / sc.n_tokens END, 6) AS novelty
      |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin

  // --- corpus-level duplicate-line removal ------------------------------

  /** C4/RefinedWeb boilerplate-line scrub. The corpus is single-line, so
    * multi-line "pages" are synthesized in-query (the q66 discipline):
    * every page gets a newsletter banner, 1-in-3 a share footer, 1-in-7 a
    * cookie notice — corpus-wide duplicates the operator must drop — plus
    * the doc's own unique body and a unique 1-in-5 promo line it must
    * keep, in original order. */
  def q102LineDedup(spark: SparkSession, dir: String): DataFrame = {
    val page = concat_ws("\n",
      lit("SUBSCRIBE to our newsletter"),
      col("text"),
      when(col("doc_id") % 3 === 0, lit("share this article on social media")),
      when(col("doc_id") % 5 === 0, concat(lit("promo code "), col("doc_id"))),
      when(col("doc_id") % 7 === 0, lit("cookie consent required")))
    val aug = tp(spark, dir, "documents").select(col("doc_id"), page.as("page"))
    Dedup.dropDuplicateLines(aug, "doc_id", "page")
      .select(col("doc_id"), col("n_lines_dropped"), col("page").as("cleaned"))
      .orderBy("doc_id")
  }

  /** Oracle: corpus-global line census, keep lines with count <= 1;
    * list_filter against the hot-line list reproduces order-preserving
    * reassembly without needing ordinality. */
  val q102Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    'SUBSCRIBE to our newsletter',
      |    text,
      |    CASE WHEN doc_id % 3 = 0 THEN 'share this article on social media' END,
      |    CASE WHEN doc_id % 5 = 0 THEN 'promo code ' || doc_id END,
      |    CASE WHEN doc_id % 7 = 0 THEN 'cookie consent required' END) AS page
      |  FROM documents),
      |hot AS (
      |  SELECT line FROM (
      |    SELECT unnest(string_split(page, chr(10))) AS line FROM aug)
      |  GROUP BY line HAVING count(*) > 1),
      |hl AS (SELECT coalesce(list(line), []::VARCHAR[]) AS h FROM hot)
      |SELECT a.doc_id,
      |  len(parts) - len(list_filter(parts, l -> NOT list_contains(hl.h, l)))
      |    AS n_lines_dropped,
      |  array_to_string(list_filter(parts, l -> NOT list_contains(hl.h, l)),
      |    chr(10)) AS cleaned
      |FROM (SELECT doc_id, string_split(page, chr(10)) AS parts FROM aug) a
      |CROSS JOIN hl ORDER BY doc_id""".stripMargin

  // --- within-document repeated-line removal ----------------------------

  /** RefinedWeb/MassiveText in-page line dedup: each synthesized page
    * carries nav chrome twice (always dropped once), its body twice
    * (dropped once), 1-in-3 a third chrome copy (dropped) vs a unique
    * promo line (kept), and two empty lines the `minChars=1` guard must
    * keep verbatim. Pure map-side scrub — no census, no shuffle. */
  def q106InDocLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val chrome = lit("MENU home about contact")
    val page = concat_ws("\n",
      chrome, col("text"), chrome,
      when(col("doc_id") % 3 === 0, chrome)
        .otherwise(concat(lit("promo "), col("doc_id"))),
      col("text"), lit(""), lit(""))
    val aug = tp(spark, dir, "documents").select(col("doc_id"), page.as("page"))
    Dedup.dropRepeatedLinesWithin(aug, "page", minChars = 1)
      .select(col("doc_id"), col("n_lines_dropped"), col("page").as("cleaned"))
      .orderBy("doc_id")
  }

  /** Oracle: keep-first filter with the same 1-based first-index test
    * (Spark's 0-based lambda index + 1 ≡ DuckDB's 1-based index). */
  val q106Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, concat_ws(chr(10),
      |    'MENU home about contact', text, 'MENU home about contact',
      |    CASE WHEN doc_id % 3 = 0 THEN 'MENU home about contact'
      |         ELSE 'promo ' || doc_id END,
      |    text, '', '') AS page
      |  FROM documents),
      |p AS (SELECT doc_id, string_split(page, chr(10)) AS parts FROM aug),
      |k AS (SELECT doc_id, parts,
      |  list_filter(parts, (l, i) -> len(l) < 1 OR list_position(parts, l) = i)
      |    AS kept
      |  FROM p)
      |SELECT doc_id, len(parts) - len(kept) AS n_lines_dropped,
      |  array_to_string(kept, chr(10)) AS cleaned
      |FROM k ORDER BY doc_id""".stripMargin

  // --- exact-substring dedup (Lee et al. 2022 ExactSubstr) --------------

  /** Corpus-global exact-substring scrub: every 50-char window sampled at
    * stride 10 that repeats anywhere in the corpus is cut from all but
    * its first occurrence, overlapping cuts merged into maximal spans.
    * The synthetic corpus carries real cross-doc repeats (545 duplicated
    * windows at sf0.01), so the query exercises census, keeper election,
    * island merge, and reconstruction on natural data — no augmentation
    * needed. */
  def q113SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSpans(
      tp(spark, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", windowLen = 50, stride = 10)
      .select(col("doc_id"), col("clean_text"), col("n_spans"),
        col("removed_chars"))
      .orderBy("doc_id")

  /** Oracle keys the census on the window SUBSTRING itself (the Spark
    * side keys on a 128-bit hash pair — identical output absent a
    * 2^-128-scale collision, which would surface as a hash mismatch
    * here). Island merge and reconstruction replay via the same
    * gaps-and-islands windowing. */
  val q113Sql: String =
    """WITH d AS (SELECT doc_id, text FROM documents),
      |wins AS (
      |  SELECT doc_id, i AS pos, substr(text, i + 1, 50) AS w
      |  FROM d, LATERAL (SELECT unnest(generate_series(0,
      |    CAST(length(text) AS INT) - 50, 10)) AS i) t
      |  WHERE length(text) >= 50),
      |census AS (
      |  SELECT w, count(*) AS cnt, min(doc_id * 4294967296 + pos) AS keeper
      |  FROM wins GROUP BY w),
      |removals AS (
      |  SELECT doc_id, pos FROM wins JOIN census USING (w)
      |  WHERE cnt > 1 AND doc_id * 4294967296 + pos <> keeper),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > coalesce(max(pos + 50) OVER (
      |      PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |    THEN 1 ELSE 0 END AS newisl
      |  FROM removals),
      |isl2 AS (
      |  SELECT doc_id, pos,
      |    sum(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      |  FROM isl),
      |ivs AS (
      |  SELECT doc_id, min(pos) AS s, max(pos) + 50 AS e
      |  FROM isl2 GROUP BY doc_id, isl_id),
      |ivd AS (
      |  SELECT i.doc_id, i.s, i.e, d.text,
      |    coalesce(lag(i.e) OVER (PARTITION BY i.doc_id ORDER BY i.s), 0)
      |      AS prev_e
      |  FROM ivs i JOIN d USING (doc_id)),
      |rebuilt AS (
      |  SELECT doc_id,
      |    string_agg(substr(text, prev_e + 1, s - prev_e), '' ORDER BY s)
      |      || substr(max(text), max(e) + 1) AS clean_text,
      |    count(*) AS n_spans, CAST(sum(e - s) AS BIGINT) AS removed_chars
      |  FROM ivd GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.clean_text, d.text) AS clean_text,
      |  coalesce(r.n_spans, 0) AS n_spans,
      |  coalesce(r.removed_chars, 0) AS removed_chars
      |FROM d LEFT JOIN rebuilt r USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // --- BPE tokenizer training -------------------------------------------

  private val BpeMerges = 6

  /** First 6 learned BPE merges over the corpus (rank, pair, weighted
    * count). Deterministic: exact integer pair counts, total-order
    * tie-break — so the whole greedy merge sequence replays in SQL. */
  def q104BpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainTable(
      tp(spark, dir, "documents"), "text", numMerges = BpeMerges)
      .orderBy("merge_rank")

  /** Oracle: the merge loop unrolled as generated CTE rounds. Each round
    * censuses adjacent symbol pairs weighted by word frequency, picks the
    * winner by (count DESC, pair-string ASC), and applies it with the
    * delimiter-string replace trick: symbols joined by DOUBLE chr(31)
    * with single chr(31) ends makes `replace` consume exactly the
    * greedy left-to-right non-overlapping occurrences the sequential
    * algorithm merges (shared-boundary repeats like "a a a" included). */
  val q104Sql: String = {
    val d = "chr(31)"
    val rounds = (0 until BpeMerges).map { r =>
      s"""p$r AS (
         |  SELECT s AS pair, sum(freq)::BIGINT AS cnt FROM (
         |    SELECT freq, unnest([sym[i] || chr(1) || sym[i+1]
         |                         for i in range(1, len(sym))]) AS s
         |    FROM w$r WHERE len(sym) >= 2)
         |  GROUP BY 1),
         |t$r AS (
         |  SELECT pair, split_part(pair, chr(1), 1) AS l,
         |    split_part(pair, chr(1), 2) AS r, cnt
         |  FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |w${r + 1} AS (
         |  SELECT string_split(
         |      trim(replace($d || array_to_string(sym, $d || $d) || $d,
         |                   $d || t.l || $d || $d || t.r || $d,
         |                   $d || t.l || t.r || $d), $d),
         |      $d || $d) AS sym, freq
         |  FROM w$r, t$r AS t)""".stripMargin
    }.mkString(",\n")
    val finalSelect = (0 until BpeMerges).map(r =>
      s"SELECT $r AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_count FROM t$r")
      .mkString("\nUNION ALL ")
    s"""WITH toks AS (
       |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                     x -> x <> '') AS w
       |  FROM documents),
       |wf AS (
       |  SELECT t AS word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
       |w0 AS (
       |  SELECT [word[i] for i in range(1, length(word) + 1)] || ['</w>'] AS sym,
       |    freq
       |  FROM wf),
       |$rounds
       |$finalSelect
       |ORDER BY merge_rank""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_token_stats" -> q30TokenStats _,
    "q31_lang_id" -> q31LangId _,
    "q32_exact_dedup" -> q32ExactDedup _,
    "q33_minhash_sigs" -> q33MinhashSigs _,
    "q34_lsh_near_dups" -> q34NearDups _,
    "q35_simhash" -> q35Simhash _,
    "q75_incremental_neardup" -> q75IncrementalNearDedup _,
    "q76_drop_near_dups" -> q76DropNearDups _,
    "q78_neardup_clusters" -> q78NearDupClusters _,
    "q79_winnowing" -> q79Winnowing _,
    "q147_winnowing_fast" -> q147WinnowingFast _,
    "q148_pmi_collocations" -> q148PmiCollocations _,
    "q197_llr_collocations" -> q197Llr _,
    "q149_keywords" -> q149Keywords _,
    "q150_hll_distinct" -> q150HllDistinct _,
    "q151_heavy_hitters" -> q151HeavyHitters _,
    "q152_bigram_diversity" -> q152BigramDiversity _,
    "q153_bleu" -> q153Bleu _,
    "q185_rouge" -> q185Rouge _,
    "q158_containment" -> q158Containment _,
    "q166_stemmed_census" -> q166StemmedCensus _,
    "q167_fuzzy_dups" -> q167FuzzyDups _,
    "q171_readability" -> q171Readability _,
    "q36_multimodal_meta" -> q36Multimodal _,
    "q37_frame_sample" -> q37FrameSample _,
    "q38_resize" -> q38Resize _,
    "q39_ocr_roundtrip" -> q39OcrRoundtrip _,
    "q45_audio_meta" -> q45AudioMeta _,
    "q46_audio_rms" -> q46AudioRms _,
    "q47_video_meta" -> q47VideoMeta _,
    "q48_video_frames" -> q48VideoFrames _,
    "q57_sample_split" -> q57SampleSplit _,
    "q58_stratified_quota" -> q58StratifiedQuota _,
    "q162_weighted_sample" -> q162WeightedSample _,
    "q100_mixture_sample" -> q100MixtureSample _,
    "q101_shard_assign" -> q101ShardAssign _,
    "q125_cms_heavy_hitters" -> q125CmsHeavyHitters _,
    "q127_c4_filters" -> q127C4Filters _,
    "q134_cms_novelty" -> q134CmsNovelty _,
    "q145_cms_novelty_fast" -> q145CmsNoveltyFast _,
    "q138_rendezvous_shards" -> q138RendezvousShards _,
    "q126_temperature_mix" -> q126TemperatureMix _,
    "q102_line_dedup" -> q102LineDedup _,
    "q104_bpe_merges" -> q104BpeMerges _,
    "q106_indoc_line_dedup" -> q106InDocLineDedup _,
    "q113_substring_dedup" -> q113SubstringDedup _,
    "q117_seeded_shuffle" -> q117SeededShuffle _,
    "q118_leakage_safe_split" -> q118LeakageSafeSplit _,
    "q121_source_dup_matrix" -> q121SourceDupMatrix _)

  val oracles: Map[String, String] = Map(
    "q30_token_stats" -> q30Sql,
    "q31_lang_id" -> q31Sql,
    "q32_exact_dedup" -> q32Sql,
    "q33_minhash_sigs" -> q33Sql,
    "q34_lsh_near_dups" -> q34Sql,
    "q35_simhash" -> q35Sql,
    "q75_incremental_neardup" -> q75Sql,
    "q76_drop_near_dups" -> q76Sql,
    "q78_neardup_clusters" -> q78Sql,
    "q79_winnowing" -> q79Sql,
    "q148_pmi_collocations" -> q148Sql,
    "q197_llr_collocations" -> q197Sql,
    "q149_keywords" -> q149Sql,
    "q150_hll_distinct" -> q150Sql,
    "q151_heavy_hitters" -> q151Sql,
    "q152_bigram_diversity" -> q152Sql,
    "q153_bleu" -> q153Sql,
    "q185_rouge" -> q185Sql,
    "q158_containment" -> q158Sql,
    "q167_fuzzy_dups" -> q167Sql,
    "q171_readability" -> q171Sql,
    "q36_multimodal_meta" -> q36Sql,
    "q37_frame_sample" -> q37Sql,
    "q38_resize" -> q38Sql,
    "q39_ocr_roundtrip" -> q39Sql,
    "q45_audio_meta" -> q45Sql,
    "q46_audio_rms" -> q46Sql,
    "q47_video_meta" -> q47Sql,
    "q48_video_frames" -> q48Sql,
    "q57_sample_split" -> q57Sql,
    "q58_stratified_quota" -> q58Sql,
    "q162_weighted_sample" -> q162Sql,
    "q100_mixture_sample" -> q100Sql,
    "q101_shard_assign" -> q101Sql,
    "q125_cms_heavy_hitters" -> q125Sql,
    "q127_c4_filters" -> q127Sql,
    "q134_cms_novelty" -> q134Sql,
    "q138_rendezvous_shards" -> q138Sql,
    "q126_temperature_mix" -> q126Sql,
    "q102_line_dedup" -> q102Sql,
    "q104_bpe_merges" -> q104Sql,
    "q106_indoc_line_dedup" -> q106Sql,
    "q113_substring_dedup" -> q113Sql,
    "q117_seeded_shuffle" -> q117Sql,
    "q118_leakage_safe_split" -> q118Sql,
    "q121_source_dup_matrix" -> q121Sql,
    // r11: the three formerly oracle-exempt FAST-tier arms, replayed
    // exactly in single-statement DuckDB SQL (mod-2^64 HUGEINT
    // arithmetic / the full Porter rule chain) — see OracleSqlGen
    "q145_cms_novelty_fast" -> OracleSqlGen.q145Sql,
    "q147_winnowing_fast" -> OracleSqlGen.q147Sql,
    "q166_stemmed_census" -> OracleSqlGen.q166Sql)
}
