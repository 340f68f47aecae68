package graft.rag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.operators.Similarity

/** DataFrame-native sparse text search index — the Spark re-expression of
  * the reference's SQLite-FTS5 hybrid search core
  * (crates/ondine-core/src/evidence/store.rs:260-335, 522-617; RRF fusion
  * :674-698). Instead of a serialized index, the inverted index IS a
  * DataFrame of weighted postings — build is one explode + two aggregates,
  * probe is a join on term. At 100 TB: postings partition by term (the
  * classic shape), queries broadcast (query sets are small), and only
  * matching postings shuffle.
  *
  * Scoring: TF-IDF cosine.
  *   tf = count/|d|, idf = ln((N+1)/(df+1)) + 1.
  * Determinism for oracles: per-posting weights round at 12dp and CAST to
  * DECIMAL(38,12) — a 12dp-rounded double converts to the same decimal in
  * every engine — so the per-(query,doc) group-sum is exact decimal math,
  * immune to summation order.
  */
object SparseIndex {

  /** Shuffle-free postings front half shared by [[build]], [[Bm25]] and
    * [[graft.operators.Collocations.keywords]]: one in-row term_counts
    * pass yields (__graft_pid, __graft_term, __graft_cnt, __graft_len)
    * rows — term frequency AND document length with zero exchanges —
    * plus the vocab-sized document-frequency census (count(*) over
    * per-doc-deduped rows; countDistinct's per-group hash sets are
    * unnecessary).
    *
    * CONTRACT: one input row per document id. The in-row aggregation
    * treats every ROW as its own document, so duplicate-id rows post
    * independently (each counts in df; norms sum across them); the
    * retired groupBy(id, term) build instead merged duplicate-id rows
    * into one logical document. All in-repo callers feed id-unique
    * frames (the parquet tables' keys). */
  private[graft] def termPostings(docs: DataFrame, idCol: String,
                                  textCol: String): (DataFrame, DataFrame) = {
    val posted = docs
      .select(col(idCol).as("__graft_pid"),
        tokens(lower(col(textCol))).as("__graft_toks"))
      .select(col("__graft_pid"),
        size(col("__graft_toks")).cast("long").as("__graft_len"),
        explode(graft.functions.Expressions.term_counts(col("__graft_toks")))
          .as("__graft_tc"))
      .select(col("__graft_pid"),
        col("__graft_tc.term").as("__graft_term"),
        col("__graft_tc.cnt").as("__graft_cnt"), col("__graft_len"))
    val df_ = posted.groupBy("__graft_term")
      .agg(count(lit(1)).as("__graft_df"))
    (posted, df_)
  }

  /** Builds the index frames. PRECONDITION: one input row per `idCol`
    * value — each ROW posts as its own document (duplicate-id rows count
    * separately in df and their norms/scores sum), per
    * [[termPostings]]'s in-row aggregation contract. Dedup first
    * (e.g. `dropDuplicates(idCol)`) if ids can repeat. */
  def build(docs0: DataFrame, idCol: String, textCol: String): SparseIndexFrames = {
    val docs = graft.ops.Parallelism.ensure(docs0)
    // corpus size off the PRE-repartition frame: ensure() may have added
    // a round-robin exchange, and counting through it pays scan+shuffle+
    // agg where docs0.count() is a straight scan-count (identical value —
    // repartition preserves cardinality; r15, guide §2.4 "remove shuffles
    // outright")
    val n = docs0.count()
    // r12: term frequencies aggregate WITHIN the row (native term_counts
    // kernel via termPostings), so the postings relation is narrow until
    // the ONE shuffle that matters — the vocab-sized document-frequency
    // census, whose groupBy(term) partitioning is exactly the index's
    // serving layout. The retired shape (buildDeclarative below,
    // spec-compared) paid a row-scale groupBy(id, term) plus TWO
    // row-scale joins (doc length by id, df by term) for the same
    // postings; doc length now rides each exploded row — zero exchanges.
    // staged: postings, norms, AND the df census all read the one
    // materialized tokenize+term_counts pass instead of re-deriving it
    // (search consumes postings and norms — two full re-tokenizations
    // otherwise). The pre-r12 "nothing cached" measurement predates the
    // narrow shape; re-measured with stage (lineage truncation, not an
    // InMemoryRelation) on the term_counts build.
    val (posted0, _) = termPostings(docs, idCol, textCol)
    val posted = graft.ops.Parallelism.stage(
      posted0.select(col("__graft_pid").as("id"),
        col("__graft_term").as("term"), col("__graft_cnt").as("cnt"),
        col("__graft_len").as("len")))
    // Staging STOPS at `posted` (r15, measured twice): checkpointing the
    // weighted postings / df census as well looked like a §2.4
    // shared-subtree win (norms and the probe dots both re-derive the
    // weight join), but (a) same-host A/Bs read the decimal
    // serialize+write+read of the checkpoint at ≈ the cost of one
    // recompute, and (b) a checkpointed frame loses the child plan's size
    // estimate, which flipped search's norms join from broadcast to
    // SortMergeJoin (PlanSpec caught it) — strictly worse at every scale.
    val df_ = posted.groupBy("term").agg(count(lit(1)).as("df"))
    val postings = weightedPostings(posted, df_, n)
    val norms = postings
      .withColumn("w2", (col("w") * col("w")).cast("decimal(38,24)"))
      .groupBy("id").agg(sqrt(sum("w2").cast("double")).as("norm"))
    SparseIndexFrames(postings, norms, df_, n)
  }

  /** The weighted-postings composition over the staged token pass —
    * factored out so plan audits (PlanSpec) can assert the build's
    * exchange discipline on the un-staged plan. */
  private[graft] def weightedPostings(posted: DataFrame, df_ : DataFrame,
                                      n: Long): DataFrame =
    posted
      .join(df_, "term")
      .withColumn("w",
        round((col("cnt") / col("len")) *
          (log(lit((n + 1).toDouble) / (col("df") + 1)) + 1.0), 12)
          .cast("decimal(18,12)"))
      .select("id", "term", "w")

  /** The pre-r12 build — row-scale groupBy(id, term) + docLen/df joins.
    * Kept only as the parity oracle for the term_counts shape above
    * (RagSpec compares postings/norms/docFreqs frame-for-frame). */
  private[graft] def buildDeclarative(docs0: DataFrame, idCol: String,
                                      textCol: String): SparseIndexFrames = {
    val docs = graft.ops.Parallelism.ensure(docs0)
    val n = docs.count()
    val postings0 = docs
      .select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("cnt"))
    val docLen = postings0.groupBy("id").agg(sum("cnt").as("len"))
    val df_ = postings0.groupBy("term").agg(countDistinct("id").as("df"))
    val postings = postings0
      .join(docLen, "id")
      .join(df_, "term")
      .withColumn("w",
        round((col("cnt") / col("len")) *
          (log(lit((n + 1).toDouble) / (col("df") + 1)) + 1.0), 12)
          .cast("decimal(18,12)"))
      .select("id", "term", "w")
    val norms = postings
      .withColumn("w2", (col("w") * col("w")).cast("decimal(38,24)"))
      .groupBy("id").agg(sqrt(sum("w2").cast("double")).as("norm"))
    SparseIndexFrames(postings, norms, df_, n)
  }

  final case class SparseIndexFrames(postings: DataFrame, norms: DataFrame,
                                     docFreqs: DataFrame, corpusSize: Long)

  /** Top-k TF-IDF cosine search. `queries` carries (qidCol, qtextCol);
    * output: query_id, rank, id, score (6dp, ties broken by id).
    * `broadcastQueries` fits the interactive shape (few queries, huge
    * corpus); pass false when the query side is itself a large table
    * (e.g. per-row evidence retrieval) and let AQE pick the build side.
    *
    * PRECONDITION (same as [[build]]'s, r15): one input row per `qidCol`
    * value — each ROW is its own query. The query-side term frequencies
    * aggregate WITHIN the row (the term_counts kernel), which removes the
    * row-scale groupBy(query_id, term) exchange AND the qlen aggregate +
    * join the exploded shape paid (guide §2.4 — for the
    * broadcastQueries=false callers the query side is row-scale, so these
    * were two full shuffles of the query corpus). The search enforces
    * it: a `qidCol` value fed by two rows whose texts hold terms fails
    * the query with an error naming the value. */
  def search(index: SparseIndexFrames, queries: DataFrame,
             qidCol: String, qtextCol: String, k: Int,
             broadcastQueries: Boolean = true): DataFrame = {
    val n = index.corpusSize
    // in-row term counts: (query_id, term, cnt, qlen) with zero exchanges
    // — sum(cnt) over a query's terms equals its token count, so qlen
    // rides each row as size(toks) instead of a groupBy+join round-trip
    val qpost0 = queries
      .select(col(qidCol).as("query_id"),
        tokens(lower(col(qtextCol))).as("__graft_qtoks"))
      .select(col("query_id"),
        size(col("__graft_qtoks")).cast("long").as("qlen"),
        explode(graft.functions.Expressions.term_counts(col("__graft_qtoks")))
          .as("__graft_tc"))
      .select(col("query_id"), col("__graft_tc.term").as("term"),
        col("__graft_tc.cnt").as("cnt"), col("qlen"))
    // query weights use the INDEX's document frequencies (absent term ->
    // df 0), read from the build-time narrow aggregate — not re-derived
    // from the fully joined+weighted postings chain
    val df_ = index.docFreqs
    val weighted = qpost0
      .join(df_, Seq("term"), "left")
      .withColumn("w_q",
        round((col("cnt") / col("qlen")) *
          (log(lit((n + 1).toDouble) / (coalesce(col("df"), lit(0L)) + 1)) + 1.0), 12)
          .cast("decimal(18,12)"))
    val qpost = weighted.select("query_id", "term", "w_q")
    // the one-row-per-query precondition, checked inside the query-norm
    // aggregate the search pays anyway: one row's term counts sum to its
    // own qlen, so an id fed by two rows sums past either row's qlen
    val qnorm = weighted
      .withColumn("w2", (col("w_q") * col("w_q")).cast("decimal(38,24)"))
      .groupBy("query_id").agg(sqrt(sum("w2").cast("double")).as("__graft_qn"),
        (sum("cnt") === max("qlen")).as("__graft_one"))
      .select(col("query_id"), when(col("__graft_one"), col("__graft_qn"))
        .otherwise(raise_error(concat(
          lit(s"SparseIndex.search: more than one query row has $qidCol = "),
          col("query_id").cast("string"))))
        .as("qnorm"))

    // in the interactive shape the query side is small — broadcast it so
    // the postings (the 100 TB side) never shuffle for the probe join
    val qpostSide = if (broadcastQueries) broadcast(qpost) else qpost
    val qnormSide = if (broadcastQueries) broadcast(qnorm) else qnorm
    val dots = qpostSide.join(index.postings, "term")
      .withColumn("p", (col("w_q") * col("w")).cast("decimal(38,24)"))
      .groupBy("query_id", "id").agg(sum("p").as("dot"))
    val scored = dots
      .join(index.norms, "id")
      .join(qnormSide, "query_id")
      .withColumn("score",
        round(col("dot").cast("double") / (col("norm") * col("qnorm")), 6))
    Similarity.topKPerQuery(scored, "query_id", "score", "id", k, "rank")
      .select(col("query_id"), col("rank"), col("id"), col("score"))
  }

  /** Reciprocal-rank fusion of two rankings (k=60, the reference constant —
    * store.rs:674-698): rrf = Σ 1/(60+rank), missing side contributes 0.
    *
    * Shape (r15): union + one sum aggregation on (query_id, id) — the
    * former FULL OUTER join needed each side exchanged AND sorted for a
    * sort-merge join (full-outer cannot broadcast), i.e. two shuffles of
    * the rankings where fusion fundamentally needs one (guide §2.3
    * "aggregate before you shuffle"). Values are bit-identical to the
    * join shape: each (query_id, id) has ≤1 row per ranking (rankings are
    * row_number outputs), so the group sums exactly two terms (IEEE
    * addition of two doubles is commutative — order can't matter) or one
    * (x + 0.0 == x for the always-positive 1/(rrfK+rank)). */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, rrfK: Int = 60): DataFrame = {
    val contrib = lit(1.0) / (lit(rrfK) + col("rank"))
    val fused = a.select(col("query_id"), col("id"), contrib.as("_rrf_c"))
      .unionByName(b.select(col("query_id"), col("id"), contrib.as("_rrf_c")))
      .groupBy(col("query_id"), col("id"))
      .agg(round(sum(col("_rrf_c")), 9).as("rrf"))
    Similarity.topKPerQuery(fused, "query_id", "rrf", "id", k, "rank")
      .select(col("query_id"), col("rank"), col("id"), col("rrf"))
  }
}
