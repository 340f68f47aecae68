package graft.rag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.Parallelism

/** Okapi BM25 — the industry-default lexical ranker (Robertson &
  * Walker's probabilistic term weighting; what Lucene/Elasticsearch
  * score with), beside [[SparseIndex]]'s TF-IDF cosine and
  * [[PhraseIndex]]'s exact matching:
  *
  *   score(q,d) = Σ_t  idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
  *   idf(t)     = ln( (N − df + 0.5)/(df + 0.5) + 1 )
  *
  * Cross-engine determinism, the [[graft.operators.LanguageModel]]
  * discipline: each (term, doc) contribution is ONE fixed IEEE chain
  * (dl/avgdl computed as (dl·N)/Σdl so no pre-divided average floats
  * around), rounded ONCE to integer micro, and per-document
  * accumulation is exact integer addition — the oracle replays the
  * identical chain and must match every score to the micro.
  *
  * Scale shape: the model is two censuses (postings with tf, per-term
  * df) — map-side combined, text never shuffles; a query batch joins
  * ONLY its own terms' postings (selectivity does the work), then one
  * (query, doc) integer aggregation and a per-query top-k window.
  */
object Bm25 {

  final case class Index(postings: DataFrame, docLens: DataFrame,
                         df: DataFrame, nDocs: Long, sumLen: Long)

  /** Build the BM25 statistics over `docs(idCol, textCol)`.
    *
    * PRECONDITION: one input row per `idCol` value — each ROW posts as
    * its own document (duplicate-id rows count separately in df; their
    * scores sum), per SparseIndex.termPostings's in-row contract. Dedup
    * first if ids can repeat.
    *
    * r12: term frequencies aggregate WITHIN the row (the native
    * term_counts kernel), so the postings census needs NO exchange at
    * all — and the per-doc length rides each posting row, which lets
    * [[search]] skip the row-scale docLens join entirely (the doc-length
    * table no longer shuffles at query time; it survives only for the
    * N/Σdl totals and the public Index shape). */
  def build(docs: DataFrame, idCol: String, textCol: String): Index = {
    val toks = docs.select(col(idCol).as("doc"),
      coalesce(TextFunctions.tokens(lower(col(textCol))),
        array().cast("array<string>")).as("__graft_w"))
    val lens = Parallelism.stage(toks.select(col("doc"),
      size(col("__graft_w")).cast("long").as("dl")))
    val postings = Parallelism.stage {
      val (posted, _) = SparseIndex.termPostings(docs, idCol, textCol)
      posted.select(col("__graft_term").as("term"),
        col("__graft_pid").as("doc"), col("__graft_cnt").as("tf"),
        col("__graft_len").as("dl"))
    }
    val dfTable = Parallelism.stage(
      postings.groupBy(col("term"))
        .agg(count(lit(1)).as("df")))
    val totals = lens.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    Index(postings, lens, dfTable, totals.getLong(0),
      Option(totals.get(1)).fold(0L)(_.asInstanceOf[Long]))
  }

  /** Rank `queries(queryIdCol, queryTextCol)` against the index:
    * (query_id, rank, doc_id, score) top-k per query, ties toward the
    * smaller doc id. k1/b are the universal defaults. */
  def search(index: Index, queries: DataFrame, queryIdCol: String,
             queryTextCol: String, k: Int, k1: Double = 1.2,
             b: Double = 0.75): DataFrame = {
    require(index.nDocs > 0 && index.sumLen > 0, "empty index")
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(TextFunctions.tokens(lower(col(queryTextCol)))).as("term"))
      .distinct() // duplicated query terms score once, the Lucene default
    val n = lit(index.nDocs.toDouble)
    val sl = lit(index.sumLen.toDouble)
    // ONE IEEE chain per (term, doc): ln((N-df+0.5)/(df+0.5)+1) *
    // (tf*(k1+1)) / (tf + k1*(1-b + b*(dl*N)/sumLen)), then ONE rounding
    val idf = log((n - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val term = idf * (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * (dlD * n) / sl))
    // dl rides the postings rows (build r12), so no docLens join — the
    // only row-scale relation a query touches is its own terms' postings
    val scored = qterms
      .join(index.postings, Seq("term"))
      .join(index.df, Seq("term"))
      .withColumn("__graft_micro", round(term * 1e6, 0).cast("long"))
      .groupBy(col("query_id"), col("doc"))
      .agg(sum(col("__graft_micro")).as("__graft_s"))
    graft.operators.Similarity.topKPerQuery(scored, "query_id", "__graft_s",
        "doc", k, "rank")
      .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
        round(col("__graft_s").cast("double") / 1e6, 6).as("score"))
  }
}
