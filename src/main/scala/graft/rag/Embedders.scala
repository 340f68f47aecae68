package graft.rag

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding operators (reference: ondine/knowledge/embedders.py:25-121 —
  * sentence-transformers local / API embedders, batched).
  *
  * The operator shape is the point: batched `mapPartitions` — the same
  * admission pattern as the LLM Invoke operator — so a real API/model
  * embedder plugs in by swapping `embedBatch`. The bundled deterministic
  * embedder hashes tokens into a fixed-dim bag-of-words projection and
  * L2-normalizes: stable across engines/executors, no model download, and
  * near-duplicate texts land near each other (token-overlap preserving),
  * so ANN-over-embeddings behaves realistically in tests.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embedBatch(texts: Seq[String]): Seq[Array[Float]]
}

final class HashingEmbedder(override val dim: Int = 64) extends Embedder {
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
    val v = new Array[Float](dim)
    if (t != null) {
      t.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { tok =>
        val h = graft.llm.MockLlmClient.md5Hex(tok)
        val idx = java.lang.Long.parseLong(h.substring(0, 8), 16).toInt % dim
        val sign = if ((java.lang.Long.parseLong(h.substring(8, 9), 16) & 1) == 0) 1f else -1f
        v(math.abs(idx)) += sign
      }
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      if (n > 0) (0 until dim).foreach(i => v(i) /= n)
    }
    v
  }
}

object Embedders {
  val BatchSize = 64

  /** Append an `embedding` column by batched partition-local embedding. */
  def withEmbedding(df: DataFrame, textCol: String,
                    embedder: Embedder,
                    outCol: String = "embedding"): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(outCol, ArrayType(FloatType), nullable = false)
    val at = inSchema.fieldIndex(textCol)
    df.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        val vecs = embedder.embedBatch(batch.map(r =>
          if (r.isNullAt(at)) null else r.getString(at)))
        batch.lazyZip(vecs).map((r, v) => Row.fromSeq(r.toSeq :+ v.toSeq))
      }
    }(Encoders.row(outSchema))
  }
}

/** Top-candidate reranking (reference: ondine/knowledge/reranker.py:24-157
  * — cross-encoder local / API rerank of search results). Keeps the
  * reference's shape: score the shortlist only, window top-k.
  *
  * The bundled scorer is a deterministic stand-in for the cross-encoder
  * with the property that matters: it scores the (query, doc) PAIR through
  * JOINT features — term coverage, ordered-bigram (phrase) agreement, and
  * match-position proximity — rather than comparing two independent
  * document representations. A bag-of-words retriever is blind to phrase
  * order and match position, so reranking genuinely reorders its output
  * (the reference's cross-encoder scores pairs jointly,
  * reranker.py:40-55; the r2 stand-in re-scored with the retriever's own
  * similarity and could never change the order).
  */
object Reranker {
  import graft.functions.TextFunctions.tokens

  /** Pairwise (query, doc) relevance in [0,1]:
    * 0.5 * coverage  — fraction of distinct query terms present in doc
    * 0.3 * bigram    — fraction of query ordered bigrams present in doc
    * 0.2 * proximity — 1/position of the earliest query-term hit
    * All integer-count arithmetic over token arrays (codegen'd built-ins,
    * no UDF), rounded at 6dp — an SQL oracle reproduces it exactly. */
  def pairScore(qtext: Column, dtext: Column): Column = {
    val qt = tokens(lower(qtext))
    val dt = tokens(lower(dtext))
    val qd = array_distinct(qt)
    val coverage = size(array_intersect(qd, array_distinct(dt))).cast("double") /
      greatest(size(qd), lit(1)).cast("double")
    def bigrams(a: Column) = array_distinct(
      zip_with(slice(a, lit(1), greatest(size(a) - 1, lit(0))),
        slice(a, lit(2), greatest(size(a) - 1, lit(0))),
        (x, y) => concat_ws(" ", x, y)))
    val qb = bigrams(qt)
    val bigram = size(array_intersect(qb, bigrams(dt))).cast("double") /
      greatest(size(qb), lit(1)).cast("double")
    val firstPos = array_min(filter(
      transform(qd, t => array_position(dt, t)), p => p > 0))
    val proximity = when(firstPos.isNull, lit(0.0))
      .otherwise(lit(1.0) / firstPos.cast("double"))
    round(coverage * 0.5 + bigram * 0.3 + proximity * 0.2, 6)
  }

  /** Rerank (query_id, id, text) candidates against query text.
    * Input: candidates (query_id, id) + corpus (id, text) + queries
    * (query_id, qtext). Output re-ranked top-k with rerank_score. */
  def rerank(candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
             k: Int): DataFrame = {
    // join strategy pinned, not estimated (guide §3.1): candidates are a
    // top-k shortlist (≤ k·|queries| rows by construction) and queries are
    // the query set — both orders of magnitude below any corpus, while the
    // corpus side may be 100 TB and must never shuffle for this attach.
    // Size ESTIMATES after the retriever's window/filter chain are
    // unknown-large, so without the hint the planner can pick a sort-merge
    // join that exchanges the corpus by id.
    val joined = corpus.select(col("id"), col("text"))
      .join(broadcast(candidates), "id")
      .join(broadcast(queries.select(col("query_id"), col("qtext"))), "query_id")
      .withColumn("rerank_score", pairScore(col("qtext"), col("text")))
    graft.operators.Similarity.topKPerQuery(joined, "query_id", "rerank_score",
        "id", k, "rank")
      .select(col("query_id"), col("rank"), col("id"), col("rerank_score"))
  }
}

/** Retrieval query transforms (reference: ondine/knowledge/query.py:25-208
  * — multi-query rephrasings, HyDE hypothetical answer, step-back
  * generalization; each is one LLM call made driver-side before the probe).
  */
object QueryTransforms {
  import graft.llm.LlmClient

  /** N rephrasings of the query (multi-query expansion). */
  def multiQuery(client: LlmClient, query: String, n: Int): Seq[String] =
    (1 to n).map { i =>
      client.invoke(s"Rephrase (variant $i) the search query: $query", None).text
    }

  /** HyDE: embed a hypothetical ANSWER instead of the question. */
  def hyde(client: LlmClient, query: String): String =
    client.invoke(s"Write a short passage answering: $query", None).text

  /** Step-back: generalize to a broader question first. */
  def stepBack(client: LlmClient, query: String): String =
    client.invoke(s"Generalize this question to a broader one: $query", None).text
}
