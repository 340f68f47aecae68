package graft.rag

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Remote-API reranker (reference: ondine/knowledge/reranker.py:79-126
  * JinaReranker — POST model/query/documents/top_n to a rerank endpoint,
  * read back {index, relevance_score} pairs; works with the Jina/Cohere
  * wire shape). Driver-side HTTP like [[graft.verify.GraphContextStore]]:
  * rerank APIs are per-QUERY calls over an already-bounded shortlist
  * (top-N candidates), so this never rides an executor task.
  *
  * Degradation contract, identical to the reference (reranker.py:118-122):
  * a dead endpoint, a non-2xx reply, or an unparseable body returns the
  * input order truncated to k — a failing reranker NEVER fails retrieval.
  * Key resolution mirrors the reference's env fallback: explicit key,
  * else RERANK_API_KEY, and blank counts as absent.
  */
final class RemoteReranker(
    baseUrl: String,
    model: String = "jina-reranker-v2-base-multilingual",
    apiKey: Option[String] = None,
    timeoutMs: Long = 10000L) {

  import RemoteReranker._

  private val key: Option[String] =
    apiKey.filter(_.nonEmpty)
      .orElse(sys.env.get("RERANK_API_KEY").filter(_.nonEmpty))

  private lazy val http: HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(math.min(timeoutMs, 10000L)))
      .build()

  /** Rerank scored candidates against one query. Success: the remote's
    * relevance order, scores replaced (reranker.py:113-118). Failure of
    * any kind: input order, input scores, truncated to k. */
  def rerank(query: String, results: Seq[Scored], k: Int): Seq[Scored] = {
    if (results.isEmpty) return results
    remoteScores(query, results.map(_.text), k) match {
      case Some(scored) =>
        scored.flatMap { case (idx, score) =>
          // an out-of-range index from a misbehaving server is dropped,
          // not thrown — degradation covers partial garbage too
          if (idx >= 0 && idx < results.size)
            Some(results(idx).copy(score = score))
          else None
        }.sortBy(-_.score).take(k)
      case None => results.take(k)
    }
  }

  /** One POST; None = degrade. Body shape: Jina/Cohere rerank. */
  private def remoteScores(query: String, documents: Seq[String],
                           k: Int): Option[Seq[(Int, Double)]] =
    try {
      val body = mapper.createObjectNode()
      body.put("model", model)
      body.put("query", query)
      body.put("top_n", k)
      val docs = body.putArray("documents")
      documents.foreach(docs.add)

      val b = HttpRequest.newBuilder(URI.create(s"$baseUrl/v1/rerank"))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body), StandardCharsets.UTF_8))
      key.foreach(kk => b.header("Authorization", s"Bearer $kk"))
      val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2) None
      else {
        val root = mapper.readTree(resp.body())
        val items = root.path("results")
        if (!items.isArray) None
        else {
          val out = Seq.newBuilder[(Int, Double)]
          items.forEach { item =>
            if (item.has("index") && item.has("relevance_score"))
              out += ((item.get("index").asInt(),
                item.get("relevance_score").asDouble()))
          }
          Some(out.result())
        }
      }
    } catch {
      case _: InterruptedException =>
        Thread.currentThread().interrupt(); None
      case _: Exception => None // network/parse failure = degradation
    }

  /** DataFrame seam matching [[Reranker.rerank]]'s contract: same input
    * tables, same output schema (query_id, rank, id, rerank_score) — so a
    * remote reranker is a drop-in for the local joint scorer. Per QUERY:
    * remote scores when the endpoint answers; the LOCAL joint scorer
    * otherwise (the degradation the verdict asks for — never fewer
    * results because a SaaS was down). The shortlist is collected to the
    * driver: it is top-N-per-query by construction (bounded), and the
    * remote API is a per-query HTTP call either way. */
  def rerankFrame(candidates: DataFrame, corpus: DataFrame,
                  queries: DataFrame, k: Int): DataFrame = {
    val spark = candidates.sparkSession

    val shortlist = candidates
      .join(corpus.select(col("id"), col("text")), "id")
      .join(queries.select(col("query_id"), col("qtext")), "query_id")
      .select(col("query_id").cast("string"), col("id").cast("string"),
        col("text"), col("qtext"))
      .collect()

    val byQuery = shortlist.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    val remoteRows = Seq.newBuilder[(String, Int, String, Double)]
    val failedQueries = Seq.newBuilder[String]
    byQuery.foreach { case (qid, rows) =>
      val qtext = rows.head.getString(3)
      // deterministic input order (by id) so the degradation path and
      // retries are reproducible
      val docs = rows.map(r => Scored(r.getString(1), r.getString(2), 0.0))
        .sortBy(_.id).toSeq
      remoteScores(qtext, docs.map(_.text), k) match {
        case Some(scored) =>
          scored.flatMap { case (idx, s) =>
            if (idx >= 0 && idx < docs.size) Some((docs(idx).id, s)) else None
          }.sortBy { case (id, s) => (-s, id) }.take(k)
            .zipWithIndex.foreach { case ((id, s), i) =>
              remoteRows += ((qid, i + 1, id, s))
            }
        case None => failedQueries += qid
      }
    }

    import spark.implicits._
    val remote = remoteRows.result()
      .toDF("query_id", "rank", "id", "rerank_score")
    val failed = failedQueries.result()
    if (failed.isEmpty) remote
    else {
      // degrade per query to the local joint scorer — same schema
      val localPart = Reranker.rerank(
        candidates.filter(col("query_id").cast("string").isInCollection(failed)),
        corpus, queries, k)
        .select(col("query_id").cast("string"), col("rank"),
          col("id").cast("string"), col("rerank_score"))
      remote.unionByName(localPart)
    }
  }
}

object RemoteReranker {
  /** One scored candidate (the reference's SearchResult projection). */
  final case class Scored(id: String, text: String, score: Double)
  private val mapper = new ObjectMapper()
}
