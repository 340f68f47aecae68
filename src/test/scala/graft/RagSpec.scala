package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.llm.MockLlmClient
import graft.ops.ResponseParser
import graft.rag._
import graft.run._
import graft.verify.ContextStore

class RagSpec extends SparkSpec {
  import spark.implicits._

  test("hashing embedder: deterministic, normalized, overlap-preserving") {
    val e = new HashingEmbedder(32)
    val Seq(a, b) = e.embedBatch(Seq("spark fast join", "spark fast join"))
    assert(a.toSeq == b.toSeq, "same text must embed identically")
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5, s"should be L2-normalized, got $norm")
    val Seq(near, far) = e.embedBatch(Seq("spark fast scan", "entirely other words"))
    def cos(x: Array[Float], y: Array[Float]) =
      x.lazyZip(y).map((p, q) => p.toDouble * q).sum
    assert(cos(a, near) > cos(a, far),
      "token-overlapping texts must be closer")
  }

  test("withEmbedding appends vectors partition-locally") {
    val df = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("id", "text")
    val out = Embedders.withEmbedding(df, "text", new HashingEmbedder(16))
    val rows = out.select("id", "embedding").collect()
    assert(rows.forall(_.getSeq[Float](1).size == 16))
  }

  test("rerank's prepared-side score equals pairScore on every pair") {
    val rnd = new scala.util.Random(41)
    val words = Vector("spark", "join", "data", "big", "query", "x", "y")
    def txt() = (1 to 1 + rnd.nextInt(12))
      .map(_ => words(rnd.nextInt(7))).mkString(" ")
    val corpus = (1L to 25L).map(i => (i, txt())).toDF("id", "text")
    val queries = (10L to 14L).map(i => (i, txt())).toDF("query_id", "qtext")
    val cands = (for (q <- 10L to 14L; d <- 1L to 25L) yield (q, d))
      .toDF("query_id", "id")
    val viaRerank = Reranker.rerank(cands, corpus, queries, k = 1000)
      .select("query_id", "id", "rerank_score")
      .as[(Long, Long, Double)].collect().toSeq
      .map { case (q, d, s) => (q, d) -> s }.toMap
    val viaPair = cands.join(corpus, "id").join(queries, "query_id")
      .select(col("query_id"), col("id"),
        Reranker.pairScore(col("qtext"), col("text")).as("s"))
      .as[(Long, Long, Double)].collect().toSeq
      .map { case (q, d, s) => (q, d) -> s }.toMap
    assert(viaRerank == viaPair)
  }

  test("reranker orders candidates by query-doc similarity") {
    val corpus = Seq((1L, "spark query optimization"),
      (2L, "cooking pasta recipes"), (3L, "spark join strategies"))
      .toDF("id", "text")
    // no stemming: use exact token overlap ("join strategies" hits doc 3)
    val queries = Seq((10L, "spark join")).toDF("query_id", "qtext")
    val cands = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("query_id", "id")
    val ranked = Reranker.rerank(cands, corpus, queries, k = 3)
      .select("rank", "id").as[(Int, Long)].collect().toMap
    assert(ranked(1) == 3L, "doc sharing most terms must rank first")
    assert(ranked(3) == 2L, "unrelated doc must rank last")
  }

  test("reranker reorders what a bag-of-words retriever cannot distinguish") {
    // docA has the identical token SET as the query (cosine 1.0 for any
    // bag-of-words scorer) but scrambled order; docB preserves the
    // phrases. A joint pair scorer must put docB first.
    val corpus = Seq(
      (1L, "systems data big"),
      (2L, "intro to big data systems")).toDF("id", "text")
    val queries = Seq((10L, "big data systems")).toDF("query_id", "qtext")
    val cands = Seq((10L, 1L), (10L, 2L)).toDF("query_id", "id")
    val byRank = Reranker.rerank(cands, corpus, queries, k = 2)
      .select("rank", "id", "rerank_score").as[(Int, Long, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byRank(1)._1 == 2L,
      s"phrase-preserving doc must outrank scrambled token-twin: $byRank")
    // retrieval-order sanity: TF-IDF cosine prefers the scrambled twin,
    // so the rerank genuinely CHANGED the order
    val cos = corpus.crossJoin(queries)
      .select(col("id"), TfIdf.tfidfCosine2(col("qtext"), col("text")).as("c"))
      .as[(Long, Double)].collect().toMap
    assert(cos(1L) > cos(2L), "precondition: BOW cosine prefers the twin")
  }

  test("query transforms call the client once each, deterministically") {
    val c = new MockLlmClient()
    val multi = QueryTransforms.multiQuery(c, "what is AQE", 3)
    assert(multi.size == 3 && multi.distinct.size == 3)
    assert(QueryTransforms.hyde(c, "q") ==
      MockLlmClient.md5Hex("Write a short passage answering: q"))
    assert(QueryTransforms.stepBack(c, "q") ==
      MockLlmClient.md5Hex("Generalize this question to a broader one: q"))
  }

  test("context store: store/search/ground/contradictions round-trip") {
    val dir = Files.createTempDirectory("graft_ctx").toString
    val store = new ContextStore(spark, dir)
    store.store(Seq(
      (1L, "the capital of france is paris", "Factual", "doc1", 3L),
      (2L, "spark uses catalyst for optimization", "Factual", "doc2", 1L))
      .toDF("claim_id", "text", "claim_type", "source_ref", "support_count"))
    val hits = store.search("capital of france", k = 1)
    assert(hits.select("claim_id").as[Long].head() == 1L)
    assert(store.ground("the capital of france is paris") > 0.9)
    assert(store.ground("unrelated nonsense entirely") < 0.3)
    store.addContradiction(1L, 2L)
    assert(store.contradictions.count() == 1)
  }

  test("typed structured-output parse lands typed fields, null on non-JSON") {
    val replies = Seq(
      (0L, """{"brand":"acme","price":9}""", false),
      (1L, """```json
             |{"brand":"zenith","price":12}
             |```""".stripMargin, false),
      (2L, "not json at all", false))
      .toDF("_row_index", "result", "skipped")
    val schema = StructType(Seq(
      StructField("brand", StringType), StructField("price", IntegerType)))
    val parsed = ResponseParser.parse(replies, OutputSpec(Seq("brand", "price"),
      responseFormat = ResponseFormat.Typed, typedSchema = Some(schema)))
    assert(parsed.schema("price").dataType == IntegerType)
    val byRow = parsed.select("_row_index", "brand", "price").collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(byRow(0L) == ((Some("acme"), Some(9))))
    assert(byRow(1L) == ((Some("zenith"), Some(12))))
    assert(byRow(2L) == ((None, None)))
  }

  test("semantic chunking groups sentences at similarity breaks") {
    val df = Seq((1L,
      "spark is fast. spark is distributed. cooking pasta needs water. " +
        "pasta tastes great.")).toDF("doc_id", "text")
    val chunks = Chunker.semanticChunks(df, "doc_id", "text", breakBelow = 0.2)
      .select("chunk").as[String].collect().toSeq
    assert(chunks.size >= 2, s"expected a topic break, got: $chunks")
    assert(chunks.exists(_.contains("spark is fast.")))
    assert(chunks.exists(_.contains("cooking pasta")))
  }

  test("knowledge store: ingest -> chunk -> index -> multi-variant search") {
    val docs = Seq(
      (1L, ("spark catalyst optimizer rules " * 30).trim),
      (2L, ("cooking italian pasta sauce " * 30).trim),
      (3L, ("catalyst expression codegen spark " * 30).trim))
      .toDF("doc_id", "text")
    val ks = KnowledgeStore.ingest(docs, "doc_id", "text",
      chunkSize = 40, overlap = 10)
    assert(ks.chunks.count() > 3, "long docs must chunk into windows")
    val hits = ks.search("spark catalyst", k = 3,
      client = Some(new MockLlmClient()), multiQueryN = 2)
      .collect()
    assert(hits.nonEmpty)
    // top hit must come from a spark doc (attribute via the chunks table)
    val topChunk = hits.head.getAs[Long]("chunk_id")
    val topDoc = ks.chunks.filter(col("chunk_id") === topChunk)
      .select("doc_id").as[Long].head()
    assert(Set(1L, 3L).contains(topDoc), s"top hit from doc $topDoc")
  }

  test("kb eval lands _kb_eval_* columns via the enrichment operator") {
    val df = Seq(("the sky is blue", "observed sky color: blue"))
      .toDF("answer", "context")
    val out = KbEval.evaluate(df, "answer", "context", new MockLlmClient())
    // mock replies md5 (not JSON) -> columns exist, values null
    assert(out.columns.contains("_kb_eval_faithfulness"))
    assert(out.columns.contains("_kb_eval_relevancy"))
    assert(out.columns.contains("_kb_eval_context_precision"))
  }

  test("observers receive lifecycle events; failures don't fail the run") {
    val collector = new CollectingObserver
    val boom = new Observer { def onEvent(e: PipelineEvent): Unit =
      throw new RuntimeException("observer bug") }
    val dispatcher = new ObserverDispatcher().register(boom).register(collector)
    val spec = PipelineSpec(
      dataset = DatasetSpec(Seq("text")),
      prompt = PromptSpec("O:{text}"),
      output = OutputSpec(Seq("out")))
    val r = new Enricher(spec, new MockLlmClient(),
      observers = dispatcher).enrich(Seq("x").toDF("text"))
    assert(r.quality.validRows == 1)
    import scala.jdk.CollectionConverters._
    val kinds = collector.events.asScala.map(_.getClass.getSimpleName).toSet
    assert(kinds.contains("RunStarted") && kinds.contains("RunCompleted"))
  }

  test("path ingestion: directory walk, html strip, csv flatten") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kb").toFile
    val sub = new java.io.File(dir, "sub"); sub.mkdirs()
    def w(f: java.io.File, content: String): Unit = {
      val fw = new java.io.FileWriter(f); fw.write(content); fw.close()
    }
    w(new java.io.File(dir, "a.txt"),
      "solar panels convert sunlight into electricity every day")
    w(new java.io.File(dir, "b.html"),
      "<html><style>p{color:red}</style><body><h1>Wind</h1>" +
        "<p>turbines &amp; kinetic energy</p></body></html>")
    w(new java.io.File(sub, "c.md"),
      "# Geothermal\nheat from the earth crust")
    w(new java.io.File(sub, "d.csv"), "col1,col2\nrows,cells")
    w(new java.io.File(dir, "skip.bin"), "binary noise")
    java.nio.file.Files.write(new java.io.File(sub, "e.pdf").toPath,
      graft.sources.Pdf.write("hydro dams store potential energy"))

    val docs = graft.sources.DocumentLoader.load(spark, dir.getAbsolutePath)
    val byExt = docs.select("ext", "text").as[(String, String)]
      .collect().toMap
    assert(byExt.keySet == Set("txt", "html", "md", "csv", "pdf"))
    assert(byExt("pdf") == "hydro dams store potential energy")
    assert(byExt("html") == "Wind turbines & kinetic energy")
    assert(byExt("csv").contains("col1 col2"))
    assert(byExt("md").contains("Geothermal"))

    val ks = KnowledgeStore.ingestPath(spark, dir.getAbsolutePath,
      chunkSize = 20, overlap = 0)
    val hits = ks.search("sunlight electricity solar", k = 2)
    assert(hits.count() >= 1)
    // best chunk comes from the solar document
    val bestChunk = hits.orderBy("rank").select("chunk_id")
      .as[Long].head()
    val chunkText = ks.chunks.filter(col("chunk_id") === bestChunk)
      .select("chunk").as[String].head()
    assert(chunkText.contains("solar"))
  }

  test("bm25 ranks rare matched terms above common ones, length-normalized") {
    import graft.rag.Bm25
    val docs = Seq(
      (1L, "zebra migration patterns in the wild"),
      (2L, "the the the the the the the the zebra"),
      (3L, "the cat sat on the mat"),
      (4L, "zebra zebra zebra zebra zebra zebra zebra zebra " +
        "and then a very long tail of filler words about nothing specific"))
      .toDF("id", "text")
    val idx = Bm25.build(docs, "id", "text")
    val qs = Seq((1L, "zebra")).toDF("qid", "qtext")
    val out = Bm25.search(idx, qs, "qid", "qtext", k = 10)
      .collect().map(r => r.getLong(2) -> (r.getInt(1), r.getDouble(3))).toMap
    assert(!out.contains(3L), "doc without the term must not rank")
    // tf saturation + length norm: the 8x-repetition long doc still wins
    // on raw tf, but scores sublinearly vs 8x a single occurrence
    assert(out(4L)._2 < 8 * out(1L)._2)
    // same tf=1: the shorter doc outranks the longer one
    assert(out.contains(1L) && out.contains(2L))
    assert(out(1L)._2 > out(2L)._2, s"length norm failed: $out")
    // duplicated query terms score once
    val dup = Bm25.search(idx, Seq((1L, "zebra zebra zebra"))
      .toDF("qid", "qtext"), "qid", "qtext", k = 10)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(dup === out.map { case (d, (_, s)) => d -> s })
  }

  test("r12 sparse build (term_counts kernel) equals the retired declarative build") {
    // the shuffle-free postings shape must reproduce the old
    // groupBy(id, term) + docLen/df joins frame-for-frame: postings
    // weights (exact decimals), norms (exact doubles — decimal group
    // sums are order-independent), document frequencies, corpus size
    val docs = Seq(
      (1L, "the quick the quick brown fox"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "Añejo café AÑEJO café the"),
      (5L, "zebra"),
      (6L, "the the the quick"))
      .toDF("id", "text")
    val a = SparseIndex.build(docs, "id", "text")
    val b = SparseIndex.buildDeclarative(docs, "id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(a.corpusSize === b.corpusSize)
    assert(canon(a.postings) === canon(b.postings))
    assert(canon(a.norms) === canon(b.norms))
    assert(canon(a.docFreqs) === canon(b.docFreqs))
    // and through search: identical ranked output on the same queries
    val qs = Seq((1L, "the quick café"), (2L, "zebra missingterm"))
      .toDF("qid", "qtext")
    val sa = SparseIndex.search(a, qs, "qid", "qtext", k = 10)
      .collect().map(_.toSeq).toSet
    val sb = SparseIndex.search(b, qs, "qid", "qtext", k = 10)
      .collect().map(_.toSeq).toSet
    assert(sa === sb)
  }

  test("sparse search rejects a query id fed by two rows") {
    val docs = Seq((1L, "spark join data"), (2L, "big query data"))
      .toDF("id", "text")
    val idx = SparseIndex.build(docs, "id", "text")
    // an empty twin adds no terms, so it cannot skew the scores
    val ok = Seq((1L, "spark data"), (1L, ""), (2L, "query"))
      .toDF("qid", "qtext")
    assert(SparseIndex.search(idx, ok, "qid", "qtext", k = 2).count() == 3)
    for (bq <- Seq(true, false)) {
      val twins = Seq((1L, "spark data"), (1L, "big query"), (2L, "query"))
        .toDF("qid", "qtext")
      val e = intercept[Exception](SparseIndex.search(idx, twins, "qid",
        "qtext", k = 2, broadcastQueries = bq).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("more than one query row has qid = 1")),
        s"broadcastQueries=$bq: ${e.getMessage}")
    }
  }

  test("r12 bm25 postings (term_counts kernel) equal the explode+groupBy census") {
    import graft.rag.Bm25
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "zebra zebra the quick"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "the cat the cat the"))
      .toDF("id", "text")
    val idx = Bm25.build(docs, "id", "text")
    val old = docs.select(col("id").as("doc"),
        explode(coalesce(TextFunctions.tokens(lower(col("text"))),
          array().cast("array<string>"))).as("term"))
      .groupBy("term", "doc").agg(count(lit(1)).as("tf"))
      .collect().map(_.toSeq).toSet
    assert(idx.postings.select("term", "doc", "tf")
      .collect().map(_.toSeq).toSet === old)
    // dl riding the postings equals the docLens relation it replaced
    val viaPostings = idx.postings.select("doc", "dl").distinct()
      .collect().map(_.toSeq).toSet
    val viaLens = idx.docLens.collect().map(_.toSeq).toSet
    // postings only cover docs WITH terms; docLens covers all docs
    assert(viaPostings.subsetOf(viaLens))
  }

  test("bm25 scores are independent of partitioning") {
    import graft.rag.Bm25
    def run(parts: Int) = {
      val docs = spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 200).map(i => (i.toLong, s"term${i % 17} filler common text")),
        parts)).toDF("id", "text")
      Bm25.search(Bm25.build(docs, "id", "text"),
        Seq((1L, "term3 common")).toDF("qid", "qtext"), "qid", "qtext", k = 20)
        .collect().map(r => (r.getLong(2), r.getInt(1), r.getDouble(3))).toSet
    }
    assert(run(1) === run(11))
  }
}
