package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.hash64

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k as a cross join + per-group window —
  * exact, O(Q×N), the right tool when Q is small (dedup probes, eval sets).
  * Scale path: sign-LSH bucketing — deterministic random hyperplanes from a
  * salted hash, so candidates share a bucket key and the cross join shrinks
  * to bucket-local joins; the 100 TB version broadcasts only the (tiny)
  * query set and shuffles corpus rows by bucket key once.
  *
  * Vector math uses `zip_with`/`aggregate` higher-order functions (codegen'd,
  * no UDF). Dot products accumulate left-to-right in DOUBLE, which is the
  * same order DuckDB's list functions use — scores are reproducible, and
  * outputs round to 6dp with (score, id) ordering so ranking is stable.
  *
  * (Reference seed: embedding cosine in crates/ondine-core/src/evidence/
  * store.rs:654-670 and dense top-k :289-307.)
  */
object Similarity {

  /** The id and vector columns of every table the operators here read. */
  val IdCol = "vec_id"
  val VecCol = "embedding"

  /** The per-query top-k tail every ranked search shares: number each
    * `query` group's rows by `score` descending, ties toward the smaller
    * `id`, into column `rank`, and keep ranks 1..k. Callers select and
    * alias their own output columns. */
  private[graft] def topKPerQuery(scored: DataFrame, query: String,
      score: String, id: String, k: Int, rank: String): DataFrame = {
    val w = Window.partitionBy(col(query)).orderBy(col(score).desc, col(id))
    scored.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** The stride-seed rule: with stride s, the ids 0, s, 2s, … below
    * count·s, for an id given as a SQL expression. */
  private def strideSeedRule(idSql: String, stride: Long,
                             count: Int): Column =
    expr(idSql) % stride === 0 && expr(s"$idSql div $stride") < count

  /** Stride-picked seeds `(centroid_id, centv)` of an `n`-row corpus: the
    * `count` vectors at ids 0, s, 2s, … for s = max(1, n / count). The
    * rule assumes dense 0-based ids (the common shape for vector tables,
    * and the rule the oracle reproduces). A sparse or hashed id space can
    * strand the filter empty — then the `count` smallest ids seed instead
    * (deterministic TakeOrdered), rather than silently returning zero
    * neighbors for every query. */
  private def strideSeeds(corpus: DataFrame, count: Int, n: Long): DataFrame = {
    def seeds(df: DataFrame) =
      df.select(col(IdCol).as("centroid_id"), col(VecCol).as("centv"))
    val strided = seeds(corpus.filter(
      strideSeedRule(IdCol, math.max(1L, n / count), count)))
    if (strided.isEmpty) seeds(corpus.orderBy(col(IdCol)).limit(count))
    else strided
  }

  /** An array cell of floats or doubles, read as doubles. */
  private def doubles(cell: Seq[Any]): Seq[Double] = cell.map {
    case f: java.lang.Float => f.doubleValue
    case d: java.lang.Double => d.doubleValue
    case x => x.asInstanceOf[Number].doubleValue
  }

  /** Left-to-right double-precision dot product of two float vectors.
    * Native one-pass kernel — same product/accumulation order and the
    * same null semantics as the aggregate(zip_with) form (spec-compared
    * bit-for-bit), without allocating the zipped array per pair. */
  def dot(a: Column, b: Column): Column =
    graft.functions.Expressions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    * queries/corpus: (IdCol, VecCol). Output: query_id, neighbor_id, rank,
    * sim (rounded 6dp). Self-matches excluded when ids collide. */
  def bruteForceTopK(queries: DataFrame, corpus0: DataFrame,
                     k: Int): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val q = queries.select(col(IdCol).as("query_id"), col(VecCol).as("qv"))
    val c = corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    topKPerQuery(scored, "query_id", "sim", "neighbor_id", k, "rank")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Deterministic pseudo-random hyperplane component for sign-LSH:
    * w(plane, dim) ∈ [-1, 1), derived from a salted hash so every engine
    * (and every executor) regenerates the identical plane. */
  def planeComponent(plane: Int, dim: Column): Column =
    (hash64(concat(lit(s"plane$plane|"), dim.cast("string")))
      .mod(20011L).cast("double") / 10005.5) - 1.0

  /** Sign-LSH bucket key: one bit per hyperplane = sign of <v, w_p>.
    * `tableSalt` selects an independent plane set (table t uses planes
    * t*numPlanes .. t*numPlanes+numPlanes-1); 0 = the single-table key.
    * r11: one native pass over a per-executor memoized plane table
    * ([[graft.functions.Expressions.lsh_bucket]]) — the declarative
    * fold re-derived each plane component (salted md5 + hex parse) per
    * ELEMENT per ROW inside interpreted lambdas; value-identical,
    * OperatorsSpec compares the forms. */
  def lshBucket(vec: Column, numPlanes: Int, tableSalt: Int = 0): Column =
    graft.functions.Expressions.lsh_bucket(vec, numPlanes, tableSalt)

  /** The retired declarative form, kept as the kernel's spec twin. */
  private[graft] def lshBucketDeclarative(vec: Column, numPlanes: Int,
                                          tableSalt: Int = 0): Column = {
    val bits = (0 until numPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, d) => x.cast("double") *
            planeComponent(tableSalt * numPlanes + p, d)),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Approximate top-k: candidates limited to the query's LSH bucket, then
    * exact cosine rank within bucket. Recall tunes with numPlanes (fewer
    * planes → bigger buckets → higher recall, more compute). */
  def lshTopK(queries: DataFrame, corpus0: DataFrame, k: Int,
              numPlanes: Int = 4): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val q = queries.select(col(IdCol).as("query_id"), col(VecCol).as("qv"),
      lshBucket(col(VecCol), numPlanes).as("bucket"))
    val c = corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv"),
      lshBucket(col(VecCol), numPlanes).as("bucket"))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    topKPerQuery(scored, "query_id", "sim", "neighbor_id", k, "rank")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Multi-table LSH top-k — the 100 TB recall path: L independent hash
    * tables (disjoint salted plane sets), candidates = the UNION of
    * per-table bucket matches, deduplicated BEFORE the exact cosine so a
    * pair colliding in several tables scores once. Recall rises as
    * 1-(1-p^b)^L per extra table while each table's join stays
    * bucket-local; vectors join back only for surviving candidates, so
    * the wide embedding column never rides through the bucket shuffle. */
  def lshTopKMultiTable(queries: DataFrame, corpus0: DataFrame, k: Int,
                        numPlanes: Int = 4,
                        numTables: Int = 3): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    def buckets(vec: Column): Column =
      array((0 until numTables).map(t => lshBucket(vec, numPlanes, t)): _*)
    val qb = queries.select(col(IdCol).as("query_id"),
      posexplode(buckets(col(VecCol))).as(Seq("tbl", "bucket")))
    val cb = corpus.select(col(IdCol).as("neighbor_id"),
      posexplode(buckets(col(VecCol))).as(Seq("tbl", "bucket")))
    val cands = qb.join(cb, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cands
      .join(queries.select(col(IdCol).as("query_id"), col(VecCol).as("qv")),
        "query_id")
      .join(corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv")),
        "neighbor_id")
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    topKPerQuery(scored, "query_id", "sim", "neighbor_id", k, "rank")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** IVF-flat approximate top-k — coarse quantization as the third ANN
    * path beside exact ([[bruteForceTopK]]) and sign-LSH ([[lshTopK]]):
    * `numCentroids` corpus vectors picked by deterministic id stride act
    * as flat centroids (reproducible across engines and executors — a
    * k-means fit would sharpen the lists but is a quality knob, not part
    * of the operator contract); every corpus vector joins the inverted
    * list of its nearest centroid, a query probes its `nProbe` nearest
    * lists, and the candidates rank by exact cosine.
    *
    * 100 TB shape: the centroid set is tiny and BROADCAST to both
    * assignment passes, so assignment is map-side dot products plus one
    * partial-aggregated argmax (`max_by`) shuffle keyed by vector id —
    * never a shuffle of the N×K cross product; the (query, cluster)
    * probe pairs broadcast to the corpus side, so the corpus is never
    * re-shuffled by cluster; vectors join back ids-first for surviving
    * candidates only, like the LSH paths. Recall tunes with
    * `nProbe / numCentroids`.
    *
    * The one driver-side action is a corpus `count()` to derive the
    * centroid stride; pass `corpusSize` when it is already known. */
  def ivfTopK(queries: DataFrame, corpus0: DataFrame, k: Int,
              numCentroids: Int = 8, nProbe: Int = 2,
              corpusSize: Option[Long] = None): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val n = corpusSize.getOrElse(corpus.count())
    ivfTopKWithCentroids(queries, corpus, k,
      strideSeeds(corpus, numCentroids, n), nProbe)
  }

  /** IVF-flat probing against a CALLER-SUPPLIED centroid table
    * `(centroid_id, centv)` — the seam that turns the stride-seeded
    * [[ivfTopK]] into a trained coarse quantizer: pass
    * [[KMeans]]-trained centroids (converted back to float space) and
    * the serving plan is unchanged — centroids broadcast, assignment
    * map-side, the corpus never re-shuffles by cluster. */
  def ivfTopKWithCentroids(queries: DataFrame, corpus0: DataFrame, k: Int,
      centroids: DataFrame, nProbe: Int): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val cents = broadcast(centroids)
    // nearest centroid per corpus vector: broadcast cross + argmax with a
    // (sim, -id) struct so ties break toward the smaller centroid id —
    // the same ORDER BY sim DESC, id ASC the oracle uses
    val assigned = corpus
      .select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv"))
      .crossJoin(cents)
      .withColumn("csim", cosine(col("cv"), col("centv")))
      .groupBy("neighbor_id")
      .agg(expr("max_by(centroid_id, struct(csim, -centroid_id))")
        .as("cluster"))
    val queryLists = topKPerQuery(queries
        .select(col(IdCol).as("query_id"), col(VecCol).as("qv"))
        .crossJoin(cents)
        .withColumn("csim", cosine(col("qv"), col("centv"))),
      "query_id", "csim", "centroid_id", nProbe, "prank")
      .select(col("query_id"), col("centroid_id").as("cluster"))
    // each neighbor lives in exactly one list, so (query, neighbor) pairs
    // are already unique — no dedup stage needed
    val cands = assigned.join(broadcast(queryLists), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val scored = cands
      .join(queries.select(col(IdCol).as("query_id"), col(VecCol).as("qv")),
        "query_id")
      .join(corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv")),
        "neighbor_id")
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    topKPerQuery(scored, "query_id", "sim", "neighbor_id", k, "rank")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Floor of [[autoCentroids]]: tiny corpora keep meaningful lists. */
  private val MinCentroids = 8

  /** Corpus-scaled IVF centroid count — the sqrt rule every IVF
    * deployment applies (list size ~sqrt(N) balances probe cost against
    * list-scan cost), floored at [[MinCentroids]]. Probe
    * ~sqrt(centroids) lists for the usual recall/cost balance. Like
    * [[autoPlanes]], this is the tuning knob a real deployment wires in;
    * the oracle query pins an explicit count so the inverted lists stay
    * engine-reproducible. */
  def autoCentroids(corpusSize: Long): Int =
    math.max(MinCentroids,
      math.ceil(math.sqrt(math.max(1L, corpusSize).toDouble)).toInt)

  /** Corpus-scaled sign-LSH plane count: `minPlanes` up to `anchorCorpus`
    * vectors, +1 plane per further corpus doubling — so expected bucket
    * occupancy stays pinned near anchorCorpus / 2^minPlanes (~31 with the
    * defaults) instead of growing with the data. A fixed plane count
    * turns the bucket-local pair join quadratic once the corpus outgrows
    * it (measured 19x cost for 10x data at the 10x bench point). */
  def autoPlanes(corpusSize: Long, anchorCorpus: Int = 500,
                 minPlanes: Int = 4): Int =
    minPlanes + math.max(0, math.ceil(
      math.log(math.max(1L, corpusSize).toDouble / anchorCorpus) /
        math.log(2)).toInt)

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold),
    * bucketed by sign-LSH so only bucket-local pairs are scored.
    *
    * 100 TB shape (same design as Dedup.nearDuplicatePairs): the bucket
    * join moves only (id, bucket) — vectors join back for surviving pairs
    * — and `maxBucketSize` caps degenerate buckets, whose pair count is
    * quadratic in bucket size (the 10x bench point measured the uncapped
    * all-pairs join at 19x cost for 10x data; a hot bucket at real scale
    * is a job-killer). The cap trades recall inside boilerplate-heavy
    * buckets, exactly like the MinHash path's cap. */
  def embeddingNearDupPairs(df0: DataFrame, threshold: Double,
                            numPlanes: Int = 4,
                            maxBucketSize: Int = 1000): DataFrame = {
    val df = graft.ops.Parallelism.ensure(df0)
    // (id, bucket) pairs staged eagerly across the census and the pair
    // join — stage, not persist, so no CacheManager entry pins per call
    // (see Parallelism.stage for the checkpoint rule)
    val ids = df.select(col(IdCol).as("id"),
      lshBucket(col(VecCol), numPlanes).as("bucket"))
      .transform(graft.ops.Parallelism.stage)
    // skew-safe cap: hot buckets drop via broadcast anti-join map-side
    // instead of all routing through one count-window reducer (see
    // Skew.dropHotBuckets)
    val capped = Skew.dropHotBuckets(ids, Seq("bucket"), maxBucketSize)
      .select(col("id"), col("bucket"))
    // one bucket per id (single table) -> bucket-local pairs are unique
    val pairs = capped.select(col("id").as("id_a"), col("bucket"))
      .join(capped.select(col("id").as("id_b"), col("bucket")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // hoist each vector's norm out of the pair stage: cosine per pair
    // would fold over both vectors three times (dot + 2 norms); with the
    // norm precomputed per VECTOR (barrier keeps it from re-inlining into
    // the pair expression) the pair stage is one dot fold plus a scalar
    // divide — identical operands, so results are bit-identical to the
    // unhoisted formula and the oracle is untouched
    val vecs = graft.ops.Parallelism.barrier(
      df.select(col(IdCol).as("id"), col(VecCol).as("v"))
        .withColumn("nrm", norm(col("v"))))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("sim",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Transitive SEMANTIC dedup clusters: connected components over the
    * confirmed embedding-cosine near-dup graph, `cluster_id` = min vec id
    * per component (singletons label themselves) — the embedding-space
    * complement of [[Dedup.nearDupClusters]], sharing its exact component
    * machinery ([[Dedup.clusterLabels]]: driver union-find, or
    * large-star/small-star contraction for graphs the driver does not
    * take). Keeping `id === cluster_id` drops exactly one representative
    * per semantic dup family — the curation rule for paraphrase/
    * translation mirrors that text-level shingles can't see. */
  def embeddingNearDupClusters(df0: DataFrame, threshold: Double,
                               numPlanes: Int = 4,
                               maxBucketSize: Int = 1000): DataFrame = {
    // no ensure here: embeddingNearDupPairs ensures internally, and the
    // ids projection below carries no per-row compute worth widening
    val pairs = embeddingNearDupPairs(df0, threshold, numPlanes,
      maxBucketSize)
    Dedup.clusterLabels(df0.select(col(IdCol)), IdCol, pairs)
  }

  /** Drop every row except one representative per semantic dup family —
    * the min-id member of each [[embeddingNearDupClusters]] component
    * (singletons survive untouched). CLUSTER-EXACT, unlike the text
    * side's deliberately greedy [[Dedup.dropNearDuplicates]]: a chain
    * A~B~C keeps exactly A here, where the greedy rule drops both B and
    * C. All input columns pass through. */
  def dropSemanticDuplicates(df0: DataFrame, threshold: Double,
                             numPlanes: Int = 4,
                             maxBucketSize: Int = 1000): DataFrame = {
    val keep = embeddingNearDupClusters(df0, threshold, numPlanes,
      maxBucketSize)
      .filter(col(IdCol) === col("cluster_id"))
      .select(col(IdCol))
    df0.join(keep, Seq(IdCol), "left_semi")
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup scoped INSIDE coarse
    * embedding clusters instead of over LSH buckets — the shape that made
    * semantic dedup tractable on LAION/web scale. Every vector is
    * assigned to its nearest of `numCentroids` stride-picked centroids
    * (the exact q44/IVF rule, broadcast, map-side, SQL-replayable);
    * pairwise cosine runs only WITHIN a cluster; components of the
    * τ-graph elect one survivor each. The paper keeps the member FARTHEST
    * from its centroid (lowest assignment cosine, the "least prototypical
    * keeps the most information" rule); ties break toward the smaller id.
    *
    * Scale shape: centroids broadcast (tiny); assignment is one map-side
    * pass; the only corpus shuffle is the cluster-keyed self-join, whose
    * pair work is Σ size² over clusters — bounded by [[autoCentroids]]'s
    * sqrt rule to ~N^1.5/numCentroids and hard-capped per cluster by
    * `maxClusterSize` via the salted hot-bucket census ([[Skew]]), so one
    * mega-cluster cannot go quadratic: capped-out clusters pass through
    * un-deduped (keep=1), the same recall-for-robustness trade as the LSH
    * bucket cap. Components use [[Dedup.clusterLabels]] (driver
    * union-find under its pair bound, large-star/small-star contraction
    * above it).
    *
    * Emits one row per input vector: (id, cluster, keep ∈ {0,1}).
    * Ref: /root/reference/crates/ondine-core/src/evidence/store.rs:289
    * has only brute-force dense search — this tier goes beyond the
    * reference per the build brief. */
  def semDeDup(df0: DataFrame, threshold: Double, numCentroids: Int = 8,
               maxClusterSize: Int = 1000,
               corpusSize: Option[Long] = None): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(df0)
    val n = corpusSize.getOrElse(corpus.count())
    val cents = broadcast(strideSeeds(corpus, numCentroids, n))
    // nearest-centroid assignment, argmax on the UNROUNDED cosine with
    // smaller-centroid tie-break (the q44 rule, engine-stable); the
    // winning similarity is kept 6dp-rounded for the keeper election
    val assigned = corpus
      .select(col(IdCol).as("id"), col(VecCol).as("v"))
      .crossJoin(cents)
      .withColumn("csim", cosine(col("v"), col("centv")))
      .groupBy("id")
      .agg(expr("max_by(centroid_id, struct(csim, -centroid_id))")
        .as("cluster"), round(max(col("csim")), 6).as("csimr"))
      .transform(graft.ops.Parallelism.stage)
    val capped = Skew.dropHotBuckets(assigned, Seq("cluster"), maxClusterSize)
      .select(col("id"), col("cluster"), col("csimr"))
    // cluster-local τ-graph on hoisted-norm cosine (bit-identical to the
    // unhoisted formula — see embeddingNearDupPairs)
    val vecs = graft.ops.Parallelism.barrier(
      corpus.select(col(IdCol).as("id"), col(VecCol).as("v"))
        .withColumn("nrm", norm(col("v"))))
    val pairs = capped.select(col("id").as("id_a"), col("cluster"))
      .join(capped.select(col("id").as("id_b"), col("cluster")), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("sim",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.clusterLabels(capped.select(col("id")), "id", pairs)
      .select(col("id"), col("cluster_id").as("comp"))
    val withC = comps.join(capped, Seq("id"))
    val keepers = withC.groupBy(col("comp"))
      .agg(expr("min_by(id, struct(csimr, id))").as("keeper"))
    val flags = withC.join(keepers, Seq("comp"))
      .select(col("id"), col("cluster"),
        (col("id") === col("keeper")).cast("int").as("keep"))
    // capped-out hot clusters pass through un-deduped
    val hot = assigned.join(capped.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("cluster"), lit(1).as("keep"))
    flags.unionByName(hot).withColumnRenamed("id", IdCol)
  }

  // --- int8-quantized similarity — the memory-bound scale path -----------

  /** Per-vector symmetric int8 quantization: code_i = round(v_i·127/max|v|),
    * one byte per dimension — 4× smaller than float32, the standard
    * memory-bound ANN trade (FAISS SQ8). A zero vector quantizes to
    * all-zero codes. Rounding is half-away-from-zero in both Spark and
    * DuckDB, so codes are engine-reproducible. r11: one native pass
    * ([[graft.functions.Expressions.int8_codes]]) — the declarative
    * max-fold + per-element round chain ran BOTH its lambdas interpreted
    * per element; value-identical, OperatorsSpec compares the forms. */
  def int8Codes(vec: Column): Column =
    graft.functions.Expressions.int8_codes(vec)

  /** The retired declarative form, kept as the kernel's spec twin.
    * Dirty-vector guards (r12), decided over the WHOLE vector so
    * element order never matters ([null, NaN] ≡ [NaN, null]): any null
    * cell → null vector (greatest() would otherwise SKIP the null and
    * let the non-finite rule zero it — diverging from the kernel); else
    * any NaN/Inf element makes the greatest() max non-finite (Spark NaN
    * orders above everything) → all-zero codes. Without the guards one
    * dirty embedding element kills the job under Spark 4's default ANSI
    * mode (`cast(NaN as tinyint)` THROWS). All-zero is deterministic,
    * ANSI-independent, and what the zero-vector case already yields. */
  private[graft] def int8CodesDeclarative(vec: Column): Column = {
    val mx = aggregate(vec, lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    // bind the max ONCE per row via a 1-element transform: HOF lambdas
    // get no cross-expression CSE, so inlining `mx` into the per-element
    // lambda would re-run the full-vector aggregate for every element
    // (O(d^2) per row)
    when(exists(vec, x => x.isNull), lit(null).cast("array<tinyint>"))
      .otherwise(element_at(transform(array(mx), m =>
        transform(vec, x => when(m === 0.0 || isnan(m) ||
            m === lit(Double.PositiveInfinity), lit(0))
          .otherwise(round(x.cast("double") * 127.0 / m))
          .cast("tinyint"))), 1))
  }

  /** Exact integer dot product of two int8 code vectors (long
    * accumulation — order-independent, overflow-free to 2^47 dims). */
  def int8Dot(a: Column, b: Column): Column =
    // native kernel, same exact-integer arithmetic as the
    // aggregate(zip_with) fold it replaces (see [[dot]])
    graft.functions.Expressions.vec_dot_long(a, b)

  /** Quantized cosine: the per-vector scales cancel (symmetric
    * quantization preserves direction), so similarity is a pure integer
    * computation — dot and both norms are exact longs — with ONE float
    * division at the end. Deterministic across engines and partitionings
    * by construction. Zero-code vectors score 0. */
  def int8Cosine(qa: Column, qb: Column): Column =
    // each norm binds once (same 1-element-transform trick as int8Codes):
    // a naive when/otherwise would evaluate both full-vector norm folds
    // twice per pair. [[int8TopK]] goes further and hoists the norms per
    // VECTOR; this form is for ad-hoc pair scoring.
    element_at(transform(array(int8Dot(qa, qa)), na =>
      element_at(transform(array(int8Dot(qb, qb)), nb =>
        when(na === lit(0L) || nb === lit(0L), lit(0.0))
          .otherwise(int8Dot(qa, qb).cast("double") /
            sqrt((na * nb).cast("double")))), 1)), 1)

  /** Approximate top-k over int8 codes — [[bruteForceTopK]]'s scan with
    * 4× less memory traffic and integer arithmetic in the hot loop. At
    * 100 TB this is the resident-codes tier of a two-stage design:
    * quantized scan (optionally bucket-pruned — [[lshBucket]] composes,
    * bucket on the float vector, score on the codes) selects candidates,
    * and the float vectors page in only for the final re-rank of the
    * shortlist. Quantized similarity ties more often than float cosine;
    * (sim DESC, neighbor_id) keeps ranks deterministic. */
  def int8TopK(queries: DataFrame, corpus0: DataFrame,
               k: Int): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    // codes and norms hoist PER VECTOR behind barriers (projection
    // collapse would otherwise inline the quantization into the norm fold
    // and the norm fold into every pair) — the pair stage then pays one
    // dot product and scalar arithmetic per pair, nothing vector-sized
    def sided(df: DataFrame, id: String, codes: String, n: String) =
      graft.ops.Parallelism.barrier(
        df.select(col(IdCol).as(id), int8Codes(col(VecCol)).as(codes)))
        .withColumn(n, int8Dot(col(codes), col(codes)))
    val q = sided(queries, "query_id", "qq", "qn")
    val c = sided(corpus, "neighbor_id", "qc", "cn")
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qsim", round(
        when(col("qn") === 0L || col("cn") === 0L, lit(0.0))
          .otherwise(int8Dot(col("qq"), col("qc")).cast("double") /
            sqrt((col("qn") * col("cn")).cast("double"))), 6))
    topKPerQuery(scored, "query_id", "qsim", "neighbor_id", k, "rank")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qsim"))
  }

  /** Two-stage ANN — the full production shape: the int8 quantized scan
    * selects a shortlist of `k·refine` candidates per query (memory-bound
    * tier: codes only), then the float vectors join back for the exact
    * cosine re-rank of the shortlist (compute-bound tier: touches
    * `k·refine` vectors per query instead of the corpus). Recall loss is
    * bounded by what quantization drops OUT of the shortlist; `refine` of
    * 3–5 recovers nearly all of it. Both stages are deterministic
    * (integer shortlist ties → neighbor_id, float re-rank ties →
    * neighbor_id), so the whole cascade replays in SQL. */
  def int8RefineTopK(queries: DataFrame, corpus0: DataFrame, k: Int,
                     refine: Int = 4): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val shortlist = int8TopK(queries, corpus, k * refine)
      .select(col("query_id"), col("neighbor_id"))
    refineStage(queries, corpus, shortlist, k)
  }

  /** Exact float-cosine re-rank of a (query_id, neighbor_id) shortlist to
    * the final top-k — stage 2 of every cascade. The ids-only shortlist
    * broadcasts first (Q·k·refine longs) so the corpus float vectors are
    * probed in place, never shuffled; the query vectors attach AFTER
    * (Q·d floats) — broadcasting the joined pair instead would duplicate
    * each query vector k·refine times and blow the broadcast limit at
    * production Q. */
  private[operators] def refineStage(queries: DataFrame, corpus: DataFrame,
                          shortlist: DataFrame, k: Int): DataFrame = {
    val qv = queries.select(col(IdCol).as("query_id"), col(VecCol).as("qv"))
    val cv = corpus.select(col(IdCol).as("neighbor_id"), col(VecCol).as("cv"))
    val rescored = broadcast(shortlist)
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    topKPerQuery(rescored, "query_id", "sim", "neighbor_id", k, "rank")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  // --- IVF-SQ8 — the composed production cascade -------------------------

  /** Stride-picked centroid seeds collected (bounded) to the driver and
    * pre-NORMALIZED there — the shared coarse-quantizer seeding of the
    * composed cascades and [[DenseIndex]]: same stride rule (and same
    * sparse-id fallback) as [[ivfTopK]], reproducible across engines; a
    * zero centroid scores 0 against everything. */
  private[operators] def collectCentroids(corpus: DataFrame,
      numCentroids: Int, n: Long): Seq[(Long, Seq[Double])] =
    strideSeeds(corpus, numCentroids, n).collect().toSeq
      .map(normalizedCentroid)

  /** One (centroid_id, centv) row → driver-normalized (id, c/|c|) —
    * shared by the stride seeding above and the trained-centroid
    * override path ([[collectProvidedCentroids]]). */
  private def normalizedCentroid(r: org.apache.spark.sql.Row): (Long, Seq[Double]) = {
    val cid = r.get(0).asInstanceOf[Number].longValue
    val cv = doubles(r.getSeq[Any](1))
    // driver-normalized (x/|c|, both IEEE-identical to the oracle's
    // list arithmetic)
    val nrm = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))
    (cid, if (nrm == 0.0) cv.map(_ => 0.0) else cv.map(_ / nrm))
  }

  /** Collect + normalize a CALLER-SUPPLIED (centroid_id, centv) table —
    * the seam that lets a [[KMeans]]-trained coarse quantizer drive the
    * persisted [[DenseIndex]] lifecycle. Bounded driver collect. */
  private[operators] def collectProvidedCentroids(
      centroids: DataFrame): Seq[(Long, Seq[Double])] = {
    val rows = centroids.select(col("centroid_id"), col("centv")).collect()
    require(rows.length >= 1 && rows.length <= 65536,
      s"${rows.length} centroids: the centroid table collects to the driver")
    rows.toSeq.map(normalizedCentroid).sortBy(_._1)
  }

  /** Dot product of a row vector against a driver-side literal vector —
    * the map-side kernel of the composed cascade's centroid assignment. */
  private def dotLit(vec: Column, w: Seq[Double]): Column =
    graft.functions.Expressions.vec_dot(vec, typedlit(w))

  /** Per-centroid (score, -centroid_id) structs for one row vector.
    * Struct ordering makes max/sort break score ties toward the SMALLER
    * centroid id — the same ORDER BY score DESC, centroid_id ASC the
    * oracle replays. */
  private[operators] def centScores(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    array(cents.map { case (cid, w) =>
      struct(dotLit(vec, w).as("s"), lit(-cid).as("nid")) }: _*)

  /** IVF + int8 + float re-rank — the full production ANN shape at
    * 100 TB, composing the three tiers this file builds separately:
    * coarse centroids prune the corpus to probed inverted lists
    * ([[ivfTopK]]'s quantizer), int8 codes score only those lists
    * ([[int8TopK]]'s memory-bound scan), and the float vectors join back
    * for the exact re-rank of the k·refine shortlist
    * ([[int8RefineTopK]]'s stage 2). Per query the work is
    * `numCentroids` dot products + the probed lists' codes — sublinear
    * in corpus size — instead of [[int8TopK]]'s full quantized scan.
    *
    * Scale shape: the centroid table is a BOUNDED driver collect
    * (≤ `numCentroids` rows — the [[Dedup]] union-find discipline of
    * explicit driver bounds), pre-normalized so centroid assignment and
    * probe ranking are pure literal dot products computed MAP-SIDE in the
    * same projection as the int8 quantization: the corpus is never
    * shuffled at all. Candidate selection is a broadcast hash join of the
    * (tiny) probe-pair and query-code sets against the coded corpus; the
    * only non-broadcast exchange in the whole cascade carries pruned
    * (query_id, neighbor_id, qsim) triples into the shortlist window.
    *
    * Determinism: assignment/probe ranking order by the raw double dot
    * against driver-normalized centroids (argmax_c cos(v,c) =
    * argmax_c <v, c/|c|> — |v| is a positive per-row constant), ties to
    * the smaller centroid id; both quantized and float stages tie-break
    * by neighbor_id — the whole cascade replays in SQL (q109).
    *
    * (Reference contrast: the reference's dense path is a brute-force
    * scan — crates/ondine-core/src/evidence/store.rs:289-307; this
    * composition is where the Spark build is strictly better.) */
  def ivfInt8RefineTopK(queries: DataFrame, corpus0: DataFrame, k: Int,
      numCentroids: Int = 8, nProbe: Int = 2, refine: Int = 4,
      corpusSize: Option[Long] = None): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    require(numCentroids >= 1 && numCentroids <= 65536,
      s"numCentroids=$numCentroids: the centroid set collects to the driver")
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val n = corpusSize.getOrElse(corpus.count())
    val cents = collectCentroids(corpus, numCentroids, n)
    if (cents.isEmpty)
      return queries.limit(0).select(col(IdCol).as("query_id"),
        lit(1).as("rank"), col(IdCol).as("neighbor_id"), lit(0.0).as("sim"))
    // corpus pass: cluster assignment + quantization in ONE map-side
    // projection (codes/norms hoisted per vector behind the barrier,
    // exactly like int8TopK)
    val c = graft.ops.Parallelism.barrier(
      corpus.select(col(IdCol).as("neighbor_id"),
        negate(array_max(centScores(col(VecCol), cents)).getField("nid"))
          .as("cluster"),
        int8Codes(col(VecCol)).as("qc")))
      .withColumn("cn", int8Dot(col("qc"), col("qc")))
    val q = graft.ops.Parallelism.barrier(
      queries.select(col(IdCol).as("query_id"),
        int8Codes(col(VecCol)).as("qq")))
      .withColumn("qn", int8Dot(col("qq"), col("qq")))
    // nProbe nearest lists per query: sort desc by (score, -id) — ties
    // toward the smaller centroid id, like the assignment argmax
    val probed = transform(
      slice(reverse(array_sort(centScores(col(VecCol), cents))), 1, nProbe),
      s => negate(s.getField("nid")))
    val queryLists = queries.select(col(IdCol).as("query_id"),
      explode(probed).as("cluster"))
    val scored = c.join(broadcast(queryLists), Seq("cluster"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qsim", round(
        when(col("qn") === 0L || col("cn") === 0L, lit(0.0))
          .otherwise(int8Dot(col("qq"), col("qc")).cast("double") /
            sqrt((col("qn") * col("cn")).cast("double"))), 6))
    val shortlist =
      topKPerQuery(scored, "query_id", "qsim", "neighbor_id", k * refine,
        "qrank").select(col("query_id"), col("neighbor_id"))
    refineStage(queries, corpus, shortlist, k)
  }

  // --- Product quantization (the FAISS PQ memory tier) -------------------

  /** Stride-picked PQ codebooks: centroid i of subspace j is the j-th
    * subvector of the corpus vector at id `i·stride` — the same
    * deterministic, SQL-replayable seeding rule as [[ivfTopK]]'s coarse
    * quantizer, here seeding `m` per-subspace codebooks of `k` centroids
    * each. Data-adaptive (real corpus subvectors) without any RNG or
    * float-mean nondeterminism; [[pqTrainExact]] refines these seeds
    * with integer-exact Lloyd iterations. Bounded driver collect (≤ k
    * rows). */
  def pqStrideCodebooks(corpus0: DataFrame, m: Int, k: Int,
      corpusSize: Option[Long] = None): Seq[Seq[Seq[Double]]] = {
    require(m >= 1, "m must be >= 1")
    require(k >= 1 && k <= 65536,
      s"k=$k: the codebook seeds collect to the driver")
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val n = corpusSize.getOrElse(corpus.count())
    val rows = strideSeeds(corpus, k, n).collect().toSeq
      .sortBy(_.get(0).asInstanceOf[Number].longValue)
    require(rows.nonEmpty, "empty corpus: no codebook seeds")
    val vecs = rows.map(r => doubles(r.getSeq[Any](1)))
    val d = vecs.head.size
    require(d % m == 0, s"vector dim $d not divisible by m=$m subspaces")
    val ds = d / m
    (0 until m).map(j => vecs.map(v => v.slice(j * ds, (j + 1) * ds)))
  }

  /** PQ encode: array of `m` codes (tinyint), code j = index of the
    * nearest (squared L2, ties toward the smaller index) centroid of
    * subspace j's codebook to the j-th subvector. Codebooks bake into
    * the expression as literals — scoring a 100 TB corpus is a pure
    * map over the vector column, m·k little distance folds per row,
    * output m BYTES per vector (d/ds·8-fold smaller than the floats;
    * 64× at the q111 shape). */
  def pqCodes(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    // native one-pass kernel — same left-to-right double fold and
    // lowest-index tie rule as the declarative chain it replaces
    // (SimilaritySpec kernel≡declarative property); the chain ran k·ds
    // interpreted expression trees per subvector inside the m-way
    // array constructor and dominated the q178 100× probe
    graft.functions.Expressions.pq_encode(vec,
      codebooks.map(_.map(_.toArray).toArray).toArray)

  /** The retired declarative encode, kept as the kernel's spec twin. */
  private[graft] def pqCodesDeclarative(
      vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val ds = codebooks.head.head.size
    array(codebooks.zipWithIndex.map { case (cents, j) =>
      val sub = slice(vec, j * ds + 1, ds)
      val scored = array(cents.zipWithIndex.map { case (c, i) =>
        struct(
          aggregate(zip_with(sub, typedlit(c), (x, y) => {
            val t = x.cast("double") - y; t * t
          }), lit(0.0), (a, v) => a + v).as("d"),
          lit(i).as("i")) }: _*)
      array_min(scored).getField("i").cast("tinyint")
    }: _*)
  }

  /** Per-query ADC lookup table in integer MICRO units: entry (j, i) =
    * round(1e6 · <q_subvector_j, centroid_{j,i}>). The per-entry dot is
    * one float fold (both engines accumulate left-to-right — the q44
    * precedent); everything ABOVE the entry is exact integer math, so
    * the cross-subspace accumulation is order-independent and
    * SQL-replayable (the q103/q105 micro-unit discipline). */
  private def adcMicroTable(vec: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val ds = codebooks.head.head.size
    array(codebooks.zipWithIndex.map { case (cents, j) =>
      val sub = slice(vec, j * ds + 1, ds)
      array(cents.map(c =>
        round(aggregate(zip_with(sub, typedlit(c),
          (x, y) => x.cast("double") * y), lit(0.0), (a, v) => a + v) * 1e6, 0)
          .cast("long")): _*)
    }: _*)
  }

  /** Approximate PQ-ADC top-k — the FAISS PQ memory tier as a flat scan:
    * the corpus is represented by m-byte codes (one map-side encode
    * pass, hoisted behind a barrier), each query precomputes its
    * micro-integer ADC table map-side, and scoring a pair is m table
    * lookups + integer adds — no vector arithmetic in the hot loop and
    * 64× less corpus traffic than floats at the default shape.
    * Similarity = ADC inner product over the reconstructed-norm product
    * (reconstructed norm² from the codes via a literal lookup table,
    * micro-integer accumulated like the ADC dot). Deterministic by
    * construction: integer shortlist ties break by neighbor_id. Compose
    * with [[pqAdcRefineTopK]] for the exact-re-rank cascade, or bucket/
    * IVF-prune the scan exactly as [[int8TopK]] documents. */
  def pqAdcTopK(queries: DataFrame, corpus0: DataFrame, k: Int,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    // per-(j,i) centroid norm² in micro units — the reconstructed norm
    // of a coded vector is a pure integer function of its codes
    val normTab: Seq[Seq[Long]] = codebooks.map(_.map(c =>
      math.round(c.map(x => x * x).sum * 1e6)))
    val c = graft.ops.Parallelism.barrier(
      corpus.select(col(IdCol).as("neighbor_id"),
        pqCodes(col(VecCol), codebooks).as("pc")))
      .withColumn("rn", aggregate(
        zip_with(col("pc"), typedlit(normTab),
          (cd, tab) => element_at(tab, cd.cast("int") + 1)),
        lit(0L), (a, v) => a + v))
    val q = graft.ops.Parallelism.barrier(
      queries.select(col(IdCol).as("query_id"),
        adcMicroTable(col(VecCol), codebooks).as("adc"),
        round(aggregate(col(VecCol), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")) * 1e6, 0)
          .cast("long").as("qn")))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qsim", round(
        when(col("qn") <= 0L || col("rn") <= 0L, lit(0.0))
          .otherwise(
            aggregate(zip_with(col("pc"), col("adc"),
              (cd, row) => element_at(row, cd.cast("int") + 1)),
              lit(0L), (a, v) => a + v).cast("double") /
            sqrt(col("qn").cast("double") * col("rn").cast("double"))), 6))
    topKPerQuery(scored, "query_id", "qsim", "neighbor_id", k, "rank")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qsim"))
  }

  /** PQ-ADC shortlist + exact float re-rank — [[int8RefineTopK]]'s
    * cascade shape at PQ compression: the m-byte codes select k·refine
    * candidates per query, the float vectors join back only for the
    * shortlist re-rank ([[refineStage]], shared by all cascades). */
  def pqAdcRefineTopK(queries: DataFrame, corpus0: DataFrame, k: Int,
      codebooks: Seq[Seq[Seq[Double]]], refine: Int = 4): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val shortlist = pqAdcTopK(queries, corpus, k * refine, codebooks)
      .select(col("query_id"), col("neighbor_id"))
    refineStage(queries, corpus, shortlist, k)
  }

  /** IVF + PQ + float re-rank — the billion-scale production ANN shape
    * (what FAISS deploys as IVF-PQ): coarse centroids prune the corpus
    * to probed inverted lists ([[ivfInt8RefineTopK]]'s quantizer,
    * unchanged), m-byte PQ codes score only those lists via the
    * micro-integer ADC tables ([[pqAdcTopK]]'s kernel), and the float
    * vectors join back for the exact re-rank of the k·refine shortlist
    * ([[refineStage]]). Per query: `numCentroids` literal dots + the
    * probed lists' codes at m bytes each — sublinear in corpus size AND
    * 64× less candidate traffic than floats at the default PQ shape.
    *
    * Scale/determinism shape is [[ivfInt8RefineTopK]]'s verbatim: one
    * map-side corpus projection computes cluster + codes + reconstructed
    * norm (never shuffled); probe pairs and query ADC tables broadcast;
    * integer shortlist ties → neighbor_id; the whole cascade replays in
    * SQL (q112). */
  def ivfPqRefineTopK(queries: DataFrame, corpus0: DataFrame, k: Int,
      codebooks: Seq[Seq[Seq[Double]]], numCentroids: Int = 8,
      nProbe: Int = 2, refine: Int = 4,
      corpusSize: Option[Long] = None): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    require(numCentroids >= 1 && numCentroids <= 65536,
      s"numCentroids=$numCentroids: the centroid set collects to the driver")
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val n = corpusSize.getOrElse(corpus.count())
    val cents = collectCentroids(corpus, numCentroids, n)
    if (cents.isEmpty)
      return queries.limit(0).select(col(IdCol).as("query_id"),
        lit(1).as("rank"), col(IdCol).as("neighbor_id"), lit(0.0).as("sim"))
    val normTab: Seq[Seq[Long]] = codebooks.map(_.map(c =>
      math.round(c.map(x => x * x).sum * 1e6)))
    // ONE map-side corpus projection: cluster assignment + PQ encode +
    // reconstructed norm — the corpus is never shuffled
    val c = graft.ops.Parallelism.barrier(
      corpus.select(col(IdCol).as("neighbor_id"),
        negate(array_max(centScores(col(VecCol), cents)).getField("nid"))
          .as("cluster"),
        pqCodes(col(VecCol), codebooks).as("pc")))
      .withColumn("rn", aggregate(
        zip_with(col("pc"), typedlit(normTab),
          (cd, tab) => element_at(tab, cd.cast("int") + 1)),
        lit(0L), (a, v) => a + v))
    val q = graft.ops.Parallelism.barrier(
      queries.select(col(IdCol).as("query_id"),
        adcMicroTable(col(VecCol), codebooks).as("adc"),
        round(aggregate(col(VecCol), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")) * 1e6, 0)
          .cast("long").as("qn")))
    val probed = transform(
      slice(reverse(array_sort(centScores(col(VecCol), cents))), 1, nProbe),
      s => negate(s.getField("nid")))
    val queryLists = queries.select(col(IdCol).as("query_id"),
      explode(probed).as("cluster"))
    val scored = c.join(broadcast(queryLists), Seq("cluster"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qsim", round(
        when(col("qn") <= 0L || col("rn") <= 0L, lit(0.0))
          .otherwise(
            aggregate(zip_with(col("pc"), col("adc"),
              (cd, row) => element_at(row, cd.cast("int") + 1)),
              lit(0L), (a, v) => a + v).cast("double") /
            sqrt(col("qn").cast("double") * col("rn").cast("double"))), 6))
    val shortlist =
      topKPerQuery(scored, "query_id", "qsim", "neighbor_id", k * refine,
        "qrank").select(col("query_id"), col("neighbor_id"))
    refineStage(queries, corpus, shortlist, k)
  }

  /** INTEGER-EXACT distributed PQ training — per-subspace Lloyd's
    * k-means under [[KMeans]]'s micro-grid discipline, so the trained
    * codebooks are deterministic under any partitioning AND replayable
    * in DuckDB SQL (the q131 trained-IVF precedent, extended to the m
    * independent subspace clusterings FAISS PQ trains).
    *
    * Rules shared with the oracle (all [[KMeans]]'s verbatim, with the
    * subspace index joined into every key):
    *  - vectors quantize once to 1e-6 micro longs; subvector j of
    *    vector v is one training point of clustering j;
    *  - init: centroid (j, c) = the j-th micro subvector of the corpus
    *    vector at id `c·stride` (the [[pqStrideCodebooks]] spread rule
    *    — seeding at id-residue MEANS was measured 10+ recall points
    *    worse: every residue-class mean lands near the global mean, so
    *    Lloyd starts with k collapsed centroids); ids past the corpus
    *    seed at the origin (only when n < k);
    *  - assignment: argmin integer squared L2, ties to the lower
    *    centroid index; mean = floor((2·sum + n) / (2·n)) in BigInt;
    *    empty cluster keeps its centroid.
    *
    * Scale shape per iteration: assignment is a map against the
    * m·k·(d/m) BROADCAST centroid literal (no join; the subvector
    * explode multiplies row COUNT by m but carries each vector's
    * floats exactly once); the update shuffles m·k groups of d/m sums
    * (map-side combined, size independent of corpus rows); one
    * m·k-row driver collect recomputes the means. Vectors never cross
    * an exchange. Returns float codebooks (micro / 1e6) that slot
    * unchanged into [[pqCodes]] / [[pqAdcRefineTopK]] serving. */
  def pqTrainExact(corpus0: DataFrame, m: Int, k: Int, iters: Int = 2,
      sampleCap: Long = 65536L): Seq[Seq[Seq[Double]]] = {
    require(m >= 1, "m must be >= 1")
    require(k >= 1 && k <= 4096,
      s"k=$k: m*k codebook rows collect to the driver")
    require(iters >= 0, "iters must be >= 0")
    require(sampleCap >= k, s"sampleCap=$sampleCap below k=$k")
    // FAISS-practice bounded training sample: Lloyd quality saturates at
    // a few hundred vectors per centroid, so training cost must NOT
    // scale with the corpus — the deterministic id-stride sample (the
    // init idiom) keeps it ≤ ~sampleCap regardless of corpus size, and
    // an oracle replays `id % trainStride = 0` exactly. The cap does
    // not bind at the declared fixture scales (stride 1 ⇒ identical
    // semantics there); it is the 100 TB knob.
    val corpusAll = graft.ops.Parallelism.ensure(corpus0)
    val nAll = corpusAll.count()
    val trainStride = math.max(1L, nAll / sampleCap)
    val corpus =
      if (trainStride == 1L) corpusAll
      else corpusAll.filter(col(IdCol).cast("long") % trainStride === 0)
    // dimension from the first NON-NULL vector (size(null) reads as a
    // null cell that head().getInt would NPE on)
    val dim = corpus.filter(col(VecCol).isNotNull)
      .select(size(col(VecCol))).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m")
    val ds = dim / m
    // one micro-quantize + subspace explode, staged so every
    // iteration's assignment and update reads the materialized rows.
    // DIRTY vectors (null / any null or non-finite cell — micro_vec
    // nulls those whole) drop before the slice, the KMeans.fit
    // contract: a null micro vector slices to null subvectors whose
    // meansBy count(1) inflates against null-skipping sums. The
    // barrier keeps the kernel single-eval under the filter.
    val sv = graft.ops.Parallelism.stage(
      graft.ops.Parallelism.barrier(
          corpus.select(col(IdCol).cast("long").as("__graft_id"),
            KMeans.microVec(col(VecCol)).as("__graft_mv")))
        .filter(col("__graft_mv").isNotNull)
        .select(col("__graft_id"),
          posexplode(array((0 until m).map(j =>
            slice(col("__graft_mv"), j * ds + 1, ds)): _*))
            .as(Seq("__graft_j", "__graft_s"))))
    def meansBy(df: DataFrame, keyExpr: Column)
        : Map[(Int, Long), Array[Long]] = {
      val s = col("__graft_s")
      val aggs = count(lit(1)).as("__graft_n") +:
        (0 until ds).map(i => sum(element_at(s, i + 1)).as(s"__graft_s$i"))
      df.groupBy(col("__graft_j"), keyExpr.as("__graft_c"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getLong(1)) ->
            Array.tabulate(ds)(i => KMeans.intMean(r.getLong(3 + i), n))
        }.toMap
    }
    // seed stride over the CLEAN vector count (sv carries m staged rows
    // per surviving vector) — counting dirty rows here would shift
    // every seed choice, so dirt would change the training even though
    // no dirty row participates
    val n = sv.count() / m
    val stride = math.max(1L, n / k)
    // seeds stride over the sample ORDINAL (id div trainStride — exact
    // for dense ids; identity when the cap doesn't bind), so a capped
    // train still seeds ~k centroids instead of whatever survives the
    // double-stride intersection
    val ord = s"(__graft_id div $trainStride)"
    val init: Map[(Int, Long), Array[Long]] = sv
      .filter(strideSeedRule(ord, stride, k))
      .select(col("__graft_j"), expr(s"$ord div $stride").as("__graft_c"),
        col("__graft_s"))
      .collect().map { r =>
        (r.getInt(0), r.getLong(1)) -> r.getSeq[Long](2).toArray
      }.toMap
    var cents: Array[Array[Array[Long]]] = Array.tabulate(m, k)((j, c) =>
      init.getOrElse((j, c.toLong), Array.fill(ds)(0L)))
    for (_ <- 0 until iters) {
      // native assignment kernel (same long fold + lowest-index ties
      // as the typedlit/array_min chain it replaces — SimilaritySpec
      // property); the chain ran k·ds interpreted trees per subvector
      val bestC = graft.functions.Expressions.pq_assign_micro(
        col("__graft_s"), col("__graft_j"), cents).cast("long")
      val upd = meansBy(sv.withColumn("__graft_cl", bestC), col("__graft_cl"))
      cents = Array.tabulate(m, k)((j, c) =>
        upd.getOrElse((j, c.toLong), cents(j)(c)))
    }
    cents.map(_.map(_.map(_ / 1e6).toSeq).toSeq).toSeq
  }

  /** The retired declarative training assignment, kept as
    * [[graft.functions.Expressions.pq_assign_micro]]'s spec twin. */
  private[graft] def pqAssignDeclarative(
      sub: Column, j: Column, cents: Array[Array[Array[Long]]]): Column = {
    val cbj = element_at(
      typedlit(cents.map(_.map(_.toSeq).toSeq).toSeq), j + 1)
    array_min(transform(cbj, (c, i) => struct(
      aggregate(zip_with(sub, c,
        (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v).as("d"),
      i.cast("long").as("c")))).getField("c")
  }
}
