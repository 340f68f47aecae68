package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable IVF-SQ8 dense vector index — the index LIFECYCLE around
  * [[Similarity.ivfInt8RefineTopK]]'s kernels: build the coarse
  * quantizer + int8 codes ONCE, write them to storage, then serve any
  * number of query batches without recomputing assignments or codes.
  * Query results are bit-identical to running the in-memory cascade
  * directly (spec-proven): the centroids persist pre-normalized as
  * doubles and the codes/norms persist exactly as the cascade computes
  * them, so every downstream comparison replays unchanged.
  *
  * Layout under `dir`:
  * {{{
  *   centroids/   (centroid_id, centv)       — tiny, driver-collected
  *   lists/       (id, vec, qc, cn)          — PARTITIONED BY cluster
  * }}}
  *
  * The cluster partitioning is the scale payoff: a query batch probes at
  * most `nProbe` lists per query, and the batch's distinct probed
  * clusters (≤ numCentroids, collected bounded) push down as a PARTITION
  * filter — Spark prunes the un-probed lists at the FileIndex, so the
  * scan reads ~nProbe/numCentroids of the index bytes off disk instead
  * of filtering after a full scan. At 100 TB that is the difference
  * between an index and a decoration; PlanSpec asserts the pruning is
  * in the plan.
  *
  * Ref: /root/reference/crates/ondine-core/src/evidence/store.rs:289-307
  * keeps its dense store fully in memory and brute-force scans it — a
  * persisted, pruned, quantized index is the beyond-reference scale
  * path per the build brief. */
object DenseIndex {
  import Similarity.{IdCol, VecCol}

  /** Build and persist the index. Two corpus passes: the bounded
    * centroid collect, then ONE map-side projection (assignment +
    * quantization fused, never shuffled — the write's partitionBy is
    * the only data movement).
    *
    * `centroids`: optional TRAINED coarse quantizer — a (centroid_id,
    * centv) table (e.g. [[KMeans]] centroids converted back to float
    * space) that replaces the stride seeding. Trained lists are tighter
    * on clustered data (lower max/mean list size), so the same nProbe
    * reads fewer index bytes; the serving plan is unchanged. */
  def build(corpus0: DataFrame, dir: String, numCentroids: Int = 8,
            corpusSize: Option[Long] = None,
            centroids: Option[DataFrame] = None): Unit = {
    val corpus = graft.ops.Parallelism.ensure(corpus0)
    val cents = centroids match {
      case Some(cdf) => Similarity.collectProvidedCentroids(cdf)
      case None =>
        val n = corpusSize.getOrElse(corpus.count())
        Similarity.collectCentroids(corpus, numCentroids, n)
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.toDF("centroid_id", "centv")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val lists =
      if (cents.isEmpty) // empty corpus: schema-only lists table
        corpus.select(col(IdCol).as("id"), col(VecCol).as("vec"),
          lit(0L).as("cluster"),
          array().cast("array<tinyint>").as("qc"),
          lit(0L).as("cn"))
      else
        graft.ops.Parallelism.barrier(
          corpus.select(col(IdCol).as("id"), col(VecCol).as("vec"),
            negate(array_max(Similarity.centScores(col(VecCol), cents))
              .getField("nid")).as("cluster"),
            Similarity.int8Codes(col(VecCol)).as("qc")))
          .withColumn("cn", Similarity.int8Dot(col("qc"), col("qc")))
    lists.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dir/lists")
  }

  /** Query a persisted index: probe ranking map-side from the reloaded
    * centroids, partition-pruned quantized scoring over the probed
    * lists only, exact float re-rank of the k·refine shortlist. */
  def query(queries: DataFrame, dir: String, k: Int, nProbe: Int = 2,
            refine: Int = 4): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val spark = queries.sparkSession
    val cents: Seq[(Long, Seq[Double])] =
      spark.read.parquet(s"$dir/centroids")
        .select(col("centroid_id"), col("centv"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    if (cents.isEmpty)
      return queries.limit(0).select(col(IdCol).as("query_id"),
        lit(1).as("rank"), col(IdCol).as("neighbor_id"), lit(0.0).as("sim"))
    // nProbe nearest lists per query — the cascade's exact probe rule
    val probed = transform(
      slice(reverse(array_sort(Similarity.centScores(col(VecCol), cents))),
        1, nProbe),
      s => negate(s.getField("nid")))
    val queryLists = queries.select(col(IdCol).as("query_id"),
      explode(probed).as("cluster"))
    // the batch's distinct probed clusters (≤ numCentroids — bounded
    // collect) push down as a PARTITION filter: un-probed lists are
    // pruned at the FileIndex, never read
    val probedClusters = queryLists.select(col("cluster")).distinct()
      .collect().map(_.get(0).asInstanceOf[Number].longValue).toSeq
    val lists = spark.read.parquet(s"$dir/lists")
      .filter(col("cluster").isin(probedClusters: _*))
    val q = graft.ops.Parallelism.barrier(
      queries.select(col(IdCol).as("query_id"),
        Similarity.int8Codes(col(VecCol)).as("qq")))
      .withColumn("qn", Similarity.int8Dot(col("qq"), col("qq")))
    val scored = lists
      .select(col("id").as("neighbor_id"), col("cluster"),
        col("qc"), col("cn"))
      .join(broadcast(queryLists), Seq("cluster"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("qsim", round(
        when(col("qn") === 0L || col("cn") === 0L, lit(0.0))
          .otherwise(Similarity.int8Dot(col("qq"), col("qc")).cast("double") /
            sqrt((col("qn") * col("cn")).cast("double"))), 6))
    val shortlist = Similarity.topKPerQuery(scored, "query_id", "qsim",
      "neighbor_id", k * refine, "qrank")
      .select(col("query_id"), col("neighbor_id"))
    val floats = spark.read.parquet(s"$dir/lists")
      .select(col("id").as(IdCol), col("vec").as(VecCol))
    Similarity.refineStage(queries, floats, shortlist, k)
  }
}
