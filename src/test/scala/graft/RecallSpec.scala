package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Similarity}

/** Recall floors for the ANN cascades at their declared-query settings —
  * pinning the BENCH_NOTES recall table's floors so a regression in any
  * cascade's candidate generation shows up as a named failure, not a
  * silent recall drift. Everything here is deterministic (stride/Lloyd
  * seeding, fixed testdata), so the measured values are exact
  * reproductions, with floors set a few points under them for slack
  * against environment-variant float ordering. */
class RecallSpec extends SparkSpec {

  private val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
  private val k = 5
  private lazy val queries = emb.filter(col("vec_id") < 20)
  private lazy val truth = truthOf(queries, emb, k)

  /** Mean over queries of |predicted ∩ true-top-k| / |true-top-k|. */
  private def recallOf(pred: DataFrame, truth: Map[Long, Set[Long]]): Double = {
    val by = neighbors(pred)
    val per = truth.toSeq.map { case (q, t) =>
      if (t.isEmpty) 1.0
      else (by.getOrElse(q, Set.empty[Long]) intersect t).size.toDouble / t.size
    }
    per.sum / per.size
  }

  private def truthOf(queries: DataFrame, corpus: DataFrame,
                      k: Int): Map[Long, Set[Long]] =
    neighbors(Similarity.bruteForceTopK(queries, corpus, k))

  private def neighbors(ranked: DataFrame): Map[Long, Set[Long]] =
    ranked.select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

  test("ivf_sq8 cascade recall floor at q109 settings") {
    val r = recallOf(Similarity.ivfInt8RefineTopK(queries, emb, k,
      numCentroids = 8, nProbe = 3, refine = 4), truth)
    assert(r >= 0.50, s"recall@$k=$r (recorded 0.56)")
  }

  test("toy PQ recall floors at q111/q112 settings (documented trade)") {
    // m=4/k=8 codebooks are the ORACLE-REPLAYABLE toy shape — recall is
    // documented-low (BENCH_NOTES); these floors pin it doesn't collapse
    // to the id-tie-break floor on unclustered data
    val cb = Similarity.pqStrideCodebooks(emb, 4, 8)
    val adc = recallOf(Similarity.pqAdcRefineTopK(queries, emb, k, cb,
      refine = 4), truth)
    assert(adc >= 0.15, s"pq_adc recall@$k=$adc (recorded 0.20)")
    val ivf = recallOf(Similarity.ivfPqRefineTopK(queries, emb, k, cb,
      numCentroids = 8, nProbe = 3, refine = 4), truth)
    assert(ivf >= 0.15, s"ivf_pq recall@$k=$ivf (recorded 0.21)")
  }

  test("declared trained-PQ cascade recall floor at q178 settings") {
    // the DECLARED oracle arm: integer-exact per-subspace Lloyd (m=8,
    // k=64, 3 rounds) through the same ADC serving plan — the verdict's
    // production-tier promotion, pinned here so a regression in the
    // exact trainer or the serving cascade fails by name
    val cb = Similarity.pqTrainExact(emb, 8, 64, iters = 3)
    val r = recallOf(Similarity.pqAdcRefineTopK(queries, emb, k, cb,
      refine = 8), truth)
    assert(r >= 0.90, s"trained-exact pq recall@$k=$r")
  }

  test("dirty vectors drop from pqTrainExact instead of skewing codebooks") {
    // a dirty vector (null / NaN cell) becomes a null micro vector,
    // whose null subspace slices once inflated meansBy's count(1)
    // against null-skipping sums — silently biased codebooks. The r12
    // contract drops the row; codebooks must be unchanged by dirt
    import spark.implicits._
    val clean = Similarity.pqTrainExact(emb, 4, 8, iters = 2)
    val nanVec = Array.tabulate(64)(i => if (i == 3) Float.NaN else i * 0.1f)
    val dirty = emb.select("vec_id", "embedding").unionByName(Seq(
        (900001L, nanVec),
        (900002L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding"))
    val trained = Similarity.pqTrainExact(dirty, 4, 8, iters = 2)
    assert(trained == clean, "dirty rows changed the trained codebooks")
  }

  test("trained PQ (production shape) recovers high recall") {
    val cbT = Similarity.pqTrainExact(emb, 8, 64, iters = 5, sampleCap = 1000)
    val r = recallOf(Similarity.pqAdcRefineTopK(queries, emb, k, cbT,
      refine = 8), truth)
    assert(r >= 0.90, s"trained pq recall@$k=$r (recorded 0.95)")
  }

  test("trained-IVF recall floor at q131 settings") {
    val m = KMeans.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
    val cents = spark.createDataFrame(
      m.centroids.zipWithIndex.toSeq.map { case (c, j) =>
        (j.toLong, c.map(_.toDouble / 1e6)) }).toDF("centroid_id", "centv")
    val r = recallOf(Similarity.ivfTopKWithCentroids(queries, emb, k,
      cents, nProbe = 2), truth)
    assert(r >= 0.40, s"trained ivf recall@$k=$r (recorded 0.47)")
  }
}
