package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.functions.TextFunctions
import graft.operators.{AsOfJoin, Dedup, Multimodal, Similarity}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps min-id row per normalized content") {
    val df = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "different"),
      (4L, "HELLO world..")).toDF("id", "text")
    val kept = Dedup.dropExactDuplicates(df, "id", "text")
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L)) // 1,2,4 normalize identically
  }

  test("jaccard properties: self=1, disjoint=0, symmetric") {
    val df = Seq(("a b c", "a b c"), ("a b", "c d"), ("a b c", "b c d"))
      .toDF("x", "y")
    val j = df.select(
      TextFunctions.jaccard(TextFunctions.tokens(col("x")),
        TextFunctions.tokens(col("y"))).as("j"),
      TextFunctions.jaccard(TextFunctions.tokens(col("y")),
        TextFunctions.tokens(col("x"))).as("jr"))
      .as[(Double, Double)].collect()
    assert(j(0) == ((1.0, 1.0)))
    assert(j(1) == ((0.0, 0.0)))
    assert(j(2)._1 == 0.5 && j(2)._1 == j(2)._2)
  }

  test("shingles: k-grams in order, short docs -> empty") {
    val df = Seq("a b c d", "a b").toDF("t")
    val sh = df.select(TextFunctions.shingles(
      TextFunctions.tokens(col("t")), 3).as("s")).as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq.empty)
  }

  test("simhash: identical token sets collide, near sets are close") {
    val df = Seq(
      ("x", "spark fast table scan join"),
      ("y", "join scan table fast spark"),   // same set, different order
      ("z", "completely unrelated words entirely other"))
      .toDF("id", "t")
    val sigs = df.select(col("id"),
      Dedup.simhash(TextFunctions.tokens(col("t"))).as("h"))
      .as[(String, Long)].collect().toMap
    assert(sigs("x") == sigs("y"), "simhash must be order-invariant")
    val dist = java.lang.Long.bitCount(sigs("x") ^ sigs("z"))
    assert(dist > 10, s"unrelated docs should differ in many bits, got $dist")
  }

  test("lsh near-dup finds a known near-duplicate pair") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("lazy", "sleepy")
    val far = "entirely different content about spark query optimization"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(df, "doc_id", "text",
      numBands = 8, shingleSize = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("brute-force cosine top-k ranks an identical vector first") {
    val vs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0.01f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(-1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vs.filter(col("vec_id") === 0L), vs, 3)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(top(1) == 1L) // closest
    assert(top(3) == 3L) // opposite vector ranks last
  }

  test("as-of join picks latest right row at-or-before left time") {
    val left = Seq((100L, 1L, 10L), (101L, 1L, 5L), (102L, 2L, 7L))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((1L, 4L, 200L), (1L, 10L, 201L), (1L, 11L, 202L),
      (3L, 1L, 203L))
      .toDF("user_id", "ts", "rid")
      .withColumn("val", col("rid"))
    val r = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "rid", Seq("val"))
      .select("event_id", "asof_val").as[(Long, Option[Long])].collect().toMap
    assert(r(100L).contains(201L)) // ts=10 matches exactly
    assert(r(101L).contains(200L)) // ts=5 -> right at 4
    assert(r(102L).isEmpty)        // user 2 has no right rows
  }

  test("multimodal decode: real PNG/GIF metadata, raw fallback, batched") {
    val png = Multimodal.encodeGrayPng(9, 5, 42)
    val gif = Multimodal.encodeAnimatedGif(8, 6, 4, 100)
    val df = Seq((1L, png), (2L, gif), (3L, "abc".getBytes("UTF-8")))
      .toDF("id", "content")
    val got = Multimodal.withDecodedMeta(df, "content")
      .select(col("id"), col("media_meta.width"), col("media_meta.height"),
        col("media_meta.n_frames"), col("media_meta.format"))
      .collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))).toMap
    assert(got(1L) == ((9, 5, 1, "png")))
    assert(got(2L) == ((8, 6, 4, "gif")))
    assert(got(3L) == (((3 % 64) * 16 + 16, (3 % 48) * 16 + 16, 4, "raw")))
  }

  test("corrupt image bodies with valid magic take the raw fallback") {
    // JPEG magic + garbage: a reader claims it, read/getWidth throws —
    // the row must degrade to raw, not fail the Spark task
    val corrupt = Array[Byte](0xFF.toByte, 0xD8.toByte) ++
      Array.fill[Byte](40)(0x5A)
    val truncatedPng = Multimodal.encodeGrayPng(9, 5, 42).take(20)
    val df = Seq((1L, corrupt), (2L, truncatedPng)).toDF("id", "content")
    val got = Multimodal.withDecodedMeta(df, "content")
      .select(col("id"), col("media_meta.format")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "raw" && got(2L) == "raw")
  }

  test("multimodal real decode: frame pixels and nearest-neighbor resize") {
    val gif = Multimodal.encodeAnimatedGif(8, 6, 3, 50)
    val frames = Multimodal.sampleFrames(
      Seq((1L, gif)).toDF("id", "content"), "content", stride = 1)
      .select("frame_idx", "frame")
      .as[(Int, Array[Byte])].collect().toMap
    assert(frames.keySet == Set(0, 1, 2))
    // frame f pixel (x,y) = (50 + 17f + 7x + 13y) % 251, row-major
    for (f <- 0 to 2; y <- 0 until 6; x <- 0 until 8)
      assert((frames(f)(y * 8 + x) & 0xFF) == (50 + 17 * f + 7 * x + 13 * y) % 251)
    val png = Multimodal.encodeGrayPng(10, 8, 7)
    val resized = Multimodal.resizeTo(
      Seq((1L, png)).toDF("id", "content"), "content", 4, 4)
      .select("content").as[Array[Byte]].head()
    for (y <- 0 until 4; x <- 0 until 4) {
      val (sx, sy) = (x * 10 / 4, y * 8 / 4)
      assert((resized(y * 4 + x) & 0xFF) == (7 + 7 * sx + 13 * sy) % 251)
    }
  }

  test("property: jaccard within [0,1] and symmetric on random token sets") {
    // one Spark job for all sampled cases (job-per-case would be slow)
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" "))
    val cases = (0 until 40).flatMap { _ =>
      for (x <- wordGen.sample; y <- wordGen.sample) yield (x, y)
    }
    val rs = cases.toDF("x", "y").select(
      TextFunctions.jaccard(TextFunctions.tokens(col("x")),
        TextFunctions.tokens(col("y"))).as("a"),
      TextFunctions.jaccard(TextFunctions.tokens(col("y")),
        TextFunctions.tokens(col("x"))).as("b"))
      .as[(Double, Double)].collect()
    rs.foreach { case (a, b) =>
      assert(a >= 0.0 && a <= 1.0 && a == b)
    }
  }

  test("multi-table LSH: recall never below single-table, pairs dedup across tables") {
    import graft.operators.Similarity
    // deterministic pseudo-vectors with mild cluster structure
    val vecs = (0 until 120).map { i =>
      (i.toLong, Array.tabulate(16) { d =>
        (((i % 7) * 31 + d * 13 + i * 3) % 17 - 8).toFloat
      })
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(queries, vecs, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val single = recall(Similarity.lshTopK(queries, vecs, 5, numPlanes = 4))
    val multi = recall(
      Similarity.lshTopKMultiTable(queries, vecs, 5, numPlanes = 4,
        numTables = 3))
    assert(multi >= single,
      s"multi-table recall $multi below single-table $single")
    assert(multi > 0.0)
    // a pair colliding in several tables must appear once per (query, rank)
    val out = Similarity.lshTopKMultiTable(queries, vecs, 5, 4, 3)
    assert(out.groupBy("query_id", "neighbor_id").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("autoPlanes keeps expected bucket occupancy roughly constant") {
    import graft.operators.Similarity
    assert(Similarity.autoPlanes(500) == 4)    // at the anchor: minimum
    assert(Similarity.autoPlanes(20) == 4)     // never below the minimum
    assert(Similarity.autoPlanes(1000) == 5)   // corpus doubling adds 1
    assert(Similarity.autoPlanes(20000) == 10) // 2^10 buckets ~ 20/bucket
    // occupancy n / 2^planes stays within (anchor/2^min / 2, anchor/2^min]
    // = (15.6, 31.25] for every corpus above the anchor
    Seq(600L, 5000L, 80000L, 1000000L).foreach { n =>
      val occ = n.toDouble / (1L << Similarity.autoPlanes(n))
      assert(occ <= 31.25 && occ > 15.6, s"n=$n occupancy $occ")
    }
  }

  test("autoCentroids follows the sqrt rule with a floor") {
    import graft.operators.Similarity
    assert(Similarity.autoCentroids(10) == 8) // floor
    assert(Similarity.autoCentroids(10000) == 100)
    assert(Similarity.autoCentroids(200000) == 448) // ceil(sqrt)
    // list size n/centroids stays ~sqrt(n): within [0.5, 1.5]*sqrt(n)
    Seq(1000L, 50000L, 5000000L).foreach { n =>
      val lists = n.toDouble / Similarity.autoCentroids(n)
      assert(lists <= 1.5 * math.sqrt(n.toDouble) &&
        lists >= 0.5 * math.sqrt(n.toDouble), s"n=$n list size $lists")
    }
  }

  test("embedding near-dup pairs: bucket cap drops degenerate buckets only") {
    import graft.operators.Similarity
    // 30 identical vectors (one degenerate bucket) + 2 distinct near-dups
    val dup = Array.tabulate(8)(d => (d + 1).toFloat)
    val near = Array.tabulate(8)(d => (d + 1).toFloat + (if (d == 0) 0.01f else 0f))
    val rows = (0L until 30L).map(i => (i, dup)) ++
      Seq((100L, near), (101L, near.map(x => x * 2f)))
    val df = rows.toDF("vec_id", "embedding")
    // cap 10 < 32 members in the shared bucket: the identical-vector
    // glut (quadratic pairs) is dropped wholesale...
    val capped = Similarity.embeddingNearDupPairs(df, 0.9, 4,
      maxBucketSize = 10)
    assert(capped.count() == 0)
    // ...while an uncapped run scores all bucket-local pairs
    val full = Similarity.embeddingNearDupPairs(df, 0.9, 4,
      maxBucketSize = 1000)
    assert(full.count() >= 30L * 31 / 2) // the 30-clone clique at least
    assert(full.filter(col("id_a") === 100L && col("id_b") === 101L)
      .count() == 1) // parallel vectors: cosine 1.0 regardless of norm
  }

  test("embedding near-dup clusters equal the union-find closure of the pairs") {
    import graft.operators.Similarity
    // two semantic families (scaled copies have cosine 1.0) + a singleton
    val a = Array.tabulate(8)(d => (d + 1).toFloat)
    val b = Array.tabulate(8)(d => (8 - d).toFloat)
    val solo = Array.tabulate(8)(d => (if (d % 2 == 0) 1f else -1f))
    val vecs = Seq(
      (0L, a), (1L, a.map(_ * 2f)), (2L, a.map(_ * 3f)),
      (10L, b), (11L, b.map(_ * 0.5f)),
      (20L, solo)).toDF("vec_id", "embedding")
    // a six-vector graph takes clusterLabels' driver union-find path
    val clusters = Similarity.embeddingNearDupClusters(vecs, 0.95, 4)
      .as[(Long, Long)].collect().toMap
    // the distributed star path, run on the same pair graph, must agree
    val pairDf = Similarity.embeddingNearDupPairs(vecs, 0.95, 4)
    val star = graft.operators.Dedup.starLabels(vecs, "vec_id", pairDf)
      .as[(Long, Long)].collect().toMap
    assert(star == clusters, "star path diverged from driver union-find")
    val pairs = pairDf.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(clusters == ComponentClosure(clusters.keys, pairs))
    assert(clusters(20L) == 20L, "singleton labels itself")
    assert(clusters(1L) == 0L && clusters(2L) == 0L, "family A collapses to 0")
    // cluster-exact removal keeps exactly the per-family minimum
    val kept = Similarity.dropSemanticDuplicates(vecs, 0.95, 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == clusters.filter { case (k, v) => k == v }.keySet)
    assert(kept == Set(0L, 10L, 20L))
  }

  test("lsh native kernel equals the declarative plane fold bit-for-bit") {
    // same element-order double summation, same strict > 0 sign rule,
    // same salted-md5 plane components (now memoized per executor) —
    // across plane counts, table salts, dims, and sign-mixed scales
    import graft.operators.Similarity
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 300L).map { i =>
      val d = 1 + rnd.nextInt(40)
      (i, Array.fill(d)((rnd.nextFloat() * 2 - 1) *
        math.pow(10, rnd.nextInt(4) - 1).toFloat))
    } ++ Seq(
      (900L, Array(0.0f, 0.0f)),   // zero vector: no bit fires
      // non-finite projections: Spark NaN orders above 0, so a NaN
      // projection SETS the plane bit — bare Java `> 0` (false for NaN)
      // would silently clear it
      (904L, Array(Float.NaN, 1.0f)),
      (905L, Array(Float.PositiveInfinity, -0.25f)),
      (906L, Array(Float.NegativeInfinity, 0.5f)),
      (907L, Array(Float.PositiveInfinity, Float.NegativeInfinity)))
    val df = vecs.toDF("vec_id", "embedding")
    for ((planes, salt) <- Seq((4, 0), (8, 0), (4, 3), (12, 7))) {
      val both = df.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), planes, salt).as("nat"),
        Similarity.lshBucketDeclarative(col("embedding"), planes, salt)
          .as("dec")).collect()
      both.foreach(r => assert(r.getLong(1) === r.getLong(2),
        s"planes=$planes salt=$salt vec ${r.getLong(0)}"))
    }
  }

  test("term_counts native kernel equals the declarative distinct+filter twin") {
    // one-pass LinkedHashMap vs array_distinct + per-term filter count:
    // same (term, cnt) values, same first-occurrence element ORDER, null
    // tokens grouped under one null term (SQL GROUP BY semantics), empty
    // array -> empty array, null array -> null
    import graft.functions.Expressions
    val rnd = new scala.util.Random(23)
    val words = Vector("the", "a", "spark", "café", "añejo", "ZEBRA", "", "x")
    val docs = (0L until 200L).map { i =>
      val n = rnd.nextInt(30)
      (i, Seq.fill(n)(words(rnd.nextInt(words.size))))
    } ++ Seq(
      (900L, Seq.empty[String]),
      (901L, null.asInstanceOf[Seq[String]]),
      (902L, Seq(null.asInstanceOf[String], "t", null, "t")),
      (903L, Seq("solo")))
    val df = docs.toDF("id", "toks")
    val both = df.select(col("id"),
      Expressions.term_counts(col("toks")).as("nat"),
      Expressions.term_counts_declarative(col("toks")).as("dec")).collect()
    both.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch id ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getSeq[Any](1) === r.getSeq[Any](2),
          s"value/order mismatch id ${r.getLong(0)}")
    }
  }

  test("int8 native kernel equals the declarative round chain bit-for-bit") {
    // the r11 one-pass kernel must reproduce the retired declarative
    // aggregate(max-abs) + transform(round) form exactly — including the
    // half-up rounding on adversarial near-.5 ratios, where a float
    // floor(x+0.5) shortcut diverges by one code
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 200L).map { i =>
      val d = 1 + rnd.nextInt(24)
      (i, Array.fill(d)((rnd.nextFloat() * 2 - 1) *
        math.pow(10, rnd.nextInt(5) - 2).toFloat))
    } ++ Seq(
      (900L, Array(0.0f, 0.0f)),              // zero vector
      (901L, Array(1.0f)),                    // single element -> 127
      (902L, Array(-3.5f, 7.0f, 1.75f)),      // exact .5 ratios
      (903L, Array(Float.MinPositiveValue, 1.0f)),
      // non-finite elements: the pinned contract is all-zero codes in
      // BOTH forms — unguarded, one dirty element killed the whole job
      // (BigDecimal.decimal(NaN) in the kernel; ANSI cast(NaN as
      // tinyint) in the declarative chain)
      (904L, Array(Float.NaN, 1.0f)),
      (905L, Array(Float.PositiveInfinity, 0.5f)),
      (906L, Array(-1.0f, Float.NegativeInfinity)),
      (907L, Array(Float.NaN, Float.PositiveInfinity)))
    val df = vecs.toDF("vec_id", "embedding")
    val both = df.select(col("vec_id"),
      Similarity.int8Codes(col("embedding")).as("nat"),
      Similarity.int8CodesDeclarative(col("embedding")).as("dec"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Byte](1) === r.getSeq[Byte](2),
        s"vec ${r.getLong(0)}")
    }
    // absolute pin, not just parity: every non-finite vector quantizes
    // to all-zero codes of the input length
    both.filter(_.getLong(0) >= 904L).foreach { r =>
      assert(r.getSeq[Byte](1).forall(_ == 0) && r.getSeq[Byte](1).size == 2,
        s"vec ${r.getLong(0)} not all-zero")
    }
    // null-cell vectors — including MIXED dirt (a null cell AND a
    // non-finite cell, both orders): the contract is decided over the
    // whole vector, null wins, so element order must not matter. An
    // earlier kernel decided on the FIRST dirty cell it met ([null,
    // NaN] → null but [NaN, null] → zeros) while the twin's
    // null-skipping greatest() zeroed both
    val mixed: Seq[(Long, Seq[Option[Float]])] = Seq(
      (910L, Seq(None, Some(Float.NaN))),
      (911L, Seq(Some(Float.NaN), None)),
      (912L, Seq(Some(1.0f), None)),
      (913L, Seq(None, Some(1.0f))))
    mixed.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.int8Codes(col("embedding")).as("nat"),
        Similarity.int8CodesDeclarative(col("embedding")).as("dec"))
      .collect().foreach { r =>
        assert(r.isNullAt(1) && r.isNullAt(2),
          s"vec ${r.getLong(0)}: a null cell must null the vector " +
            "WHOLE in both forms")
      }
  }

  test("micro_vec native kernel equals the declarative round chain bit-for-bit") {
    // the r12 one-pass kernel must reproduce the retired
    // transform(round(x·1e6).cast(long)) form exactly on finite cells —
    // including half-up at the .5 boundary (x = k + 0.5 micro exactly,
    // negative halves, and the one-ulp-under-.5 doubles where a naive
    // floor(v + 0.5) rounds the wrong way) and null-cell preservation
    import graft.operators.KMeans
    val rnd = new scala.util.Random(12)
    val fvecs: Seq[(Long, Seq[Option[Float]])] =
      (0L until 200L).map { i =>
        val d = 1 + rnd.nextInt(24)
        (i, Seq.fill(d)(Some((rnd.nextFloat() * 2 - 1) *
          math.pow(10, rnd.nextInt(6) - 3).toFloat)))
      } ++ Seq(
        (900L, Seq(Some(0.0f), Some(-0.0f))),
        (901L, Seq(Some(2.5e-6f), Some(-2.5e-6f))), // exact ±.5 micro
        (902L, Seq(Some(1.0000005f), Some(-1.0000005f))),
        (903L, Seq(Some(999.999f), Some(-999.999f))),
        (905L, Seq(Some(Float.MinPositiveValue))))
    val fdf = fvecs.toDF("vec_id", "embedding")
    fdf.select(col("vec_id"),
      KMeans.microVec(col("embedding")).as("nat"),
      KMeans.microVecDeclarative(col("embedding")).as("dec"))
      .collect().foreach { r =>
        assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"vec ${r.getLong(0)}")
      }
    // double input too (kind = 1), with adversarial one-ulp-under-.5
    // values that only the guarded boundary fallback gets right
    val dvecs: Seq[(Long, Seq[Option[Double]])] = Seq(
      (0L, Seq(Some(0.49999999999999994e-6), Some(4.9999999999e-7))),
      (1L, Seq(Some(2.4999999999999996e-6), Some(-2.4999999999999996e-6))),
      (2L, (0 until 64).map(j => Some(j * 1.7e-5 + 5e-7)).toSeq),
      (3L, Seq(Some(123.4567895), Some(-123.4567895))))
    dvecs.toDF("vec_id", "embedding").select(col("vec_id"),
      KMeans.microVec(col("embedding")).as("nat"),
      KMeans.microVecDeclarative(col("embedding")).as("dec"))
      .collect().foreach { r =>
        assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"vec ${r.getLong(0)}")
      }
    // absolute pin: a DIRTY vector (null cell, non-finite cell, or a
    // finite element whose x·1e6 overflows to Infinity) nulls WHOLE —
    // the declarative chain would THROW under ANSI on non-finite and
    // emit a poisoned null cell on null input (which r12 code review
    // showed corrupts the posexplode covariance and NPEs the Gramian
    // decode); one uniform null-vector contract lets every consumer
    // drop dirt with a single isNotNull
    val dirty = Seq(
      (0L, Seq(Some(1.0f), Some(Float.NaN))),
      (1L, Seq(Some(Float.PositiveInfinity))),
      (2L, Seq(Some(1.5f), None, Some(-0.5f))),
      (3L, Seq(Some(1.0f), Some(2.0f)))) // clean control
      .toDF("vec_id", "embedding")
    val got = dirty.select(col("vec_id"),
      KMeans.microVec(col("embedding")).as("mv"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got === Map(0L -> true, 1L -> true, 2L -> true, 3L -> false))
    // finite-but-huge double element: x·1e6 = Infinity must null, not
    // throw from BigDecimal.decimal(Infinity)
    val huge = Seq((0L, Seq(1.0e303))).toDF("vec_id", "embedding")
    assert(huge.select(KMeans.microVec(col("embedding"))).head().isNullAt(0))
    // int/long element types quantize exactly (the declarative twin
    // accepted any castable numeric; analysis rejects others loudly)
    val ints = Seq((0L, Seq(1, -2, 0))).toDF("vec_id", "embedding")
    assert(ints.select(KMeans.microVec(col("embedding"))).head()
      .getSeq[Long](0) === Seq(1000000L, -2000000L, 0L))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((0L, Seq("a"))).toDF("vec_id", "embedding")
        .select(KMeans.microVec(col("embedding"))).head()
    }
  }

  test("int8 quantization: exact codes, scale cancellation, top-k recall") {
    import graft.operators.Similarity
    val df = Seq(
      (0L, Array(1.0f, -2.0f, 4.0f)),      // mx 4 -> codes 32, -64, 127
      (1L, Array(0.5f, -1.0f, 2.0f)),      // same direction -> same codes
      (2L, Array(0.0f, 0.0f, 0.0f))        // zero vector -> zero codes
    ).toDF("vec_id", "embedding")
    val codes = df.select(col("vec_id"),
      Similarity.int8Codes(col("embedding")).as("q"))
      .orderBy("vec_id").as[(Long, Seq[Byte])].collect()
    assert(codes(0)._2 == Seq[Byte](32, -64, 127))
    // symmetric quantization preserves direction: a scaled copy gets
    // IDENTICAL codes, so quantized cosine of the pair is exactly 1
    assert(codes(1)._2 == codes(0)._2)
    assert(codes(2)._2 == Seq[Byte](0, 0, 0))
    val sim = df.filter(col("vec_id") === 0L)
      .select(lit(1).as("j"), col("embedding").as("a"))
      .join(df.filter(col("vec_id") === 1L)
        .select(lit(1).as("j"), col("embedding").as("b")), "j")
      .select(Similarity.int8Cosine(
        Similarity.int8Codes(col("a")),
        Similarity.int8Codes(col("b"))).as("s"))
      .as[Double].head()
    assert(sim == 1.0)
    // quantized top-k on a real-ish corpus recalls the exact top-k head
    val rnd = new scala.util.Random(7)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val corpus = (0L until 50L).map { i =>
      val v = Array.tabulate(16)(d =>
        base(d) + (rnd.nextFloat() * 2 - 1) * (if (i < 5) 0.05f else 1.0f))
      (i, v)
    }.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(
      corpus.filter(col("vec_id") === 0L), corpus, 3)
      .select("neighbor_id").as[Long].collect().toSet
    val quant = Similarity.int8TopK(
      corpus.filter(col("vec_id") === 0L), corpus, 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(quant.intersect(exact).size >= 2,
      s"int8 top-3 lost the exact head: $exact vs $quant")
    // two-stage cascade: the exact re-rank of the 4x shortlist recovers
    // the exact top-k, ranks and float scores included
    val exactFull = Similarity.bruteForceTopK(
      corpus.filter(col("vec_id") === 0L), corpus, 3)
      .select("rank", "neighbor_id", "sim")
      .as[(Int, Long, Double)].collect().toSeq
    val refined = Similarity.int8RefineTopK(
      corpus.filter(col("vec_id") === 0L), corpus, 3, refine = 4)
      .select("rank", "neighbor_id", "sim")
      .as[(Int, Long, Double)].collect().toSeq
    assert(refined == exactFull,
      s"refine cascade diverged from exact: $exactFull vs $refined")
  }

  test("IVF-SQ8 cascade: nProbe=all + refine recovers exact; pruning recalls the head") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val corpus = (0L until 120L).map { i =>
      val v = Array.tabulate(16)(d =>
        base(d) + (rnd.nextFloat() * 2 - 1) * (if (i < 6) 0.05f else 1.0f))
      (i, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(queries, corpus, 3)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    // probing EVERY list makes candidate selection complete, so the
    // cascade must reproduce exact brute-force top-k bit-for-bit (ranks
    // and float scores included) — the same guarantee int8RefineTopK
    // carries, now surviving the IVF composition
    val full = Similarity.ivfInt8RefineTopK(queries, corpus, 3,
      numCentroids = 4, nProbe = 4, refine = 4)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    assert(full == exact,
      s"nProbe=all cascade diverged from exact: $exact vs $full")
    // genuine pruning (2 of 4 lists) still recalls most of the exact head
    val pruned = Similarity.ivfInt8RefineTopK(queries, corpus, 3,
      numCentroids = 4, nProbe = 2, refine = 4)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exactPairs = exact.map(t => (t._1, t._3)).toSet
    val recall = (exactPairs intersect pruned).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"IVF-SQ8 recall $recall too low: $pruned vs $exactPairs")
  }

  test("PQ: exact codes with index tie-break, ADC recall, refine recovers exact") {
    import graft.operators.Similarity
    // hand-checkable codebooks: m=2 subspaces of 2 dims, 2 centroids each
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(2.0, 2.0), Seq(3.0, 3.0)))
    val toy = Seq(
      (0L, Array(0.9f, 0.9f, 2.1f, 2.1f)),  // -> nearest (1,1) then (2,2)
      (1L, Array(0.5f, 0.5f, 2.5f, 2.5f))   // equidistant BOTH subspaces
    ).toDF("vec_id", "embedding")
    val codes = toy.select(col("vec_id"),
      Similarity.pqCodes(col("embedding"), cb).as("c"))
      .orderBy("vec_id").as[(Long, Seq[Byte])].collect()
    assert(codes(0)._2 == Seq[Byte](1, 0))
    // exact distance ties break toward the SMALLER centroid index (the
    // oracle's ROW_NUMBER order), in every subspace
    assert(codes(1)._2 == Seq[Byte](0, 0))

    // stride codebooks + ADC on a real-ish corpus: shortlist recalls the
    // exact head, and the refine cascade recovers exact top-k including
    // ranks and float scores
    val rnd = new scala.util.Random(13)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val corpus = (0L until 120L).map { i =>
      val v = Array.tabulate(16)(d =>
        base(d) + (rnd.nextFloat() * 2 - 1) * (if (i < 6) 0.05f else 1.0f))
      (i, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val books = Similarity.pqStrideCodebooks(corpus, m = 4, k = 8)
    assert(books.size == 4 && books.forall(_.size == 8) &&
      books.forall(_.forall(_.size == 4)))
    val exact = Similarity.bruteForceTopK(queries, corpus, 3)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    val approx = Similarity.pqAdcTopK(queries, corpus, 3, books)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exactPairs = exact.map(t => (t._1, t._3)).toSet
    val recall = (exactPairs intersect approx).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"PQ-ADC recall $recall too low: $approx vs $exactPairs")
    val refined = Similarity.pqAdcRefineTopK(queries, corpus, 3, books,
      refine = 8)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    assert(refined == exact,
      s"PQ refine cascade diverged from exact: $exact vs $refined")

    // Lloyd training: quantization MSE never increases per iteration and
    // the refined codebooks beat the stride seeds on their own sample
    def mse(codebooks: Seq[Seq[Seq[Double]]]): Double = {
      val vecs = corpus.orderBy("vec_id").select("embedding")
        .as[Seq[Float]].collect().map(_.map(_.toDouble))
      val ds = codebooks.head.head.size
      vecs.map { v =>
        codebooks.zipWithIndex.map { case (cents, j) =>
          val s = v.slice(j * ds, (j + 1) * ds)
          cents.map(c => c.zip(s).map { case (a, b) =>
            (a - b) * (a - b) }.sum).min
        }.sum
      }.sum / vecs.length
    }
    val errs = (0 to 3).map(it =>
      mse(Similarity.pqTrainExact(corpus, m = 4, k = 8, iters = it)))
    assert(errs.sliding(2).forall(p => p(1) <= p(0) + 1e-12),
      s"Lloyd MSE must be non-increasing: $errs")
    assert(errs.last < errs.head, s"training never improved the seeds: $errs")
  }

  test("IVF-PQ cascade: nProbe=all + refine recovers exact; pruning recalls the head") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(17)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val corpus = (0L until 120L).map { i =>
      val v = Array.tabulate(16)(d =>
        base(d) + (rnd.nextFloat() * 2 - 1) * (if (i < 6) 0.05f else 1.0f))
      (i, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 3)
    val books = Similarity.pqStrideCodebooks(corpus, m = 4, k = 8)
    val exact = Similarity.bruteForceTopK(queries, corpus, 3)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    // complete candidate selection (every list probed) + a shortlist
    // wide enough that ADC cannot drop a true neighbor out of it -> the
    // exact float re-rank must reproduce brute force bit-for-bit
    val full = Similarity.ivfPqRefineTopK(queries, corpus, 3, books,
      numCentroids = 4, nProbe = 4, refine = 16)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    assert(full == exact,
      s"nProbe=all IVF-PQ diverged from exact: $exact vs $full")
    // genuine pruning (2 of 4 lists) still recalls most of the head
    val pruned = Similarity.ivfPqRefineTopK(queries, corpus, 3, books,
      numCentroids = 4, nProbe = 2, refine = 4)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val exactPairs = exact.map(t => (t._1, t._3)).toSet
    val recall = (exactPairs intersect pruned).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"IVF-PQ recall $recall too low: $pruned vs $exactPairs")
  }

  test("semDeDup: farthest-from-centroid keeper, cluster-scoped blindness") {
    // corpusSize=6 pins stride=3 -> centroids are ids 0 and 3
    val vecs = Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f), 2L -> Seq(0.95f, 0.05f),
      3L -> Seq(0f, 1f), 4L -> Seq(0.1f, 0.9f), 5L -> Seq(-0.5f, 0.5f),
      6L -> Seq(0.71f, 0.70f), 7L -> Seq(0.70f, 0.71f)
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(vecs, threshold = 0.9, numCentroids = 2,
      corpusSize = Some(6L))
      .orderBy("vec_id").select("vec_id", "cluster", "keep")
      .as[(Long, Long, Int)].collect()
    // component {0,1,2}: keeper is 1 — FARTHEST from centroid (1,0)
    // (cos 0.9939 < 0.9986 < 1.0) — the min-id rule would wrongly keep 0
    assert(out(0) == ((0L, 0L, 0)))
    assert(out(1) == ((1L, 0L, 1)))
    assert(out(2) == ((2L, 0L, 0)))
    // component {3,4}: keeper 4 (farther); 5 is below τ -> singleton keeps
    assert(out(3) == ((3L, 3L, 0)))
    assert(out(4) == ((4L, 3L, 1)))
    assert(out(5) == ((5L, 3L, 1)))
    // 6 and 7 are near-identical (cos ~0.9998) but straddle the cluster
    // boundary: cluster-scoped dedup is blind to the pair — BOTH keep
    // (the documented SemDeDup approximation)
    assert(out(6) == ((6L, 0L, 1)))
    assert(out(7) == ((7L, 3L, 1)))
  }

  test("semDeDup: capped-out hot cluster passes through un-deduped") {
    val vecs = Seq(
      0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f), 2L -> Seq(0.95f, 0.05f),
      3L -> Seq(0f, 1f), 4L -> Seq(0.1f, 0.9f), 5L -> Seq(-0.5f, 0.5f),
      6L -> Seq(0.71f, 0.70f)
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(vecs, threshold = 0.9, numCentroids = 2,
      maxClusterSize = 3, corpusSize = Some(6L))
      .orderBy("vec_id").select("vec_id", "keep")
      .as[(Long, Int)].collect()
    // cluster 0 holds {0,1,2,6} = 4 > cap -> every member survives
    assert(out.take(3).forall(_._2 == 1) && out(6) == ((6L, 1)))
    // cluster 3 holds {3,4,5} = 3 <= cap -> dedup still fires there
    assert(out(3) == ((3L, 0)) && out(4) == ((4L, 1)) && out(5) == ((5L, 1)))
  }

  test("dense index round-trip equals the in-memory cascade bit-for-bit") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ix = java.nio.file.Files.createTempDirectory("graft_dix").toString
    graft.operators.DenseIndex.build(emb, ix, numCentroids = 8)
    val fromIndex = graft.operators.DenseIndex.query(
      emb.filter(col("vec_id") < 10), ix, k = 5, nProbe = 3, refine = 4)
      .orderBy("query_id", "rank").collect()
    val direct = Similarity.ivfInt8RefineTopK(
      emb.filter(col("vec_id") < 10), emb, 5,
      numCentroids = 8, nProbe = 3, refine = 4)
      .orderBy("query_id", "rank").collect()
    assert(fromIndex.toSeq == direct.toSeq)
    assert(fromIndex.nonEmpty)
    // a second query batch against the SAME persisted index (no rebuild)
    val second = graft.operators.DenseIndex.query(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < 15), ix,
      k = 3, nProbe = 2)
    assert(second.count() > 0)
  }

  test("dense index with trained centroids equals in-memory serving and tightens lists") {
    // three tight equal blobs, blob = id % 3 over 126 ids: the stride
    // seeding picks ids 0, 42, 84 — ALL in blob 0 (42 % 3 == 0) — so
    // stride lists skew badly, while trained centroids land one per blob
    val rnd = new scala.util.Random(7)
    val centers = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    val rows = (0 until 126).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toArray)
    }
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4)).toDF("vec_id", "embedding")
    val model = graft.operators.KMeans.fit(emb, "vec_id", "embedding",
      k = 3, iters = 3)
    val cents = spark.createDataFrame(
      model.centroids.zipWithIndex.toSeq.map { case (c, j) =>
        (j.toLong, c.map(_.toDouble / 1e6)) }).toDF("centroid_id", "centv")
    val ix = java.nio.file.Files.createTempDirectory("graft_dix_t").toString
    graft.operators.DenseIndex.build(emb, ix, centroids = Some(cents))
    // refine large enough that the quantized shortlist covers every probed
    // candidate -> the float re-rank IS the exact ranking over the probed
    // lists, i.e. ivfTopKWithCentroids on the same trained quantizer
    val queries = emb.filter(col("vec_id") < 6)
    val fromIndex = graft.operators.DenseIndex.query(
      queries, ix, k = 4, nProbe = 1, refine = 1000)
      .orderBy("query_id", "rank").collect()
    val direct = Similarity.ivfTopKWithCentroids(
      queries, emb, 4, cents, nProbe = 1)
      .orderBy("query_id", "rank").collect()
    assert(fromIndex.toSeq == direct.toSeq)
    assert(fromIndex.nonEmpty)
    // trained lists must be TIGHTER than stride lists on this clustered,
    // id-interleaved corpus: compare max/mean list-size ratios
    def listRatio(dir: String): Double = {
      val sizes = spark.read.parquet(s"$dir/lists")
        .groupBy("cluster").count().collect().map(_.getLong(1).toDouble)
      sizes.max / (sizes.sum / sizes.length)
    }
    val ixStride = java.nio.file.Files.createTempDirectory("graft_dix_s").toString
    graft.operators.DenseIndex.build(emb, ixStride, numCentroids = 3)
    assert(listRatio(ix) < listRatio(ixStride),
      s"trained ${listRatio(ix)} !< stride ${listRatio(ixStride)}")
    // trained lists are near-balanced on equal-mass blobs
    assert(listRatio(ix) < 1.3, s"trained lists skewed: ${listRatio(ix)}")
  }

  test("dense index: empty corpus builds a queryable empty index; rebuild overwrites") {
    val empty = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 0)
    val ix = java.nio.file.Files.createTempDirectory("graft_dix_e").toString
    graft.operators.DenseIndex.build(empty, ix, numCentroids = 4)
    val q = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 3)
    assert(graft.operators.DenseIndex.query(q, ix, k = 5).count() == 0)
    // rebuilding over the same dir with real data serves real results
    graft.operators.DenseIndex.build(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), ix,
      numCentroids = 4)
    assert(graft.operators.DenseIndex.query(q, ix, k = 5).count() > 0)
  }

  test("preprocessing stats: changed/truncated/removed counters") {
    import graft.ops.Preprocess
    val df = Seq(
      "clean text",
      "  spaced\u00ae  out  ",
      ("w " * 50).trim // 50 words -> truncates at 40 chars
    ).toDF("text")
    val st = Preprocess.stats(df, "text", maxLength = Some(40))
    assert(st.rows == 3)
    assert(st.changed == 2)   // rows 2 and 3 change, row 1 is untouched
    assert(st.truncated == 1)
    assert(st.charsRemoved > 0)
  }

  test("multimodal feature extraction: deterministic, bounded, batched") {
    import graft.operators.Multimodal
    val df = Seq("alpha", "beta beta beta").toDF("text")
      .withColumn("content", to_binary(col("text"), lit("UTF-8")))
    val out = Multimodal.extractFeatures(df, "content", dim = 8)
    val feats = out.select("text", "features")
      .as[(String, Seq[Float])].collect().toMap
    assert(feats("alpha").length == 8)
    assert(feats.values.forall(_.forall(f => f >= 0f && f < 1f)))
    // deterministic across runs
    val again = Multimodal.extractFeatures(df, "content", dim = 8)
      .select("text", "features").as[(String, Seq[Float])].collect().toMap
    assert(again == feats)
    // and usable downstream by the ANN operators
    val vecs = out.withColumn("vec_id", monotonically_increasing_id())
      .select(col("vec_id"), col("features").as("embedding"))
    val knn = graft.operators.Similarity.bruteForceTopK(vecs, vecs, 1)
    assert(knn.count() == 2)
  }

  test("PQ native kernels equal the retired declarative chains") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    // encode: random floats + deliberately duplicated centroids so the
    // lowest-index tie rule is exercised, not just generic data
    val cb: Seq[Seq[Seq[Double]]] = Seq.tabulate(4)(j =>
      Seq.tabulate(8)(i =>
        if (i == 5) Seq.fill(4)(0.25) // duplicate of i=2 below
        else if (i == 2) Seq.fill(4)(0.25)
        else Seq.fill(4)(rnd.nextDouble() * 2 - 1)))
    val vecs = (0L until 300L)
      .map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val cmp = vecs.select(
      Similarity.pqCodes(col("embedding"), cb).as("k"),
      Similarity.pqCodesDeclarative(col("embedding"), cb).as("d"))
    assert(cmp.filter(col("k") =!= col("d")).count() === 0)
    // training assignment: random micro subvectors across all subspaces
    val cents: Array[Array[Array[Long]]] = Array.fill(4)(
      Array.fill(8)(Array.fill(4)(rnd.nextLong() % 1000000L)))
    cents(1)(6) = cents(1)(3).clone() // tie pair in subspace 1
    val subs = (0 until 400)
      .map(i => (Seq.fill(4)(rnd.nextLong() % 1000000L), i % 4))
      .toDF("s", "j")
    val c2 = subs.select(
      graft.functions.Expressions.pq_assign_micro(col("s"), col("j"), cents)
        .cast("long").as("k"),
      Similarity.pqAssignDeclarative(col("s"), col("j"), cents).as("d"))
    assert(c2.filter(col("k") =!= col("d")).count() === 0)
  }
}
