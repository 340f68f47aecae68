package graft

import org.apache.spark.sql.functions._

import graft.functions.CurationFunctions._
import graft.functions.TextFunctions.tokens

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("repetition signals: hand-computed doc") {
    // "a b a b c" -> words 5, distinct 3, dup_word 2/5; bigrams
    // [a b, b a, a b, b c] -> dup 1/4; top bigram "a b" covers 2*3=6 chars
    val df = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val w = tokens(col("text"))
    val r = df.select(
      size(w).as("n"), dupFrac(w).as("dw"), topCount(w).as("tc"),
      dupFrac(wordBigrams(w)).as("db"),
      topCoverage(wordBigrams(w)).as("cov"),
      meanWordLen(w).as("mwl")).head()
    assert(r.getInt(0) == 5)
    assert(r.getDouble(1) == 2.0 / 5)
    assert(r.getInt(2) == 2)      // 'a' and 'b' both appear twice
    assert(r.getDouble(3) == 1.0 / 4)
    assert(r.getInt(4) == 6)      // "a b" twice x 3 chars
    assert(r.getDouble(5) == 1.0) // five 1-char words
  }

  test("ngram builders: short docs -> empty, order preserved") {
    val df = Seq("x", "x y", "x y z").toDF("t")
    val r = df.select(
      wordBigrams(tokens(col("t"))).as("b2"),
      wordTrigrams(tokens(col("t"))).as("b3"))
      .as[(Seq[String], Seq[String])].collect()
    assert(r(0) == ((Seq.empty, Seq.empty)))
    assert(r(1) == ((Seq("x y"), Seq.empty)))
    assert(r(2) == ((Seq("x y", "y z"), Seq("x y z"))))
  }

  test("pii: counts and typed redaction, non-overlapping classes") {
    val df = Seq(
      "mail bob.smith@ex1.org and al@a.co ph 555-0123 host 10.0.3.77",
      "clean text with no pii at all").toDF("t")
    val r = df.select(
      piiCount(col("t"), EmailPattern).as("e"),
      piiCount(col("t"), PhonePattern).as("p"),
      piiCount(col("t"), IpPattern).as("i"),
      redactPii(col("t")).as("red"))
      .as[(Int, Int, Int, String)].collect()
    assert(r(0) == ((2, 1, 1,
      "mail <EMAIL> and <EMAIL> ph <PHONE> host <IP>")))
    assert(r(1) == ((0, 0, 0, "clean text with no pii at all")))
  }

  test("pii: phone pattern does not fire inside IPs or emails") {
    val df = Seq("ip 192.168.100.200 mail u2@ex.org v 1234-5678").toDF("t")
    val r = df.select(
      piiCount(col("t"), PhonePattern).as("p"),
      redactPii(col("t")).as("red")).as[(Int, String)].head()
    // 1234-5678 has 4 leading digits: \b\d{3}- cannot match inside it
    assert(r._1 == 0)
    assert(r._2 == "ip <IP> mail <EMAIL> v 1234-5678")
  }

  test("pii: uppercase TLDs and mixed-case emails are caught") {
    // regression: EmailPattern's TLD class was lowercase-only, letting
    // ALICE@EXAMPLE.COM through regexp_replace unredacted
    val df = Seq("mail ALICE@EXAMPLE.COM and Bob.J@Ex.Org end").toDF("t")
    val r = df.select(
      piiCount(col("t"), EmailPattern).as("e"),
      redactPii(col("t")).as("red")).as[(Int, String)].head()
    assert(r._1 == 2)
    assert(r._2 == "mail <EMAIL> and <EMAIL> end")
  }

  test("signals are partitioning-independent (pure per-row map)") {
    val docs = (1L to 50L).map(i => (i, s"w$i " * (i % 7 + 1).toInt + "the end"))
    val a = docs.toDF("doc_id", "text").repartition(1)
    val b = docs.toDF("doc_id", "text").repartition(13)
    def sig(df: org.apache.spark.sql.DataFrame) = {
      val w = tokens(col("text"))
      df.select(col("doc_id"), dupFrac(w), topCount(w), meanWordLen(w))
        .orderBy("doc_id").collect().toSeq
    }
    assert(sig(a) == sig(b))
  }

  test("decontamination: only true n-gram overlaps flagged, count exact") {
    val train = Seq((1L, "a b c d e"), (2L, "x y z w v"), (3L, "c d e f g"))
      .toDF("doc_id", "text")
    val ev = Seq((100L, "b c d q r s c d e")).toDF("doc_id", "text")
    val r = graft.operators.Decontamination
      .flagContaminated(train, ev, "doc_id", "text", 3)
      .orderBy("doc_id")
      .as[(Long, Long, Int)].collect().toSeq
    // doc1 shares "b c d" and "c d e"; doc3 shares "c d e"; doc2 clean
    assert(r == Seq((1L, 2L, 1), (2L, 0L, 0), (3L, 1L, 1)))
  }

  test("decontamination: empty eval set -> all clean") {
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val emptyEv = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = graft.operators.Decontamination
      .flagContaminated(train, emptyEv, "doc_id", "text", 3)
      .as[(Long, Long, Int)].collect().toSeq
    assert(r == Seq((1L, 0L, 0)))
  }

  test("incremental dedup: seen content dropped, unseen kept, fp-safe") {
    val seenCorpus = Seq((1L, "Hello, World!"), (2L, "old doc two"))
      .toDF("doc_id", "text")
    val ledger = graft.operators.Dedup
      .exactGroups(seenCorpus, "doc_id", "text")
    val incoming = Seq(
      (10L, "hello world"),   // normalizes onto seen doc 1 -> dropped
      (11L, "old doc two"),   // exact seen -> dropped
      (12L, "genuinely new")) // kept
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .dropSeenBefore(incoming, ledger, "text")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(12L))
    // empty ledger passes everything through
    val none = graft.operators.Dedup.dropSeenBefore(
      incoming, ledger.limit(0), "text")
    assert(none.count() == 3)
  }

  test("incremental near-dup: band collisions dropped, short docs survive") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (20L, "completely different content about spark plans"))
      .toDF("doc_id", "text")
    val ledger = graft.operators.Dedup
      .minhashSignatures(corpus, "doc_id", "text", 4, 3)
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // identical -> all bands collide
      (2L, "nothing in common with anything here at all"),
      (3L, "too short")) // <3 tokens: null bands, must survive
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .dropNearSeenBefore(incoming, ledger, "doc_id", "text", 4, 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(2L, 3L))
    // empty ledger: everything passes
    val none = graft.operators.Dedup.dropNearSeenBefore(
      incoming, ledger.limit(0), "doc_id", "text", 4, 3)
    assert(none.count() == 3)
  }

  test("seen-ledger lifecycle: N crawls append only distinct mass; retention re-admits; compact heals files") {
    import graft.operators.SeenLedger
    val path = java.nio.file.Files
      .createTempDirectory("graft_seen_ledger").toString + "/ledger"
    def fps(texts: String*) = graft.operators.Dedup.exactGroups(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "doc_id", "text")

    // three crawls with heavy overlap: dedupe-on-append keeps the ledger
    // at the DISTINCT mass, with each fingerprint under its FIRST crawl
    val n1 = SeenLedger.append(fps("alpha", "beta"), path, "crawl-1")
    val n2 = SeenLedger.append(fps("beta", "gamma"), path, "crawl-2")
    val n3 = SeenLedger.append(fps("alpha", "beta", "gamma"), path, "crawl-3")
    assert((n1, n2, n3) == ((2L, 1L, 0L)),
      s"appended counts must be first-sight only: ($n1,$n2,$n3)")
    val ledger = SeenLedger.read(spark, path)
    assert(ledger.count() == 3, "ledger holds exactly the distinct mass")
    val byCrawl = ledger.groupBy("crawl_id").count()
      .as[(String, Long)].collect().toMap
    assert(byCrawl == Map("crawl-1" -> 2L, "crawl-2" -> 1L),
      s"first-sight attribution: $byCrawl")

    // the ledger drives dropSeenBefore exactly like an in-memory one
    val incoming = Seq((100L, "beta"), (101L, "delta")).toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .dropSeenBefore(incoming, ledger, "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(101L))

    // retention: dropping crawl-2 re-admits gamma (the documented trade),
    // and compaction leaves ONE file per prefix directory
    val retained = SeenLedger.compact(spark, path,
      retainCrawls = Some(Set("crawl-1")))
    assert(retained == 2L)
    val kept2 = graft.operators.Dedup
      .dropSeenBefore(
        Seq((200L, "gamma"), (201L, "alpha")).toDF("doc_id", "text"),
        SeenLedger.read(spark, path), "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept2 == Seq(200L), "expired crawl's content is re-admissible")
    val prefixDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("fp_prefix="))
    assert(prefixDirs.nonEmpty)
    prefixDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"compact must leave one file per prefix, ${d.getName} has ${parts.length}")
    }

    // crash-safe swap: compacting again with everything retained is a
    // no-op rewrite that still succeeds after the directory dance
    assert(SeenLedger.compact(spark, path) == 2L)
  }

  test("seen-ledger probe is partition-pruned at the FileIndex") {
    import graft.operators.SeenLedger
    val path = java.nio.file.Files
      .createTempDirectory("graft_seen_probe").toString + "/ledger"
    // enough distinct docs that the ledger spans many prefixes
    val corpus = (0 until 300).map(i => (i.toLong, s"standing doc $i"))
      .toDF("doc_id", "text")
    SeenLedger.append(
      graft.operators.Dedup.exactGroups(corpus, "doc_id", "text"),
      path, "crawl-0")
    val incoming = Seq((1000L, "standing doc 7"), (1001L, "brand new"))
      .toDF("doc_id", "text")
    val probe = SeenLedger.probeFor(spark, path, incoming, "text")
    // correctness: pruned probe drives the same drop decision
    val kept = graft.operators.Dedup
      .dropSeenBefore(incoming, probe, "text")
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(1001L))
    // plan: the prefix set reaches the scan as a PartitionFilter —
    // the FileIndex skips every other fp_prefix= directory
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("fp_prefix"),
      s"prefix probe did not prune at the FileIndex:\n$p")
    val pruned = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }.sum
    assert(pruned <= 2, s"at most the 2 incoming prefixes may be read: $pruned")
  }

  test("ledger compact: empty retention empties, crash-aside heals, append continues") {
    import graft.operators.{Dedup, SeenLedger}
    val path = java.nio.file.Files
      .createTempDirectory("graft_ledger_edge").toString + "/ledger"
    def fps(texts: String*) = Dedup.exactGroups(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(SeenLedger.append(fps("one", "two"), path, "crawl-1") == 2L)

    // retention that matches nothing: ledger empties WITHOUT the
    // unreadable-empty-staging crash, and life goes on
    assert(SeenLedger.compact(spark, path,
      retainCrawls = Some(Set("no-such-crawl"))) == 0L)
    assert(SeenLedger.read(spark, path).count() == 0)
    assert(SeenLedger.append(fps("one"), path, "crawl-2") == 1L,
      "an emptied ledger accepts fresh appends")

    // crash-window heal: simulate a death between the aside-rename and
    // the swap-in (ledger at <path>.old, nothing at path) — the next
    // read recovers it instead of silently re-admitting the corpus
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"$path.old")))
    val healed = SeenLedger.read(spark, path)
    assert(healed.count() == 1, "aside copy must be healed back")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path.old")))
    assert(SeenLedger.compact(spark, path) == 1L)
  }

  test("signature-ledger lifecycle: first-sight tuples only, crawl-dir layout, retention re-admits") {
    import graft.operators.{Dedup, SeenLedger}
    val path = java.nio.file.Files
      .createTempDirectory("graft_sig_ledger").toString + "/ledger"
    def sigs(rows: (Long, String)*) = Dedup.minhashSignatures(
      rows.toSeq.toDF("doc_id", "text"), "doc_id", "text", 4, 3)

    // crawl-1: two docs, one too short to shingle (all-null bands — can
    // never collide, must NOT be stored)
    val n1 = SeenLedger.appendSignatures(sigs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark plans"),
      (3L, "too short")), path, "crawl-1", numBands = 4)
    assert(n1 == 2L, s"short doc's null signature must not land: $n1")
    // crawl-2: one exact re-sight, one novel
    val n2 = SeenLedger.appendSignatures(sigs(
      (20L, "the quick brown fox jumps over the lazy dog"),
      (21L, "brand new material never crawled before today")),
      path, "crawl-2", numBands = 4)
    assert(n2 == 1L, "re-sighted signature tuple must not re-land")

    // layout: one directory per crawl
    val crawlDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("crawl_id="))
      .map(_.getName).sorted
    assert(crawlDirs.toSeq == Seq("crawl_id=crawl-1", "crawl_id=crawl-2"))

    // the ledger drives dropNearSeenBefore as-is (crawl col rides along)
    val ledger = SeenLedger.readSignatures(spark, path, numBands = 4)
    val incoming = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "brand new material never crawled before today"),
      (102L, "still nothing in common with anything here"))
      .toDF("doc_id", "text")
    val kept = Dedup
      .dropNearSeenBefore(incoming, ledger, "doc_id", "text", 4, 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(102L))

    // retention: expiring crawl-2 re-admits its novel doc; compaction
    // heals each surviving crawl dir to one file
    val retained = SeenLedger.compactSignatures(spark, path,
      retainCrawls = Some(Set("crawl-1")))
    assert(retained == 2L)
    val kept2 = Dedup.dropNearSeenBefore(incoming,
        SeenLedger.readSignatures(spark, path, numBands = 4),
        "doc_id", "text", 4, 3)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept2 == Seq(101L, 102L),
      "expired crawl's signatures must be re-admissible")
    new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("crawl_id="))
      .foreach { d =>
        val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(parts.length == 1,
          s"compact must leave one file per crawl, ${d.getName}: ${parts.length}")
      }
    // empty-ledger read keeps the band schema contract
    val empty = SeenLedger.readSignatures(spark,
      path + "_nonexistent", numBands = 4)
    assert(Dedup.dropNearSeenBefore(incoming, empty, "doc_id", "text", 4, 3)
      .count() == 3)
  }

  test("winnowing: density bound and shared-substring guarantee") {
    import graft.functions.TextFunctions.{kgramHashes, winnowSelect}
    import graft.ops.Parallelism.barrier
    val k = 8; val w = 4
    // doc B embeds a 40-char run of doc A at a different offset; the
    // winnowing guarantee: any common run >= w+k-1 = 11 chars shares at
    // least one selected fingerprint
    val shared = "the quick brown fox jumps over the lazy"
    val docs = Seq(
      (1L, s"$shared dog in the morning sun"),
      (2L, s"zebra print also contains $shared tail"),
      (3L, "entirely disjoint content with no overlap at all present"))
      .toDF("doc_id", "text")
    val staged = barrier(docs.select(col("doc_id"),
      kgramHashes(col("text"), k).as("kh")))
    val fps = staged.select(col("doc_id"),
      array_distinct(winnowSelect(col("kh"), w)).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((fps(1L).toSet intersect fps(2L).toSet).nonEmpty,
      "docs sharing a 40-char run must share a fingerprint")
    assert((fps(1L).toSet intersect fps(3L).toSet).isEmpty)
    // density: ~2/(w+1) of the m-w+1 windows, never more than windows
    val m = docs.filter(col("doc_id") === 1L)
      .select(length(col("text"))).as[Int].head() - (k - 1)
    assert(fps(1L).size <= m - w + 1 && fps(1L).nonEmpty)
    // short text: one window; sub-k text: empty
    val tiny = Seq((1L, "abcdefghij"), (2L, "abc")).toDF("doc_id", "text")
    val tfp = barrier(tiny.select(col("doc_id"),
      kgramHashes(col("text"), k).as("kh")))
      .select(col("doc_id"), winnowSelect(col("kh"), w).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(tfp(1L).size == 1) // 3 grams < w -> single window min
    assert(tfp(2L).isEmpty)
    // null text: empty fingerprints, never a spurious [null] window
    val withNull = Seq((1L, Option("abcdefghijkl")), (2L, None))
      .toDF("doc_id", "text")
    val nfp = barrier(withNull.select(col("doc_id"),
      kgramHashes(col("text"), k).as("kh")))
      .select(col("doc_id"), winnowSelect(col("kh"), w).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(nfp(1L).nonEmpty && nfp(2L).isEmpty)
  }

  test("winnowing fast tier (xxhash64): guarantee holds, tiers never mix") {
    import graft.functions.TextFunctions
    val shared = "the quick brown fox jumps over the lazy"
    val docs = Seq(
      (1L, s"$shared dog in the morning sun"),
      (2L, s"zebra print also contains $shared tail"),
      (3L, "entirely disjoint content with no overlap at all present"))
      .toDF("doc_id", "text")
    // the winnowing guarantee is hash-agnostic: a common run >= w+k-1
    // chars shares a fingerprint under the fast tier too
    val fast = TextFunctions.winnowFingerprints(docs, "text", k = 8, w = 4,
      outCol = "fp", portable = false)
      .select(col("doc_id"), col("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((fast(1L).toSet intersect fast(2L).toSet).nonEmpty,
      "fast tier lost the shared-substring guarantee")
    assert((fast(1L).toSet intersect fast(3L).toSet).isEmpty)
    // density bound survives the tier swap
    val m = docs.filter(col("doc_id") === 1L)
      .select(length(col("text"))).as[Int].head() - 7
    assert(fast(1L).size <= m - 3 && fast(1L).nonEmpty)
    // mixing tiers is a caller bug that must be VISIBLE: the same doc's
    // portable and fast fingerprint sets share nothing, so a cross-tier
    // comparison reads 0 overlap instead of silently under-matching
    val portable = TextFunctions.winnowFingerprints(docs, "text", k = 8,
      w = 4, outCol = "fp", portable = true)
      .select(col("doc_id"), col("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert((fast(1L).toSet intersect portable(1L).toSet).isEmpty,
      "tier mismatch should visibly break")
  }

  test("rolling k-gram hashes: recurrence matches direct polynomial") {
    // the fast tier's one-pass recurrence must equal hashing each gram
    // independently with the same polynomial — recompute per position
    // from scratch here (no rolling) and compare, covering the subtract-
    // multiply-add rollover and the B^(k-1) precomputation
    def fmix64(x0: Long): Long = {
      var x = x0
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
      x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33; x
    }
    val B = 0x100000001b3L
    def direct(s: String, k: Int): Seq[Long] =
      (0 to s.length - k).map { i =>
        var h = 0L
        var j = i
        while (j < i + k) { h = h * B + s.charAt(j); j += 1 }
        fmix64(h)
      }
    val rnd = new scala.util.Random(42)
    val samples = Seq("abcdefghij", "aaaaaaaaaaaa", "ab",
      "z", "répétition répétée àccents") ++
      (1 to 20).map(_ => rnd.alphanumeric.take(5 + rnd.nextInt(60)).mkString)
    for (k <- Seq(3, 8); s0 <- samples) {
      val got = Seq(("x", s0)).toDF("id", "text")
        .select(graft.functions.Expressions
          .kgram_rolling_hashes(col("text"), k).as("h"))
        .as[Seq[Long]].head()
      assert(got == direct(s0, k), s"mismatch for k=$k text='$s0'")
    }
    // equal grams hash equal across documents (the winnowing guarantee's
    // only hash requirement) — and the mixer keeps distinct grams distinct
    val rep = direct("abcdefgh" * 4, 8)
    assert(rep.distinct.size == 8 && rep.size == 25)
  }

  test("native window-min deque matches declarative slice/array_min") {
    // winnowSelect's native deque must be value-identical to the
    // declarative form the oracle replays, including the m<w one-window
    // and duplicate-adjacent-min edges
    val rnd = new scala.util.Random(7)
    val arrays: Seq[Seq[Long]] =
      Seq(Seq.empty[Long], Seq(5L), Seq(3L, 3L, 3L), Seq(9L, 1L, 9L, 1L)) ++
      (1 to 30).map(_ => Seq.fill(1 + rnd.nextInt(40))(rnd.nextLong()))
    for (w <- Seq(2, 4, 7)) {
      val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("id", "h")
      val declarative = df.select(col("id"),
        when(coalesce(size(col("h")), lit(0)) === 0,
          array().cast("array<bigint>"))
          .otherwise(transform(
            sequence(lit(1), greatest(size(col("h")) - (w - 1), lit(1))),
            j => array_min(slice(col("h"), j, lit(w))))).as("fp"))
        .as[(Long, Seq[Long])].collect().toMap
      val native = df.select(col("id"),
        coalesce(graft.functions.Expressions.window_mins(col("h"), w),
          array().cast("array<bigint>")).as("fp"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(native == declarative, s"w=$w")
    }
  }

  test("native band kernel matches declarative sha256/hex-slice formula") {
    // minhashSignatures' fused kernel and shingle_hash_bands' bm lane
    // must reproduce the transform(sha2)/conv(substring) arithmetic the
    // DuckDB oracles replay — byte for byte, including the <k-token
    // null bands, null text, duplicate shingles, and non-ASCII; at
    // numBands = 0 (no band digests, the containment/fuzzy-pair shape)
    // the hsh lane must still equal the declarative hash set
    import graft.functions.TextFunctions.{shingles, tokens}
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "délta", "eps", "z")
    val docs = (Seq((0L, Option("")), (1L, Option("one two")),
      (2L, Option((1 to 30).map(_ => "alpha beta gamma").mkString(" "))),
      (3L, None)) ++
      (4L to 40L).map(i => (i, Option(
        (1 to 2 + rnd.nextInt(25)).map(_ => words(rnd.nextInt(6)))
          .mkString(" ")))))
      .toDF("doc_id", "text")
    for ((numBands, k) <- Seq((8, 3), (4, 2), (6, 3), (0, 3))) {
      val declarative = {
        val groups = (numBands + 3) / 4
        val sh = array_distinct(shingles(tokens(col("text")), k))
        val hexCols = (0 until groups).map(g =>
          transform(sh, s => sha2(concat(lit(s"$g|"), s), 256))
            .as(s"hex_$g"))
        val mat = docs.select(col("doc_id") +: hexCols: _*)
        val bands = (0 until numBands).map { b =>
          val off = 1 + (b % 4) * 15
          array_min(transform(col(s"hex_${b / 4}"),
            h => conv(substring(h, off, 15), 16, 10).cast("long")))
            .as(s"band_$b")
        }
        mat.select(col("doc_id") +: bands: _*)
      }
      val native = graft.operators.Dedup.minhashSignatures(
        docs, "doc_id", "text", numBands, k)
      val dRows = declarative.orderBy("doc_id").collect().map(_.toSeq)
      val nRows = native.orderBy("doc_id").collect().map(_.toSeq)
      assert(nRows.toSeq == dRows.toSeq, s"numBands=$numBands k=$k")

      // the fused pair-prep kernel: hsh must equal the declarative
      // hash64-over-distinct-shingles chain (same order), bm the bands
      import graft.functions.TextFunctions.hash64
      val fused = docs.select(col("doc_id"),
        graft.functions.Expressions.shingle_hash_bands(
          tokens(col("text")), k, numBands).as("shb"))
        .select(col("doc_id"), col("shb.hsh").as("hsh"),
          col("shb.bm").as("bm"))
      val declH = docs.select(col("doc_id"),
        transform(array_distinct(shingles(tokens(col("text")), k)),
          s => hash64(s)).as("hsh"))
      val fRows = fused.orderBy("doc_id")
        .select("doc_id", "hsh").collect().map(_.toSeq)
      val hRows = declH.orderBy("doc_id").collect().map(_.toSeq)
      // declarative: null text -> null hsh; fused: null struct -> null
      assert(fRows.toSeq == hRows.toSeq, s"hsh numBands=$numBands k=$k")
      val fBands = fused.select(col("doc_id") +: (0 until numBands).map(
        b => element_at(col("bm"), b + 1).as(s"band_$b")): _*)
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(fBands.toSeq == dRows.toSeq, s"bm numBands=$numBands k=$k")
    }
  }

  test("native tokenizer matches filter(split(trim, \\s+))") {
    def declarative(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      filter(split(trim(c), "\\s+"), t => t =!= "")
    val rnd = new scala.util.Random(17)
    val ws = Vector(' ', '\t', '\n', '\u000B', '\f', '\r')
    val cases: Seq[Option[String]] =
      Seq(None, Some(""), Some("   "), Some("\t\n"), Some("a"),
        Some(" a "), Some("\ta\tb\t"), Some("a  b\r\nc"),
        Some("répé titionx")) ++
      (1 to 40).map { _ =>
        Some((1 to 1 + rnd.nextInt(30)).map { _ =>
          if (rnd.nextBoolean()) ws(rnd.nextInt(6)).toString
          else ('a' + rnd.nextInt(26)).toChar.toString
        }.mkString)
      }
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val d = df.select(col("id"), declarative(col("text")).as("t"))
      .orderBy("id").collect().map(_.toSeq)
    val n = df.select(col("id"),
      graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .orderBy("id").collect().map(_.toSeq)
    assert(n.toSeq == d.toSeq)
  }

  test("native word shingles match the declarative slice/concat_ws form") {
    import graft.functions.TextFunctions.tokens
    def declarative(toks: org.apache.spark.sql.Column,
                    k: Int): org.apache.spark.sql.Column =
      when(size(toks) < k, array().cast("array<string>")).otherwise(
        transform(sequence(lit(1), size(toks) - (k - 1)),
          i => concat_ws(" ", slice(toks, i, lit(k)))))
    val rnd = new scala.util.Random(31)
    val words = Vector("alpha", "beta", "gamma", "délta", "eps")
    val docs = (Seq((0L, Option("")), (1L, None), (2L, Option("one")),
      (3L, Option("a b"))) ++
      (4L to 40L).map(i => (i, Option(
        (1 to 1 + rnd.nextInt(20)).map(_ => words(rnd.nextInt(5)))
          .mkString(" ")))))
      .toDF("doc_id", "text")
    for (k <- Seq(2, 3, 5)) {
      val d = docs.select(col("doc_id"),
        declarative(tokens(col("text")), k).as("sh"))
        .orderBy("doc_id").collect().map(_.toSeq)
      val n = docs.select(col("doc_id"),
        graft.functions.TextFunctions.shingles(tokens(col("text")), k)
          .as("sh")).orderBy("doc_id").collect().map(_.toSeq)
      assert(n.toSeq == d.toSeq, s"k=$k")
    }
    // null ELEMENTS: concat_ws skips them — pin the skip rule
    val withNull = Seq((1L, Seq(Some("a"), None, Some("b"), Some("c"))))
      .toDF("doc_id", "toks")
    val d2 = withNull.select(declarative(col("toks"), 2).as("sh"))
      .as[Seq[String]].head()
    val n2 = withNull.select(graft.functions.TextFunctions
      .shingles(col("toks"), 2).as("sh")).as[Seq[String]].head()
    assert(n2 == d2 && n2 == Seq("a", "b", "b c"))
  }

  test("native vector dot kernels match the aggregate(zip_with) folds") {
    def declDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    def declDotL(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, v) => acc + v)
    val rnd = new scala.util.Random(5)
    val rows = (1L to 40L).map { i =>
      (i, Seq.fill(8)(rnd.nextFloat()), Seq.fill(8)(rnd.nextFloat()))
    } ++ Seq(
      (98L, Seq(1f, 2f), Seq(1f, 2f, 3f)), // length mismatch -> null
      (99L, Seq.empty[Float], Seq.empty[Float])) // empty -> 0.0
    val df = rows.toDF("id", "a", "b")
    // bit-for-bit: same left-to-right product/accumulation order
    val d = df.select(col("id"), declDot(col("a"), col("b")).as("d"))
      .orderBy("id").collect().map(_.toSeq)
    val n = df.select(col("id"),
      graft.operators.Similarity.dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect().map(_.toSeq)
    assert(n.toSeq == d.toSeq)
    // null ELEMENT poisons the fold -> null, both forms
    val withNull = Seq((1L, Seq(Some(1f), None, Some(2f)),
      Seq(Some(1f), Some(1f), Some(1f)))).toDF("id", "a", "b")
    assert(withNull.select(declDot(col("a"), col("b"))).head().isNullAt(0))
    assert(withNull.select(graft.operators.Similarity.dot(col("a"), col("b")))
      .head().isNullAt(0))
    // integer codes variant (tinyint arrays, exact longs)
    val codes = (1L to 30L).map { i =>
      (i, Seq.fill(6)((rnd.nextInt(255) - 127).toByte),
        Seq.fill(6)((rnd.nextInt(255) - 127).toByte))
    }.toDF("id", "a", "b")
    val dl = codes.select(col("id"), declDotL(col("a"), col("b")).as("d"))
      .orderBy("id").collect().map(_.toSeq)
    val nl = codes.select(col("id"),
      graft.operators.Similarity.int8Dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect().map(_.toSeq)
    assert(nl.toSeq == dl.toSeq)
  }

  test("sorted merge set-ops match array_intersect/array_union sizes") {
    val rnd = new scala.util.Random(13)
    val rows = (1L to 60L).map { i =>
      // small value domain forces real collisions AND duplicate values
      def arr() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(8).toLong).sorted
      (i, arr(), arr())
    } ++ Seq((98L, Seq.empty[Long], Seq(1L, 1L, 2L)),
      (99L, Seq.empty[Long], Seq.empty[Long]))
    val df = rows.toDF("id", "a", "b")
    val decl = df.select(col("id"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("i"),
      size(array_union(col("a"), col("b"))).cast("long").as("u"))
      .orderBy("id").collect().map(_.toSeq)
    val nat = df.select(col("id"),
      graft.functions.Expressions.sorted_set_ops(col("a"), col("b"))
        .as("so"))
      .select(col("id"), col("so.inter").as("i"), col("so.uni").as("u"))
      .orderBy("id").collect().map(_.toSeq)
    assert(nat.toSeq == decl.toSeq)
  }

  test("native squared distance matches the aggregate(zip_with) fold") {
    val rnd = new scala.util.Random(29)
    val cent = Array.fill(8)(rnd.nextLong() % 1000000L)
    def decl(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(zip_with(v, lit(cent), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, t) => acc + t)
    val rows = (1L to 30L).map(i =>
      (i, Seq.fill(8)(rnd.nextLong() % 1000000L))) ++
      Seq((98L, Seq(1L, 2L)), (99L, Seq.empty[Long])) // mismatch -> null
    val df = rows.toDF("id", "v")
    val d = df.select(col("id"), decl(col("v")).as("d"))
      .orderBy("id").collect().map(_.toSeq)
    val n = df.select(col("id"),
      graft.functions.Expressions.vec_sq_dist_long(col("v"), lit(cent))
        .as("d")).orderBy("id").collect().map(_.toSeq)
    assert(n.toSeq == d.toSeq)
  }

  test("native simhash matches the declarative vote chain") {
    import graft.functions.TextFunctions.{hash64, tokens}
    // the retired higher-order-aggregate form, inlined as the reference
    def declarative(toks: org.apache.spark.sql.Column,
                    bits: Int): org.apache.spark.sql.Column = {
      val masks = array((0 until bits).map(b => lit(1L << b)): _*)
      val votes = aggregate(
        array_distinct(toks),
        array_repeat(lit(0L), bits),
        (acc, t) => {
          val h = hash64(t)
          zip_with(acc,
            transform(sequence(lit(0), lit(bits - 1)),
              b => when(h.bitwiseAND(element_at(masks, (b + 1).cast("int")))
                =!= 0L, 1L).otherwise(-1L)),
            (x, y) => x + y)
        })
      aggregate(
        zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(0L)),
        lit(0L), (x, y) => x + y)
    }
    val rnd = new scala.util.Random(23)
    val words = Vector("alpha", "beta", "gamma", "délta", "eps", "zz", "q")
    val docs = (Seq((0L, Option("")), (1L, None),
      (2L, Option("alpha alpha alpha"))) ++
      (3L to 40L).map(i => (i, Option(
        (1 to 1 + rnd.nextInt(30)).map(_ => words(rnd.nextInt(7)))
          .mkString(" ")))))
      .toDF("doc_id", "text")
    for (bits <- Seq(60, 16)) {
      val d = docs.select(col("doc_id"),
        declarative(tokens(col("text")), bits).as("s"))
        .orderBy("doc_id").collect().map(_.toSeq)
      val n = docs.select(col("doc_id"),
        graft.operators.Dedup.simhash(tokens(col("text")), bits).as("s"))
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(n.toSeq == d.toSeq, s"bits=$bits")
    }
    // null ELEMENT inside the array: declarative gives every bit a -1
    // vote through the null-hash otherwise() path — pin that quirk
    val withNull = Seq((1L, Seq(Some("alpha"), None, Some("beta"))),
      (2L, Seq[Option[String]](None))).toDF("doc_id", "toks")
    val d2 = withNull.select(col("doc_id"),
      declarative(col("toks"), 60).as("s")).orderBy("doc_id")
      .collect().map(_.toSeq)
    val n2 = withNull.select(col("doc_id"),
      graft.operators.Dedup.simhash(col("toks"), 60).as("s"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(n2.toSeq == d2.toSeq)
  }

  test("PMI collocations and TF-IDF keywords: hand-computed values") {
    // corpus: "new york" always together (collocation), "the" everywhere
    val docs = Seq(
      (1L, "new york is big"),
      (2L, "new york the city"),
      (3L, "the big apple")).toDF("doc_id", "text")
    val pmi = graft.operators.Collocations.pmi(docs, "text", minCount = 2)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // T=11 tokens, B=8 bigrams; "new york": c12=2, c1=c2=2
    //   pmi = log2((2/8)/((2/11)*(2/11))) = log2(0.25/0.03305...)
    val expected = math.log((2.0 / 8) / ((2.0 / 11) * (2.0 / 11))) /
      math.log(2.0)
    val (c12, p) = pmi(("new", "york"))
    assert(c12 == 2L && math.abs(p - expected) < 1e-6)
    assert(!pmi.contains(("is", "big")), "minCount=2 must drop singletons")

    val kw = graft.operators.Collocations.keywords(docs, "doc_id", "text",
      k = 2).as[(Long, Int, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // doc 3: "apple" (df=1) outranks "big" (df=2) outranks "the" (df=2,
    // same idf as big, later term)
    assert(kw(3L) == Seq("apple", "big"))
    // every doc gets at most k keywords, ranked without gaps
    assert(kw.values.forall(_.size <= 2))
  }

  test("G2 collocations: hand case, independence zero, evidence ranking") {
    // "a b a b c": census ab:2 ba:1 bc:1, B=4. For (a,b): k=[2,0,0,2],
    // G2 = 2*(2 ln2 + 2 ln2) = 8 ln2 = 5.545177
    val docs = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    val g2 = graft.operators.Collocations
      .logLikelihoodRatio(docs, "text", minCount = 2)
      .as[(String, String, Long, Double)].collect()
    assert(g2.toSeq === Seq(("a", "b", 2L, 5.545177)))
    // exactly independent positional table -> G2 = 0 for every pair
    val indep = Seq((1L, "a b"), (2L, "a c"), (3L, "d b"), (4L, "d c"))
      .toDF("doc_id", "text")
    val z = graft.operators.Collocations
      .logLikelihoodRatio(indep, "text", minCount = 1)
      .as[(String, String, Long, Double)].collect()
    assert(z.length === 4 && z.forall(_._4 === 0.0))
    // evidence weighing: a 5x-attested pair outranks a hapax pair even
    // though PMI would favor the rarer one
    val ev = Seq((1L, "x y x y x y x y x y noise1 noise2 p q"))
      .toDF("doc_id", "text")
    val m = graft.operators.Collocations
      .logLikelihoodRatio(ev, "text", minCount = 1)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(m(("x", "y")) > m(("p", "q")))
  }

  test("greedy near-dup removal keeps min id, drops confirmed dups only") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (5L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
      (9L, "completely unrelated text about catalyst query planning today"))
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .dropNearDuplicates(docs, "doc_id", "text", 4, 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 9L))
  }

  test("near-dup clusters: transitive chain gets one component, min label") {
    // A≈B (share most text), B≈C, but A and C share less: transitive
    // closure must still put all three in cluster 1; doc 9 is a singleton
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (5L, "gamma delta epsilon zeta eta iota kappa lambda"),
      (9L, "completely different words about spark physical planning"))
      .toDF("doc_id", "text")
    val clusters = graft.operators.Dedup
      .nearDupClusters(docs, "doc_id", "text", numBands = 8,
        shingleSize = 2, threshold = 0.3)
      .as[(Long, Long)].collect().toMap
    // reference: tiny union-find over whatever pairs the deterministic
    // banding confirmed — clusters must equal its transitive closure,
    // so the labels are fully checked regardless of which candidate
    // pairs formed
    val pairIds = graft.operators.Dedup.nearDuplicatePairs(
      docs, "doc_id", "text", 8, 2, 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val expected = ComponentClosure(clusters.keys, pairIds)
    assert(clusters == expected,
      s"clusters $clusters != union-find closure $expected (pairs ${pairIds.toSeq})")
    // and the fixture must actually exercise a multi-doc component
    assert(pairIds.nonEmpty, "fixture produced no confirmed pairs")
    assert(clusters(9L) == 9L)
  }

  test("winnowFingerprints: public helper matches the hand-staged arithmetic") {
    import graft.functions.TextFunctions
    import graft.ops.Parallelism.barrier
    val docs = Seq(
      (1L, "the winnowing algorithm selects window minima deterministically"),
      (2L, "the winnowing algorithm selects window minima predictably"),
      (3L, "short"),          // < k chars → empty gram set
      (4L, null.asInstanceOf[String])) // null text → empty, not [null]
      .toDF("doc_id", "text")
    val viaHelper = TextFunctions
      .winnowFingerprints(docs, "text", k = 8, w = 4, outCol = "fp")
      .select(col("doc_id"), col("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    val staged = barrier(docs.select(col("doc_id"),
      TextFunctions.kgramHashes(col("text"), 8).as("kh")))
    val byHand = barrier(staged.select(col("doc_id"),
      array_sort(array_distinct(
        TextFunctions.winnowSelect(col("kh"), 4))).as("fp")))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaHelper == byHand,
      s"helper ${viaHelper.view.mapValues(_.size).toMap} != " +
        s"hand-staged ${byHand.view.mapValues(_.size).toMap}")
    assert(viaHelper(1L).nonEmpty &&
      viaHelper(1L).toSet != viaHelper(2L).toSet)
    assert(viaHelper(3L).isEmpty && viaHelper(4L).isEmpty)
    // docs sharing a long run share at least one fingerprint (the MOSS
    // guarantee: any common substring of >= w+k-1 = 11 chars is caught)
    assert(viaHelper(1L).toSet.intersect(viaHelper(2L).toSet).nonEmpty)
  }

  test("star fallback: chain topology converges in O(log n) rounds, labels identical") {
    // Direct graph case: a 64-node chain (diameter 63). One-hop min-label
    // propagation would need 63 join rounds; large-star/small-star must
    // contract it logarithmically with every label = component min = 0.
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labs, rounds) = graft.operators.Dedup.starComponents(chain)
    val m = labs.as[(Long, Long)].collect().toMap
    assert(m.size == 64 && m.values.forall(_ == 0L),
      s"chain must collapse to root 0: $m")
    assert(rounds <= 16, s"star contraction took $rounds rounds on a 64-chain")

    // End-to-end on a near-dup graph: chain-shaped texts (each doc
    // overlaps only its neighbors). nearDupClusters takes the driver
    // union-find here; the star path clusterLabels runs for larger graphs
    // must give the same labels, and both must equal the union-find
    // closure of the confirmed pairs (the CTE oracle's semantics).
    val words = (0 until 60).map(i => s"w$i")
    val docs = (0 until 16).map { i =>
      (i.toLong, words.slice(3 * i, 3 * i + 10).mkString(" "))
    }.toDF("doc_id", "text")
    val viaDriver = graft.operators.Dedup
      .nearDupClusters(docs, "doc_id", "text", numBands = 8,
        shingleSize = 3, threshold = 0.3)
      .as[(Long, Long)].collect().toMap
    val pairDf = graft.operators.Dedup.nearDuplicatePairs(
      docs, "doc_id", "text", 8, 3, 0.3)
    val viaStar = graft.operators.Dedup.starLabels(docs, "doc_id", pairDf)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaDriver,
      s"star path $viaStar != driver union-find $viaDriver")
    val pairIds = pairDf.select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairIds.nonEmpty, "chain fixture produced no confirmed pairs")
    val expected = ComponentClosure(viaStar.keys, pairIds)
    assert(viaStar == expected,
      s"star labels $viaStar != union-find closure $expected")
  }

  test("clusterLabels: decimal ids take the star path, labels = component minima") {
    import org.apache.spark.sql.types.DecimalType
    // DecimalType ids are not a type the driver union-find orders, so
    // clusterLabels must contract this graph distributed: an 11-hop chain
    // in scrambled id order, a 3-node chain, a singleton, and two edges
    // through id 40, which is absent from the ids and must not join the
    // two chains (the semi-filter that keeps both paths in agreement)
    val chain = Seq(7L, 3L, 11L, 0L, 9L, 4L, 10L, 1L, 8L, 5L, 2L, 6L)
    val present = chain.sliding(2).map(p => (p(0), p(1))).toSeq ++
      Seq((20L, 15L), (15L, 17L))
    val edges = present ++ Seq((17L, 40L), (40L, 2L))
    val idSet = chain ++ Seq(15L, 17L, 20L, 30L)
    val dec = DecimalType(20, 0)
    val ids = idSet.toDF("id").select(col("id").cast(dec).as("id"))
    val pairs = edges.toDF("id_a", "id_b")
      .select(col("id_a").cast(dec).as("id_a"), col("id_b").cast(dec).as("id_b"))
    val labels = graft.operators.Dedup.clusterLabels(ids, "id", pairs)
    assert(labels.schema("cluster_id").dataType == dec)
    val got = labels.collect().map(r =>
      r.getDecimal(0).longValueExact -> r.getDecimal(1).longValueExact).toMap
    val expected = ComponentClosure(idSet, present)
    assert(got == expected, s"labels $got != union-find closure $expected")
    assert(got.values.toSet == Set(0L, 15L, 30L))
  }

  test("token budget: per-group prefix, monotone cut, budget respected") {
    val docs = Seq((0L, 900), (8L, 900), (16L, 300), (24L, 100),
      (1L, 2100)).toDF("doc_id", "ntok")
    val kept = graft.operators.Packing
      .takeTokenBudget(docs, "doc_id", "ntok", budgetPerGroup = 2000L,
        groups = 8)
      .select("doc_id").as[Long].collect().toSeq.sorted
    // group 0: 900, 1800 fit; 2100 cuts doc 16 AND everything after (24)
    // group 1: first doc alone exceeds -> empty group
    assert(kept == Seq(0L, 8L))
    val stats = graft.operators.Packing
      .takeTokenBudget(docs, "doc_id", "ntok", 2000L, 8)
      .groupBy("pack_group").agg(max(col("cum_tokens")).as("tot"))
      .select("tot").as[Long].collect()
    assert(stats.forall(_ <= 2000L))
  }

  test("q75 on testdata: both outcomes occur") {
    val dir = "/root/testdata/sf0.001"
    val kept = graft.queries.TextQueries
      .q75IncrementalNearDedup(spark, dir).count()
    val incoming = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0).count()
    assert(kept > 0 && kept < incoming,
      s"kept $kept of $incoming — ledger collisions should drop some but not all")
  }

  test("packing: bins respect capacity boundaries, groups independent") {
    val docs = Seq((0L, 300), (8L, 300), (16L, 300), (1L, 600), (9L, 100))
      .toDF("doc_id", "ntok")
    val packed = graft.operators.Packing
      .packBins(docs, "doc_id", "ntok", capacity = 512, groups = 8)
    val m = packed.select("doc_id", "pack_group", "pack_bin")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // group 0: cum 300/600/900 -> bins floor(0/512)=0, floor(300/512)=0,
    // floor(600/512)=1; group 1: 600-token doc alone in bin 0, next starts
    // at 600 -> bin 1
    assert(m(0L) == ((0L, 0L)) && m(8L) == ((0L, 0L)) && m(16L) == ((0L, 1L)))
    assert(m(1L) == ((1L, 0L)) && m(9L) == ((1L, 1L)))
    val stats = graft.operators.Packing.binStats(packed, 512)
      .orderBy("pack_group", "pack_bin")
      .select("n_docs", "bin_tokens").as[(Long, Long)].collect().toSeq
    assert(stats == Seq((2L, 600L), (1L, 300L), (1L, 600L), (1L, 100L)))
  }

  test("next-fit packing: no bin over capacity, oversize doc isolated") {
    // group 0 (ids 0,8,16,24): 200+300=500 fit bin 0; +300 would hit 800
    // -> bin 1; 600 > remaining 212 -> bin 2 alone. group 1: oversize 600
    // in its own bin, following 100 opens a fresh bin.
    val docs = Seq((0L, 200), (8L, 300), (16L, 300), (24L, 600),
      (1L, 600), (9L, 100)).toDF("doc_id", "ntok")
    val packed = graft.operators.Packing
      .packBinsNextFit(docs, "doc_id", "ntok", capacity = 512, groups = 8)
    val m = packed.select("doc_id", "pack_group", "pack_bin", "bin_offset")
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(m(0L) == ((0L, 0L, 0L)))
    assert(m(8L) == ((0L, 0L, 200L)))
    assert(m(16L) == ((0L, 1L, 0L)))
    assert(m(24L) == ((0L, 2L, 0L)))
    assert(m(1L) == ((1L, 0L, 0L)))
    assert(m(9L) == ((1L, 1L, 0L)))
  }

  test("topCount/topCoverage ignore null elements (naive-formulation parity)") {
    val df = Seq(1).toDF("i").select(
      array(lit("a"), lit(null).cast("string"), lit(null).cast("string"),
        lit(null).cast("string")).as("arr"))
    val r = df.select(topCount(col("arr")).as("tc"),
      topCoverage(col("arr")).as("cov")).head()
    // nulls never count as runs: 'a' once -> 1, coverage 1*len("a")=1
    assert(r.getInt(0) == 1 && r.getInt(1) == 1)
  }

  test("next-fit packing tolerates null ids and token counts") {
    val docs = Seq((Some(0L), Some(300)), (Some(8L), None),
      (None, Some(100)), (Some(16L), Some(300)))
      .toDF("doc_id", "ntok")
    val packed = graft.operators.Packing
      .packBinsNextFit(docs, "doc_id", "ntok", capacity = 512, groups = 8)
    // no NPE; null token count packs zero-width, null id groups alone
    assert(packed.count() == 4)
    val zeroWidth = packed.filter(col("doc_id") === 8L)
      .select("n_tokens").head()
    assert(zeroWidth.isNullAt(0))
  }

  test("next-fit packing property: capacity holds on a real corpus") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("ntok"))
    val cap = 256
    val stats = graft.operators.Packing.binStats(
      graft.operators.Packing
        .packBinsNextFit(docs, "doc_id", "ntok", cap, groups = 8), cap)
      .select("bin_tokens", "n_docs").as[(Long, Long)].collect()
    assert(stats.nonEmpty)
    // a bin exceeds capacity ONLY when a single oversize doc owns it
    stats.foreach { case (tok, n) => assert(tok <= cap || n == 1L) }
    // determinism across partitionings
    val again = graft.operators.Packing
      .packBinsNextFit(docs.repartition(13), "doc_id", "ntok", cap, 8)
      .select("doc_id", "pack_bin").as[(Long, Long)].collect().toMap
    val first = graft.operators.Packing
      .packBinsNextFit(docs, "doc_id", "ntok", cap, 8)
      .select("doc_id", "pack_bin").as[(Long, Long)].collect().toMap
    assert(again == first)
  }

  test("slice packing: every bin exactly full except each group's last") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet").select(
      col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("ntok"))
    val slices = graft.operators.Packing
      .packSlices(docs, "doc_id", "ntok", capacity = 512, groups = 8)
    val perBin = slices.groupBy("pack_group", "pack_bin")
      .agg(sum(col("slice_tokens")).as("tok"))
      .as[(Long, Long, Long)].collect()
    val lastBin = perBin.groupBy(_._1).map { case (g, bs) =>
      g -> bs.map(_._2).max }
    perBin.foreach { case (g, b, tok) =>
      if (b == lastBin(g)) assert(tok <= 512 && tok > 0)
      else assert(tok == 512L, s"group $g bin $b has $tok tokens")
    }
    // slices of one doc reassemble the whole doc, in order
    val byDoc = slices.groupBy("doc_id")
      .agg(sum(col("slice_tokens")).as("st"), max(col("n_tokens")).as("nt"))
      .as[(Long, Long, Long)].collect()
    byDoc.foreach { case (_, st, nt) => assert(st == nt) }
  }

  test("property: substring dedup accounting holds on random corpora") {
    import org.scalacheck.Gen
    // word-soup docs with a small alphabet so cross-doc window repeats
    // genuinely occur; one Spark job for all sampled cases
    val wordGen = Gen.listOfN(40,
      Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
      .map(_.mkString(" "))
    val docs = (0 until 60).flatMap(i => wordGen.sample.map(t => (i.toLong, t)))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .dropDuplicateSpans(docs, "doc_id", "text", windowLen = 20, stride = 5)
      .select("doc_id", "text", "clean_text", "n_spans", "removed_chars")
      .as[(Long, String, String, Long, Long)].collect()
    assert(out.length == docs.count())
    out.foreach { case (id, orig, clean, spans, removed) =>
      // exact length accounting: what was cut is what went missing
      assert(clean.length.toLong == orig.length - removed,
        s"doc $id: ${orig.length} - $removed != ${clean.length}")
      assert((spans == 0) == (removed == 0L))
      if (spans == 0) assert(clean == orig, s"doc $id changed with 0 spans")
      // merged spans each cover at least one full window
      if (spans > 0) assert(removed >= spans * 20, s"doc $id span too small")
    }
    // the tiny alphabet guarantees repeats: the scrub must have fired
    assert(out.exists(_._4 > 0), "no duplicated windows in a 5-word alphabet?")
    // a corpus of globally-unique strings passes through untouched
    val uniq = (0 until 30).map(i => (i.toLong,
      Seq.tabulate(8)(j => ((i * 31L + j) * 2654435761L).toHexString)
        .mkString(" "))).toDF("doc_id", "text")
    val clean = graft.operators.Dedup
      .dropDuplicateSpans(uniq, "doc_id", "text", windowLen = 20, stride = 5)
    assert(clean.filter(col("n_spans") > 0).count() == 0)
  }

  test("property: signal bounds and redaction idempotence on random docs") {
    import org.scalacheck.Gen
    // one Spark job for all sampled cases (job-per-case would be slow)
    val wordGen = Gen.listOf(Gen.oneOf(
      "a", "bb", "ccc", "u1@ex.org", "555-0123", "10.0.0.1", "w", "zzz"))
      .map(_.mkString(" "))
    val cases = (0 until 80).flatMap(_ => wordGen.sample).toDF("t")
    val w = tokens(col("t"))
    val rs = cases.select(
      dupFrac(w).as("dw"), dupFrac(wordBigrams(w)).as("db"),
      meanWordLen(w).as("mwl"), size(w).as("n"), topCount(w).as("tc"),
      redactPii(col("t")).as("r1"),
      redactPii(redactPii(col("t"))).as("r2"))
      .as[(Double, Double, Double, Int, Int, String, String)].collect()
    rs.foreach { case (dw, db, mwl, n, tc, r1, r2) =>
      assert(dw >= 0.0 && dw < 1.0 || (n == 0 && dw == 0.0))
      assert(db >= 0.0 && db <= 1.0)
      assert(mwl >= 0.0)
      assert(if (n == 0) tc == 0 else tc >= 1 && tc <= n)
      assert(r1 == r2, s"redaction not idempotent: $r1 vs $r2")
      // the only '@' token the generator emits is a full email
      assert(!r1.contains("@"), s"unredacted email survived: $r1")
    }
  }

  test("bloom build: sizes past Spark's 4M/8MB runtime caps, restores conf") {
    import graft.operators.BloomBuild
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val beforeItems = spark.conf.get(itemsKey)
    val beforeBits = spark.conf.get(bitsKey)
    val df = (0L until 1000L).toDF("v")
    // claim 50M items: optimal bits ~365M >> the 67M default cap; a
    // clamped build would return ~8MB of bytes, the honest one ~45MB
    val bytes = BloomBuild.bloomBytes(df, xxhash64(col("v")), 50000000L)
    assert(bytes.length.toLong * 8 > 67108864L,
      s"filter clamped to ${bytes.length} bytes")
    assert(spark.conf.get(itemsKey) == beforeItems)
    assert(spark.conf.get(bitsKey) == beforeBits)
    // no false negatives on the inserted values
    val misses = df.filter(!BloomBuild.mightContain(bytes,
      xxhash64(col("v")))).count()
    assert(misses == 0)
  }

  test("dedup preserves a caller's own content_hash column") {
    val ledger = graft.operators.Dedup.exactGroups(
      Seq((1L, "seen before")).toDF("doc_id", "text"), "doc_id", "text")
    val incoming = Seq((10L, "seen before", "user-data"),
      (11L, "brand new", "kept-intact"))
      .toDF("doc_id", "text", "content_hash")
    val out = graft.operators.Dedup.dropSeenBefore(incoming, ledger, "text")
    val r = out.select("doc_id", "content_hash").as[(Long, String)]
      .collect().toSeq
    assert(r == Seq((11L, "kept-intact")))
  }

  test("line dedup: corpus-hot lines dropped everywhere, order kept") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "BANNER\nalpha unique one\nFOOTER"),
      (2L, "BANNER\nbeta unique two\nFOOTER"),
      (3L, "BANNER\ngamma unique three"),
      (4L, "delta only body"),
      (5L, "BANNER\nBANNER\nepsilon solo")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "text", "n_lines_dropped")
      .as[(Long, String, Int)].collect()
    assert(out(0) == ((1L, "alpha unique one", 2)))
    assert(out(1) == ((2L, "beta unique two", 2)))
    assert(out(2) == ((3L, "gamma unique three", 1)))
    assert(out(3) == ((4L, "delta only body", 0)))
    // intra-doc repeats count toward the corpus census and all copies drop
    assert(out(4) == ((5L, "epsilon solo", 2)))
  }

  test("line dedup: maxOccurrences threshold and empty-result docs") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "twice\nbody one"), (2L, "twice\nbody two"),
      (3L, "thrice"), (4L, "thrice"), (5L, "thrice")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateLines(docs, "doc_id", "text",
      maxOccurrences = 2).orderBy("doc_id")
      .select("doc_id", "text", "n_lines_dropped")
      .as[(Long, String, Int)].collect()
    // "twice" occurs 2x <= 2 -> kept; "thrice" occurs 3x > 2 -> dropped,
    // leaving those docs empty (kept as rows, empty text)
    assert(out(0) == ((1L, "twice\nbody one", 0)))
    assert(out(2) == ((3L, "", 1)))
    // no duplicates at all -> early path, zero drops, text untouched
    val clean = Seq((1L, "a\nb"), (2L, "c\nd")).toDF("doc_id", "text")
    val kept = Dedup.dropDuplicateLines(clean, "doc_id", "text")
      .select("doc_id", "text", "n_lines_dropped")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(kept.toSeq == Seq((1L, "a\nb", 0), (2L, "c\nd", 0)))
  }

  test("in-doc repeated lines: keep-first, minChars guard, cross-doc blind") {
    val docs = Seq(
      (1L, "nav\nbody one\nnav\nbody one\nend"), // nav, body repeated in-doc
      (2L, "nav\nbody two"),                     // nav repeats ACROSS docs only
      (3L, "a\n\nmid\n\na\nz")                   // blanks repeat; minChars keeps
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dropRepeatedLinesWithin(docs, "text", minChars = 1)
      .orderBy("doc_id")
      .select("doc_id", "text", "n_lines_dropped")
      .as[(Long, String, Int)].collect()
    assert(out(0) == ((1L, "nav\nbody one\nend", 2)))
    // within-doc only: doc 2's nav is its first occurrence, kept
    assert(out(1) == ((2L, "nav\nbody two", 0)))
    // empty lines are under minChars -> kept verbatim; the repeated "a" drops
    assert(out(2) == ((3L, "a\n\nmid\n\nz", 1)))
    // minChars=0 dedups blanks too
    val strict = graft.operators.Dedup.dropRepeatedLinesWithin(
      Seq((1L, "x\n\ny\n\nx")).toDF("doc_id", "text"), "text")
      .select("text", "n_lines_dropped").as[(String, Int)].head()
    assert(strict == (("x\n\ny", 2)))
  }

  test("bigram LM: hand-computed add-one bits, short docs null") {
    import graft.operators.LanguageModel
    // corpus: "a b" x2, "a c", "solo"; V=4; c(a)=3, c(a b)=2, c(a c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = LanguageModel.bigramBits(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "lm_bits")
      .as[(Long, Long, Option[Double])].collect()
    def bits(c12: Long, c1: Long, v: Long): Double = {
      val micro = math.round(math.log((c12 + 1).toDouble / (c1 + v)) /
        math.log(2.0) * 1e6)
      BigDecimal(-micro.toDouble / 1 / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(0)._2 == 1L && math.abs(out(0)._3.get - bits(2, 3, 4)) < 2e-6)
    assert(out(2)._3.get > out(0)._3.get) // rarer continuation -> more bits
    assert(out(3) == ((4L, 0L, None))) // single token: no bigrams
  }

  test("containment finds the quote MinHash-Jaccard misses; df-cut holds") {
    import graft.operators.Dedup
    // doc 1 = 12 unique words (10 distinct 3-shingles); doc 2 embeds all
    // of doc 1 inside 28 more words: containment(1 in 2) = 1.0, Jaccard
    // ~ 10/48 — under any useful Jaccard threshold
    val quoted = (1 to 12).map(i => s"q$i").mkString(" ")
    val host = quoted + " " + (1 to 28).map(i => s"h$i").mkString(" ")
    val other = (1 to 15).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, quoted), (2L, host), (3L, other)).toDF("id", "text")
    val out = Dedup.containmentPairs(df, "id", "text",
      shingleSize = 3, threshold = 0.8, maxDf = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(5), r.getDouble(6))).toMap
    assert(out.keySet === Set((1L, 2L)))
    val (inter, cAb, cBa) = out((1L, 2L))
    assert(inter === 10L && cAb === 1.0 && cBa < 0.3)
    // boilerplate shingles (shared by MANY docs) are cut before pairing:
    // 10 docs sharing one banner + unique bodies produce NO pairs at
    // maxDf=8 — the banner is the only overlap and it is dropped
    val banner = "subscribe to our newsletter today friends"
    val many = (0L until 10L).map(i =>
      (i, banner + " " + (1 to 9).map(j => s"b${i}_$j").mkString(" ")))
      .toDF("id", "text")
    assert(Dedup.containmentPairs(many, "id", "text",
      shingleSize = 3, threshold = 0.1, maxDf = 8).count() === 0)
    // ... and the SAME corpus at maxDf=16 sees the banner overlap
    assert(Dedup.containmentPairs(many, "id", "text",
      shingleSize = 3, threshold = 0.1, maxDf = 16).count() === 45)
    // partitioning invariance
    val big = (0L until 40L).map(i =>
      (i, (0 to 10).map(j => s"w${(i + j) % 13}").mkString(" ")))
      .toDF("id", "text")
    assert(Dedup.containmentPairs(big, "id", "text", 3, 0.5, 50)
      .orderBy("id_a", "id_b").collect().toSeq ===
      Dedup.containmentPairs(big.repartition(9), "id", "text", 3, 0.5, 50)
        .orderBy("id_a", "id_b").collect().toSeq)
  }

  test("exact Pearson: the moment discipline survives partitioning") {
    // the q177 machinery through a synthetic documents dir: x = n_chars,
    // y = 'the'/'a' count. Perfectly linear docs -> r = 1 exactly.
    val docs = (0 until 40).map { i =>
      val stops = Seq.fill(i + 1)("the").mkString(" ")
      (i.toLong, s"g${i % 2}", stops, (stops.length + 0L))
    }.toDF("doc_id", "source", "text", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_corr").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.queries.CurationQueries.q177Pearson(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // n_chars = 4*(k) - 1 for k 'the's: exactly linear in y -> r = 1
    assert(out.values.forall(_ === 1.0), s"$out")
    // constant y -> zero variance -> null r, not NaN
    val const = (0 until 10).map(i =>
      (i.toLong, "g", "word soup here", 100L + i))
      .toDF("doc_id", "source", "text", "n_chars")
    const.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val c = graft.queries.CurationQueries.q177Pearson(spark, tmp).collect()
    assert(c.forall(_.isNullAt(2)))
  }

  test("readability: hand-computed FK grade and Flesch ease") {
    // "The cat. It sat?" -> 4 words, 2 sentence runs, 4 vowel groups
    // FK = .39*(4/2) + 11.8*(4/4) - 15.59 = -3.01
    // Flesch = 206.835 - 1.015*2 - 84.6*1 = 120.205
    val out = Seq(("The cat. It sat?", 1)).toDF("text", "i")
      .select(graft.functions.TextFunctions.readability(col("text")): _*)
      .collect().head
    assert(out.getInt(0) === 4 && out.getInt(1) === 2 && out.getInt(2) === 4)
    assert(out.getDouble(3) === -3.01)
    assert(out.getDouble(4) === 120.205)
    // no punctuation -> one sentence; empty doc -> nulls, no NaN
    val edge = Seq(("three simple words", 1), ("", 2)).toDF("text", "i")
      .select(col("i") +:
        graft.functions.TextFunctions.readability(col("text")): _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(edge(1).getInt(2) === 1) // zero punctuation -> min 1 sentence
    assert(edge(2).isNullAt(4) && edge(2).isNullAt(5))
  }

  test("fuzzy duplicates: one-edit twin confirms, shingle block prunes") {
    import graft.operators.Dedup
    val body = (1 to 20).map(i => s"tok$i").mkString(" ")
    val typo = "tok1 tokX " + (3 to 20).map(i => s"tok$i").mkString(" ")
    val unrelated = (1 to 20).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, body), (2L, typo), (3L, unrelated))
      .toDF("id", "text")
    // typo replaces one TOKEN (tok2->tokX, a 1-char edit): levenshtein
    // 1; the swapped token at index 1 sits in 2 of the 18 3-shingles,
    // so 16 are shared
    val out = Dedup.fuzzyDuplicatePairs(df, "id", "text",
      maxDist = 2, minShared = 10, maxDf = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    assert(out.keySet === Set((1L, 2L)))
    assert(out((1L, 2L)) === 1)
    // minShared above the overlap prunes the candidate BEFORE text moves
    assert(Dedup.fuzzyDuplicatePairs(df, "id", "text",
      maxDist = 2, minShared = 17, maxDf = 8).count() === 0)
    // a pair within edit budget but with no shingle overlap is (by
    // design) not found: blocking is the documented recall trade
    val short = Seq((1L, "ab"), (2L, "ac")).toDF("id", "text")
    assert(Dedup.fuzzyDuplicatePairs(short, "id", "text",
      maxDist = 2, minShared = 1, maxDf = 8).count() === 0)
    // partitioning invariance
    val many = (0L until 60L).map(i =>
      (i, (0 to 15).map(j => s"w${(i / 2 * 31 + j) % 97}").mkString(" ")))
      .toDF("id", "text")
    assert(Dedup.fuzzyDuplicatePairs(many, "id", "text", 5, 5, 10)
      .orderBy("id_a", "id_b").collect().toSeq ===
      Dedup.fuzzyDuplicatePairs(many.repartition(9), "id", "text", 5, 5, 10)
        .orderBy("id_a", "id_b").collect().toSeq)
  }

  test("Kneser-Ney: hand-computed bits, continuation-diversity property") {
    import graft.operators.LanguageModel
    // corpus: "a b" x2, "a c", "solo"
    // census: (a b, 2), (a c, 1); c1(a)=3, nf(a)=2; nb(b)=1, nb(c)=1; B=2
    // P(b|a) = (2-.75)/3 + .75*2/3*(1/2) = 1.25/3 + 0.25 = 0.666667
    // P(c|a) = (1-.75)/3 + .25 = 0.333333
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = LanguageModel.kneserNeyBits(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "kn_bits")
      .as[(Long, Long, Option[Double])].collect()
    def bits(p: Double): Double = {
      val micro = math.round(math.log(p) / math.log(2.0) * 1e6)
      BigDecimal(-micro.toDouble / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(0)._2 == 1L)
    assert(math.abs(out(0)._3.get - bits(1.25 / 3 + 0.75 * 2.0 / 3 * 0.5)) < 2e-6)
    assert(math.abs(out(2)._3.get - bits(0.25 / 3 + 0.75 * 2.0 / 3 * 0.5)) < 2e-6)
    assert(out(3) == ((4L, 0L, None)))
    // the 'san francisco' property: after a FRESH context (same c12=1,
    // c1=1, nf=1 both times), a continuation word seen after many
    // contexts (common: 4+1) must outscore one context-locked to a
    // single predecessor (francisco: san+probe=2) even though both are
    // equally frequent as unigrams (20 occurrences each)
    val corpus = (0L until 20L).map(i => (i, "san francisco")) ++
      (20L until 40L).map(i => (i, s"w${i % 4} common"))
    val kn = LanguageModel.kneserNeyBits(
      (corpus :+ ((99L, "probe common"))).toDF("doc_id", "text"),
      "doc_id", "text").filter(col("doc_id") === 99L)
      .select("kn_bits").as[Double].head()
    val knF = LanguageModel.kneserNeyBits(
      (corpus :+ ((99L, "probe francisco"))).toDF("doc_id", "text"),
      "doc_id", "text").filter(col("doc_id") === 99L)
      .select("kn_bits").as[Double].head()
    assert(kn < knF,
      s"context-diverse continuation should score fewer bits: $kn vs $knF")
    // partitioning invariance, same contract as the add-one path
    val base = (0L until 50L).map(i => (i, s"tok${i % 7} tok${(i + 1) % 5} x"))
      .toDF("doc_id", "text")
    assert(LanguageModel.kneserNeyBits(base, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq ===
      LanguageModel.kneserNeyBits(base.repartition(9), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq)
  }

  test("trigram Kneser-Ney: hand-computed interpolation, short docs null") {
    import graft.operators.LanguageModel
    // census: ("a b c", 2), ("a b d", 1)
    // by12 (a b): ctx=3, nf12=2; by23: (b c)=1, (b d)=1
    // by2 (b): nd2d=2, nf2=2; by3: c=1, d=1; B=2
    // P_low(c|b) = (1-.75)/2 + .75*2/2*(1/2) = 0.5   (same for d)
    // P(c|a b) = (2-.75)/3 + .75*2/3*0.5 = 2/3
    // P(d|a b) = (1-.75)/3 + .25 = 1/3
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d"), (4L, "x y"))
      .toDF("doc_id", "text")
    val out = LanguageModel.kneserNeyTrigramBits(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_trigrams", "kn3_bits")
      .as[(Long, Long, Option[Double])].collect()
    def bits(p: Double): Double = {
      val micro = math.round(math.log(p) / math.log(2.0) * 1e6)
      BigDecimal(-micro.toDouble / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(0) === ((1L, 1L, Some(bits(1.25 / 3 + 0.75 * 2.0 / 3 * 0.5)))))
    assert(out(2) === ((3L, 1L, Some(bits(0.25 / 3 + 0.75 * 2.0 / 3 * 0.5)))))
    assert(out(3) === ((4L, 0L, None))) // 2 tokens -> no trigrams
    // trigram-level continuation diversity: after the SAME fresh
    // bigram context, a word-pair continuation seen after many contexts
    // must outscore one locked to a single context
    val corpus = (0L until 20L).map(i => (i, "big san francisco")) ++
      (20L until 40L).map(i => (i, s"big w${i % 4} common"))
    def probeBits(word: String): Double =
      LanguageModel.kneserNeyTrigramBits(
        (corpus :+ ((99L, s"big probe $word"))).toDF("doc_id", "text"),
        "doc_id", "text").filter(col("doc_id") === 99L)
        .select("kn3_bits").as[Double].head()
    assert(probeBits("common") < probeBits("francisco"))
    // partitioning invariance
    val base = (0L until 50L)
      .map(i => (i, s"tok${i % 7} tok${(i + 1) % 5} tok${(i + 2) % 3} y"))
      .toDF("doc_id", "text")
    assert(LanguageModel.kneserNeyTrigramBits(base, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq ===
      LanguageModel.kneserNeyTrigramBits(base.repartition(9), "doc_id", "text")
        .orderBy("doc_id").collect().toSeq)
  }

  test("bigram LM: partitioning-independent and filter keeps the head") {
    import graft.operators.LanguageModel
    val docs = (0L until 60L).map(i =>
      (i, if (i % 10 == 0) s"rare${i} phrase${i} token${i}"
          else "the quick brown fox jumps")).toDF("doc_id", "text")
    val a = LanguageModel.bigramBits(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val b = LanguageModel.bigramBits(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq, "score must not depend on partitioning")
    // common-phrase docs score fewer bits than unique-gibberish docs
    val byKind = LanguageModel.bigramBits(docs, "doc_id", "text")
      .withColumn("rare", col("doc_id") % 10 === 0)
      .groupBy("rare").agg(avg("lm_bits").as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(byKind(true) > byKind(false))
    val kept = LanguageModel.filterByBits(docs, "doc_id", "text",
      maxBits = (byKind(true) + byKind(false)) / 2)
    assert(kept.filter(col("doc_id") % 10 === 0).count() == 0)
    assert(kept.filter(col("doc_id") % 10 =!= 0).count() == 54)
  }

  test("broadcast pruned LM: exact-path identity under coverage, OOV floor outside, hot bigram is just a map entry") {
    import graft.operators.LanguageModel
    // hot-bigram corpus: "the of"/"of the" carry >25% of bigram mass —
    // the skew shape that would serialize a bigram-keyed scoring join on
    // one reducer; in the broadcast path they are just map entries
    val docs = (0L until 80L).map(i =>
      (i, if (i % 4 == 0) s"rare$i phrase$i" else "the of the of the of"))
      .toDF("doc_id", "text")
    val exact = LanguageModel.bigramBits(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    // a head covering EVERY distinct bigram makes the broadcast path the
    // identical function — same n_bigrams, same micro terms, same bits
    val covered = LanguageModel.bigramBitsBroadcast(docs, "doc_id", "text",
      topN = 1000000).orderBy("doc_id").collect().toSeq
    assert(covered == exact,
      s"covered-head broadcast diverged from exact:\n$exact\nvs\n$covered")
    // pruned to the two hot bigrams: hot docs keep their exact scores
    // (all their bigrams are in the head), rare docs fall to the
    // log2(1/V) floor — which reads as MORE bits than the fluent head
    val pruned = LanguageModel.bigramBitsBroadcast(docs, "doc_id", "text",
      topN = 2).orderBy("doc_id").collect().toSeq
    (exact zip pruned).foreach { case (e, p) =>
      if (e.getLong(0) % 4 != 0)
        assert(e == p, s"hot doc diverged under pruning: $e vs $p")
    }
    val hotBits = pruned.find(_.getLong(0) % 4 != 0).get.getDouble(2)
    val rareBits = pruned.find(_.getLong(0) % 4 == 0).get.getDouble(2)
    assert(rareBits > hotBits, s"OOV floor must out-bit the head: $rareBits vs $hotBits")
    // pinned floor: a doc whose single bigram is OOV scores exactly it
    val pinned = LanguageModel.bigramBitsBroadcast(docs, "doc_id", "text",
      topN = 2, oovMicro = Some(-7000000L))
      .filter(col("doc_id") === 4L).select("lm_bits").as[Double].head()
    assert(pinned == 7.0, s"pinned floor must score exactly 7 bits: $pinned")
  }

  test("q65/q66/q67 run on testdata with sane shapes") {
    val dir = "/root/testdata/sf0.001"
    val q65 = graft.queries.CurationQueries.q65Repetition(spark, dir)
    val rows = q65.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val f = r.getAs[Double]("dup_word_frac")
      f >= 0.0 && f < 1.0 && r.getAs[Int]("top_word_count") >= 1
    })
    val q66 = graft.queries.CurationQueries.q66PiiScrub(spark, dir).collect()
    assert(q66.forall(_.getAs[Int]("ip_ct") >= 1)) // ip synthesized per row
    assert(q66.forall(!_.getAs[String]("redacted").contains("@")))
    val q67 = graft.queries.CurationQueries.q67GopherFilter(spark, dir)
      .select("pass_filter").as[Int].collect()
    assert(q67.toSet == Set(0, 1)) // thresholds split the corpus
  }

  test("perplexity buckets: monotone terciles, ties share, unscorable excluded") {
    // two language groups with enough bits diversity to fill 3 buckets;
    // docs 1 and 2 are identical -> identical bits -> same bucket; doc 99
    // is a single word (no bigrams) -> excluded entirely
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta"),
      (2L, "en", "alpha beta gamma delta"),
      (3L, "en", "alpha beta alpha beta alpha beta"),
      (4L, "en", "epsilon zeta eta theta iota kappa"),
      (5L, "en", "alpha beta gamma epsilon zeta unusual"),
      (6L, "en", "rare tokens entirely unrepeated sequence here"),
      (7L, "fr", "un deux trois quatre"),
      (8L, "fr", "un deux un deux un deux"),
      (9L, "fr", "cinq six sept huit neuf"),
      (99L, "en", "solo")
    ).toDF("doc_id", "lang", "text")
    val out = graft.operators.LanguageModel
      .perplexityBuckets(docs, "doc_id", "text", "lang")
      .select("doc_id", "lang", "lm_bits", "bucket")
      .as[(Long, String, Double, String)].collect()
    assert(!out.exists(_._1 == 99L), "unscorable doc must be excluded")
    assert(out.length == 9)
    // identical docs score identically and NEVER split across a cut
    val b12 = out.filter(r => r._1 == 1L || r._1 == 2L)
    assert(b12.map(_._4).distinct.length == 1, s"tie split: ${b12.toSeq}")
    // per group: every head bit <= every middle bit <= every tail bit
    for (lang <- Seq("en", "fr")) {
      val g = out.filter(_._2 == lang)
      def bits(b: String) = g.filter(_._4 == b).map(_._3)
      for ((lo, hi) <- Seq(("head", "middle"), ("middle", "tail")))
        if (bits(lo).nonEmpty && bits(hi).nonEmpty)
          assert(bits(lo).max <= bits(hi).min,
            s"$lang $lo/$hi not monotone: ${g.toSeq}")
      assert(bits("head").nonEmpty, s"$lang head empty: ${g.toSeq}")
    }
    // en has >= 3 distinct scores -> all three buckets must be inhabited
    val en = out.filter(_._2 == "en")
    assert(en.map(_._4).toSet == Set("head", "middle", "tail"), en.toSeq.toString)
  }

  test("curation e2e: composition invariants tie the three stages together") {
    val dir = "/root/testdata/sf0.001"
    val bins = graft.queries.CurationQueries.q116CurationPipeline(spark, dir)
      .collect()
    assert(bins.nonEmpty)
    // reproduce the survivor set independently: gate, then exact dedup
    val q67 = graft.queries.CurationQueries.q67GopherFilter(spark, dir)
      .filter(col("pass_filter") === 1).select("doc_id")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .join(q67, Seq("doc_id"), "left_semi")
    val survivors = graft.operators.Dedup
      .dropExactDuplicates(docs, "doc_id", "text")
    val survTok = survivors
      .select(graft.functions.TextFunctions.tokenCount(col("text")))
      .as[Int].collect()
    // packed token mass equals the survivors' token mass exactly, and the
    // doc count in bins equals the survivor count (nothing lost or double
    // packed between stages)
    assert(bins.map(_.getAs[Long]("bin_tokens")).sum == survTok.map(_.toLong).sum)
    assert(bins.map(_.getAs[Long]("n_docs")).sum == survTok.length.toLong)
    // the gate genuinely cut something, and dedup ran on the gated set
    assert(survTok.length < spark.read.parquet(s"$dir/documents.parquet").count())
  }

  test("perplexity buckets: broadcast-LM path matches exact when head covers") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val exact = graft.operators.LanguageModel
      .perplexityBuckets(docs, "doc_id", "text", "lang")
      .orderBy("doc_id").collect()
    // head big enough to hold every distinct bigram -> identical buckets
    val bcast = graft.operators.LanguageModel
      .perplexityBuckets(docs, "doc_id", "text", "lang", topN = Some(5000000))
      .orderBy("doc_id").collect()
    assert(exact.toSeq == bcast.toSeq)
  }

  test("substring dedup: keeper kept, overlap merge, within-doc, short-doc") {
    // windowLen=10, stride=5: windows at 0/5/10/...
    val docs = Seq(
      (1L, "AAAAABBBBBCCCCCDDDDD"),      // keeper for all shared windows
      (2L, "XXXXXBBBBBCCCCCYYYYY"),      // one shared window [5,15)
      (3L, "AAAAABBBBBCCCCCDDDDDZZZZZ"), // three overlapping dups -> [0,20)
      (4L, "PPPPPQQQQQPPPPPQQQQQ"),      // WITHIN-doc repeat at pos 0 and 10
      (5L, "short")                      // under windowLen: untouched
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .dropDuplicateSpans(docs, "doc_id", "text", windowLen = 10, stride = 5)
      .orderBy("doc_id")
      .select("doc_id", "clean_text", "n_spans", "removed_chars")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "AAAAABBBBBCCCCCDDDDD", 0L, 0L)))
    assert(out(1) == ((2L, "XXXXXYYYYY", 1L, 10L)))
    // three cut windows [0,10),[5,15),[10,20) merge into ONE span [0,20)
    assert(out(2) == ((3L, "ZZZZZ", 1L, 20L)))
    // the first in-doc occurrence is the global keeper; the second cuts
    assert(out(3) == ((4L, "PPPPPQQQQQ", 1L, 10L)))
    assert(out(4) == ((5L, "short", 0L, 0L)))
  }

  test("substring dedup is partitioning-independent") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.queries.TextQueries.q113SubstringDedup(spark, dir).collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).repartition(7)
    val b = graft.operators.Dedup
      .dropDuplicateSpans(docs, "doc_id", "text", windowLen = 50, stride = 10)
      .select("doc_id", "clean_text", "n_spans", "removed_chars")
      .orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    // the corpus plants real cross-doc repeats — the scrub must fire
    assert(a.exists(_.getAs[Long]("n_spans") > 0))
  }
}
