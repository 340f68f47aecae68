package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The native kernels: the text, shingle, sketch and vector steps that a
  * chain of built-ins would run interpreted or with per-element
  * allocation (SURVEY §2.3). Each is one method here on Catalyst's
  * internal types, called through Spark's own `StaticInvoke` by
  * [[Expressions]]: Spark binds the inputs, skips the call on a null
  * input and emits the static call inside the whole-stage-generated
  * code, so a kernel needs no encoder round-trip (as a Scala UDF would)
  * and no hand-written generated-Java string.
  */
object ExprHelpers {
  /** Unicode NFC (reference: ondine/utils/input_preprocessing.py:45-60). */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** Order-isomorphic long key of a double: key(a) < key(b) as signed
    * longs iff a < b (with -0.0 just below +0.0 and NaN above +Inf —
    * Spark's own NaN-last total order). The standard IEEE-754 bit trick:
    * non-negative doubles keep their raw bits (already ordered), negative
    * doubles flip their 63 magnitude bits so larger magnitudes sort
    * lower. Powers [[graft.operators.RankCuts]]' bounded radix search
    * over double-valued histograms. */
  def doubleOrderKey(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    if (b >= 0) b else b ^ Long.MaxValue
  }

  /** Murmur3 finalizer — decorrelates consecutive rolling-hash values so
    * window-min selection sees well-mixed longs. */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** All char k-gram hashes of `s` in ONE pass: a polynomial rolling
    * hash over chars (FNV-prime multiplier, natural 64-bit wraparound)
    * finalized per position with the murmur mixer. O(m) total with one
    * String materialization — no per-gram substring allocation, no
    * per-gram digest (the array-kernel cost that dominates the winnowing
    * family per BENCH_NOTES round-8). Equal k-grams hash equal by
    * construction, which is all the winnowing guarantee needs. */
  private[this] val emptyLongArray =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array.empty[Long])

  def kgramRollingHashes(s: UTF8String, k: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val m = str.length - (k - 1)
    if (m <= 0) return emptyLongArray
    val B = 0x100000001b3L
    var bk = 1L // B^(k-1)
    var i = 0
    while (i < k - 1) { bk *= B; i += 1 }
    val out = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + str.charAt(i); i += 1 }
    out(0) = fmix64(h)
    i = 1
    while (i < m) {
      h = (h - str.charAt(i - 1) * bk) * B + str.charAt(i + k - 1)
      out(i) = fmix64(h)
      i += 1
    }
    // primitive-packed result: no per-element boxing on the way out
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Sliding-window minimum over a long array via the monotonic-deque
    * algorithm: O(m) total versus the declarative
    * `transform(sequence…, j => array_min(slice(h, j, w)))` form's
    * O(m·w) work plus one w-element array allocation per window. Values
    * are identical by definition (a window's minimum is its minimum), so
    * this is a drop-in for the winnowing selection under BOTH hash tiers
    * — the oracle replays the same semantics declaratively. Fewer than
    * `w` elements → one window over what exists; empty → empty. */
  def windowMins(arr: org.apache.spark.sql.catalyst.util.ArrayData, w: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = arr.numElements()
    if (m == 0) return emptyLongArray
    val n = math.max(m - w + 1, 1)
    val out = new Array[Long](n)
    val idx = new Array[Int](m) // deque of candidate indices, values rising
    var head = 0
    var tail = 0 // live range is [head, tail)
    var i = 0
    while (i < m) {
      val v = arr.getLong(i)
      while (tail > head && arr.getLong(idx(tail - 1)) >= v) tail -= 1
      idx(tail) = i; tail += 1
      if (idx(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = arr.getLong(idx(head))
      i += 1
    }
    if (m < w) out(0) = arr.getLong(idx(head))
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  private[this] val sha256Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("SHA-256")
    }

  /** Unsigned value of 15 hex digits of `d` starting at nibble `start` —
    * what `conv(substring(hex, 1+start, 15), 16, 10)` parses, read off
    * the digest bytes directly. */
  private def nibbles60(d: Array[Byte], start: Int): Long = {
    var v = 0L
    var n = start
    val end = start + 15
    while (n < end) {
      val b = d(n >> 1)
      v = (v << 4) | (if ((n & 1) == 0) (b >> 4) & 0xFL else (b & 0xFL))
      n += 1
    }
    v
  }

  /** Core of the native MinHash band kernel: fold one shingle's digests
    * into the running band minima. Replicates EXACTLY the declarative
    * formula the oracles replay — per digest group g,
    * `sha256(utf8("g|" + shingle))`, then each lane's band value is hex
    * chars [lane·15, lane·15+15) of the digest read as an unsigned
    * 60-bit integer (what `conv(substring(hex, 1+lane*15, 15), 16, 10)`
    * computes) — without materializing the hex string or parsing it
    * back. */
  private def foldShingle(shingleUtf8: Array[Byte], prefixes: Array[Array[Byte]],
                          numBands: Int, mins: Array[Long]): Unit = {
    val md = sha256Local.get()
    var g = 0
    while (g < prefixes.length) {
      md.reset()
      md.update(prefixes(g))
      md.update(shingleUtf8)
      val d = md.digest()
      val lanes = math.min(4, numBands - g * 4)
      var lane = 0
      while (lane < lanes) {
        val v = nibbles60(d, lane * 15)
        val band = g * 4 + lane
        if (v < mins(band)) mins(band) = v
        lane += 1
      }
      g += 1
    }
  }

  private def digestPrefixes(numBands: Int): Array[Array[Byte]] =
    Array.tabulate((numBands + 3) / 4)(g =>
      s"$g|".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The one word-k-shingle walk of the shingle kernels: hands `f` each
    * shingle of `toks` in position order, its k tokens joined by one
    * space under `concat_ws` semantics (null tokens skipped, not
    * rendered), built in one reused StringBuilder. Fewer than k tokens →
    * no shingles. */
  private def foreachShingle(
      toks: org.apache.spark.sql.catalyst.util.ArrayData, k: Int)(
      f: String => Unit): Unit = {
    val n = toks.numElements()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = i
      var first = true
      while (j < i + k) {
        if (!toks.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      f(sb.toString)
      i += 1
    }
  }

  /** [[foreachShingle]] de-duplicated with a hash set: the UTF-8 bytes of
    * each DISTINCT shingle in first-occurrence order — the
    * `array_distinct(shingles(toks, k))` both MinHash kernels replay. */
  private def foreachDistinctShingle(
      toks: org.apache.spark.sql.catalyst.util.ArrayData, k: Int)(
      f: Array[Byte] => Unit): Unit = {
    val seen = new java.util.HashSet[String]()
    foreachShingle(toks, k) { s =>
      if (seen.add(s)) f(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Fused tokens → distinct word-k-shingles → band minima: one pass,
    * no shingle-array or hex-array materialization (minima are
    * duplicate-blind, so the distinct walk is pure work-skipping).
    * Fewer than k tokens → null (no shingles → all-null bands). */
  def wordShingleMinhash(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                         k: Int, numBands: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    if (toks.numElements() < k) return null
    val prefixes = digestPrefixes(numBands)
    val mins = Array.fill(numBands)(Long.MaxValue)
    foreachDistinctShingle(toks, k)(foldShingle(_, prefixes, numBands, mins))
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(mins)
  }

  private[this] val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Fused tokens → distinct word-k-shingles → (md5-prefix hash set,
    * band minima): the whole per-doc MinHash/Jaccard preparation in one
    * pass. `hsh` replicates `hash64` (60-bit md5-prefix) per distinct
    * shingle in first-occurrence order (`array_distinct` semantics);
    * `bm` the band minima of [[wordShingleMinhash]]. Neither the
    * shingle strings nor any hex string ever materializes into a row.
    * `numBands = 0` skips the sha256 band digests altogether (`bm` is
    * then empty) for callers that need only `hsh`. Fewer than k tokens →
    * (empty hsh, null bm) — exactly the declarative chain's empty-set /
    * all-null-bands pair. */
  def shingleHashBands(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                       k: Int, numBands: Int):
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val prefixes = digestPrefixes(numBands)
    val mins = Array.fill(numBands)(Long.MaxValue)
    val hsh = new scala.collection.mutable.ArrayBuilder.ofLong
    val md = md5Local.get()
    foreachDistinctShingle(toks, k) { bytes =>
      md.reset()
      hsh += nibbles60(md.digest(bytes), 0)
      foldShingle(bytes, prefixes, numBands, mins)
    }
    val hs = hsh.result()
    val bm =
      if (hs.isEmpty) null
      else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(mins)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(hs), bm))
  }

  /** SimHash signature over a token array in one pass — the native form
    * of the higher-order-aggregate chain (which allocates a fresh
    * `bits`-element vote array per token via zip_with). Identical
    * arithmetic: per DISTINCT token (first-occurrence dedup, the
    * array_distinct), the md5-prefix 60-bit hash votes ±1 per bit;
    * signature = Σ 2^b over bits with positive votes. A null token
    * element replicates the declarative chain's null-hash path: the
    * when() falls to otherwise(), a −1 vote on every bit. Empty array →
    * all-zero votes → signature 0 (not null). */
  def simhash(toks: org.apache.spark.sql.catalyst.util.ArrayData,
              bits: Int): Long = {
    val votes = new Array[Int](bits)
    val seen = new java.util.HashSet[String]()
    var sawNull = false
    val md = md5Local.get()
    val m = toks.numElements()
    var i = 0
    while (i < m) {
      if (toks.isNullAt(i)) {
        if (!sawNull) { // array_distinct keeps ONE null element
          sawNull = true
          var b = 0
          while (b < bits) { votes(b) -= 1; b += 1 }
        }
      } else {
        val s = toks.getUTF8String(i).toString
        if (seen.add(s)) {
          md.reset()
          val h = nibbles60(
            md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 0)
          var b = 0
          while (b < bits) {
            votes(b) += (if (((h >>> b) & 1L) != 0L) 1 else -1)
            b += 1
          }
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Word k-shingle strings in one pass — the native form of
    * `transform(sequence…, i => concat_ws(" ", slice(toks, i, k)))`,
    * which allocates a k-element slice array plus join machinery per
    * position. Identical output strings (null elements skipped, the
    * concat_ws rule); fewer than k elements → empty array. */
  def wordShingles(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                   k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[AnyRef](math.max(toks.numElements() - k + 1, 0))
    var i = 0
    foreachShingle(toks, k) { s => out(i) = UTF8String.fromString(s); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Distinct terms of a token array with their in-row counts, as
    * (term, cnt) structs in first-occurrence order — ONE native pass.
    * This is the per-document half of an inverted-index build: the
    * exploded output is value-identical to
    * `explode(toks) → groupBy(id, term).count()`, but aggregating
    * WITHIN the row needs no exchange, so the row-scale shuffle that
    * a postings build previously paid for term frequencies (plus the
    * second groupBy + join that re-attached document length) vanishes
    * — only the vocab-sized document-frequency census still shuffles.
    * Null tokens (possible for array columns not produced by the
    * tokenizer) aggregate under one null term, mirroring SQL GROUP BY
    * null semantics; a downstream inner equi-join on term drops them,
    * exactly as it dropped the null-term group before. Term bytes are
    * cloned so the output never aliases a reusable input buffer. */
  def termCounts(toks: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = toks.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[AnyRef])
    // LinkedHashMap: deterministic first-occurrence order (matches the
    // declarative array_distinct twin); UTF8String hashes/compares by
    // bytes. Values are one-slot arrays to avoid per-increment boxing.
    // min BEFORE the ×2: n * 2 wraps negative for n ≥ 2^30-element arrays
    val m = new java.util.LinkedHashMap[UTF8String, Array[Long]](
      math.min(n, 1 << 15) * 2)
    var i = 0
    while (i < n) {
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val slot = m.get(t)
      if (slot == null) m.put(if (t == null) null else t.clone(), Array(1L))
      else slot(0) += 1L
      i += 1
    }
    val out = new Array[AnyRef](m.size)
    val it = m.entrySet().iterator()
    i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Left-to-right double dot product of two numeric arrays — the
    * native form of `aggregate(zip_with(a, b, x*y), 0.0, +)`, with the
    * fold's exact null semantics: zip_with pads a length mismatch with
    * nulls and a null product poisons the accumulator, so EITHER a
    * length mismatch OR any null element yields null. Identical IEEE
    * result (same product/accumulation order) — every cosine oracle is
    * untouched. Element kinds: 0=float, 1=double. */
  def vecDot(a: org.apache.spark.sql.catalyst.util.ArrayData,
             b: org.apache.spark.sql.catalyst.util.ArrayData,
             aKind: Int, bKind: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aKind == 0) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bKind == 0) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Exact long dot product of two integral arrays (int8 ANN codes) —
    * the native `aggregate(zip_with(a, b, long*long), 0L, +)` with the
    * same null semantics as [[vecDot]]. Element kinds: 0=byte, 1=short,
    * 2=int, 3=long. */
  def vecDotLong(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 b: org.apache.spark.sql.catalyst.util.ArrayData,
                 aKind: Int, bKind: Int): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    def get(arr: org.apache.spark.sql.catalyst.util.ArrayData,
            i: Int, kind: Int): Long = kind match {
      case 0 => arr.getByte(i).toLong
      case 1 => arr.getShort(i).toLong
      case 2 => arr.getInt(i).toLong
      case _ => arr.getLong(i)
    }
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, i, aKind) * get(b, i, bKind)
      i += 1
    }
    acc
  }

  /** [[vecDotLong]] with a per-element magnitude bound on the LEFT
    * array, checked inside the same native loop (one compare per
    * element — the codegen'd cost of the invariant a caller's long
    * arithmetic depends on; a separate declarative scan with an
    * `aggregate` lambda fold was a measured 1.6× on the PCA probe,
    * because Spark's higher-order array lambdas evaluate interpreted).
    * Violation throws with the caller-actionable message instead of
    * silently overflowing. */
  def vecDotLongBounded(a: org.apache.spark.sql.catalyst.util.ArrayData,
                        b: org.apache.spark.sql.catalyst.util.ArrayData,
                        aKind: Int, bKind: Int,
                        boundAbs: Long): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    def get(arr: org.apache.spark.sql.catalyst.util.ArrayData,
            i: Int, kind: Int): Long = kind match {
      case 0 => arr.getByte(i).toLong
      case 1 => arr.getShort(i).toLong
      case 2 => arr.getInt(i).toLong
      case _ => arr.getLong(i)
    }
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, aKind)
      if (math.abs(x) > boundAbs)
        throw new IllegalArgumentException(
          s"vector element $x exceeds $boundAbs: re-scale upstream")
      acc += x * get(b, i, bKind)
      i += 1
    }
    acc
  }

  /** Whitespace tokenization in one scan — the native form of
    * `filter(split(trim(c), "\\s+"), t => t =!= "")`. The composed
    * chain's value is exactly the maximal runs of non-whitespace
    * characters: `trim` strips leading/trailing SPACES, `split` (Java
    * regex, limit −1) yields at most one empty token (leading, when the
    * trimmed string starts with non-space whitespace; trailing empties
    * when the string ends with whitespace), and the filter drops every
    * empty. Whitespace = Java regex `\s` = [ \t\n\x0B\f\r]. Empty or
    * all-whitespace input → empty array (split('') → [''] → filtered). */
  def whitespaceTokens(s: UTF8String):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val n = str.length
    def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
        c == '\r'
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(str.charAt(i))) i += 1
      if (i > start)
        out += UTF8String.fromString(str.substring(start, i))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Distinct intersection/union cardinalities of two SORTED long
    * arrays in one merge scan — what `size(array_intersect(a, b))` and
    * `size(array_union(a, b))` compute (distinct-set semantics; equal
    * runs within one array count once), without building a hash set per
    * evaluated pair. Callers sort each side ONCE per row
    * (`sort_array`); the pair stage then pays O(na+nb) per candidate. */
  def sortedSetOps(a: org.apache.spark.sql.catalyst.util.ArrayData,
                   b: org.apache.spark.sql.catalyst.util.ArrayData):
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    var uni = 0L
    while (i < na || j < nb) {
      if (j >= nb || (i < na && a.getLong(i) < b.getLong(j))) {
        val v = a.getLong(i)
        uni += 1
        while (i < na && a.getLong(i) == v) i += 1
      } else if (i >= na || b.getLong(j) < a.getLong(i)) {
        val v = b.getLong(j)
        uni += 1
        while (j < nb && b.getLong(j) == v) j += 1
      } else {
        val v = a.getLong(i)
        inter += 1
        uni += 1
        while (i < na && a.getLong(i) == v) i += 1
        while (j < nb && b.getLong(j) == v) j += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](inter, uni))
  }

  /** Porter stem of one token ([[Porter.stem]]); non-lowercase-alpha
    * or sub-3-char tokens pass through unchanged. */
  def porterStem(s: UTF8String): UTF8String =
    UTF8String.fromString(Porter.stem(s.toString))

  /** Clipped overlap count Σ_g min(count_a(g), count_b(g)) over two
    * string arrays — the BLEU modified-precision numerator — in ONE
    * hash census of `b` plus one decrementing pass over `a`:
    * O(|a|+|b|) per row, where the declarative
    * `aggregate(transform(array_distinct(a), g -> least(size(filter(a,
    * =g)), size(filter(b, =g)))))` chain rescans both arrays per
    * distinct gram (O(d·n) — 18.8 s vs ~2 s for q153 at 10×).
    * Value-identical by construction: each occurrence of g in `a`
    * counts while census credit remains, so the total per g is
    * exactly min(count_a, count_b). */
  def clippedCount(a: org.apache.spark.sql.catalyst.util.ArrayData,
                   b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val nb = b.numElements()
    val census = new java.util.HashMap[UTF8String, java.lang.Long](nb * 2)
    var j = 0
    while (j < nb) {
      val s = b.getUTF8String(j)
      val cur = census.get(s)
      census.put(s, if (cur eq null) 1L else cur.longValue() + 1L)
      j += 1
    }
    val na = a.numElements()
    var i = 0
    var c = 0L
    while (i < na) {
      val s = a.getUTF8String(i)
      val cur = census.get(s)
      if ((cur ne null) && cur.longValue() > 0L) {
        c += 1L
        census.put(s, cur.longValue() - 1L)
      }
      i += 1
    }
    c
  }

  /** Rare-token count against a broadcast CMS grid, portable (md5)
    * tier: for each token, the min over `depth` rows of
    * lut[r·width + cell(r, t)] with cell = hash64("cms{r}|" + t) mod
    * width — exactly the declarative `least(element_at(lut, …))` chain
    * over `pmod(hash64(concat(...)))` — counted against `rareMax` in
    * one pass with no per-row concat strings or hex parsing. `lut` is
    * the flattened depth×width literal the caller already ships. */
  def cmsRareCount(toks: org.apache.spark.sql.catalyst.util.ArrayData,
                   lut: org.apache.spark.sql.catalyst.util.ArrayData,
                   depth: Int, width: Int, rareMax: Long): Long = {
    val prefixes = Array.tabulate(depth)(r =>
      s"cms$r|".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val md = md5Local.get()
    val m = toks.numElements()
    var rare = 0L
    var i = 0
    while (i < m) {
      val tb = toks.getUTF8String(i).getBytes
      var est = Long.MaxValue
      var r = 0
      while (r < depth) {
        md.reset()
        md.update(prefixes(r))
        md.update(tb)
        val cell = nibbles60(md.digest(), 0) % width
        val v = lut.getLong(r * width + cell.toInt)
        if (v < est) est = v
        r += 1
      }
      if (est <= rareMax) rare += 1
      i += 1
    }
    rare
  }

  /** The `depth` CMS cell ids of one item, portable (md5) tier — entry
    * r is `hash64("cms{r}|" + t) mod width`, the declarative
    * `pmod(hash64(concat(lit("cms{r}|"), t)), width)`. Computed without
    * concat strings or hex parsing; `posexplode` recovers the (r, c)
    * pairs the sketch build/probe explode. */
  def cmsCells(t: UTF8String, depth: Int, width: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val md = md5Local.get()
    val tb = t.getBytes
    val out = new Array[Long](depth)
    var r = 0
    while (r < depth) {
      md.reset()
      md.update(s"cms$r|".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(tb)
      out(r) = nibbles60(md.digest(), 0) % width
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** DSIR feature bucket of one salted gram (`a`, or the bigram
    * `a + ' ' + b` when b is non-null): the 60-bit md5 prefix mod
    * `buckets` — byte-identical to
    * `pmod(conv(substring(md5(concat("dsir|", g)), 1, 15), 16, 10), buckets)`
    * without materializing the concatenated gram string or the hex. */
  private def dsirBucket(md: java.security.MessageDigest,
                         a: Array[Byte], b: Array[Byte],
                         buckets: Int): Int = {
    md.reset()
    md.update(DsirSalt)
    md.update(a)
    if (b != null) { md.update(' '.toByte); md.update(b) }
    (nibbles60(md.digest(), 0) % buckets).toInt
  }
  private[this] val DsirSalt =
    "dsir|".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** All DSIR feature buckets of a word array — unigrams then word
    * bigrams, the [[graft.operators.Dsir]] gram order — ONE md5 per gram
    * and no per-gram concat/hex/conv round-trip (the declarative chain's
    * cost). Null word → null (parity with the md5-of-null-concat form). */
  def dsirBuckets(words: org.apache.spark.sql.catalyst.util.ArrayData,
                  buckets: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = words.numElements()
    if (n == 0) return emptyLongArray
    val md = md5Local.get()
    val out = new Array[Long](2 * n - 1)
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) return null
      bytes(i) = words.getUTF8String(i).getBytes
      out(i) = dsirBucket(md, bytes(i), null, buckets)
      i += 1
    }
    i = 0
    while (i < n - 1) {
      out(n + i) = dsirBucket(md, bytes(i), bytes(i + 1), buckets)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** DSIR per-document log-weight: Σ lut[bucket(gram)] over unigrams +
    * word bigrams in ONE pass — the native form of
    * `aggregate(grams, 0L, (acc, g) -> acc + element_at(lut, bucket(g)+1))`,
    * whose lambda evaluates interpreted per gram (concat + md5 + hex
    * parse + pmod + element_at per step). Exact integer sum, order-
    * independent; `lut.length` IS the bucket count. Null word → null. */
  def dsirLogw(words: org.apache.spark.sql.catalyst.util.ArrayData,
               lut: org.apache.spark.sql.catalyst.util.ArrayData)
      : java.lang.Long = {
    val n = words.numElements()
    val buckets = lut.numElements()
    val md = md5Local.get()
    var acc = 0L
    var prev: Array[Byte] = null
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) return null
      val w = words.getUTF8String(i).getBytes
      acc += lut.getLong(dsirBucket(md, w, null, buckets))
      if (prev != null) acc += lut.getLong(dsirBucket(md, prev, w, buckets))
      prev = w
      i += 1
    }
    acc
  }

  /** Per-JVM memo of sign-LSH hyperplane components: global plane gp →
    * the component vector for every dim seen so far. The component is a
    * PURE function of (gp, dim) — `hash64("plane<gp>|<dim>") mod 20011
    * / 10005.5 − 1` — yet the declarative form recomputed the salted
    * md5 (plus the concat and hex parse) per ELEMENT per ROW inside an
    * interpreted lambda; here each (gp, dim) digests once per executor
    * and every row after that pays d array reads per plane. Grown by
    * full recompute under a lock when a larger d appears (amortized
    * once); bounded by planes×dims actually used. */
  private[this] val lshPlaneCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Double]]()
  private def lshComponents(gp: Int, d: Int): Array[Double] = {
    val cur = lshPlaneCache.get(gp)
    if (cur != null && cur.length >= d) return cur
    lshPlaneCache.synchronized {
      val again = lshPlaneCache.get(gp)
      if (again != null && again.length >= d) return again
      val out = new Array[Double](d)
      val md = md5Local.get()
      var i = 0
      while (i < d) {
        md.reset()
        md.update(s"plane$gp|$i"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out(i) = (nibbles60(md.digest(), 0) % 20011L).toDouble / 10005.5 - 1.0
        i += 1
      }
      lshPlaneCache.put(gp, out)
      out
    }
  }

  /** Sign-LSH bucket key of a float/double vector: one bit per
    * hyperplane = sign of ⟨v, w_p⟩, planes tableSalt·numPlanes ..
    * +numPlanes−1. Bit-identical to the declarative
    * aggregate(zip_with(vec, sequence, x·planeComponent)) fold: same
    * element-order left-to-right double summation, same per-term IEEE
    * ops, same sign rule — including Spark's NaN ordering, where
    * `NaN > 0` is TRUE (a NaN projection sets the plane bit; Java's
    * `>` alone would clear it); a null element makes every plane's
    * projection null, which the declarative when() maps to bit 0 —
    * bucket 0 — reproduced here. */
  def lshBucket(vec: org.apache.spark.sql.catalyst.util.ArrayData,
                kind: Int, numPlanes: Int, tableSalt: Int): Long = {
    val d = vec.numElements()
    var i = 0
    while (i < d) { if (vec.isNullAt(i)) return 0L; i += 1 }
    var bucket = 0L
    var p = 0
    while (p < numPlanes) {
      val comp = lshComponents(tableSalt * numPlanes + p, d)
      var acc = 0.0
      i = 0
      while (i < d) {
        val x = if (kind == 0) vec.getFloat(i).toDouble else vec.getDouble(i)
        acc += x * comp(i)
        i += 1
      }
      if (acc > 0.0 || java.lang.Double.isNaN(acc)) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  /** Symmetric int8 quantization codes of a float/double vector —
    * code_i = round(v_i·127 / max|v|), all-zero for a zero vector — in
    * ONE native pass. Bit-identical to the declarative
    * aggregate(max-abs) + transform(round·cast) chain it replaces
    * (whose two lambdas evaluate INTERPRETED per element): Spark's
    * Round(double, 0) is `BigDecimal.decimal(x).setScale(0, HALF_UP)`,
    * replicated here term for term — a float `floor(x+0.5)` shortcut
    * disagrees on values one ulp under .5. Dirty-vector contract,
    * decided over the WHOLE vector (element order must not matter —
    * [null, NaN] and [NaN, null] are the same dirty vector):
    * any null cell → null result, else any non-finite cell → all-zero
    * codes, both pinned identically in the declarative twin. Without
    * the non-finite guard ONE dirty embedding element kills the whole
    * job — BigDecimal.decimal throws on NaN here, and under Spark 4's
    * default ANSI mode `cast(NaN as tinyint)` throws in the declarative
    * chain. All-zero is deterministic, ANSI-independent, and already
    * what a zero vector yields. */
  def int8Codes(vec: org.apache.spark.sql.catalyst.util.ArrayData,
                kind: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = vec.numElements()
    @inline def at(i: Int): Double =
      if (kind == 0) vec.getFloat(i).toDouble else vec.getDouble(i)
    var m = 0.0
    var anyNull = false
    var anyNonFinite = false
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) anyNull = true
      else {
        val x = at(i)
        if (!java.lang.Double.isFinite(x)) anyNonFinite = true
        else { val a = math.abs(x); if (a > m) m = a }
      }
      i += 1
    }
    if (anyNull) return null
    if (anyNonFinite)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(new Array[Byte](n))
    val out = new Array[Byte](n)
    if (m != 0.0) {
      i = 0
      while (i < n) {
        out(i) = scala.math.BigDecimal.decimal(at(i) * 127.0 / m)
          .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble.toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** 1e-6 micro quantization of a float/double vector in ONE native
    * pass — value-identical to the declarative
    * `transform(v, x → round(x·1e6, 0).cast(long))` it replaces (whose
    * lambda evaluates INTERPRETED per element, with Spark's Round
    * allocating a BigDecimal from `Double.toString` per cell). Per-cell
    * semantics replicated exactly:
    *   - the product x·1e6 is the same IEEE double multiply;
    *   - Round(double, 0) is half-up on the SHORTEST-DECIMAL rendering
    *     of the double. A plain `floor(v + 0.5)` disagrees one ulp
    *     under .5, so the kernel floors directly when the fractional
    *     part is ≥ 1e-6 away from the .5 boundary (the shortest-decimal
    *     perturbation is < ulp(1e9)/2 ≈ 1.2e-7, so the side of the
    *     boundary is provably unchanged) and replays the exact
    *     BigDecimal HALF_UP rule only in the boundary zone;
    *   - a DIRTY vector — any null cell, or any element whose scaled
    *     value x·1e6 is non-finite — quantizes to a null VECTOR,
    *     pinned absolutely in the spec. The declarative chain either
    *     nulled the CELL (null input) or THREW under Spark 4's default
    *     ANSI mode (`cast(NaN as long)`); every micro consumer
    *     null-poisons on a null cell anyway (vec_dot_long & co. return
    *     null), so collapsing to a null vector at the source is
    *     consumer-equivalent for clean-ish data AND gives the operators
    *     one uniform contract: dirty vectors behave exactly like null
    *     vectors (droppable with one isNotNull — r12 code review found
    *     that a null CELL reaching Pca's posexplode covariance produced
    *     silently inconsistent n vs Σ, and the Gramian's primitive
    *     decode NPE'd). */
  def microVec(vec: org.apache.spark.sql.catalyst.util.ArrayData,
               kind: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = vec.numElements()
    @inline def at(i: Int): Double = kind match {
      case 0 => vec.getFloat(i).toDouble
      case 1 => vec.getDouble(i)
      case 2 => vec.getInt(i).toDouble
      case _ => vec.getLong(i).toDouble
    }
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      val v = at(i) * 1000000.0
      // the guard is on the SCALED value: a finite-but-huge element
      // (|x| > ~1.8e302) overflows the multiply, and
      // BigDecimal.decimal(Infinity) throws
      if (!java.lang.Double.isFinite(v)) return null
      val f = math.floor(v)
      val frac = v - f
      // fast path sound while ulp(v)/2 < the 1e-6 margin, i.e. |v| ≤ 4e9
      // (ulp(4e9) ≈ 9.5e-7); bigger magnitudes replay BigDecimal always
      out(i) =
        if (math.abs(v) <= 4.0e9 && math.abs(frac - 0.5) > 1e-6) {
          if (frac < 0.5) f.toLong else f.toLong + 1L
        } else
          scala.math.BigDecimal.decimal(v)
            .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP)
            .toDouble.toLong
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Exact long squared distance Σ(x−y)² of two integral arrays — the
    * native `aggregate(zip_with(v, cent, (x−y)²), 0L, +)` with the same
    * fold null semantics as [[vecDotLong]] (length mismatch or null
    * element → null). Same accumulation order; exact integer math. */
  def vecSqDistLong(a: org.apache.spark.sql.catalyst.util.ArrayData,
                    b: org.apache.spark.sql.catalyst.util.ArrayData):
      java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** PQ training assignment: argmin over `cb(j)`'s centroids of the
    * left-to-right Σ (x−y)² in exact LONG arithmetic — the declarative
    * `array_min(transform(typedlit(cents), …aggregate(zip_with…)))`
    * chain as ONE Java loop (the chain is evaluated interpreted with
    * no CSE: k·ds expression trees per subvector). Semantics pinned to
    * the chain it replaces: same fold order, ties → lowest centroid
    * index, null on any null element or out-of-range j. */
  def pqAssignMicro(sub: org.apache.spark.sql.catalyst.util.ArrayData,
                    j: Int, cb: Array[Array[Array[Long]]]):
      java.lang.Integer = {
    if (j < 0 || j >= cb.length) return null
    val cents = cb(j)
    val n = sub.numElements()
    var best = Long.MaxValue
    var bestI = -1
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      if (c.length == n) {
        var acc = 0L
        var e = 0
        while (e < n) {
          if (sub.isNullAt(e)) return null
          val d = sub.getLong(e) - c(e)
          acc += d * d
          e += 1
        }
        if (acc < best) { best = acc; bestI = i }
      }
      i += 1
    }
    if (bestI < 0) null else Integer.valueOf(bestI)
  }

  /** PQ encode: per subspace j, argmin centroid of the left-to-right
    * DOUBLE Σ ((double)x − y)² over the j-th subvector — the serving
    * twin of [[pqAssignMicro]] replacing the per-(j,i) interpreted
    * `aggregate(zip_with…)` chain in [[graft.operators.Similarity
    * .pqCodes]]. `fk` = 0 when the vector is float (cast each element
    * to double exactly as the chain's `x.cast("double")`), 1 for
    * double. Returns the m-byte code array; null on a null element or
    * a length not divisible into the codebook shape. */
  def pqEncode(vec: org.apache.spark.sql.catalyst.util.ArrayData,
               cb: Array[Array[Array[Double]]], fk: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = cb.length
    val ds = cb(0)(0).length
    if (vec.numElements() < m * ds) return null
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val cents = cb(j)
      var best = Double.MaxValue
      var bestI = -1
      var i = 0
      while (i < cents.length) {
        val c = cents(i)
        var acc = 0.0
        var e = 0
        while (e < ds) {
          val idx = j * ds + e
          if (vec.isNullAt(idx)) return null
          val x = if (fk == 0) vec.getFloat(idx).toDouble
                  else vec.getDouble(idx)
          val t = x - c(e)
          acc += t * t
          e += 1
        }
        if (acc < best) { best = acc; bestI = i }
        i += 1
      }
      out(j) = bestI.toByte
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(java.lang.Byte.valueOf))
  }

  /** Truncate at the last space at-or-before maxLen (rfind semantics,
    * reference :110-122). */
  def truncateWords(s: UTF8String, maxLen: Int): UTF8String = {
    val str = s.toString
    if (str.length <= maxLen) s
    else {
      val cut = str.lastIndexOf(' ', maxLen)
      UTF8String.fromString(
        if (cut > 0) str.substring(0, cut) else str.substring(0, maxLen))
    }
  }
}

/** A kernel whose [[ExprHelpers]] method takes one element-kind code per
  * array input: the index of that array's element type in `accepted`
  * (float=0, double=1 for `vecDot`; byte=0 … long=3 for `vecDotLong`).
  * The type is known only once the inputs resolve, so this node checks
  * it at analysis (any other element type fails there, with no job run)
  * and is then replaced by the `StaticInvoke` of `method` over
  * `arrays ++ lead ++ kinds ++ tail`. Every such method may return null. */
private[functions] case class ElementKindInvoke(method: String,
    override val dataType: DataType, accepted: Seq[DataType],
    arrays: Seq[Expression], lead: Seq[Expression], tail: Seq[Expression])
    extends Expression with RuntimeReplaceable {
  override def children: Seq[Expression] = arrays
  override def nullable: Boolean = true
  override def prettyName: String = method

  private def kind(e: Expression): Int = e.dataType match {
    case ArrayType(t, _) => accepted.indexOf(t)
    case _ => -1
  }

  override def checkInputDataTypes(): TypeCheckResult =
    arrays.find(kind(_) < 0) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(a) => TypeCheckResult.TypeCheckFailure(
        s"$method expects array<${accepted.map(_.simpleString)
          .mkString("|")}>, got ${a.dataType.simpleString}")
    }

  override lazy val replacement: Expression = StaticInvoke(
    ExprHelpers.getClass, dataType, method,
    arrays ++ lead ++ arrays.map(a => Literal(kind(a))) ++ tail)

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ElementKindInvoke = copy(arrays = c)
}

/** The Column API of the native kernels, one [[ExprHelpers]] call each.
  * Scalar parameters ride as literals; a kernel's output type and
  * nullability are stated here once. */
object Expressions {
  private val LongArray = ArrayType(LongType, containsNull = false)
  private val StringArray = ArrayType(StringType, containsNull = false)
  private val ByteArray = ArrayType(ByteType, containsNull = false)
  private val Floats = Seq(FloatType, DoubleType)
  private val Integrals = Seq(ByteType, ShortType, IntegerType, LongType)

  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** `ExprHelpers.<method>(args)`; null when an input is null, and also
    * when the method returns null if `returnsNull`. */
  private def invoke(method: String, dataType: DataType,
                     returnsNull: Boolean = false)(args: Expression*): Column =
    ColumnBridge.column(StaticInvoke(ExprHelpers.getClass, dataType, method,
      args, returnNullable = returnsNull))

  private def kinded(method: String, dataType: DataType,
                     accepted: Seq[DataType], arrays: Seq[Column],
                     lead: Seq[Expression] = Nil,
                     tail: Seq[Expression] = Nil): Column =
    ColumnBridge.column(ElementKindInvoke(method, dataType, accepted,
      arrays.map(expr), lead, tail))

  /** A codebook as an object literal: the generated code holds it as one
    * reference, never as a Catalyst array. */
  private def objectLit(cb: AnyRef): Literal =
    Literal(cb, ObjectType(cb.getClass))

  def nfc_normalize(c: Column): Column = invoke("nfc", StringType)(expr(c))
  def truncate_words(c: Column, maxLen: Int): Column =
    invoke("truncateWords", StringType)(expr(c), Literal(maxLen))
  def double_order_key(c: Column): Column =
    invoke("doubleOrderKey", LongType)(expr(c))
  def kgram_rolling_hashes(c: Column, k: Int): Column =
    invoke("kgramRollingHashes", LongArray)(expr(c), Literal(k))
  def window_mins(c: Column, w: Int): Column =
    invoke("windowMins", LongArray)(expr(c), Literal(w))
  def word_shingle_minhash(c: Column, k: Int, numBands: Int): Column =
    invoke("wordShingleMinhash", LongArray, returnsNull = true)(
      expr(c), Literal(k), Literal(numBands))
  def shingle_hash_bands(c: Column, k: Int, numBands: Int): Column =
    invoke("shingleHashBands", StructType(Seq(
      StructField("hsh", LongArray, nullable = false),
      StructField("bm", LongArray, nullable = true))))(
      expr(c), Literal(k), Literal(numBands))
  def simhash_agg(c: Column, bits: Int): Column =
    invoke("simhash", LongType)(expr(c), Literal(bits))
  def word_shingles(c: Column, k: Int): Column =
    invoke("wordShingles", StringArray)(expr(c), Literal(k))
  /** Per-row (term, cnt) structs in first-occurrence order — the
    * shuffle-free half of an inverted-index build; see
    * [[ExprHelpers.termCounts]]. */
  def term_counts(c: Column): Column =
    invoke("termCounts", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = true),
      StructField("cnt", LongType, nullable = false))),
      containsNull = false))(expr(c))
  /** Interpreted O(n·distinct) twin of [[term_counts]], kept only as the
    * parity oracle for the native kernel (spec-compared): array_distinct
    * preserves first-occurrence order, so element order and values must
    * match the one-pass LinkedHashMap exactly. */
  private[graft] def term_counts_declarative(c: Column): Column = {
    import org.apache.spark.sql.functions._
    transform(array_distinct(c), t => struct(
      t.as("term"),
      size(filter(c, x => x <=> t)).cast("long").as("cnt")))
  }
  def vec_dot(a: Column, b: Column): Column =
    kinded("vecDot", DoubleType, Floats, Seq(a, b))
  def vec_dot_long(a: Column, b: Column): Column =
    kinded("vecDotLong", LongType, Integrals, Seq(a, b))
  /** Sign-LSH bucket key in one native pass over a memoized plane
    * table — see [[ExprHelpers.lshBucket]]. */
  def lsh_bucket(vec: Column, numPlanes: Int, tableSalt: Int): Column =
    kinded("lshBucket", LongType, Floats, Seq(vec),
      tail = Seq(Literal(numPlanes), Literal(tableSalt)))
  /** Symmetric int8 quantization codes in one native pass — see
    * [[ExprHelpers.int8Codes]]. */
  def int8_codes(vec: Column): Column =
    kinded("int8Codes", ByteArray, Floats, Seq(vec))
  /** 1e-6 micro quantization of a float/double/int/long vector in one
    * native pass — see [[ExprHelpers.microVec]]. `containsNull = true`
    * is kept for schema parity with the retired transform(round·cast)
    * twin; cells are never null (a dirty vector nulls whole). */
  def micro_vec(vec: Column): Column =
    kinded("microVec", ArrayType(LongType, containsNull = true),
      Floats ++ Seq(IntegerType, LongType), Seq(vec))
  /** DSIR feature buckets of a word array (unigrams then bigrams), one
    * md5 per gram — see [[ExprHelpers.dsirBuckets]]. */
  def dsir_buckets(words: Column, buckets: Int): Column =
    invoke("dsirBuckets", LongArray, returnsNull = true)(
      expr(words), Literal(buckets))
  /** DSIR per-document log-weight Σ lut[bucket(gram)] in one pass — see
    * [[ExprHelpers.dsirLogw]]. */
  def dsir_logw(words: Column, lut: Column): Column =
    invoke("dsirLogw", LongType, returnsNull = true)(expr(words), expr(lut))
  /** [[vec_dot_long]] that additionally enforces |element| ≤ boundAbs on
    * the left array inside the native loop — the zero-extra-pass way to
    * pin an overflow invariant the caller's long arithmetic needs. A
    * bound ≤ 0 checks nothing. */
  def vec_dot_long_bounded(a: Column, b: Column, boundAbs: Long): Column =
    if (boundAbs > 0L)
      kinded("vecDotLongBounded", LongType, Integrals, Seq(a, b),
        tail = Seq(Literal(boundAbs)))
    else vec_dot_long(a, b)
  def whitespace_tokens(c: Column): Column =
    invoke("whitespaceTokens", StringArray)(expr(c))
  def porter_stem(c: Column): Column = invoke("porterStem", StringType)(expr(c))
  def clipped_count(a: Column, b: Column): Column =
    invoke("clippedCount", LongType)(expr(a), expr(b))
  def sorted_set_ops(a: Column, b: Column): Column =
    invoke("sortedSetOps", StructType(Seq(
      StructField("inter", LongType, nullable = false),
      StructField("uni", LongType, nullable = false))))(expr(a), expr(b))
  def cms_cells(c: Column, depth: Int, width: Int): Column =
    invoke("cmsCells", LongArray)(expr(c), Literal(depth), Literal(width))
  def cms_rare_count(toks: Column, lut: Column, depth: Int, width: Int,
                     rareMax: Long): Column =
    invoke("cmsRareCount", LongType)(
      expr(toks), expr(lut), Literal(depth), Literal(width), Literal(rareMax))
  def vec_sq_dist_long(a: Column, b: Column): Column =
    invoke("vecSqDistLong", LongType, returnsNull = true)(expr(a), expr(b))
  def pq_assign_micro(sub: Column, j: Column,
                      cb: Array[Array[Array[Long]]]): Column =
    invoke("pqAssignMicro", IntegerType, returnsNull = true)(
      expr(sub), expr(j), objectLit(cb))
  def pq_encode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    kinded("pqEncode", ByteArray, Floats, Seq(vec),
      lead = Seq(objectLit(cb)))
  /** Exact integral division (the SQL `div` operator) as a composable
    * Column — `a.divide(b)` is float division and rounds past 2^53. */
  def int_div(a: Column, b: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expr(a), expr(b)))
}
