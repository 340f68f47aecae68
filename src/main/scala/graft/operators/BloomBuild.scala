package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Shared builder for the one-shot bloom filters behind
  * [[Dedup.dropSeenBefore]], [[Dedup.dropNearSeenBefore]],
  * [[Dedup.dropDuplicateLines]] and [[SeenLedger]].
  *
  * Spark's `BloomFilterAggregate` silently clamps its size to
  * `spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits}`
  * (defaults 4M items / 8 MB) — sized for its own runtime join pruning,
  * not for corpus-scale ledgers. Built under those defaults, a 10^8-item
  * filter still "works" but is saturated: results stay correct (the exact
  * confirm joins remove false positives) while the map-side prune quietly
  * degrades to near-zero selectivity. This builder raises the caps to what
  * the item count actually needs for the requested fpp on a CLONED session
  * (conf copied by value), so the raise is invisible to concurrent queries
  * on the shared session — the scale claim in the callers' docs is real,
  * not clamped, and no other query can size a runtime bloom beyond its
  * configured bound while a build is in flight.
  */
object BloomBuild {

  /** Aggregate `hashCol` (must be a LONG hash, e.g. `xxhash64(...)`) over
    * `df` into one bloom filter's serialized bytes. `n` is the exact item
    * count (callers have it anyway from their emptiness check); sizing is
    * the textbook optimum m = -n·ln(p)/ln(2)², ~7.3 bits/item at p=0.03.
    * Driver-side memory is m/8 bytes: 10^8 items ≈ 110 MB — still one
    * broadcastable binary; at 10^9+ raise `fpp` or shard the ledger. */
  def bloomBytes(df: DataFrame, hashCol: Column, n: Long,
      fpp: Double = 0.03): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge

    require(n > 0, "bloom filter needs at least one item")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

    // Build on a CLONED session: the caps live in session conf and
    // BloomFilterAggregate min()s its size against them LAZILY at
    // execution, so raising them on the shared session would let any
    // unrelated concurrent query that plans runtime bloom-join pruning in
    // that window size its own filter far beyond the configured bound
    // (memory hazard), and a concurrent build's restore could re-clamp
    // this one. cloneSession() copies the conf by value — the raised caps
    // are visible only to this build's job, no lock and no restore
    // needed, while catalog and cluster state stay shared.
    val session = ColumnBridge.cloneSession(df.sparkSession)
    session.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      math.max(n, session.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong)
        .toString)
    session.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
      math.max(numBits, session.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong)
        .toString)
    ColumnBridge.rebind(df, session)
      .select(ColumnBridge.column(
        new BloomFilterAggregate(
          ColumnBridge.catalystExpression(hashCol),
          CLit.create(n), CLit.create(numBits))
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** `might_contain(filterBytes, hashCol)` as a Column — the map-side
    * prune matching a [[bloomBytes]] build (no false negatives). */
  def mightContain(filterBytes: Array[Byte], hashCol: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CLit}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    ColumnBridge.column(new BloomFilterMightContain(
      CLit.create(filterBytes, BinaryType),
      ColumnBridge.catalystExpression(hashCol)))
  }
}
