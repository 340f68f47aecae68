package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level data profiling — the "what is actually in this table"
  * report every ingestion run records before trusting a new drop:
  * per column the row/null/distinct counts and the min/max, computed
  * in ONE pass over the data (a single aggregation row; the
  * per-column pivot is a driver-side reshape of that one collected
  * row, bounded by the column count). The reference's DataLoaderStage
  * validates column EXISTENCE (ondine/stages/data_loader_stage.py:
  * 113-211); this is the quantitative extension.
  *
  * Distinct counts are exact by default (`count(distinct)` per column
  * in the one aggregation — Spark plans the multi-distinct via expand,
  * which multiplies the scanned rows by the number of distinct
  * columns). `approxDistinct = true` is the billion-key/100 TB tier:
  * n_distinct routes through [[Hll.registersByColumn]] — every
  * column's registers built in ONE additional scan (a melt + one
  * `max` aggregation whose shuffle is ≤ cols·2^p rows per partition)
  * — and the report's other columns are computed exactly as before.
  * ProfilerSpec pins the estimates within HLL error on known
  * cardinalities; BENCH_NOTES ("Profiler HLL tier") records the
  * timings against the exact tier. Min/max are computed on the NATIVE
  * type (so numeric columns order numerically) and cast to string for
  * the uniform report schema. Complex-typed columns (arrays, maps,
  * structs) get counts only — their string rendering is engine-
  * specific, so min/max/distinct stay null by contract. Output: one
  * row per column, (column, dtype, n_rows, n_nonnull, null_frac,
  * n_distinct, min_str, max_str), ordered by column name. */
object Profiler {

  private def isAtomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  def profile(df0: DataFrame, approxDistinct: Boolean = false,
              p: Int = 12): DataFrame = {
    // a profile reads EVERY column of every row — a small single-file
    // input otherwise runs the whole multi-aggregate on one core
    val df = graft.ops.Parallelism.ensure(df0)
    val spark = df.sparkSession
    val fields = df.schema.fields
    require(fields.nonEmpty, "profile of a zero-column frame")
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      if (isAtomic(f.dataType))
        Seq(count(c),
          if (approxDistinct) lit(null).cast("long") else count_distinct(c),
          min(c).cast("string"), max(c).cast("string"))
      else
        Seq(count(c), lit(null).cast("long"),
          lit(null).cast("string"), lit(null).cast("string"))
    }
    val head = df.agg(count(lit(1)).as("__graft_n"), aggs: _*).head()
    val n = head.getLong(0)
    // approximation tier: one more scan builds EVERY atomic column's
    // HLL registers together; the estimate collect is ≤ #cols rows
    val approx: Map[String, Long] =
      if (!approxDistinct) Map.empty
      else {
        val atomic = fields.filter(f => isAtomic(f.dataType)).map(_.name)
        if (atomic.isEmpty || n == 0) Map.empty
        // fast (xxHash64) tier: a profile's n_distinct is an estimate
        // by construction — there is no oracle replaying these hashes,
        // so the portable md5 discipline buys nothing and costs ~5x
        else Hll.estimate(
            Hll.registersByColumn(df, atomic.toSeq, p, portable = false),
            Seq("column"), p)
          .select(col("column"), round(col("hll_est"), 0).cast("long"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    val rows = fields.zipWithIndex.map { case (f, i) =>
      val base = 1 + i * 4
      val nonnull = head.getLong(base)
      val nd: Any =
        if (approxDistinct && isAtomic(f.dataType))
          // a column with no non-null items has no registers → 0
          approx.getOrElse(f.name, if (nonnull == 0) 0L else null)
        else if (head.isNullAt(base + 1)) null
        else head.getLong(base + 1)
      Row(f.name, f.dataType.simpleString, n, nonnull,
        if (n == 0) 0.0
        else BigDecimal((n - nonnull).toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        nd, head.getString(base + 2), head.getString(base + 3))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("column", StringType, nullable = false),
        StructField("dtype", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("n_nonnull", LongType, nullable = false),
        StructField("null_frac", DoubleType, nullable = false),
        StructField("n_distinct", LongType, nullable = true),
        StructField("min_str", StringType, nullable = true),
        StructField("max_str", StringType, nullable = true))))
      .orderBy("column")
  }
}
