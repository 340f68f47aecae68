package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination: flag training documents that share any
  * word n-gram with an evaluation set — the standard pretraining hygiene
  * step (n-gram overlap decontamination, as published for GPT-3/PaLM
  * style pipelines; n is chosen relative to document length).
  *
  * Scale shape (100 TB): the eval side is always tiny relative to the
  * corpus, so its distinct shingles BROADCAST; the train side explodes
  * shingles map-side and hash-joins against the broadcast — no shuffle
  * of corpus text at all. The only shuffle is the per-doc match count
  * over the (rare) hit triples. Contamination at scale is sparse, so
  * that aggregate is small by construction.
  */
object Decontamination {

  /** Shingle projection materialized behind a typed identity barrier.
    * Without it, `InferFiltersFromGenerate` + join constraints synthesize
    * `size(sh) > 0 AND isnotnull(sh)` filters whose `sh` INLINES the whole
    * tokenize→shingle chain, and predicate pushdown moves them below the
    * parallelizing Exchange — the interpreted shingling then runs 2-3×
    * per row on the scan's few input partitions (measured: the 10× q68
    * join stage went 52 s; with the barrier the filters test the already-
    * computed array and the stage is ~8 s). The barrier is a narrow
    * per-partition pass; scale shape unchanged. */
  private def shingledBarrier(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    graft.ops.Parallelism.barrier(
      graft.ops.Parallelism.ensure(df).select(col(idCol),
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)), k)
          .as("sh")))

  /** Per-train-doc distinct-shingle match count + contaminated flag.
    * Output: idCol, matched_shingles (long), contaminated (0/1). */
  def flagContaminated(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    def shingled(df: DataFrame): DataFrame =
      shingledBarrier(df, idCol, textCol, k)
    val evalGrams = shingled(eval)
      .select(explode(col("sh")).as("g")).distinct()
    val trainSh = shingled(train)
    // join BEFORE distinct: the broadcast hash join prunes non-matching
    // grams map-side, so only actual hits (sparse by construction in a
    // decontamination) reach the distinct's shuffle — distinct-first
    // shuffled every (id, gram) pair of the corpus (measured 6x on the
    // 10x bench point). evalGrams is distinct, so the join leaves
    // per-doc gram multiplicity intact and distinct-after ≡ distinct-
    // before on the matched subset.
    val hits = trainSh
      .select(col(idCol), explode(col("sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .select(col(idCol), col("g")).distinct()
      .groupBy(idCol).agg(count(lit(1)).as("matched_shingles"))
    trainSh.select(idCol).join(hits, Seq(idCol), "left").select(
      col(idCol),
      coalesce(col("matched_shingles"), lit(0L)).as("matched_shingles"),
      when(col("matched_shingles").isNotNull, 1).otherwise(0)
        .as("contaminated"))
  }
}
