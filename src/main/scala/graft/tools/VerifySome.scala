package graft.tools

import org.apache.spark.sql.SparkSession

/** Subset correctness dump for local oracle iteration (not part of the
  * driver contract): runMain graft.tools.VerifySome <sfDir> <outDir> <q1,q2,...>
  * Writes each named SparkEntry query to outDir/<name> parquet, exactly
  * like graft.Verify, but only for the named queries.
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val picked = names.split(",").toSeq
    picked.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[verify-some] wrote $name")
    }
    // subset oracle dump so tools/verify_local.py runs against outDir
    graft.Verify.writeOracleSql(outDir,
      graft.SparkEntry.oracleSql.filter(kv => picked.contains(kv._1)))
    spark.stop()
  }
}
