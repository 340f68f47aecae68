package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `oracle_sql.json` in `outDir`: one query name -> DuckDB SQL pair per
    * entry of `sqls`. */
  private[graft] def writeOracleSql(outDir: String,
                                    sqls: Map[String, String]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.core.Json.write(graft.core.Json.obj(sqls.toSeq: _*)))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as perfbench's curation inventory: split single-file testdata
      // parquet into real scan tasks
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, SparkEntry.oracleSql)
    spark.stop()
  }
}
