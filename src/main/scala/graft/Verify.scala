package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(cpus).getOrCreate()
    // ERROR, not WARN — the benign WindowExec/CacheManager WARN spam
    // must not bury the [verify] failure lines (r19 verdict #1b; the
    // Bench main documents the driver's tail-window mechanics)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release op-level persists once the output is consumed (the
      // engine's cache-lifetime contract; see Bench)
      spark.catalog.clearCache()
    }
    import JsonFormat.q
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
