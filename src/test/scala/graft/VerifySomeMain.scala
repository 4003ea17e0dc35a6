package graft

import java.nio.file.{Files, Paths}

/** Dev tool (test scope): Verify-shaped dump for a SUBSET of query keys,
  * for fast local oracle iteration with tools/compare.py.
  * Run: sbt "Test/runMain graft.VerifySomeMain <key[,key2,...]> <sfDir> <outDir>"
  * then: python3 tools/compare.py <sfDir> <outDir>
  */
object VerifySomeMain {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_some"
    val spark = Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify-some] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    import JsonFormat.q
    val json = SparkEntry.oracleSql.filter(kv => keys.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
