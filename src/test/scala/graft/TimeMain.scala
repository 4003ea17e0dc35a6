package graft

/** Dev tool (test scope): time query keys N times each in-process.
  * Run: sbt "Test/runMain graft.TimeMain <key[,key2,...]> <sfDir> <reps>"
  * Core count via SPARK_GRAFT_CPUS (default 32) — the r21 core-ratio
  * probe runs the same keys at 8 and 32 cores on the 10× corpus.
  */
object TimeMain {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    keys.foreach { key =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        // toRdd.count(): execute the exact physical plan — a Dataset.count()
        // would let Catalyst prune the projections being timed (see Bench)
        val n = SparkEntry.queries(key)(spark, sfDir).queryExecution.toRdd.count()
        println(f"TIMING $key rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
