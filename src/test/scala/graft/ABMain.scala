package graft

/** Dev tool (test scope): A/B-time query keys under a session conf
  * toggled per rep in ONE JVM — alternating A (conf unset/default) and
  * B (conf=value) so host-throttle weather hits both arms equally.
  * Run: sbt "Test/runMain graft.ABMain <key[,key...]> <conf> <value> <sfDir> <repsPerArm>"
  */
object ABMain {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(',').toSeq
    val conf = args(1)
    val value = args(2)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val reps = if (args.length > 4) args(4).toInt else 3
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { key =>
      (1 to reps).foreach { i =>
        Seq(false, true).foreach { b =>
          if (b) spark.conf.set(conf, value) else spark.conf.unset(conf)
          val arm = if (b) s"B($conf=$value)" else "A(default)"
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(key)(spark, sfDir)
            .queryExecution.toRdd.count()
          println(f"ABTIME $key rep$i $arm: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
          spark.catalog.clearCache()
        }
      }
      spark.conf.unset(conf)
    }
    spark.stop()
  }
}
