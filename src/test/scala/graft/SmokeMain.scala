package graft

/** Dev smoke runner (test scope): mirrors the driver's t1 check —
  * `SparkEntry.entry` must return >0 rows on sf0.001.
  * Run: sbt "Test/runMain graft.SmokeMain"
  */
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    spark.stop()
    assert(n > 0, "t1 smoke failed: entry returned 0 rows")
  }
}
