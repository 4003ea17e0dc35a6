package graft

import org.apache.spark.sql.functions._

/** Dev tool (test scope): what size stats survive a localCheckpoint —
  * the planner's broadcast decisions for the composed chains hinge on
  * them. Run: sbt "Test/runMain graft.StatProbeMain <sfDir>"
  */
object StatProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def stats(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val s = df.queryExecution.optimizedPlan.stats
      println(s"STATS $name: sizeInBytes=${s.sizeInBytes} rowCount=${s.rowCount}")
    }
    val docs = Tables.table(spark, sfDir, "documents")
    stats("docs(scan)", docs)
    val live = docs.filter(col("doc_id") >= 20 && col("text").isNotNull)
    stats("live(filter)", live)
    val chk = live.localCheckpoint(true)
    stats("live(localCheckpoint)", chk)
    val proj = chk.select(col("doc_id"))
    stats("ids(proj of chk)", proj)
    val agg = live.groupBy(col("lang")).count().localCheckpoint(true)
    stats("agg(localCheckpoint)", agg)
    spark.stop()
  }
}
