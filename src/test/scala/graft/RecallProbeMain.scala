package graft

import org.apache.spark.sql.functions._

/** Dev tool (test scope): per-probe recall of the approximate ANN paths
  * vs the exact path, to size driver-checkable recall floors.
  * Run: sbt "Test/runMain graft.RecallProbeMain <sfDir>"
  */
object RecallProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def perProbe(name: String, approx: org.apache.spark.sql.DataFrame,
        exact: org.apache.spark.sql.DataFrame): Unit = {
      val a = approx.select(col("q_id"), col("c_id")).as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val e = exact.select(col("q_id"), col("c_id")).as[(Long, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = e.map { case (q, ex) =>
        val got = a.getOrElse(q, Set.empty)
        q -> (got.intersect(ex).size.toDouble / ex.size, got.size)
      }
      println(s"== $name @ $sfDir")
      recalls.toSeq.sortBy(_._1).foreach { case (q, (r, n)) =>
        println(f"  probe $q%3d recall=$r%.2f n_approx=$n%d")
      }
      println(f"  min=${recalls.values.map(_._1).min}%.2f " +
        f"mean=${recalls.values.map(_._1).sum / recalls.size}%.2f")
    }

    perProbe("lsh", graft.ops.Similarity.simSearchLsh(spark, sfDir),
      graft.ops.Similarity.simSearch(spark, sfDir))
    spark.catalog.clearCache()
    perProbe("ivf", graft.ops.Similarity.simSearchIvf(spark, sfDir),
      graft.ops.Similarity.simSearch(spark, sfDir))
    spark.catalog.clearCache()
    // dedup_embed: top-1 report for probes vec_id < 100 — recall here is
    // "did the LSH candidate set contain the exact nearest neighbor"
    val exactNN = graft.ops.Similarity.simSearch(spark, sfDir,
      col("vec_id") < 100, k = 1)
    perProbe("embedNN", graft.ops.Dedup.dedupEmbed(spark, sfDir)
      .select(col("q_id"), col("nn_id").as("c_id")), exactNN)
    spark.stop()
  }
}
