package graft

import org.apache.spark.sql.functions._

/** Dev tool (test scope): scaling-slope spot-bench for the incremental
  * embedding-dedup serving paths (SCALE.md round-11 addendum) — the quant
  * full-scan prescan vs the IVF-composed prescan at two probe widths, on
  * the harness corpus and on a `ScaleUpMain` replica.
  *
  * Run: sbt "Test/runMain graft.AnnScaleMain <sfDir> [reps]"
  * (point sfDir at /root/testdata/sf0.1 or target/scale/rep)
  *
  * Also reports the nProbe=8 path's keep-decision agreement vs the
  * full-scan form — the dial's cost/recall trade made visible on the
  * corpus being measured.
  */
object AnnScaleMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val isNew = col("vec_id") % 2 === 1
    val tau = 0.42
    val paths: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "quant_fullscan" -> (() =>
        graft.ops.Dedup.dedupEmbedIncremental(spark, sfDir, isNew, tau, 8)),
      "ivf_nprobe24" -> (() =>
        graft.ops.Dedup.dedupEmbedIncrementalIvf(spark, sfDir, isNew, tau, 8,
          nProbe = 24)),
      "ivf_nprobe8" -> (() =>
        graft.ops.Dedup.dedupEmbedIncrementalIvf(spark, sfDir, isNew, tau, 8,
          nProbe = 8)))
    paths.foreach { case (name, mk) =>
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val n = mk().queryExecution.toRdd.count()
        println(f"ANNSCALE $sfDir $name rep$i: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
        spark.catalog.clearCache()
      }
    }
    // the dial's recall side: keep-decision agreement of each IVF width
    // vs the full-scan prescan (decision-identical to exact on the
    // harness corpus) — nProbe=24 is the certificate's graded setting,
    // so its agreement here is the floor's robustness evidence
    val full = graft.ops.Dedup
      .dedupEmbedIncremental(spark, sfDir, isNew, tau, 8)
      .select(col("q_id"), col("keep"))
    Seq(24, 8).foreach { np =>
      val ivf = graft.ops.Dedup
        .dedupEmbedIncrementalIvf(spark, sfDir, isNew, tau, 8, nProbe = np)
        .select(col("q_id"), col("keep").as("keep_i"))
      val row = full.join(ivf, "q_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep") === col("keep_i"), 1L).otherwise(0L))
            .as("agree"))
        .head()
      println(s"ANNSCALE $sfDir ivf_nprobe$np agreement: " +
        s"${row.getLong(1)}/${row.getLong(0)}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
