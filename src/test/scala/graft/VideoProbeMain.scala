package graft

import org.apache.spark.sql.functions._

/** Dev tool (test scope): per-stage wall-clock of the dedup_video
  * composition. Run: sbt "Test/runMain graft.VideoProbeMain <sfDir>"
  */
object VideoProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.Tables.table
    import graft.ops.Multimodal
    var t0 = System.nanoTime()
    def lap(name: String, n: => Long): Unit = {
      val c = n
      println(f"STAGE $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($c rows)")
      t0 = System.nanoTime()
    }
    val videos = Multimodal.videoStructured(
      table(spark, sfDir, "documents")).persist()
    lap("plant", videos.count())
    val cuts = Multimodal.sceneCutsOn(videos, 64, 4000L).persist()
    lap("cuts", cuts.count())
    val kf = cuts.select(col("doc_id"),
        explode(when(col("n_cuts") === 0, array(lit(0)))
          .otherwise(concat(array(lit(0)),
            expr("transform(split(cut_idxs, ','), x -> CAST(x AS INT))"))))
          .as("frame_idx"))
      .join(videos.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("frame", expr(s"substring(text, frame_idx * 64 + 1, 64)"))
      .withColumn("dhash", expr(
        """aggregate(sequence(1, 63), 0L, (acc, k) ->
          |  acc + CASE WHEN ascii(substring(frame, k + 1, 1)) >
          |                   ascii(substring(frame, k, 1))
          |    THEN shiftleft(1L, k - 1) ELSE 0L END)""".stripMargin))
      .select(col("doc_id"), col("frame_idx"), col("dhash")).persist()
    lap("kf_hash", kf.count())
    val full = Multimodal.dedupVideoOn(videos, 64, 4000L, 700L, 4L)
    lap("full", full.count())
    spark.stop()
  }
}
