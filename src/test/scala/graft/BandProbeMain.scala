package graft

import org.apache.spark.sql.functions._

/** Dev tool (test scope): time the PRODUCTION probe shape of the
  * video/audio incremental dedup rungs — the `*OnState` forms against a
  * pre-materialized maintained band table — isolating the batch-sized
  * cost the graded self-contained keys cannot show (they derive the
  * corpus bands in-key for self-contained grading; production maintains
  * the table and pays the batch side only — SCALE.md).
  *
  * Corpus = even doc_ids of the dir (the family split); batch = odd
  * doc_ids of REPLICA 0 only (doc_id < 1e9), so on a ScaleUpMain 10×
  * dir the corpus/state axis grows while the batch axis stays fixed —
  * exactly the production scaling question. The state is materialized
  * OUTSIDE the timed region (it is the maintained table).
  *
  * Run: sbt "Test/runMain graft.BandProbeMain <audio|video> <sfDir> <reps>"
  */
object BandProbeMain {
  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "audio"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Multimodal
    val docs = Tables.table(spark, sfDir, "documents").select(col("doc_id"))
    val evenDocs = docs.filter(col("doc_id") % 2 === 0)
    val batchDocs = docs
      .filter(col("doc_id") % 2 === 1 && col("doc_id") < 1000000000L)
    val (state, probe) = mode match {
      case "audio" =>
        val st = Multimodal.audioBandState(
          Multimodal.audioStructured(evenDocs),
          Multimodal.AudioFpWin, Multimodal.AudioSegWin)
          .localCheckpoint(true)
        val batch = Multimodal.audioStructured(batchDocs)
        (st, () => Multimodal.dedupAudioIncrementalOnState(st, batch,
          Multimodal.AudioFpWin, Multimodal.AudioSegWin,
          Multimodal.AudioTauMilli, Multimodal.AudioHamMax))
      case "video" =>
        val st = Multimodal.videoBandState(
          Multimodal.videoStructured(evenDocs),
          Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli)
          .localCheckpoint(true)
        val batch = Multimodal.videoStructured(batchDocs)
        (st, () => Multimodal.dedupVideoIncrementalOnState(st, batch,
          Multimodal.CutFrameBytes, Multimodal.CutThresholdMilli,
          Multimodal.VideoTauMilli, Multimodal.VideoHamMax))
      case other => sys.error(s"mode must be audio|video, got $other")
    }
    println(s"BANDPROBE $mode state_rows=${state.count()} " +
      s"batch_docs=${batchDocs.count()}")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = probe().queryExecution.toRdd.count()
      println(f"BANDPROBE $mode rep$i: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
