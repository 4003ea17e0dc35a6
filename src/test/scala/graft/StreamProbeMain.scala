package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Dev tool (test scope): per-phase wall-clock + StreamingQueryProgress
  * breakdown of the streaming replay keys (`stream_dedup` first), so the
  * replay floor is attributable (r20 verdict #1): landing reuse, stream
  * start→termination, per-batch durationMs (addBatch/getBatch/commits),
  * state-store operator metrics, and the batch read-back + sort.
  * Run: sbt "Test/runMain graft.StreamProbeMain <sfDir> <reps>"
  */
object StreamProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the landing the key reuses (already published by prior runs)
    val landing = LocalFs.cachePath(LocalFs.Names.CdcLandingCache, sfDir,
      new File(s"$sfDir/events.parquet"))
    println(s"landing: $landing exists=${new File(s"$landing/_SUCCESS").exists()}")

    val seq = new java.util.concurrent.atomic.AtomicLong()
    def replayProfiled(out: org.apache.spark.sql.Dataset[_],
        parts: Int): DataFrame = {
      val work = new File(new File(sys.props("java.io.tmpdir")),
        s"graft_probe_${spark.sparkContext.applicationId}_${seq.incrementAndGet()}")
      LocalFs.deleteOnExit(work)
      val feedDir = new File(work, "feed").getPath
      val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        val t0 = System.nanoTime()
        val q = out.writeStream.format("parquet").option("path", feedDir)
          .option("checkpointLocation", new File(work, "ck").getPath)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val t1 = System.nanoTime()
        println(f"  replay(start->term): ${(t1 - t0) / 1e9}%.2f s, " +
          s"batches=${q.recentProgress.length}")
        q.recentProgress.foreach { p =>
          println(s"    batch ${p.batchId}: rows=${p.numInputRows} " +
            s"durationMs=${p.durationMs}")
          p.stateOperators.foreach { so =>
            println(s"      state[${so.operatorName}]: total=${so.numRowsTotal} " +
              s"updated=${so.numRowsUpdated} updMs=${so.allUpdatesTimeMs} " +
              s"rmMs=${so.allRemovalsTimeMs} commitMs=${so.commitTimeMs} " +
              s"memUsed=${so.memoryUsedBytes}")
          }
        }
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.shuffle.partitions", v)
        case None => spark.conf.unset("spark.sql.shuffle.partitions")
      }
      spark.read.parquet(feedDir)
    }

    (1 to reps).foreach { rep =>
      println(s"== stream_dedup rep $rep ==")
      var t0 = System.nanoTime()
      def lap(name: String): Unit = {
        println(f"  $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        t0 = System.nanoTime()
      }
      val src = Streams.readEvents(spark, landing)
      val deduped = Streams.dedupContent(src,
        Seq("user_id", "event_type", "props"), delay = "90 days")
      lap("build")
      val feed = replayProfiled(deduped, 8)
      lap("replay total")
      val out = feed.select(col("user_id"), col("event_type"), col("props"))
        .orderBy(col("user_id"), col("event_type"), col("props"))
      val n = out.queryExecution.toRdd.count()
      lap(s"readback+sort ($n rows)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
