package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Dev drive (test scope): streaming over the real harness events corpus.
  * Simulates a landing zone: half of sf0.001 events lands, a checkpointed
  * windowed-count query drains it; the second half lands, the SAME query
  * (same checkpoint) resumes incrementally. Then sessionizes the full
  * stream. Run: sbt "Test/runMain graft.StreamDemoMain"
  */
object StreamDemoMain {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val landing = Files.createTempDirectory("graft_landing").toString
    val checkpoint = Files.createTempDirectory("graft_ck").toString
    val sink = Files.createTempDirectory("graft_sink").toString
    val all = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

    def land(cond: org.apache.spark.sql.Column): Unit =
      all.filter(cond).coalesce(1).write.mode("append").parquet(landing)

    def drain(): Unit = {
      val q = Streams.windowedCounts(Streams.readEvents(spark, landing))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", checkpoint)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    land(col("event_id") < 500)
    drain()
    val after1 = spark.read.parquet(sink).count()
    println(s"SINK_ROWS_AFTER_BATCH1=$after1")

    land(col("event_id") >= 500)
    drain()
    val result = spark.read.parquet(sink)
    println(s"SINK_ROWS_AFTER_BATCH2=${result.count()}")
    val total = result.agg(sum("n_events")).first().getLong(0)
    println(s"TOTAL_EVENTS_IN_CLOSED_WINDOWS=$total")

    val sessDir = Files.createTempDirectory("graft_sess_sink").toString
    val sessCk = Files.createTempDirectory("graft_sess_ck").toString
    val sq = Streams.sessionize(spark, Streams.readEvents(spark, landing), 30)
      .writeStream.format("parquet")
      .option("path", sessDir).option("checkpointLocation", sessCk)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val sess = spark.read.parquet(sessDir)
    println(s"CLOSED_SESSIONS=${sess.count()}")
    sess.orderBy(col("n_events").desc).show(3, truncate = false)
    spark.stop()
  }
}
