package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streams

/** Drives the streaming surface end-to-end with a real file-source stream:
  * parquet batches dropped into a temp landing dir, micro-batches processed
  * to a memory sink, watermark advancement closing windows/sessions.
  */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def writeBatch(dir: String, rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .coalesce(1)
      .write.mode("append").parquet(dir)
  }

  test("windowed counts aggregate a file stream incrementally") {
    val dir = Files.createTempDirectory("graft_stream_in").toString
    writeBatch(dir, Seq(
      (1L, ts(5), 1L, "click", 1.0),
      (2L, ts(10), 2L, "click", 2.0),
      (3L, ts(15), 1L, "view", 3.0)))
    val q = Streams.windowedCounts(Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val r1 = spark.sql("SELECT event_type, n_events FROM wc ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(r1 == Seq(("click", 2L), ("view", 1L)))
    // second batch lands; restartable incremental processing picks it up
    writeBatch(dir, Seq((4L, ts(20), 3L, "click", 4.0)))
    val q2 = Streams.windowedCounts(Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("wc2")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val r2 = spark.sql("SELECT n_events FROM wc2 WHERE event_type='click'")
      .first().getLong(0)
    assert(r2 == 3L)
  }

  test("streaming dedup drops re-deliveries by id, keeps identical payloads") {
    val dir = Files.createTempDirectory("graft_dedup_in").toString
    // event 1 is delivered twice (same event_id = re-delivery); events 2
    // and 3 are DISTINCT events that happen to carry identical payloads
    writeBatch(dir, Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(2), 1L, "view", 5.0),
      (3L, ts(4), 2L, "view", 5.0)))
    val q = Streams.dedupEvents(Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.sql("SELECT event_id FROM dedup ORDER BY event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 2L, 3L))
  }

  test("streaming content-dedup key is null-safe: shifted nulls don't collide") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_dedupn_in").toString
    // A: value=NULL, props='1.0'; B: value=1.0, props=NULL — with a
    // null-skipping serializer (concat_ws) both would key to 'click|1.0';
    // C re-delivers A's exact content and must be dropped
    spark.createDataFrame(Seq(
      (1L, ts(0), 1L, "click", "1.0"),
      (2L, ts(2), 1L, "click", null.asInstanceOf[String]),
      (3L, ts(4), 2L, "click", "1.0")))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
      .withColumn("value",
        when(col("event_id") === 2L, 1.0).otherwise(lit(null)))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.dedupContent(Streams.readEvents(spark, dir),
        Seq("event_type", "value", "props"))
      .writeStream.format("memory").queryName("dedupn")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val kept = spark.sql("SELECT event_id FROM dedupn ORDER BY event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 2L))
    // the internal hash key must not leak into the output schema
    assert(!spark.table("dedupn").columns.contains("h"))
  }

  test("stream_dedup key equals batch DISTINCT and genuinely drops duplicates") {
    import org.apache.spark.sql.functions._
    val got = Streams.streamDedupQuery(spark, sf)
    val raw = Tables.events(spark, sf)
    val want = raw.select(col("user_id"), col("event_type"), col("props"))
      .distinct()
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // non-vacuous: the corpus must carry real payload duplicates, or the
    // state store never fires and the key grades a pass-through
    assert(got.count() < raw.count(),
      "no payload duplicates in corpus — stream_dedup is vacuous")
  }

  test("stream_dedup_media equals the batch OnState probe's corpus " +
      "verdicts, replays one modality per micro-batch, and genuinely " +
      "screens corpus dups") {
    import org.apache.spark.sql.functions._
    import graft.ops.Multimodal
    val got = Streams.streamDedupMediaQuery(spark, sf)
      .select(col("modality"), col("doc_id"), col("is_dup_corpus"))
    // the pin: the streaming fold emits EXACTLY the batch OnState
    // probe's corpus-verdict projection (same maintained state, two
    // execution modes — the stream/batch consistency contract)
    val want = Multimodal.dedupMediaOnState(spark, sf)
      .select(col("modality"), col("doc_id"), col("is_dup_corpus"))
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "streaming verdicts drifted from the batch OnState probe")
    spark.catalog.clearCache()
    // non-vacuous: every modality contributes batch docs, and some are
    // genuinely screened (the planted straddling classes)
    val byMod = got.collect()
      .groupBy(_.getString(0)).view
      .mapValues(rs => (rs.length, rs.count(_.getBoolean(2)))).toMap
    assert(byMod.keySet == Set("video", "audio", "image"))
    byMod.foreach { case (m, (n, dups)) =>
      assert(n > 0 && dups > 0, s"$m: $n rows, $dups corpus dups — vacuous")
      assert(dups < n, s"$m: every row screened — the keep branch is dead")
    }
  }

  test("mediaProbeStream fails NAMED when a doc's band rows straddle " +
      "micro-batches (the recorded-emission guard, ADVICE r18)") {
    import org.apache.spark.sql.functions._
    import graft.ops.Multimodal
    import spark.implicits._
    // two parquet files carrying band rows for the SAME (modality, doc):
    // file-per-trigger replays them as two micro-batches, violating the
    // single-micro-batch completeness contract — the GroupState
    // emitted-record must surface it loudly, not emit a partial verdict
    val dir = Files.createTempDirectory("graft_mps_split").toString
    def bandRows(unit: Long) =
      Seq(("image", 7L, unit, 123L, 0, 99L))
        .toDF("modality", "doc_id", "unit_idx", "dhash", "band_idx",
          "band_val")
    bandRows(0L).write.mode("append").parquet(dir)
    bandRows(1L).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(Multimodal.bandRowSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = Streams
      .mediaProbeStream(stream, bandRows(0L).filter(lit(false)))
      .writeStream.format("memory").queryName("mps_split")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val err = intercept[
      org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("completeness contract violated"),
      s"expected the named contract failure, got:\n$chain")
  }

  test("stream_ingest_text equals the batch fold over the landed probe " +
      "rows, and the url family IS the frontier screen's corpus verdict") {
    import org.apache.spark.sql.functions._
    import graft.ops.{Curation, Multimodal, Web}
    val got = Streams.streamIngestTextQuery(spark, sf)
    val landing = Curation.textStatesLanding(spark, sf)
    def censusKeys(family: String) = family match {
      case "url" => spark.read.parquet(s"$landing/url_census")
        .select(col("url_norm").as("k"))
      case "line" => spark.read.parquet(s"$landing/line_census")
        .select(col("lh").as("k"))
      case _ => spark.read.parquet(s"$landing/span_census")
        .select(col("gh").cast("string").as("k"))
    }
    // the pin: the streaming fold emits EXACTLY the batch left-join +
    // aggregate over the same landed rows and the same landed censuses
    // (same state, two execution modes — the stream/batch contract)
    val want = Seq("url", "line", "span").map { fam =>
      spark.read.parquet(s"$landing/batch/b*_$fam.parquet")
        .join(censusKeys(fam).withColumn("__hit", lit(true)),
          Seq("k"), "left_outer")
        .groupBy(col("family"), col("doc_id"))
        .agg(count(lit(1)).as("n_units"),
          count(col("__hit")).as("n_hit_units"))
        .select(col("family"), col("doc_id"), col("n_units"),
          col("n_hit_units"),
          expr("n_hit_units * 1000 div n_units").as("hit_frac_milli"),
          (col("n_hit_units") > 0).as("is_seen_corpus"))
    }.reduce(_ unionByName _)
    assert(got.count() == want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "streaming verdicts drifted from the batch fold")
    // the url family IS the frontier screen: is_seen_corpus must equal
    // dedupUrlIncrementalOn's is_dup_corpus over the same batch + census
    val batch = Tables.table(spark, sf, "documents")
      .filter(col("doc_id") >= 20 && col("text").isNotNull &&
        col("doc_id") % 2 === 1 &&
        col("doc_id") < Multimodal.ReplicaBound)
    val urls = Web.urlStructured(batch)
    val unb = urls.join(
      Web.urlBlocklistOn(urls, Web.BlockedDomains, Web.BlockedPrefixes)
        .filter(col("blocked") === 0).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val screen = Web.dedupUrlIncrementalOn(
        spark.read.parquet(s"$landing/url_census"), unb)
      .select(col("doc_id"), col("is_dup_corpus"))
    val urlGot = got.filter(col("family") === "url")
      .select(col("doc_id"), col("is_seen_corpus"))
    assert(urlGot.except(screen).isEmpty && screen.except(urlGot).isEmpty,
      "url seen-ness drifted from the frontier screen")
    // non-vacuous: every family emits, the url gate has both branches,
    // and at least one family records real corpus seen-ness
    val rows = got.collect()
    spark.catalog.clearCache()
    val byFam = rows.groupBy(_.getString(0)).view
      .mapValues(rs => (rs.length, rs.count(_.getBoolean(5)))).toMap
    assert(byFam.keySet == Set("url", "line", "span"))
    byFam.foreach { case (f, (n, _)) => assert(n > 0, s"$f is empty") }
    val (un, useen) = byFam("url")
    assert(useen > 0 && useen < un,
      s"url gate vacuous: $useen seen of $un")
  }

  test("textProbeStream fails NAMED when a doc's probe rows straddle " +
      "micro-batches (the mediaProbeStream completeness contract)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tps_split").toString
    def keyRows(k: String) =
      Seq(("url", 7L, k)).toDF("family", "doc_id", "k")
    keyRows("a").write.mode("append").parquet(dir)
    keyRows("b").write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(Streams.textKeyRowSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = Streams
      .textProbeStream(stream, keyRows("a").select(col("k"))
        .filter(lit(false)))
      .writeStream.format("memory").queryName("tps_split")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val err = intercept[
      org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("completeness contract violated"),
      s"expected the named contract failure, got:\n$chain")
  }

  test("streaming windowed counts equal the batch aggregation over the corpus") {
    import org.apache.spark.sql.functions._
    // the harness events table replayed as landing files must produce
    // EXACTLY the batch engine's answer — the stream/batch consistency
    // contract (same query, two execution modes). complete output mode
    // emits every window, so no watermark eviction asymmetry applies.
    val dir = Files.createTempDirectory("graft_sb_in").toString
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.mode("append").parquet(dir)
    val q = Streams.windowedCounts(Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("sbwc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // group keys and counts must agree EXACTLY; the double sums agree to a
    // tolerance (partial-agg sum order differs between the incremental and
    // batch plans, and rounding both sides could still split at a 4dp
    // half-boundary)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val streamed = rows(spark.sql(
      "SELECT window_start, event_type, n_events, total_value FROM sbwc"))
    val batch = rows(ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start"), col("event_type"), col("n_events"),
        col("total_value")))
    assert(streamed.nonEmpty)
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, (n, tv)) =>
      val (bn, btv) = batch(k)
      assert(n == bn, s"count mismatch at $k: $n vs $bn")
      assert(math.abs(tv - btv) < 1e-6, s"sum mismatch at $k: $tv vs $btv")
    }
  }

  test("streaming sessionization equals the batch twin over the corpus") {
    import org.apache.spark.sql.functions._
    // the interval-merge in Streams.sessionize, pinned against an
    // INDEPENDENT formulation (lag + cumulative session counter) over the
    // harness events corpus: every closed streaming session must match the
    // batch session row for that (user, start)
    val dir = Files.createTempDirectory("graft_sessb_in").toString
    val ev = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    ev.write.mode("append").parquet(dir)
    // sentinel batch far past every corpus event: advances the watermark
    // beyond last + gap for all real users, so every real session closes
    val maxTs = ev.agg(max(col("ts"))).first().getTimestamp(0)
    writeBatch(dir, Seq((-1L,
      new Timestamp(maxTs.getTime + 365L * 24 * 3600 * 1000), -1L,
      "sentinel", 0.0)))
    val checkpoint = Files.createTempDirectory("graft_sessb_ck").toString
    val q = Streams.sessionize(spark, Streams.readEvents(spark, dir), 30)
      .writeStream.format("memory").queryName("sessb")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(2)) ->
        (r.getLong(1), r.getTimestamp(3), r.getDouble(4))).toMap
    val streamed = keyed(spark.sql(
      "SELECT user_id, n_events, start, end, total_value FROM sessb WHERE user_id >= 0"))
    val batch = keyed(Streams.sessionizeBatch(ev, 30))
    assert(streamed.nonEmpty, "corpus should close at least one session")
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, (n, end, tv)) =>
      val (bn, bEnd, btv) = batch(k)
      assert(n == bn, s"event count mismatch at $k: $n vs $bn")
      assert(end == bEnd, s"session end mismatch at $k: $end vs $bEnd")
      // double sum order differs between the incremental fold and the
      // batch partial aggregation
      assert(math.abs(tv - btv) < 1e-6, s"sum mismatch at $k: $tv vs $btv")
    }
  }

  test("streaming as-of attribution equals the batch as-of join over the corpus") {
    import org.apache.spark.sql.functions._
    // stream(corpus) == batch(corpus): the one-timestamp-state streaming
    // attribution must reproduce the batch union-tag window operator
    // exactly when the corpus is replayed through the file source (one
    // landing file → one micro-batch → the in-batch event-time sort
    // repairs any arrival order)
    val dir = Files.createTempDirectory("graft_asof_in").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_asof_ck").toString
    val q = Streams.asofAttribution(spark, Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("asof")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(
      "SELECT event_id, unix_micros(click_ts) FROM asof")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // batch twin surfaces µs-floored ns BIGINTs → compare in µs
    val batch = graft.ops.Temporal.joinAsof(spark, sf)
      .select(col("event_id"), col("click_ts_ns"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1) / 1000))).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming funnel change-log equals the batch funnel over the corpus") {
    import org.apache.spark.sql.functions._
    // monotone bits → max per user over the change log reconstructs the
    // final snapshot; replaying the corpus must reproduce the batch
    // ordered-funnel operator exactly (which is itself pinned to an
    // independent chained-min-join SQL oracle)
    val dir = Files.createTempDirectory("graft_funnel_in").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_funnel_ck").toString
    val q = Streams.funnelProgress(spark, Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("funnel")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    val streamed = keyed(spark.sql(
      """SELECT user_id, CAST(max(has_view) AS INT), CAST(max(has_click) AS INT),
        |  CAST(max(has_purchase) AS INT), CAST(max(funnel_stage) AS INT)
        |FROM funnel GROUP BY user_id""".stripMargin))
    val batch = keyed(graft.ops.Temporal.eventFunnel(spark, sf))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming funnel emits exactly one row per stage advance") {
    val dir = Files.createTempDirectory("graft_funprog_in").toString
    // file 1: a view for user 1 (stage 1) and a PREMATURE click for user 2
    // (stage 0 — a click with no preceding view does not pass the gate)
    writeBatch(dir, Seq(
      (1L, ts(0), 1L, "view", 1.0),
      (2L, ts(0), 2L, "click", 1.0)))
    // file 2 (separate micro-batch via maxFilesPerTrigger=1): user 1
    // clicks then purchases — ONE emission at stage 3, no intermediate
    // stage-2 row; user 2 clicks again, still gated → NO new emission
    writeBatch(dir, Seq(
      (3L, ts(5), 1L, "click", 1.0),
      (4L, ts(6), 1L, "purchase", 1.0),
      (5L, ts(7), 2L, "click", 1.0)))
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streams.funnelProgress(spark, stream)
      .writeStream.format("memory").queryName("funprog")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the full change log: exactly three rows — duplicate emissions for an
    // unchanged state or a skipped-stage row would surface here
    val log = spark.sql(
      """SELECT user_id, has_view, has_click, has_purchase, funnel_stage
        |FROM funprog ORDER BY user_id, funnel_stage""".stripMargin)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSeq
    assert(log == Seq((1L, 1, 0, 0, 1), (1L, 1, 1, 1, 3), (2L, 0, 0, 0, 0)))
  }

  test("sessionization closes sessions when the watermark passes the gap") {
    val dir = Files.createTempDirectory("graft_sess_in").toString
    // user 1: two events 5 min apart (one session); user 2: one event.
    writeBatch(dir, Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (2L, ts(5), 1L, "click", 2.0),
      (3L, ts(1), 2L, "view", 5.0)))
    // late batch 2h later: advances the watermark far past the 30-min gap,
    // so the first sessions time out and emit.
    writeBatch(dir, Seq(
      (4L, Timestamp.valueOf("2024-01-01 12:30:00"), 3L, "click", 9.0)))
    val checkpoint = Files.createTempDirectory("graft_sess_ck").toString
    val q = Streams.sessionize(spark, Streams.readEvents(spark, dir), 30)
      .writeStream.format("memory").queryName("sess")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sessions = spark.sql(
      "SELECT user_id, n_events, total_value FROM sess ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // EXACT emission set: duplicates or a premature emission of user 3's
    // still-open session must fail, not hide behind contains-checks
    assert(sessions == Seq((1L, 2L, 3.0), (2L, 1L, 5.0)))
  }

  test("streaming upsert snapshot equals the batch compaction over the corpus") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_ups_in").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_ups_ck").toString
    val q = Streams.upsertStream(spark, Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("ups")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // snapshot = the max-n_versions emission per key (n_versions grows
    // strictly per emission of a key)
    val streamed = spark.sql(
      """SELECT user_id, event_type, value, ts_us, event_id, n_versions
        |FROM (
        |  SELECT user_id, event_type, value, unix_micros(ts) AS ts_us,
        |    event_id, n_versions,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY n_versions DESC) AS rn
        |  FROM ups) t WHERE rn = 1""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val batch = graft.ops.Lifecycle.upsertLatest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3) / 1000, r.getLong(4), r.getLong(5))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("checkpoint restart resumes exactly-once: state restored, nothing reprocessed") {
    // THE production recovery contract: a stateful stream stopped and
    // restarted from its checkpoint must (a) restore per-key state, not
    // recount from zero, and (b) process only files it has not seen. The
    // corpus is landed in two halves with a restart between; the final
    // snapshot's n_versions per key equals the batch twin's TOTAL version
    // count — wrong under either failure mode (fresh state undercounts,
    // reprocessing double-counts). The halves are split by event parity so
    // most keys span both runs and genuinely exercise state restoration.
    import org.apache.spark.sql.functions._
    val all = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Files.createTempDirectory("graft_resume_in").toString
    val ck = Files.createTempDirectory("graft_resume_ck").toString
    val feed = Files.createTempDirectory("graft_resume_feed").toString
    def runToCompletion() = {
      val q = Streams.upsertStream(spark, Streams.readEvents(spark, dir))
        .writeStream.format("parquet").option("path", feed)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    all.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(dir)
    val in1 = runToCompletion()
    val feedAfter1 = spark.read.parquet(feed).count()
    assert(feedAfter1 > 0, "first run emitted nothing")
    all.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(dir)
    val in2 = runToCompletion()
    // (b) directly: the restarted query read exactly the second half
    val nOdd = all.filter(col("event_id") % 2 === 1).count()
    assert(in2 == nOdd,
      s"restart read $in2 rows, expected only the $nOdd new ones " +
        s"(first run read $in1)")
    assert(spark.read.parquet(feed).count() > feedAfter1,
      "restart appended no emissions — resume was vacuous")
    // (a) via the end state: reconstructed snapshot == batch compaction,
    // n_versions included
    val streamed = spark.read.parquet(feed)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(struct(col("value"), col("ts"), col("event_id"),
        col("n_versions")), col("n_versions")).as("cur"))
      .select(col("user_id"), col("event_type"),
        col("cur.value"), unix_micros(col("cur.ts")).as("ts_us"),
        col("cur.event_id"), col("cur.n_versions"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val batch = graft.ops.Lifecycle.upsertLatest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3) / 1000, r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch,
      "post-restart snapshot diverges from the batch compaction")
  }

  test("rate-cap sketch is arrival-order invariant: reversed-time halves" +
      " land on the batch first-k") {
    // adversarial replay: the LATE half of the corpus lands first, the
    // EARLY half second — every kept pair of a spanning key must be
    // DISPLACED out of state by older arrivals in run 2. The min-k
    // sketch's commutative merge makes the final snapshot equal the
    // batch first-k anyway; a naive "first k ARRIVALS" implementation
    // fails this test by construction.
    import org.apache.spark.sql.functions._
    val all = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val mid = all.selectExpr("CAST(percentile(unix_micros(ts), 0.5) AS LONG)")
      .head().getLong(0)
    val dir = Files.createTempDirectory("graft_ratecap_in").toString
    val ck = Files.createTempDirectory("graft_ratecap_ck").toString
    val feed = Files.createTempDirectory("graft_ratecap_feed").toString
    def runToCompletion(): Unit = {
      val q = Streams.rateCapStream(Streams.readEvents(spark, dir),
        Streams.RateCapK)
        .writeStream.format("parquet").option("path", feed)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    all.filter(unix_micros(col("ts")) >= mid)
      .coalesce(1).write.mode("append").parquet(dir)
    runToCompletion()
    all.filter(unix_micros(col("ts")) < mid)
      .coalesce(1).write.mode("append").parquet(dir)
    runToCompletion()
    val snap = spark.read.parquet(feed)
      .groupBy(col("user_id"), col("day_n"))
      .agg(max_by(struct(col("n_seen"), col("n_kept"), col("kept_head")),
        col("n_seen")).as("cur"))
      .select(col("user_id"), col("day_n"), col("cur.n_seen"),
        col("cur.n_kept"), col("cur.kept_head"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3), r.getString(4)))).toMap
    // batch first-k twin computed independently
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("day_n"))
      .orderBy(col("ts_us"), col("event_id"))
    val e = all.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      (unix_micros(col("ts")) / lit(86400000000L)).cast("long")
        .as("day_n"))
    // numeric struct sort (a string sort would misorder tied-µs ids)
    val heads = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Streams.RateCapK)
      .groupBy(col("user_id"), col("day_n"))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("ts_us"), col("event_id")))),
          p => concat(p("ts_us").cast("string"), lit(":"),
            p("event_id").cast("string"))), ",").as("kept_head"))
    val want = e.groupBy(col("user_id"), col("day_n"))
      .agg(count(lit(1)).as("n_seen"))
      .join(heads, Seq("user_id", "day_n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3), r.getString(4)))).toMap
    assert(snap == want, "reversed-arrival snapshot diverges from batch")
    assert(want.values.exists(_._1 > Streams.RateCapK),
      "no key over the cap — the throttle graded nothing")
    // displacement genuinely happened: some spanning key emitted two
    // different kept heads across the runs
    val multi = spark.read.parquet(feed)
      .groupBy(col("user_id"), col("day_n"))
      .agg(countDistinct(col("kept_head")).as("n"))
      .filter(col("n") >= 2).count()
    assert(multi > 0, "no key's head was displaced — the reversal was vacuous")
  }

  test("streaming upsert under the RocksDB state store equals the batch compaction") {
    // the 100 TB state story says "state is bounded per key and the
    // backend is pluggable" — this pins the half the other tests don't
    // run: the SAME stateful operator over the SAME corpus on the
    // disk-backed RocksDB provider (what a real large-state deployment
    // uses instead of the default in-memory HDFS-backed store), with the
    // provider's engagement proven from the query's own state metrics,
    // not assumed from the conf
    import org.apache.spark.sql.functions._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = Files.createTempDirectory("graft_rocks_in").toString
      Tables.events(spark, sf)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      val checkpoint = Files.createTempDirectory("graft_rocks_ck").toString
      val q = Streams.upsertStream(spark, Streams.readEvents(spark, dir))
        .writeStream.format("memory").queryName("ups_rocks")
        .option("checkpointLocation", checkpoint)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rocksMetrics = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet.toArray(Array.empty[String]))
        .filter(_.startsWith("rocksdb"))
      assert(rocksMetrics.nonEmpty, "RocksDB provider did not engage")
      val streamed = spark.sql(
        """SELECT user_id, event_type, value, unix_micros(ts) AS ts_us,
          |  event_id, n_versions
          |FROM (
          |  SELECT user_id, event_type, value, ts, event_id, n_versions,
          |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
          |      ORDER BY n_versions DESC) AS rn
          |  FROM ups_rocks) t WHERE rn = 1""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val batch = graft.ops.Lifecycle.upsertLatest(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getLong(3) / 1000, r.getLong(4), r.getLong(5))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("cdc_snapshot key equals the batch compaction and is rerun-safe") {
    // the driver-checked key: streaming replay + feed reconstruction must
    // land on exactly upsert_latest's rows, and a SECOND invocation in the
    // same session (a bench retry) must replay from a fresh feed +
    // checkpoint instead of appending to the first run's
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val batch = rows(graft.ops.Lifecycle.upsertLatest(spark, sf))
    val first = rows(Streams.cdcSnapshotQuery(spark, sf))
    assert(first.nonEmpty)
    assert(first == batch)
    assert(rows(Streams.cdcSnapshotQuery(spark, sf)) == batch)
  }

  test("cdc_snapshot_rocksdb key: RocksDB-backed replay lands the identical snapshot") {
    // the large-state backend as a CHECKED key: same rows as the batch
    // compaction (the key's own require() already proved provider
    // engagement from state metrics, or this would have thrown), and the
    // session's provider conf must be restored afterwards
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(provKey)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val got = rows(Streams.cdcSnapshotRocksdbQuery(spark, sf))
    assert(got.nonEmpty)
    assert(got == rows(graft.ops.Lifecycle.upsertLatest(spark, sf)))
    assert(spark.conf.getOption(provKey) == before,
      "provider conf leaked out of the rocksdb replay")
  }

  test("cdc_snapshot_ttl key: evicting paced replay still lands the batch rows") {
    // the TTL-evicting replay over the SORTED multi-file landing: the
    // version-order snapshot (no n_versions — restart-dependent by
    // contract) must equal the batch compaction's, and the emission
    // counts must show the replay really ran as multiple watermark-
    // advancing micro-batches (a single-batch collapse would emit
    // exactly once per key)
    val got = Streams.cdcSnapshotTtlQuery(spark, sf).collect()
    val batch = graft.ops.Lifecycle.upsertLatest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      r.getLong(3), r.getLong(4))).toSeq == batch)
    val emissions = got.map(_.getLong(5))
    assert(emissions.max > 1,
      "no key emitted more than once — paced multi-batch replay collapsed")
    assert(emissions.forall(e => e >= 1 && e <= 4))
  }

  test("sessionize_stream key equals the batch session set, values at 1e-6") {
    // the graded projection (integer session identity/shape) must equal
    // the batch twin exactly; the value sums — deliberately not graded —
    // agree within float-fold tolerance (the key's scaladoc contract)
    val streamed = Streams.sessionizeStreamQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val batch = Streams.sessionizeBatchQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "streaming session set drifted from the batch twin")
  }

  test("stream_window_agg key equals the batch hourly rollup exactly") {
    import org.apache.spark.sql.functions._
    // the flush replay's emission set must be the COMPLETE batch rollup
    // bit-for-bit (integer milli sums — no float-order tolerance), the
    // sentinel's open window filtered; the key's own requires certify
    // the paced two-batch + eviction regime ran
    def six(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val streamed = six(Streams.streamWindowAggQuery(spark, sf))
    val batch = six(graft.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000)).as("value_milli"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("value_milli"),
        col("min_event_id"), col("max_event_id"))
      .orderBy(col("window_start_ms"), col("event_type")))
    assert(streamed.nonEmpty)
    assert(!streamed.exists(_._2 == "sentinel"), "sentinel window leaked")
    assert(streamed == batch,
      "flushed window set drifted from the batch hourly rollup")
  }

  test("stream_topk leaderboard equals the batch per-user rank cut") {
    import org.apache.spark.sql.functions._
    // the closed-window feed ranked batch-side must equal ranking the
    // batch hourly per-user counts directly: full pages of StreamTopK
    // per window, rank contiguous, ties to the smaller user_id
    def five(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    val streamed = five(Streams.streamTopkQuery(spark, sf))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start_ms"))
      .orderBy(col("n_events").desc, col("user_id"))
    val batch = five(graft.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("user_id"), col("n_events"), col("min_event_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= Streams.StreamTopK)
      .orderBy(col("window_start_ms"), col("rnk")))
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "leaderboard drifted from the batch rank cut")
    // rank law per window: 1..k contiguous, counts non-increasing
    streamed.groupBy(_._1).foreach { case (ws, rows) =>
      assert(rows.map(_._5).toSeq == (1 to rows.length),
        s"window $ws ranks not contiguous")
      assert(rows.sortBy(_._5).map(_._3).sliding(2).forall(p =>
        p.length < 2 || p(0) >= p(1)), s"window $ws counts increase")
    }
  }

  test("stream_range_join paced replay bounds join state below the corpus") {
    // the state-horizon certificate, quantitatively: replay the interval
    // join as event-time-ordered micro-batches and read the state arc off
    // the query progress — rows must be REMOVED mid-replay (the derived
    // horizon fired) and the peak must sit strictly below the total rows
    // buffered (state ∝ 24h window volume, not stream lifetime). The
    // emission set must still equal the single-landing replay's.
    var progress = Array.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val paced = rows(Streams.streamRangeJoinPaced(spark, sf, progress = _))
    val ops = progress.flatMap(_.stateOperators)
    val added = ops.map(_.numRowsUpdated).sum
    val removed = ops.map(_.numRowsRemoved).sum
    val peak = ops.map(_.numRowsTotal).max
    assert(progress.count(_.numInputRows > 0) >= 2,
      "pacing collapsed to one micro-batch")
    assert(removed > 0, "watermark horizon never evicted join state")
    assert(peak < added,
      s"peak state $peak rows not below total buffered $added")
    assert(paced == rows(Streams.streamRangeJoinQuery(spark, sf)),
      "paced emission set drifted from the single-landing replay")
  }

  test("cdc replay survives an aged landing cache (r6 sweep-prefix regression)") {
    // Round 6 shipped replay work dirs sharing the landing cache's
    // `graft_cdc_` prefix, so any replay ≥1h after the landing was
    // published swept the landing between its `_SUCCESS` check and the
    // stream read → "Unable to infer schema for Parquet". Reproduce the
    // aged state by backdating the landing past the 1h replay TTL, then
    // invoke the key: the landing must survive and the rows still match.
    import java.io.File
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val batch = rows(graft.ops.Lifecycle.upsertLatest(spark, sf))
    rows(Streams.cdcSnapshotQuery(spark, sf)) // ensure the landing exists
    val landing = new File(LocalFs.cachePath(LocalFs.Names.CdcLandingCache,
      sf, new File(s"$sf/events.parquet")))
    assert(new File(landing, "_SUCCESS").exists())
    landing.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000)
    assert(rows(Streams.cdcSnapshotQuery(spark, sf)) == batch)
    assert(new File(landing, "_SUCCESS").exists(),
      "aged landing cache was swept by the replay GC")
    // defense in depth is live too: reuse refreshed the landing's mtime
    // (LocalFs.landOnce touches on every use), so even a hypothetical
    // overlapping sweeper would see a young directory
    assert(landing.lastModified() > System.currentTimeMillis() - 600L * 1000,
      "landing mtime was not refreshed on reuse")
  }

  test("asof_stream key equals the batch as-of join") {
    // the driver-checked replay key must surface exactly join_asof's rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val streamed = rows(Streams.asofStreamQuery(spark, sf)
      .select("event_id", "user_id", "ts_ns", "click_ts_ns"))
    val batch = rows(graft.ops.Temporal.joinAsof(spark, sf)
      .select("event_id", "user_id", "ts_ns", "click_ts_ns"))
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming upsert counts but never applies a late older version") {
    val dir = Files.createTempDirectory("graft_upslate_in").toString
    // batch 1 delivers version 2; batch 2 delivers the OLDER version 1
    // late — the value must not regress, but n_versions must reach 2
    writeBatch(dir, Seq((2L, ts(10), 1L, "click", 20.0)))
    writeBatch(dir, Seq((1L, ts(5), 1L, "click", 10.0)))
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_upslate_ck").toString
    val q = Streams.upsertStream(spark, stream)
      .writeStream.format("memory").queryName("upslate")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql(
      "SELECT value, event_id, n_versions FROM upslate ORDER BY n_versions")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    // two emissions: the initial state, then the count-only bump
    assert(rows == Seq((20.0, 2L, 1L), (20.0, 2L, 2L)))
  }

  test("N-stage streaming funnel equals the batch N-stage funnel") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4-stage vocabulary over the harness corpus (signup never occurs, so
    // the chain is exercised from a missing stage 0 too) and a synthetic
    // log where every stage appears; both replayed and max-reconstructed
    val stages = Seq("view", "click", "purchase", "refund")
    val dir = Files.createTempDirectory("graft_funn_in").toString
    writeBatch(dir, Seq(
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(1), 1L, "click", 0.0),
      (3L, ts(2), 1L, "purchase", 0.0), (4L, ts(3), 1L, "refund", 0.0),
      (5L, ts(0), 2L, "click", 0.0), (6L, ts(1), 2L, "view", 0.0),
      (7L, ts(2), 2L, "purchase", 0.0),
      (8L, ts(5), 3L, "view", 0.0), (9L, ts(5), 3L, "click", 0.0)))
    val checkpoint = Files.createTempDirectory("graft_funn_ck").toString
    val q = Streams.funnelProgressStages(spark,
      Streams.readEvents(spark, dir), stages)
      .writeStream.format("memory").queryName("funn")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(
      "SELECT user_id, max(funnel_stage) FROM funn GROUP BY user_id")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val batch = graft.ops.Temporal.eventFunnel(
      spark.read.parquet(dir).select(col("event_id"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).*(1000L).as("ts_ns")),
      stages)
      .select(col("user_id"), col("funnel_stage"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    // u1 completes all 4; u2's click precedes its view (stalls at 1 with
    // the purchase unqualified); u3's same-ts tie orders view before click
    assert(streamed == Map(1L -> 4, 2L -> 1, 3L -> 2))
    assert(streamed == batch)
  }

  test("upsert TTL evicts a silent key and restarts its state fresh") {
    // the bounded-state contract for unbounded key spaces: u1's state
    // (armed at t+30min by ttl=30) is evicted once the watermark passes it
    // (u2's t+50 event moves the watermark to t+40 under the 10min delay),
    // so u1's next version restarts n_versions at 1 — the exact-forever
    // form would count 2. Batches are one file each, in write order.
    val dir = Files.createTempDirectory("graft_upsttl_in").toString
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    writeBatch(dir, Seq((1L, t(0), 1L, "x", 10.0)))
    Thread.sleep(60)
    writeBatch(dir, Seq((2L, t(50), 2L, "x", 5.0)))
    Thread.sleep(60)
    writeBatch(dir, Seq((3L, t(52), 2L, "x", 6.0))) // u1 silent → evicted
    Thread.sleep(60)
    writeBatch(dir, Seq((4L, t(55), 1L, "x", 99.0)))
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_upsttl_ck").toString
    val q = Streams.upsertStream(spark, stream, stateTtlMinutes = Some(30))
      .writeStream.format("memory").queryName("upsttl")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val u1 = spark.sql(
      "SELECT value, n_versions FROM upsttl WHERE user_id = 1 ORDER BY value")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(u1 == Seq((10.0, 1L), (99.0, 1L)),
      s"expected eviction to restart n_versions, got $u1")
    // the still-active key was NOT evicted: its second version counts 2
    val u2 = spark.sql(
      "SELECT value, n_versions FROM upsttl WHERE user_id = 2 ORDER BY n_versions")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(u2 == Seq((5.0, 1L), (6.0, 2L)))
  }

  test("as-of TTL evicts a silent user's click; active users keep attribution") {
    val dir = Files.createTempDirectory("graft_asofttl_in").toString
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    writeBatch(dir, Seq((1L, t(0), 1L, "click", 0.0)))
    Thread.sleep(60)
    writeBatch(dir, Seq((2L, t(50), 2L, "click", 0.0)))
    Thread.sleep(60)
    writeBatch(dir, Seq((3L, t(52), 2L, "click", 0.0))) // u1 silent → evicted
    Thread.sleep(60)
    writeBatch(dir, Seq((4L, t(55), 1L, "purchase", 1.0),
      (5L, t(56), 2L, "purchase", 1.0)))
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_asofttl_ck").toString
    val q = Streams.asofAttribution(spark, stream, stateTtlMinutes = Some(30))
      .writeStream.format("memory").queryName("asofttl")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.sql(
      "SELECT event_id, click_ts FROM asofttl ORDER BY event_id")
      .collect().map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSeq
    // u1's purchase lost its attribution to eviction; u2's kept the
    // latest click (still live — activity kept re-arming its timeout)
    assert(rows == Seq((4L, None), (5L, Some(t(52)))), rows.toString)
  }

  test("funnel TTL evicts a silent user, who restarts at stage 0") {
    val dir = Files.createTempDirectory("graft_funttl_in").toString
    def t(min: Int) = new Timestamp(
      Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    writeBatch(dir, Seq((1L, t(0), 1L, "view", 0.0),
      (2L, t(1), 1L, "click", 0.0)))        // u1 reaches stage 2
    Thread.sleep(60)
    writeBatch(dir, Seq((3L, t(50), 2L, "view", 0.0)))
    Thread.sleep(60)
    writeBatch(dir, Seq((4L, t(52), 2L, "view", 0.0))) // u1 silent → evicted
    Thread.sleep(60)
    writeBatch(dir, Seq((5L, t(55), 1L, "view", 0.0))) // new episode
    val stream = spark.readStream.schema(Streams.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_funttl_ck").toString
    val q = Streams.funnelProgress(spark, stream, stateTtlMinutes = Some(30))
      .writeStream.format("memory").queryName("funttl")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val u1 = spark.sql(
      "SELECT has_view, has_click, has_purchase, funnel_stage FROM funttl " +
      "WHERE user_id = 1 ORDER BY funnel_stage DESC")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSeq
    // episode 1 reached stage 2; the post-eviction episode re-emits stage 1
    // from scratch — the exact-forever form would emit nothing for a view
    // a user had already passed
    assert(u1 == Seq((1, 1, 0, 2), (1, 0, 0, 1)), u1.toString)
  }

  test("TTL replay of the corpus in one batch equals the exact-forever form") {
    // a single-batch replay never advances the watermark mid-stream, so
    // arming timeouts must be a no-op on the result — integration check
    // that the TTL plumbing (watermark injection, re-arming, clamping)
    // doesn't perturb emissions
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_ttlrep_in").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_ttlrep_ck").toString
    val q = Streams.upsertStream(spark,
      Streams.readEvents(spark, dir), stateTtlMinutes = Some(60))
      .writeStream.format("memory").queryName("ttlrep")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(
      """SELECT user_id, event_type, value, unix_micros(ts) AS ts_us,
        |  event_id, n_versions FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |    ORDER BY n_versions DESC) AS rn FROM ttlrep) WHERE rn = 1
        |""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val batch = graft.ops.Lifecycle.upsertLatest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3) / 1000, r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch)
  }

  test("stream-stream interval join equals the batch range pairs over the corpus") {
    import org.apache.spark.sql.functions._
    // the watermarked two-sided join must reproduce the plain batch
    // inequality join exactly when the corpus is replayed: inner join +
    // time bound means no emission depends on watermark timing, only on
    // both sides having arrived
    val dir = Files.createTempDirectory("graft_ssj_in").toString
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    val checkpoint = Files.createTempDirectory("graft_ssj_ck").toString
    val q = Streams.rangeJoinPairs(Streams.readEvents(spark, dir))
      .writeStream.format("memory").queryName("ssj")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(
      "SELECT p_id, c_id FROM ssj")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin: the unbinned inequality join over the same corpus
    val e = Tables.events(spark, sf)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val batch = p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 24 HOURS"))
      .select(col("p_id"), col("c_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream join evicts out-of-horizon state, loses no in-horizon pairs") {
    // the production contract behind `stream_range_join`: across paced
    // event-time-ordered micro-batches the two-sided watermark derives a
    // state horizon per side (clicks older than wm − 24 h, purchases older
    // than the click watermark) and EVICTS — yet no pair inside the 24 h
    // window is lost, because an evicted row can no longer match anything
    // the ordered replay will deliver. Three day-apart slices, one file
    // per micro-batch: eviction must fire by slice 3 (wm is then ≥ 29 h
    // past slice 1), and the pair set must equal the per-slice truth.
    def t(s: String) = Timestamp.valueOf(s)
    val dir = Files.createTempDirectory("graft_ssjevict_in").toString
    writeBatch(dir, Seq(
      (1L, t("2024-01-01 10:00:00"), 1L, "click", 1.0),
      (2L, t("2024-01-01 11:00:00"), 1L, "purchase", 5.0)))
    Thread.sleep(1100) // distinct mtimes pin the file source's pacing order
    writeBatch(dir, Seq(
      (3L, t("2024-01-02 16:00:00"), 1L, "click", 1.0),
      (4L, t("2024-01-02 17:00:00"), 1L, "purchase", 5.0)))
    Thread.sleep(1100)
    writeBatch(dir, Seq(
      (5L, t("2024-01-03 22:00:00"), 1L, "click", 1.0),
      (6L, t("2024-01-03 22:30:00"), 1L, "purchase", 5.0)))
    val checkpoint = Files.createTempDirectory("graft_ssjevict_ck").toString
    val q = Streams.rangeJoinPairs(Streams.readEventsPaced(spark, dir))
      .writeStream.format("memory").queryName("ssje")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val pairs = spark.sql("SELECT p_id, c_id FROM ssje").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 1L), (4L, 3L), (6L, 5L)))
    assert(q.recentProgress.flatMap(_.stateOperators).length > 1,
      "replay did not pace into multiple stateful micro-batches")
    val removed = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    assert(removed > 0, "state horizon never evicted any join state")
  }

  test("streaming as-of and N-stage funnel equal batch twins on random tie-heavy logs") {
    import org.apache.spark.sql.functions._
    // Property pin (the PropertiesSpec discipline, run here for the
    // streaming machinery): under single-batch replay of ANY log —
    // arbitrary arrival order, exact timestamp ties, premature stage
    // events, attribution-less probes — the in-batch event-time sort must
    // reproduce the batch operators exactly. The corpus pins above prove
    // one (benign) log; these five seeded tie-heavy logs (4 users × 6
    // distinct timestamps × 40 events force same-instant collisions the
    // corpus never produces) adversarially exercise both tie rules: the
    // as-of's click-before-purchase and the funnel's earlier-stage-first.
    // A user absent from the funnel change log never advanced — the
    // documented reconstruction is stage 0.
    val stages = Seq("view", "click", "purchase")
    (0 until 5).foreach { trial =>
      val rnd = new scala.util.Random(4242L + trial)
      val rows = (0 until 40).map { j =>
        (trial * 1000L + j, ts(rnd.nextInt(6)), 1L + rnd.nextInt(4),
          stages(rnd.nextInt(3)), rnd.nextDouble())
      }
      val dir = Files.createTempDirectory(s"graft_propstr_in$trial").toString
      writeBatch(dir, rows)
      val batchEvents = spark.read.parquet(dir).select(
        col("event_id"), col("user_id"), col("event_type"),
        (unix_micros(col("ts")) * 1000L).as("ts_ns"))

      val qa = Streams.asofAttribution(spark, Streams.readEvents(spark, dir))
        .writeStream.format("memory").queryName(s"pasof$trial")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      qa.awaitTermination()
      val sAsof = spark.sql(
        s"SELECT event_id, unix_micros(click_ts) FROM pasof$trial")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val bAsof = graft.ops.Temporal
        .joinAsof(batchEvents, probeType = "purchase", refType = "click")
        .select(col("event_id"), col("ref_ts_ns"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1) / 1000))).toMap
      assert(sAsof == bAsof, s"as-of mismatch on trial $trial")

      // generic probe/ref roles (click attributed to latest view) against
      // the batch generic — same log, different tie pairing
      val qg = Streams.asofAttribution(spark, Streams.readEvents(spark, dir),
        probeType = "click", refType = "view")
        .writeStream.format("memory").queryName(s"pasofg$trial")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      qg.awaitTermination()
      val sGen = spark.sql(
        s"SELECT event_id, unix_micros(ref_ts) FROM pasofg$trial")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val bGen = graft.ops.Temporal
        .joinAsof(batchEvents, probeType = "click", refType = "view")
        .select(col("event_id"), col("ref_ts_ns"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1) / 1000))).toMap
      assert(sGen == bGen, s"generic as-of mismatch on trial $trial")

      val qf = Streams.funnelProgressStages(spark,
        Streams.readEvents(spark, dir), stages)
        .writeStream.format("memory").queryName(s"pfunn$trial")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      qf.awaitTermination()
      val sFunn = spark.sql(
        s"SELECT user_id, max(funnel_stage) FROM pfunn$trial GROUP BY user_id")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val bFunn = graft.ops.Temporal.eventFunnel(batchEvents, stages)
        .select(col("user_id"), col("funnel_stage"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      bFunn.foreach { case (u, st) =>
        assert(sFunn.getOrElse(u, 0) == st,
          s"funnel mismatch for user $u on trial $trial") }
      assert(sFunn.keySet.subsetOf(bFunn.keySet),
        s"stream emitted a user the batch never saw on trial $trial")
    }
  }

  test("streaming upsert and sessionization equal batch twins on random tie-heavy logs") {
    import org.apache.spark.sql.functions._
    // Same discipline as the as-of/funnel pin above, for the other two
    // tie rules: the upsert's total version order (ts, event_id) under
    // heavy same-instant key collisions (3 users × 2 types × 4 distinct
    // timestamps × 40 events), and the sessionization's INCLUSIVE gap
    // boundary (minute-resolution events with gap = 2 min make
    // exactly-gap-apart neighbors common — the classic off-by-one).
    // Integral values keep every double sum exact, so full rows compare,
    // not just keys.
    (0 until 5).foreach { trial =>
      val rnd = new scala.util.Random(9090L + trial)
      val types = Seq("x", "y")
      val upsRows = (0 until 40).map { j =>
        (trial * 1000L + j, ts(rnd.nextInt(4)), 1L + rnd.nextInt(3),
          types(rnd.nextInt(2)), rnd.nextInt(10).toDouble)
      }
      val udir = Files.createTempDirectory(s"graft_propups_in$trial").toString
      writeBatch(udir, upsRows)
      val qu = Streams.upsertStream(spark, Streams.readEvents(spark, udir))
        .writeStream.format("memory").queryName(s"pups$trial")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      qu.awaitTermination()
      // single-batch replay → exactly one emission per key = the snapshot
      val sUps = spark.sql(
        s"""SELECT user_id, event_type, value, unix_micros(ts) AS ts_us,
           |  event_id, n_versions FROM pups$trial""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val bUps = graft.ops.Lifecycle.upsertLatest(
        spark.read.parquet(udir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"),
          (unix_micros(col("ts")) * 1000L).as("ts_ns")),
        keys = Seq("user_id", "event_type"),
        versionCols = Seq("ts_ns", "event_id"), payload = Seq("value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getLong(3) / 1000, r.getLong(4), r.getLong(5))).toSet
      assert(sUps == bUps, s"upsert mismatch on trial $trial")

      val sessRows = (0 until 25).map { j =>
        (trial * 1000L + 500 + j, ts(rnd.nextInt(11)), 1L + rnd.nextInt(4),
          "view", rnd.nextInt(10).toDouble)
      }
      val sdir = Files.createTempDirectory(s"graft_propsess_in$trial").toString
      writeBatch(sdir, sessRows)
      // sentinel far past every event: advances the watermark beyond
      // last + gap for all real users, closing every session
      writeBatch(sdir, Seq((-1L,
        new Timestamp(ts(0).getTime + 365L * 24 * 3600 * 1000), -1L,
        "sentinel", 0.0)))
      val qs = Streams.sessionize(spark, Streams.readEvents(spark, sdir),
        gapMinutes = 2)
        .writeStream.format("memory").queryName(s"psess$trial")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      qs.awaitTermination()
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getTimestamp(2)) ->
          (r.getLong(1), r.getTimestamp(3), r.getDouble(4))).toMap
      val sSess = keyed(spark.sql(
        s"""SELECT user_id, n_events, start, end, total_value
           |FROM psess$trial WHERE user_id >= 0""".stripMargin))
      val bSess = keyed(Streams.sessionizeBatch(
        spark.read.parquet(sdir).filter(col("user_id") >= 0), gapMinutes = 2))
      assert(sSess == bSess, s"sessionization mismatch on trial $trial")
    }
  }
}
