package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table shape.
  *
  * The reference is batch-only (its source refreshes weekly — SURVEY §1),
  * so nothing here is required for parity; this is the engine's scale path
  * for the same computations arriving as a stream: file-source ingestion,
  * watermarked event-time windows, and custom session state via
  * `flatMapGroupsWithState`. All state is bounded: watermarks bound the
  * window state store, the session-gap timeout bounds per-user state, and
  * both run incrementally per micro-batch on any number of executors.
  */
object Streams {

  /** events schema as produced for the harness corpus (µs timestamp). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

  case class SessionState(nEvents: Long, start: Timestamp, last: Timestamp,
    total: Double)

  case class SessionOut(user_id: Long, n_events: Long, start: Timestamp,
    end: Timestamp, total_value: Double)

  case class ClickState(ts: Timestamp)

  case class AsofOut(event_id: Long, user_id: Long, ts: Timestamp,
    click_ts: Option[Timestamp])

  /** Generic-role twin of [[AsofOut]]: `ref_ts` instead of the demo's
    * `click_ts` — the output row of the probe/ref API form below.
    */
  case class AsofRefOut(event_id: Long, user_id: Long, ts: Timestamp,
    ref_ts: Option[Timestamp])

  case class FunnelState(sawView: Boolean, sawQClick: Boolean,
    sawPurchase: Boolean)

  case class FunnelOut(user_id: Long, has_view: Int, has_click: Int,
    has_purchase: Int, funnel_stage: Int)

  case class FunnelStageOut(user_id: Long, funnel_stage: Int)

  case class UpsertState(ts: Timestamp, eventId: Long, value: Double,
    nVersions: Long)

  case class UpsertOut(user_id: Long, event_type: String, value: Double,
    ts: Timestamp, event_id: Long, n_versions: Long)

  /** File-source stream of events-shaped parquet dropped into `dir` —
    * the streaming analog of `Tables.table` (new files are discovered per
    * micro-batch; at scale this is a cloud-storage landing zone).
    * NOTE: landing files must carry a true µs TIMESTAMP `ts` column (write
    * via `Tables.events`, like StreamDemoMain does). The RAW harness
    * `events.parquet` stores TIMESTAMP(NANOS), which the mandatory
    * `nanosAsLong` flag surfaces as a long — normalize before landing.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** [[readEvents]] paced to ONE file per micro-batch (oldest mtime
    * first — the file source's discovery order). Against a landing whose
    * files are event-time ranges with ascending mtimes
    * ([[landedEventsSorted]]), a replay becomes a sequence of real
    * micro-batches with an ADVANCING watermark between them — the shape
    * that lets event-time TTL timeouts actually fire during a replay,
    * where the single-landing replay is one batch whose watermark only
    * moves after all data is already processed.
    */
  def readEventsPaced(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Watermarked tumbling-window counts per event type — the streaming form
    * of `groupby_agg`. The 10-minute watermark lets the state store evict
    * windows older than max(event time) − 10 min, so state is O(open
    * windows × types) regardless of stream length.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** EXACT-INTEGER form of [[windowedCounts]] for the graded key: the
    * value aggregate is a per-row milli-floor (`floor(value*1000)` —
    * IEEE multiply and floor are bit-identical in any engine) summed as
    * BIGINT, so the window rows hash-match a batch twin regardless of
    * summation order; min/max event id bound the window's membership
    * (a dropped or duplicated row moves one of the four columns). Same
    * watermark/state contract as [[windowedCounts]].
    */
  def windowedAggExact(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000)).as("value_milli"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("value_milli"),
        col("min_event_id"), col("max_event_id"))

  /** Streaming re-delivery dedup: at-least-once sources re-deliver the
    * same RECORD, so the dedup key is the record identity (`event_id`) —
    * two distinct events that happen to carry identical payloads are both
    * kept. `dropDuplicatesWithinWatermark` evicts seen-key state older
    * than the watermark, so state is bounded by the horizon's key
    * cardinality, not the stream's lifetime (the property that makes this
    * runnable forever at 100 TB/day).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup — the streaming form of `dedup_exact` for a
    * training-data ingest pipeline: only the first document with a given
    * content survives the watermark horizon, regardless of id. Keyed by
    * sha2-256 over a null-SAFE serialization: concat_ws silently skips
    * NULLs (a null value and a shifted field would collide), so the key
    * serializes via to_json with ignoreNullFields=false — every column
    * slot is always present.
    */
  def dedupContent(events: DataFrame, contentCols: Seq[String],
      delay: String = "10 minutes"): DataFrame =
    events
      .withColumn("h", sha2(to_json(
        struct(contentCols.map(col): _*),
        Map("ignoreNullFields" -> "false").asJava), 256))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("h")
      // internal dedup key: the state key is captured by the operator above,
      // so dropping it keeps the output schema identical to the input's
      .drop("h")

  /** Event-time sessionization with a gap timeout: emits one row per closed
    * session (no activity for `gapMinutes` past the watermark). Custom state
    * via `flatMapGroupsWithState` — per-user state is one small case class,
    * evicted on timeout, the bounded-state pattern for user-level rollups
    * over unbounded streams.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(userId, s.nEvents, s.start, s.last, s.total))
      } else {
        // General interval merge: the open state plus every batch event is
        // an interval; sort by start and fold, merging any unit within
        // `gap` of the growing session. This also merges LATE events with
        // EACH OTHER (not just with the open session) — two late events
        // within gap of each other but behind the open session form one
        // session, not two singletons. The chronologically last session
        // stays open; everything before it is closed (nothing older can
        // arrive and extend an interval that already has a successor).
        val units = (rows.map(e => SessionState(1, e.ts, e.ts, e.value))
          ++ state.getOption).toSeq.sortBy(_.start.getTime)
        val merged = units.foldLeft(List.empty[SessionState]) { (acc, u) =>
          acc match {
            case h :: t if u.start.getTime <= h.last.getTime + gapMs =>
              SessionState(h.nEvents + u.nEvents, h.start,
                if (u.last.getTime > h.last.getTime) u.last else h.last,
                h.total + u.total) :: t
            case _ => u :: acc
          }
        } // head = chronologically last session
        merged match {
          case Nil => Iterator.empty
          case open :: closed =>
            state.update(open)
            state.setTimeoutTimestamp(open.last.getTime + gapMs)
            closed.reverseIterator.map(s =>
              SessionOut(userId, s.nEvents, s.start, s.last, s.total))
        }
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** STREAMING as-of attribution — the stream form of `join_asof`
    * (`ops/Temporal.scala`): each purchase is attributed to the same
    * user's latest click at-or-before it, as the events arrive.
    *
    * Per-user state is ONE timestamp (the latest click seen), updated and
    * read in event-time order within each micro-batch — the smallest
    * possible state for as-of semantics, bounded by user cardinality and
    * evictable via a state timeout if the key space is unbounded. Ties
    * (click and purchase on the same timestamp) attribute the purchase to
    * that click, matching the batch operator's inclusive bound.
    *
    * Ordering contract: within a micro-batch, arrival order is repaired by
    * the event-time sort; ACROSS micro-batches a click that arrives after
    * a purchase with a later event time has already been emitted cannot
    * retro-attribute it (append-mode streaming — the batch twin is the
    * backfill for late data beyond the watermark). The suite pins
    * stream(corpus) == batch(corpus) by replaying the corpus through the
    * file source.
    */
  def asofAttribution(spark: SparkSession, events: DataFrame): Dataset[AsofOut] =
    asofAttribution(spark, events, stateTtlMinutes = None)

  /** TTL overload of [[asofAttribution]] — the bounded-state form for an
    * UNBOUNDED key space (the eviction the base form's scaladoc promises):
    * with `stateTtlMinutes = Some(m)`, a user silent for `m` minutes past
    * the event-time watermark has their click state evicted
    * (EventTimeTimeout), so state is bounded by the ACTIVE-user
    * cardinality inside the TTL horizon, not the all-time user count — the
    * property that keeps a years-long stream at 100 TB/day from
    * accumulating state forever. The semantic trade is explicit: a
    * purchase arriving after its user's eviction attributes to no click
    * (NULL), exactly as if the click were beyond a batch twin's lookback
    * window; a TTL comfortably above the business attribution window loses
    * nothing. `None` = the exact-forever form (NoTimeout, no watermark
    * required). StreamingSpec drives a real multi-batch eviction and pins
    * the trade.
    */
  def asofAttribution(spark: SparkSession, events: DataFrame,
      stateTtlMinutes: Option[Int]): Dataset[AsofOut] = {
    import spark.implicits._
    asofAttribution(spark, events, probeType = "purchase",
      refType = "click", stateTtlMinutes)
      .withColumnRenamed("ref_ts", "click_ts")
      .as[AsofOut]
  }

  /** API form of [[asofAttribution]] — the streaming twin of the batch
    * `Temporal.joinAsof(events, probeType, refType)` generic: each
    * `probeType` event is attributed to the same user's latest `refType`
    * event at-or-before it (ties order the ref first, matching the batch
    * inclusive bound), over any events-shaped stream. Same one-timestamp
    * state, same optional TTL eviction, same append-mode late-data
    * contract as the demo form — which is this with probe = purchase,
    * ref = click and the column renamed to its historical `click_ts`.
    * StreamingSpec pins the generic roles against the batch generic on
    * random logs.
    */
  def asofAttribution(spark: SparkSession, events: DataFrame,
      probeType: String, refType: String,
      stateTtlMinutes: Option[Int] = None): Dataset[AsofRefOut] = {
    import spark.implicits._
    require(probeType != refType,
      s"probe and ref event types must differ, got '$probeType' for both")
    val ttlMs = stateTtlMinutes.map(_ * 60L * 1000L)

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[ClickState]): Iterator[AsofRefOut] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        var last: Option[Timestamp] = state.getOption.map(_.ts)
        val ordered = rows.toSeq.sortBy(e =>
          (e.ts.getTime, e.ts.getNanos, if (e.event_type == probeType) 1 else 0))
        val out = Seq.newBuilder[AsofRefOut]
        ordered.foreach { e =>
          e.event_type match {
            case t if t == refType => last = Some(e.ts)
            case t if t == probeType =>
              out += AsofRefOut(e.event_id, userId, e.ts, last)
            case _ => ()
          }
        }
        last.foreach { t =>
          state.update(ClickState(t))
          // arm eviction at last-activity + TTL; clamped above the current
          // watermark (a late event's ts + TTL may already be behind it,
          // and an EventTimeTimeout must be set strictly later)
          ttlMs.foreach(ttl => state.setTimeoutTimestamp(
            math.max(t.getTime + ttl, state.getCurrentWatermarkMs() + 1)))
        }
        out.result().iterator
      }
    }

    // EventTimeTimeout requires an event-time watermark on the input; the
    // exact-forever form stays watermark-free (append passthrough)
    val src = if (ttlMs.isDefined)
      events.withWatermark("ts", "10 minutes") else events
    src
      .filter(col("event_type").isin(refType, probeType))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }

  /** STREAMING ordered funnel — the stream form of `event_funnel`
    * (`ops/Temporal.scala`): per-user progression through
    * view → click(after view) → purchase(after qualifying click), emitted
    * incrementally as events arrive.
    *
    * Per-user state is three monotone bits (the funnel can only advance),
    * so a row is emitted exactly when the batch advances a user's stage —
    * the output is a CHANGE LOG of funnel progress, and because every
    * column is monotone, `max` per user over the log reconstructs the
    * current snapshot at any point (the property the suite uses to pin
    * stream(corpus) == batch(corpus)). Within a micro-batch, arrival order
    * is repaired by the event-time sort with the batch operator's tie rule
    * (view < click < purchase on equal timestamps); across micro-batches
    * the bits' monotonicity guarantees the log never REGRESSES, but a
    * stage event that was rejected before its qualifying predecessor
    * arrived (click in batch N, its view late in batch N+1) is not
    * retro-qualified — the same append-mode late-data contract as
    * [[asofAttribution]], with the batch operator as the backfill; a
    * LATER event of the rejected stage does qualify against the updated
    * state. Three booleans per user, evicted via the TTL overload when
    * the key space is unbounded.
    */
  def funnelProgress(spark: SparkSession, events: DataFrame): Dataset[FunnelOut] =
    funnelProgress(spark, events, stateTtlMinutes = None)

  /** TTL overload of [[funnelProgress]] — bounded state for an UNBOUNDED
    * key space (same discipline as [[asofAttribution]]/[[upsertStream]]'s
    * TTL forms): a user silent for the TTL past the watermark is evicted
    * and, on returning, restarts the funnel from stage 0. The emitted
    * change log stays monotone PER EPISODE; a TTL above the engagement
    * horizon being modeled loses nothing. `None` = exact-forever.
    */
  def funnelProgress(spark: SparkSession, events: DataFrame,
      stateTtlMinutes: Option[Int]): Dataset[FunnelOut] = {
    import spark.implicits._
    val ttlMs = stateTtlMinutes.map(_ * 60L * 1000L)

    def stageOf(t: String): Int =
      t match { case "view" => 0; case "click" => 1; case _ => 2 }

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[FunnelState]): Iterator[FunnelOut] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val prev = state.getOption
        var s = prev.getOrElse(FunnelState(false, false, false))
        var maxTs = Long.MinValue
        rows.toSeq
          .sortBy(e => (e.ts.getTime, e.ts.getNanos, stageOf(e.event_type)))
          .foreach { e =>
            maxTs = math.max(maxTs, e.ts.getTime)
            e.event_type match {
              case "view" => s = s.copy(sawView = true)
              case "click" if s.sawView => s = s.copy(sawQClick = true)
              case "purchase" if s.sawQClick => s = s.copy(sawPurchase = true)
              case _ => ()
            }
          }
        val out = if (prev.contains(s)) Iterator.empty // no progress
        else {
          state.update(s)
          val (v, c, p) = (if (s.sawView) 1 else 0, if (s.sawQClick) 1 else 0,
            if (s.sawPurchase) 1 else 0)
          Iterator.single(FunnelOut(userId, v, c, p, v + c + p))
        }
        if (state.exists && maxTs != Long.MinValue)
          ttlMs.foreach(ttl => state.setTimeoutTimestamp(
            math.max(maxTs + ttl, state.getCurrentWatermarkMs() + 1)))
        out
      }
    }

    val src = if (ttlMs.isDefined)
      events.withWatermark("ts", "10 minutes") else events
    src
      .filter(col("event_type").isin("view", "click", "purchase"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }

  /** N-STAGE generic form of [[funnelProgress]] — the streaming twin of
    * `ops.Temporal.eventFunnel`'s ordered-vocabulary API: `stages` is the
    * ordered event-type list, and a user's state is the COUNT of
    * contiguously completed stages (the funnel can only advance stage i
    * from count == i, so the N monotone bits always form a prefix — one
    * Int of state per user at any N). Emits a change-log row whenever a
    * user's stage count advances; `max` per user over the log
    * reconstructs the snapshot and the count never regresses. Within a
    * batch, the event-time sort applies the batch tie rule (earlier
    * stages first); across micro-batches the same late-data contract as
    * the 3-stage form applies — a stage event rejected before its
    * predecessor arrived is not retro-qualified; the batch operator is
    * the backfill. Optional TTL as in the other stateful ops: a silent
    * user is evicted and restarts at stage 0. The suite pins stream ==
    * batch `eventFunnel` on a 4-stage vocabulary.
    */
  def funnelProgressStages(spark: SparkSession, events: DataFrame,
      stages: Seq[String],
      stateTtlMinutes: Option[Int] = None): Dataset[FunnelStageOut] = {
    import spark.implicits._
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      s"stages must be distinct and nonempty, got $stages")
    val idx = stages.zipWithIndex.toMap
    val ttlMs = stateTtlMinutes.map(_ * 60L * 1000L)

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[Int]): Iterator[FunnelStageOut] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val prev = state.getOption.getOrElse(0)
        var c = prev
        var maxTs = Long.MinValue
        rows.toSeq
          .sortBy(e => (e.ts.getTime, e.ts.getNanos, idx(e.event_type)))
          .foreach { e =>
            maxTs = math.max(maxTs, e.ts.getTime)
            if (idx(e.event_type) == c) c += 1
          }
        val out = if (c == prev) Iterator.empty
        else {
          state.update(c)
          Iterator.single(FunnelStageOut(userId, c))
        }
        if (state.exists && maxTs != Long.MinValue)
          ttlMs.foreach(ttl => state.setTimeoutTimestamp(
            math.max(maxTs + ttl, state.getCurrentWatermarkMs() + 1)))
        out
      }
    }

    val src = if (ttlMs.isDefined)
      events.withWatermark("ts", "10 minutes") else events
    src
      .filter(col("event_type").isin(stages.map(s => s: Any): _*))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }

  /** STREAMING LATEST-WINS UPSERT — the stream form of `upsert_latest`
    * (`ops/Lifecycle.scala`): the change log arrives as a stream and each
    * micro-batch emits the keys whose current state changed — a CDC
    * change-feed over the compacted state.
    *
    * Per-key state is one (version, value, count) record. "Latest" is
    * decided by the (ts, event_id) version order, NOT arrival order: a
    * late event with an older version still counts toward `n_versions`
    * but cannot regress the value — so like the funnel (and unlike
    * [[asofAttribution]]'s emissions) the state converges to the batch
    * answer under ANY arrival interleaving, and the suite pins the
    * reconstructed snapshot (max-version emission per key) equal to the
    * batch operator exactly. State is bounded by key cardinality,
    * evictable via a timeout when the key space is unbounded.
    */
  def upsertStream(spark: SparkSession, events: DataFrame): Dataset[UpsertOut] =
    upsertStream(spark, events, stateTtlMinutes = None)

  /** TTL overload of [[upsertStream]] — bounded state for an UNBOUNDED key
    * space (the eviction the base form's scaladoc promises): a key silent
    * for `stateTtlMinutes` past the event-time watermark is evicted. The
    * downstream snapshot keeps that key's last emitted compaction (the
    * change feed is append-only; eviction emits nothing), and a LATER
    * version of an evicted key restarts its state fresh — `n_versions`
    * counts from 1 again and an out-of-order older version arriving after
    * the eviction can no longer be rejected by the dropped state. Both are
    * the explicit bounded-state trade: a TTL above the source's
    * out-of-orderness horizon loses nothing (the same contract
    * `dropDuplicatesWithinWatermark` has). `None` = exact-forever.
    * StreamingSpec drives a real eviction and pins the restart semantics.
    */
  def upsertStream(spark: SparkSession, events: DataFrame,
      stateTtlMinutes: Option[Int]): Dataset[UpsertOut] = {
    import spark.implicits._
    val ttlMs = stateTtlMinutes.map(_ * 60L * 1000L)

    def version(ts: Timestamp, id: Long): (Long, Int, Long) =
      (ts.getTime, ts.getNanos, id)

    def update(key: (Long, String), rows: Iterator[Event],
        state: GroupState[UpsertState]): Iterator[UpsertOut] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        val prev = state.getOption
        var cur = prev
        var n = prev.map(_.nVersions).getOrElse(0L)
        var maxTs = prev.map(_.ts.getTime).getOrElse(Long.MinValue)
        rows.foreach { e =>
          n += 1
          maxTs = math.max(maxTs, e.ts.getTime)
          val newer = cur.forall(s =>
            Ordering[(Long, Int, Long)].gt(version(e.ts, e.event_id),
              version(s.ts, s.eventId)))
          if (newer) cur = Some(UpsertState(e.ts, e.event_id, e.value, n))
        }
        cur = cur.map(_.copy(nVersions = n))
        val out = if (cur == prev) Iterator.empty else {
          val s = cur.get
          state.update(s)
          Iterator.single(UpsertOut(key._1, key._2, s.value, s.ts, s.eventId,
            s.nVersions))
        }
        // re-arm from last ACTIVITY (any version seen, even non-winning —
        // a key still receiving traffic is live), clamped past the
        // watermark like asofAttribution's
        if (state.exists)
          ttlMs.foreach(ttl => state.setTimeoutTimestamp(
            math.max(maxTs + ttl, state.getCurrentWatermarkMs() + 1)))
        out
      }
    }

    val src = if (ttlMs.isDefined)
      events.withWatermark("ts", "10 minutes") else events
    src
      .as[Event]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (ttlMs.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(update)
  }

  /** The harness change log landed ONCE per corpus as µs-timestamp parquet
    * (the raw file stores TIMESTAMP(NANOS), which the stream source can't
    * consume directly) — content-fingerprinted + atomically published like
    * `Sources.scanCsvTyped`; shared by every replay key.
    */
  private def landedEvents(spark: SparkSession, sfDir: String): String = {
    import java.io.File
    // landOnce refreshes the landing's mtime on every reuse, so its age
    // counts from last USE: even a hypothetical future sweeper with an
    // overlapping prefix sees a young directory. Defense in depth only —
    // the replay GC's prefix is disjoint by construction (LocalFs.Names)
    // and sweepAged refuses cache-reaching prefixes outright.
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.CdcLandingCache, sfDir,
      new File(s"$sfDir/events.parquet")) { tmp =>
      graft.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(tmp.getPath)
    }
  }

  /** State-partition count for the REPLAY harness. A streaming query's
    * state partitioning binds to `spark.sql.shuffle.partitions` at first
    * start (recorded in its checkpoint), and every state partition costs
    * fixed per-micro-batch work (store open/commit/snapshot) regardless
    * of rows — at the harness corpus size (≤ 10⁵ rows per replay) 32
    * partitions are pure overhead, so replays run at 8. Scoped exactly
    * like the RocksDB provider conf (set before `start()`, restored
    * after; each replay has a FRESH checkpoint, so the binding cannot
    * disagree with a prior run). Production guidance is unchanged:
    * partitions ∝ state volume — a real deployment sets its own count,
    * and semantics are partitioning-independent (the suite's batch-twin
    * equalities and the driver oracles pin that).
    */
  private val ReplayPartitions = 8

  /** Run a streaming Dataset to completion (AvailableNow) into a fresh
    * per-invocation parquet feed dir; returns the feed read back as a
    * batch frame. Crashed-session leftovers swept like the Sources sinks.
    * The work-dir prefix (`LocalFs.Names.CdcReplay`) is DISJOINT from the
    * landing cache's (`Names.CdcLandingCache`): round 6 shipped them
    * sharing `graft_cdc_`, so a replay ≥1h after the landing was published
    * swept the landing itself out from under the stream (StreamingSpec
    * pins the regression by backdating the landing past the TTL).
    */
  private def replayToFeed(spark: SparkSession, out: Dataset[_],
      check: org.apache.spark.sql.streaming.StreamingQuery => Unit =
        _ => ()): DataFrame = {
    import java.io.File
    // fresh per invocation: a bench retry re-executes a key within one
    // session, and each replay must start from an EMPTY feed + checkpoint
    val work = graft.LocalFs.workDir(graft.LocalFs.Names.CdcReplay,
      spark.sparkContext.applicationId)
    val feedDir = new File(work, "feed").getPath
    // SINGLE-THREADED ASSUMPTION: this scoped override mutates the shared
    // session's conf for the replay's duration, so any query PLANNED
    // concurrently on the same SparkSession would silently bind 8 shuffle
    // partitions. The harness and suites run keys sequentially, so the
    // scope is sound here; a deployment embedding replays in a
    // multi-threaded driver must serialize them (or use a dedicated
    // session via spark.newSession()) — the conf is recorded into the
    // streaming checkpoint, so a cross-talk bind would persist.
    withConf(spark, "spark.sql.shuffle.partitions",
        ReplayPartitions.toString) {
      val q = out.writeStream.format("parquet").option("path", feedDir)
        .option("checkpointLocation", new File(work, "ck").getPath)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      check(q)
    }
    spark.read.parquet(feedDir)
  }

  /** Run `body` with the session conf `key` set to `value`, restoring
    * the previous value (or unsetting it) afterwards, on failure too.
    */
  private def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, value)
      body
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The paced-replay certificate: at least two data-carrying
    * micro-batches (`what` replay — pacing held) and state rows
    * genuinely REMOVED (else fail with `noEviction`).
    */
  private def requirePacedEviction(
      progress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress],
      what: String, noEviction: String): Unit = {
    val dataBatches = progress.count(_.numInputRows > 0)
    require(dataBatches >= 2,
      s"$what replay ran $dataBatches data micro-batches — pacing collapsed")
    val removed = progress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    require(removed > 0, noEviction)
  }

  /** `cdc_snapshot` checked key: the STREAMING latest-wins upsert
    * ([[upsertStream]]) replayed over the harness change log to
    * completion, its append-mode change feed landed as parquet, and the
    * final compacted snapshot reconstructed from the feed — the streaming
    * surface's first driver-checked entry.
    *
    * Why this is oracle-safe: upsertStream's "latest" is decided by the
    * data-derived (ts, event_id) version order, never arrival order, so
    * the reconstructed snapshot (max-`n_versions` emission per key —
    * n_versions grows strictly per emission of a key) converges to the
    * batch compaction under ANY micro-batch interleaving. The key is
    * therefore pinned to the SAME DuckDB oracle as the batch
    * `upsert_latest` (`ops/Lifecycle.scala`), by reference.
    *
    * Scale shape: the landing dir is the cloud-storage landing zone a file
    * stream tails (written once per corpus, content-fingerprinted +
    * atomically published, because the raw harness file stores
    * TIMESTAMP(NANOS) which the stream source can't consume directly);
    * emissions are a parquet change feed (a table format or message bus at
    * 100 TB); per-key state is one (version, value, count) record bounded
    * by key cardinality, evictable by timeout when keys are unbounded.
    * The reconstruction is the same max_by aggregate as the batch
    * compaction, over the feed (≈ key cardinality), never the raw log.
    */
  def cdcSnapshotQuery(spark: SparkSession, sfDir: String): DataFrame =
    snapshotFromFeed(replayToFeed(spark,
      upsertStream(spark, readEvents(spark, landedEvents(spark, sfDir)))))

  /** Shared snapshot reconstruction over an upsert change feed — the same
    * max_by compaction as the batch operator, over the feed (≈ key
    * cardinality), never the raw log. Split out so the state-store-backend
    * keys (`cdc_snapshot` default store / `cdc_snapshot_rocksdb`) share
    * one projection by construction.
    */
  private def snapshotFromFeed(feed: DataFrame): DataFrame =
    feed
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(
        struct(col("value"), col("ts"), col("event_id"), col("n_versions")),
        col("n_versions")).as("cur"))
      .select(col("user_id"), col("event_type"),
        col("cur.value").as("value"),
        (unix_micros(col("cur.ts")) * 1000L).as("ts_ns"),
        col("cur.event_id").as("event_id"),
        col("cur.n_versions").as("n_versions"))
      .orderBy(col("user_id"), col("event_type"))

  /** `cdc_snapshot_rocksdb` checked key: the SAME streaming upsert replay
    * as [[cdcSnapshotQuery]], executed on the disk-backed RocksDB state
    * store provider — the backend a real large-state deployment runs
    * (per-key state off-heap/on-disk, bounded memory at any key
    * cardinality) — and pinned to the same batch-compaction oracle. The
    * replay REQUIRES the provider to have engaged, read from the query's
    * own state-operator metrics: a conf typo or provider fallback fails
    * the key loudly instead of re-grading the default store under a new
    * name. The provider conf is scoped to this replay and restored after
    * (state-store provider binds at stream start, so the setting cannot
    * leak into a concurrent query's plan; the returned frame reads the
    * already-written feed and is conf-independent).
    */
  def cdcSnapshotRocksdbQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val feed = withConf(spark,
        "spark.sql.streaming.stateStore.providerClass", rocks) {
      replayToFeed(spark,
        upsertStream(spark, readEvents(spark, landedEvents(spark, sfDir))),
        check = q => {
          val engaged = q.recentProgress.flatMap(_.stateOperators)
            .flatMap(_.customMetrics.keySet.toArray(Array.empty[String]))
            .exists(_.startsWith("rocksdb"))
          require(engaged,
            "RocksDB state store provider did not engage for the replay")
        })
    }
    snapshotFromFeed(feed)
  }

  /** `stream_dedup` checked key: the streaming CONTENT dedup
    * ([[dedupContent]] — the ingest-time form of `dedup_exact` a
    * training-data pipeline runs on its event firehose) replayed over the
    * harness change log to completion. Keyed on (user_id, event_type,
    * props) — the corpus carries genuine payload duplicates (~6% of
    * rows), so the state store earns its keep.
    *
    * Why this is oracle-safe: WHICH arrival survives a duplicate group is
    * interleaving-dependent, but the graded projection keeps only the
    * CONTENT columns — identical across the group by definition — so the
    * feed converges to exactly one row per distinct content under any
    * batching. The oracle is the batch `SELECT DISTINCT` twin; an
    * operator that dropped a key (false merge) or re-emitted one (state
    * loss) hash-mismatches on row count. The watermark horizon is set
    * past the corpus' 30-day span (a bounded BACKFILL replay — no
    * eviction may fire, or re-emissions would depend on batch
    * boundaries); a production tail uses a real horizon and accepts
    * horizon-spaced re-emissions by contract (state bounded by the
    * horizon's key cardinality, the property that makes this runnable
    * forever).
    */
  def streamDedupQuery(spark: SparkSession, sfDir: String): DataFrame =
    replayToFeed(spark,
      dedupContent(readEvents(spark, landedEvents(spark, sfDir)),
        Seq("user_id", "event_type", "props"), delay = "90 days"))
      .select(col("user_id"), col("event_type"), col("props"))
      .orderBy(col("user_id"), col("event_type"), col("props"))

  /** Number of event-time slices in the sorted landing, and the TTL for
    * the evicting replay. The slice count is part of the `cdc_snapshot_ttl`
    * ORACLE contract (its twin recomputes the same slice assignment), so
    * changing either requires changing both sides together. TTL = 2 days
    * against a 30-day corpus whose per-key logs are full of >2-day gaps
    * (and ~7.5-day slices), so evictions genuinely fire mid-replay.
    */
  private val TtlSlices = 4
  private val TtlMinutes = 2 * 24 * 60

  /** The change log landed as [[TtlSlices]] files, each an event-time
    * RANGE, mtimes ascending — so [[readEventsPaced]] replays them as
    * successive micro-batches in event-time order (watermark advances
    * between batches; no batch ever carries a row behind the watermark,
    * because slice i+1's minimum ts is ≥ slice i's maximum). Slice
    * assignment is exact integer arithmetic over epoch-µs
    * (`(µs − lo) · TtlSlices div span`), bit-identical in DuckDB with
    * `//`, which is what lets the oracle reconstruct per-key batch counts.
    * Content-fingerprinted + atomically published like [[landedEvents]];
    * the two boundary scalars (min/max µs) are the one driver-side
    * action — two longs, the bounded-action precedent of SURVEY §7's
    * undersampling ratio.
    */
  private def landedEventsSorted(spark: SparkSession, sfDir: String): String = {
    import java.io.File
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.CdcSortedCache, sfDir,
      new File(s"$sfDir/events.parquet")) { tmp =>
      // persisted for the build: the bounds pass + one filtered write per
      // slice would otherwise re-scan the raw table 1 + TtlSlices times
      val e = graft.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .persist()
      val bounds = e.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val lo = bounds.getLong(0)
      val span = bounds.getLong(1) - lo + 1 // +1: max ts maps to the last slice
      val slice = expr(s"(unix_micros(ts) - ${lo}L) * ${TtlSlices}L div ${span}L")
      (0 until TtlSlices).foreach { i =>
        e.filter(slice === i).coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/work_$i")
      }
      e.unpersist()
      // ascending mtimes pin the file source's replay order (paths
      // s00..s03 agree, as a tiebreak within one mtime tick)
      graft.LocalFs.promoteOrdered(tmp,
        (0 until TtlSlices).map(i => s"work_$i" -> f"s$i%02d.parquet"))
    }
  }

  /** `cdc_snapshot_ttl` checked key: the TTL-EVICTING streaming upsert
    * replayed as [[TtlSlices]] watermark-advancing micro-batches (the
    * eviction overloads' unbounded-key-space contract, driver-graded —
    * previously only StreamingSpec exercised eviction).
    *
    * What eviction can and cannot change is exactly what the projection
    * grades: the final (value, ts, event_id) per key is TTL-INVARIANT —
    * versions are data-derived and the replay is event-time-ordered, so a
    * post-eviction event is strictly newer than anything the dropped state
    * held and the per-key winner is the global latest version either way —
    * while `n_versions` counts from the last restart and is deliberately
    * NOT emitted (it is the bounded-state trade the overload documents).
    * The snapshot therefore reconstructs by VERSION order (not the
    * non-TTL key's max-`n_versions`, which restarts break) and is pinned
    * to the batch compaction's row set.
    *
    * `n_emissions` rides along as the pacing certificate: the upsert
    * emits exactly once per micro-batch that carries data for a key (any
    * batch's events are newer than the carried state, so the state always
    * advances), so per-key emissions = distinct event-time slices touched
    * — recomputed independently by the oracle from the slice formula.
    * That pins the multi-batch replay machinery itself: a replay that
    * collapsed to one batch (or dropped a slice's rows as late) would
    * hash-mismatch this column even though the winner row survives.
    */
  def cdcSnapshotTtlQuery(spark: SparkSession, sfDir: String): DataFrame =
    replayToFeed(spark,
      upsertStream(spark,
        readEventsPaced(spark, landedEventsSorted(spark, sfDir)),
        stateTtlMinutes = Some(TtlMinutes)))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        max_by(struct(col("value"), col("ts"), col("event_id")),
          struct(col("ts"), col("event_id"))).as("cur"),
        count(lit(1)).as("n_emissions"))
      .select(col("user_id"), col("event_type"),
        col("cur.value").as("value"),
        (unix_micros(col("cur.ts")) * 1000L).as("ts_ns"),
        col("cur.event_id").as("event_id"),
        col("n_emissions"))
      .orderBy(col("user_id"), col("event_type"))

  /** `asof_stream` checked key: the streaming as-of attribution
    * ([[asofAttribution]]) replayed over the harness corpus to completion
    * and surfaced in `join_asof`'s exact output shape — pinned BY
    * REFERENCE to the batch operator's DuckDB oracle. A single-landing
    * replay is one micro-batch, whose in-batch event-time sort repairs
    * arrival order, so the emission set equals the batch as-of join
    * exactly (suite-pinned since round 5; this key makes that equality
    * driver-checked). Late data beyond a batch boundary is the batch
    * twin's backfill job — the documented streaming contract, not a gap.
    */
  def asofStreamQuery(spark: SparkSession, sfDir: String): DataFrame =
    replayToFeed(spark,
      asofAttribution(spark, readEvents(spark, landedEvents(spark, sfDir))))
      .select(col("event_id"), col("user_id"),
        (unix_micros(col("ts")) * 1000L).as("ts_ns"),
        (unix_micros(col("click_ts")) * 1000L).as("click_ts_ns"))
      .withColumn("gap_ns", col("ts_ns") - col("click_ts_ns"))
      .orderBy(col("event_id"))

  /** STREAM-STREAM INTERVAL JOIN — the streaming form of `join_range`'s
    * pair step (`ops/Temporal.scala`): each purchase joined to the same
    * user's clicks in its trailing 24 h window, as both sides arrive.
    *
    * This is the one stateful-join shape Structured Streaming supports at
    * scale, and the time-bound condition is what makes it runnable
    * forever: with watermarks on BOTH sides and the range predicate
    * `p_ts − 24h < c_ts ≤ p_ts`, Spark derives a state horizon per side —
    * click state older than (purchase watermark − 24 h) and purchase state
    * older than the click watermark are evicted, so join state is bounded
    * by the window volume, not the stream's lifetime. Without the time
    * bound the same join would accumulate state forever (and Spark would
    * reject it in append mode). Inner join: emitted exactly when both
    * sides are present; the aggregate layer of `join_range` stays batch
    * (a second stateful op over a stream-stream join needs its own
    * output-mode contract — the pairs ARE the streaming deliverable).
    */
  def rangeJoinPairs(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      expr("user_id = c_user AND c_ts <= p_ts AND " +
        "c_ts > p_ts - INTERVAL 24 HOURS"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
        col("c_ts"))
  }

  /** `stream_range_join` checked key: [[rangeJoinPairs]] replayed over the
    * harness corpus to completion — the stream-stream interval join's
    * driver-graded entry (previously suite-only, the one streaming shape
    * without one).
    *
    * Why this is oracle-safe: a single-landing replay is one micro-batch,
    * both sides of every pair are present in that batch, and a
    * stream-stream INNER join emits a pair in the first batch where both
    * sides have arrived — so the emission set equals the batch inequality
    * join exactly, independent of watermark timing (the `asof_stream`
    * argument). The watermarks are for the production tail, where they
    * bound join state to the 24 h window's volume per side — the property
    * StreamingSpec's horizon test exercises; late data beyond a batch
    * boundary is the batch twin's backfill job by the same documented
    * contract. The oracle is the UNBINNED DuckDB inequality join — the
    * pair-step twin of `join_range`'s binned aggregate, so the two keys
    * together pin both halves of the range-join decomposition.
    */
  def streamRangeJoinQuery(spark: SparkSession, sfDir: String): DataFrame =
    rangeJoinProjection(replayToFeed(spark,
      rangeJoinPairs(readEvents(spark, landedEvents(spark, sfDir)))))

  /** Shared projection of a range-join pair feed to the graded shape. */
  private def rangeJoinProjection(feed: DataFrame): DataFrame =
    feed
      .select(col("p_id"), col("user_id"),
        (unix_micros(col("p_ts")) * 1000L).as("p_ts_ns"),
        col("c_id"),
        (unix_micros(col("c_ts")) * 1000L).as("c_ts_ns"))
      .orderBy(col("p_id"), col("c_id"))

  /** Paced replay of [[rangeJoinPairs]] over the SORTED multi-file
    * landing, exposing the query progress to the caller — the probe the
    * checked key and StreamingSpec's peak-state assertion share.
    */
  private[graft] def streamRangeJoinPaced(spark: SparkSession, sfDir: String,
      onProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]
        => Unit): DataFrame =
    rangeJoinProjection(replayToFeed(spark,
      rangeJoinPairs(readEventsPaced(spark, landedEventsSorted(spark, sfDir))),
      check = q => onProgress(q.recentProgress)))

  /** `stream_range_join_paced` checked key: the stream-stream interval
    * join replayed as [[TtlSlices]] watermark-ADVANCING micro-batches —
    * the round-11 key proved single-landing equivalence; this one grades
    * the STATE HORIZON story, which only a paced replay exercises (in one
    * batch the watermark moves after all data is already joined, so
    * nothing is ever evicted mid-run).
    *
    * Emission-set invariance under pacing: the landing's slices are
    * event-time RANGES in ascending order and every pair satisfies
    * `c_ts ≤ p_ts`, so a pair's click lands with or before its purchase
    * — the click side of every future pair is always still inside the
    * derived horizon when its purchase arrives (clicks are evicted only
    * below purchase-watermark − 24 h, and a future purchase's window
    * bottom sits ≥ watermark − 24 h by definition of the watermark). The
    * feed therefore equals the unbinned batch twin exactly — the SAME
    * oracle as `stream_range_join`, while the replay's state arc is
    * completely different.
    *
    * The in-key `require`s are the harness certificate that the claimed
    * regime actually ran: multiple data-carrying micro-batches, state
    * rows genuinely REMOVED mid-replay (the horizon fired), and a peak
    * state strictly below the total rows buffered — i.e. join state was
    * bounded by the 24 h window volume, never the corpus. That is the
    * whole 100 TB point of the two-sided-watermark interval join: state
    * ∝ window volume × key velocity, not stream lifetime.
    */
  def streamRangeJoinPacedQuery(spark: SparkSession, sfDir: String): DataFrame =
    streamRangeJoinPaced(spark, sfDir, progress => {
      requirePacedEviction(progress, "paced",
        "state horizon never evicted a row — watermark eviction did not fire")
      val ops = progress.flatMap(_.stateOperators)
      val added = ops.map(_.numRowsUpdated).sum
      val peak = if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max
      require(peak < added,
        s"peak state $peak not below total buffered $added — state unbounded")
    })

  /** The change log landed as TWO files with ascending mtimes: the whole
    * corpus, then a single far-future SENTINEL row (user −1, ts = corpus
    * max + 365 d). Replayed paced, the sentinel batch advances the
    * watermark past every real session's `last + gap`, so event-time
    * timeouts flush each still-open session — the landing shape that lets
    * an AvailableNow replay of a SESSION operator emit the complete
    * session set (without it, every user's final session would sit in
    * state forever, since nothing later arrives to time it out). At
    * production scale the "sentinel" is just the stream's own future
    * traffic; a bounded backfill replays with exactly this one extra row.
    * The two boundary scalars (max ts) are the one driver-side action —
    * the bounded-action precedent. Content-fingerprinted + atomically
    * published like [[landedEvents]].
    */
  private def landedEventsFlush(spark: SparkSession, sfDir: String): String = {
    import java.io.File
    graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.CdcFlushCache, sfDir,
      new File(s"$sfDir/events.parquet")) { tmp =>
      val e = graft.Tables.events(spark, sfDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val bounds = e.agg(max(col("ts"))).head()
      require(!bounds.isNullAt(0),
        "cannot build a flush landing for an empty events corpus")
      val maxTs = bounds.getTimestamp(0)
      val spark2 = spark
      import spark2.implicits._
      val sentinel = Seq((-1L,
        new java.sql.Timestamp(maxTs.getTime + 365L * 24 * 3600 * 1000),
        -1L, "sentinel", 0.0, null.asInstanceOf[String]))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      Seq(e, sentinel).zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/work_$i")
      }
      // ascending mtimes pin the paced replay order: corpus first,
      // sentinel second — a sentinel landing FIRST would stamp the
      // watermark past the corpus and drop every real row as late
      graft.LocalFs.promoteOrdered(tmp,
        Seq(0, 1).map(i => s"work_$i" -> f"e$i%02d.parquet"))
    }
  }

  /** `sessionize_stream` checked key: the STREAMING gap sessionization
    * ([[sessionize]] — `flatMapGroupsWithState` interval merge with
    * event-time timeouts) replayed over the flush landing to completion
    * and pinned to the batch twin's session set. The sentinel batch is
    * what makes the replay COMPLETE: it advances the watermark past every
    * real session's horizon so the open tail sessions flush through the
    * timeout path — both emission paths (in-batch close and timeout
    * close) are exercised and graded.
    *
    * The graded projection carries the session IDENTITY and SHAPE
    * (user, event count, start/end millis) — all integer-exact. The
    * value sum is deliberately left to the suite's 1e-6 pin: the
    * streaming fold and the batch aggregation sum doubles in different
    * orders, and a 6-dp rounding of two sums a few ulps apart can land
    * on different grid points — the `cms_ok` lesson applied prophylactically
    * (no float-order luck inside an exact hash contract).
    */
  def sessionizeStreamQuery(spark: SparkSession, sfDir: String): DataFrame =
    replayToFeed(spark,
      sessionize(spark,
        readEventsPaced(spark, landedEventsFlush(spark, sfDir)), 30))
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"),
        unix_millis(col("start")).as("start_ms"),
        unix_millis(col("end")).as("end_ms"))
      .orderBy(col("user_id"), col("start_ms"))

  /** `sessionize_batch` query key: 30-minute-gap sessions over the harness
    * events table. The double sum is rounded to 6dp only here (the oracle
    * engine's sum order is unknown; the raw [[sessionizeBatch]] keeps full
    * precision for the stream-equality suite) and the output is ordered on
    * the (user, session-start) key for the hash compare. Session bounds
    * are surfaced as epoch-millis BIGINTs, not timestamps: Spark writes
    * parquet timestamps tz-adjusted while the oracle engine produces
    * tz-naive ones — an integer is the comparator-safe representation.
    * Tie-safety: `lag` over equal timestamps is order-ambiguous, but a
    * tied pair has gap 0, so session membership and all aggregates are
    * invariant to the tie order — the output is deterministic across
    * engines and partitionings.
    */
  def sessionizeBatchQuery(spark: SparkSession, sfDir: String): DataFrame =
    sessionizeBatch(graft.Tables.events(spark, sfDir), gapMinutes = 30)
      .select(col("user_id"), col("n_events"),
        unix_millis(col("start")).as("start_ms"),
        unix_millis(col("end")).as("end_ms"),
        round(col("total_value"), 6).as("total_value"))
      .orderBy(col("user_id"), col("start_ms"))

  /** Paced replay of [[windowedAggExact]] with the query progress exposed
    * — the probe the checked key and StreamingSpec share.
    */
  private[graft] def streamWindowAggPaced(spark: SparkSession, sfDir: String,
      onProgress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]
        => Unit): DataFrame =
    replayToFeed(spark,
      windowedAggExact(
        readEventsPaced(spark, landedEventsFlush(spark, sfDir))),
      check = q => onProgress(q.recentProgress))
      .filter(col("event_type") =!= "sentinel")
      .select(unix_millis(col("ws")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("value_milli"),
        col("min_event_id"), col("max_event_id"))
      .orderBy(col("window_start_ms"), col("event_type"))

  /** `stream_window_agg` checked key: the watermarked tumbling-window
    * aggregate ([[windowedAggExact]] — the streaming form of
    * `groupby_agg`, the one core Structured-Streaming shape that had no
    * graded entry) replayed paced over the flush landing to completion.
    * The corpus batch aggregates with the initial watermark at −∞ (no
    * row is late, so the emission set is complete); the far-future
    * sentinel batch then advances the watermark past every real
    * window's end, so append mode FLUSHES every window through the
    * state-eviction path — the sentinel's own window stays open and is
    * filtered by type. The feed therefore equals the batch hourly
    * aggregate exactly, which is the DuckDB twin.
    *
    * The in-key `require`s certify the claimed regime ran: two
    * data-carrying micro-batches (pacing held), and state rows genuinely
    * REMOVED (the sentinel's watermark advance evicted the closed
    * windows — the O(open windows × types) state bound that makes this
    * runnable forever, the whole 100 TB point of the watermark).
    */
  def streamWindowAggQuery(spark: SparkSession, sfDir: String): DataFrame =
    streamWindowAggPaced(spark, sfDir, requirePacedEviction(_, "flush",
      "watermark advance never evicted a closed window from state"))

  /** Leaderboard depth for the graded streaming top-k key. */
  val StreamTopK = 3

  /** Watermarked per-(window, user) counts — the per-ENTITY form of
    * [[windowedAggExact]] (event_type has 5 values; user_id has the
    * stream's real key cardinality, so this is the state shape a
    * leaderboard actually carries: O(open windows × active users),
    * bounded by the same watermark eviction). `min_event_id` is the
    * membership tripwire — a dropped or duplicated row moves it.
    */
  def windowedUserCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event_id"))
      .select(col("window.start").as("ws"), col("user_id"),
        col("n_events"), col("min_event_id"))

  /** `stream_topk` checked key — the WINDOWED LEADERBOARD: per closed
    * hourly window, the top-[[StreamTopK]] users by event count (ties to
    * the smaller user_id). The split is the operator's design point:
    * the STREAM maintains only the per-(window, user) counts — mergeable
    * state the watermark evicts, emitted once per window on close — and
    * the top-k cut is a BATCH rank over the closed-window feed (the
    * serving read). Ranking inside the stream would need either a
    * per-window all-user sort in state or a non-mergeable bounded heap
    * whose emissions churn per batch; counts-then-rank keeps state
    * mergeable, emissions append-only, and the cut replayable — at any
    * scale the feed is already |windows × users| ≪ |events|.
    *
    * Same replay pacing + eviction certificates as `stream_window_agg`
    * (two data micro-batches; state rows genuinely removed).
    */
  def streamTopkQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val feed = replayToFeed(spark,
      windowedUserCounts(
        readEventsPaced(spark, landedEventsFlush(spark, sfDir))),
      check = q => requirePacedEviction(q.recentProgress, "flush",
        "watermark advance never evicted a closed window from state"))
    val w = Window.partitionBy(col("ws"))
      .orderBy(col("n_events").desc, col("user_id"))
    feed.filter(col("user_id") >= 0)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= StreamTopK)
      .select(unix_millis(col("ws")).as("window_start_ms"),
        col("user_id"), col("n_events"), col("min_event_id"), col("rnk"))
      .orderBy(col("window_start_ms"), col("rnk"))
  }

  /** Per-(user, day) cap for the graded rate-cap key. */
  val RateCapK = 3

  case class RateCapState(kept: List[(Long, Long)], nSeen: Long)

  case class RateCapOut(user_id: Long, day_n: Long, n_seen: Long,
    n_kept: Int, kept_head: String)

  /** STREAMING RATE CAP — the ingest-politeness / whale-capping throttle:
    * per (user, event-time day), keep the first `k` events and count the
    * rest — the streaming analog of `cap_per_host` for an event firehose
    * (a training pipeline caps a runaway producer's contribution at
    * ingest, before anything downstream pays for it).
    *
    * The state design is what makes this replay-safe: per key the state
    * is the k SMALLEST (ts_µs, event_id) pairs seen plus a total count —
    * a min-k sketch, whose merge is commutative and idempotent-by-
    * construction, so the FINAL state is the same under any micro-batch
    * interleaving or arrival order (no in-batch sort needed, no
    * event-time ordering assumption). Emissions carry the key's current
    * sketch with `n_seen` as the strictly-growing version; the snapshot
    * compaction keeps the max-version emission per key — the
    * `cdc_snapshot` latest-wins discipline.
    *
    * Day identity is pure integer arithmetic (`µs div 86400e6`), never a
    * timezone conversion; the graded projection renders it as a DATE
    * with `date_add` from the epoch, TZ-free in both engines. State is
    * bounded by (active users × day horizon) × k pairs; an unbounded
    * deployment adds EventTimeTimeout eviction exactly as
    * `cdc_snapshot_ttl` does — a day key silent past the watermark can
    * never change again, so eviction is lossless there.
    */
  def rateCapStream(events: DataFrame, k: Int): Dataset[RateCapOut] = {
    import events.sparkSession.implicits._
    def us(t: Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    def update(key: (Long, Long), rows: Iterator[Event],
        state: GroupState[RateCapState]): Iterator[RateCapOut] = {
      val batch = rows.map(e => (us(e.ts), e.event_id)).toSeq
      val prev = state.getOption.getOrElse(RateCapState(Nil, 0L))
      val kept = (prev.kept ++ batch).sorted.take(k)
      val next = RateCapState(kept, prev.nSeen + batch.size)
      state.update(next)
      Iterator.single(RateCapOut(key._1, key._2, next.nSeen,
        kept.size, kept.map { case (t, id) => s"$t:$id" }.mkString(",")))
    }
    events.as[Event]
      .groupByKey(e => (e.user_id, us(e.ts) / 86400000000L))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** `stream_rate_cap` checked key: the rate-cap replayed over the
    * harness change log to completion, compacted latest-wins on
    * `n_seen`, day rendered as an epoch-arithmetic DATE. Oracle-safe
    * because the min-k sketch converges to the batch first-k under any
    * interleaving (ties impossible: event_id is unique); the twin is the
    * direct batch formulation — count + QUALIFY first-k per (user, day).
    */
  def rateCapQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val feed = replayToFeed(spark,
      rateCapStream(readEvents(spark, landedEvents(spark, sfDir)),
        RateCapK))
    feed.groupBy(col("user_id"), col("day_n"))
      .agg(max_by(struct(col("n_seen"), col("n_kept"), col("kept_head")),
        col("n_seen")).as("cur"))
      .select(col("user_id"),
        date_add(to_date(lit("1970-01-01")), col("day_n").cast("int"))
          .as("day"),
        col("cur.n_seen").as("n_seen"),
        col("cur.n_kept").as("n_kept"),
        col("cur.kept_head").as("kept_head"))
      .orderBy(col("user_id"), col("day"))
  }

  /** One joined band-probe row entering the per-doc fold: `hit` = this
    * band row matched SOME corpus band within the modality's hamming
    * radius.
    */
  case class BandProbeRow(modality: String, doc_id: Long, unit_idx: Long,
    hit: Boolean)

  /** `stream_dedup_media`'s verdict row — the corpus-probe half of
    * [[graft.ops.Multimodal.dedupMediaOnState]]'s contract (the ingest
    * gate: "has the corpus seen this media?"; within-batch dedup stays a
    * batch/compaction job).
    */
  case class MediaVerdictOut(modality: String, doc_id: Long,
    n_units: Long, n_hit_units: Long, corpus_frac_milli: Long,
    is_dup_corpus: Boolean)

  /** STREAMING MEDIA INGEST DEDUP — the band-state probe as a stream
    * (the one media shape that had no streaming form): a crawl batch's
    * band rows arrive as landed files ([[graft.ops.Multimodal
    * .mediaBandLanding]]'s batch side — hashes are computed where media
    * is decoded, at ingest; the gate consumes hash rows), stream-static
    * LEFT join against the MAINTAINED corpus band tables (the static
    * side; at 100 TB a bucketed table — the join re-plans per
    * micro-batch with batch-sized stream volume), then ONE stateful
    * fold: `flatMapGroupsWithState` keyed on (modality, doc) folds the
    * per-band hit flags into per-unit hits and emits the τ-fraction
    * verdict. The fold is the reason for the operator: per-doc verdicts
    * need units-seen ∪ units-hit, which would otherwise be TWO chained
    * stateful aggregations (unsupported in append mode).
    *
    * COMPLETENESS CONTRACT: a (modality, doc)'s band rows arrive within
    * ONE micro-batch — the landing writes one file per modality and the
    * paced source takes one file per trigger — so each group emits its
    * verdict exactly once, in the micro-batch that carried its file.
    * ENFORCED (ADVICE r18): the fold records emission in its GroupState,
    * so a group whose rows straddle micro-batches (a landing with more
    * than one file per modality, or a source that splits a file) FAILS
    * NAMED on re-arrival instead of silently emitting duplicate/partial
    * verdicts — the `stream_dedup` bounded-backfill honesty note
    * applies: a production tail keying docs across files would hold
    * per-doc unit state under an arrival-completeness watermark and
    * merge here instead of failing.
    */
  def mediaProbeStream(stream: DataFrame,
      corpusBands: DataFrame): Dataset[MediaVerdictOut] = {
    import graft.ops.Multimodal
    val spark2 = stream.sparkSession
    import spark2.implicits._
    // ONE modality per probe (the per-modality ingest-pipeline shape),
    // so the join keys are exactly the static table's bucket columns
    // (band_idx, band_val) — the corpus side arrives pre-clustered and
    // pre-sorted (mediaBandCorpusBucketed) and the SMJ adds no Exchange
    // and no Sort to it; the projection below must NOT cast the key
    // columns (a cast would discard the bucket distribution)
    val joined = stream.join(
        corpusBands.select(col("band_idx"), col("band_val"),
          col("dhash").as("dh_c")),
        Seq("band_idx", "band_val"), "left_outer")
      .withColumn("ham_max",
        when(col("modality") === "video", lit(Multimodal.VideoHamMax))
          .when(col("modality") === "audio", lit(Multimodal.AudioHamMax))
          .otherwise(lit(Multimodal.ImageHamMax)))
      .withColumn("hit", col("dh_c").isNotNull &&
        Multimodal.withinRadius(col("dhash"), col("dh_c"), col("ham_max")))
      .select(col("modality"), col("doc_id"), col("unit_idx"), col("hit"))
      .as[BandProbeRow]
    joined
      .groupByKey(r => (r.modality, r.doc_id))
      .flatMapGroupsWithState[Boolean, MediaVerdictOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((modality, docId), rows, state: GroupState[Boolean]) =>
          // the emitted-keys record: a verdict for this group already
          // left in an earlier micro-batch, so the single-micro-batch
          // completeness contract is violated — fail loudly instead of
          // emitting a silently wrong duplicate/partial verdict
          if (state.exists) throw new IllegalStateException(
            s"mediaProbeStream completeness contract violated: " +
              s"(modality=$modality, doc_id=$docId) band rows arrived " +
              "in more than one micro-batch — the landing must hold one " +
              "file per modality and the source one file per trigger; " +
              "a multi-file tail needs per-doc unit state under an " +
              "arrival-completeness watermark")
          state.update(true)
          // a unit is hit iff ANY of its band rows matched; units with
          // no corpus match arrive as hit=false rows (left join), so
          // n_units counts the full spine
          val units = scala.collection.mutable.LongMap.empty[Boolean]
          rows.foreach(r =>
            units(r.unit_idx) = units.getOrElse(r.unit_idx, false) || r.hit)
          val n = units.size.toLong
          val nHit = units.count(_._2).toLong
          val frac = if (n == 0) 0L else nHit * 1000L / n
          val tau = modality match {
            case "video" => Multimodal.VideoTauMilli
            case "audio" => Multimodal.AudioTauMilli
            case _ => Multimodal.ImageRung.tauMilli // one unit: any hit
          }
          Iterator.single(MediaVerdictOut(modality, docId, n, nHit, frac,
            frac >= tau))
      }
  }

  /** `stream_dedup_media` checked key: the batch band landing replayed
    * through [[mediaProbeStream]] to completion as THREE PER-MODALITY
    * ingest streams (the production shape: video/audio/image ingest are
    * separate pipelines), each a real micro-batch carrying exactly one
    * modality's landed file and each joining ONLY its modality's
    * maintained corpus band table as the BUCKETED catalog table
    * ([[graft.ops.Multimodal.mediaBandCorpusBucketed]] — SCALE.md r18's
    * named fix, both halves: the modality partition prunes the static
    * scan from triggers × the three-modality union to one pass over the
    * table total, and the (band_idx, band_val) bucketing + sortBy
    * removes the static side's Exchange AND Sort from the probe join,
    * leaving only the batch-sized stream side to shuffle). StreamingSpec
    * pins the emitted verdicts row-equal to the batch OnState probe's
    * corpus-verdict projection; the DuckDB twin recomputes every verdict
    * from the planting rules.
    */
  def streamDedupMediaQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Multimodal
    val landing = Multimodal.mediaBandLanding(spark, sfDir)
    // the landing's batch side writes b00_video / b01_audio / b02_image
    // (ascending mtimes); each per-modality stream tails its own file
    // (glob, not the literal file path — the file source needs a
    // directory basePath)
    Seq("video", "audio", "image")
      .map { modality =>
        val stream = spark.readStream.schema(Multimodal.bandRowSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$landing/batch/b*_$modality.parquet")
        val fed = replayToFeed(spark, mediaProbeStream(stream,
          Multimodal.mediaBandCorpusBucketed(spark, landing, modality)))
        // the replay has completed and `fed` reads the feed dir, not
        // the catalog — drop the session-scoped registration (ADVICE
        // r19: never leave it pointing into a sweepable cache dir)
        Multimodal.dropMediaBandCorpusTable(spark, modality)
        fed
      }
      .reduce(_ unionByName _)
      .orderBy(col("modality"), col("doc_id"))
  }

  /** Schema of the landed text probe-row files
    * ([[graft.ops.Curation.textStatesLanding]]'s batch side).
    */
  private[graft] val textKeyRowSchema: StructType = StructType(Seq(
    StructField("family", StringType),
    StructField("doc_id", LongType),
    StructField("k", StringType)))

  /** One joined key-probe row entering the per-doc fold: `hit` = this
    * probe key exists in the family's maintained census.
    */
  case class KeyProbeRow(family: String, doc_id: Long, k: String,
    hit: Boolean)

  /** `stream_ingest_text`'s verdict row — per-(family, doc) seen-ness
    * against the maintained text states (the ingest gate: "has the
    * corpus seen this URL / these lines / these spans?"; the acting
    * strips and their combined thresholds stay a batch job — the
    * [[MediaVerdictOut]] contract on the text axis).
    */
  case class TextVerdictOut(family: String, doc_id: Long, n_units: Long,
    n_hit_units: Long, hit_frac_milli: Long, is_seen_corpus: Boolean)

  /** STREAMING TEXT-INGEST GATE (r19 verdict #4 — the
    * [[mediaProbeStream]] shape on the text axis): a crawl batch's
    * per-family probe keys arrive as landed files (computed where text
    * is processed, at ingest; the gate consumes key rows), stream-static
    * LEFT join against ONE maintained census (keys are UNIQUE in every
    * census, so the join never fans out), then one
    * `flatMapGroupsWithState` fold keyed on (family, doc) emitting the
    * per-doc seen-ness verdict. The [[mediaProbeStream]] completeness
    * contract applies verbatim: one file per family, one file per
    * trigger, fail NAMED on a group straddling micro-batches.
    *
    * SCOPE — the three HASH-KEYED censuses (url/line/span). The
    * semantic state is deliberately not probed here: at ingest time the
    * embeddings do not exist yet (the embedding model runs downstream
    * of extraction), and its probe is vector geometry against cell
    * centroids, not a keyed seen-ness lookup — it is graded in the
    * batch OnState keys where it belongs.
    */
  def textProbeStream(stream: DataFrame,
      censusKeys: DataFrame): Dataset[TextVerdictOut] = {
    val spark2 = stream.sparkSession
    import spark2.implicits._
    val joined = stream.join(
        censusKeys.select(col("k"), lit(true).as("__hit")),
        Seq("k"), "left_outer")
      .select(col("family"), col("doc_id"), col("k"),
        coalesce(col("__hit"), lit(false)).as("hit"))
      .as[KeyProbeRow]
    joined
      .groupByKey(r => (r.family, r.doc_id))
      .flatMapGroupsWithState[Boolean, TextVerdictOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((family, docId), rows, state: GroupState[Boolean]) =>
          if (state.exists) throw new IllegalStateException(
            s"textProbeStream completeness contract violated: " +
              s"(family=$family, doc_id=$docId) probe rows arrived in " +
              "more than one micro-batch — the landing must hold one " +
              "file per family and the source one file per trigger; a " +
              "multi-file tail needs per-doc key state under an " +
              "arrival-completeness watermark")
          state.update(true)
          // landing rows are distinct per (family, doc, k) and census
          // keys are unique, so each row is one unit
          var n = 0L
          var nHit = 0L
          rows.foreach { r => n += 1; if (r.hit) nHit += 1 }
          val frac = if (n == 0) 0L else nHit * 1000L / n
          Iterator.single(TextVerdictOut(family, docId, n, nHit, frac,
            nHit > 0))
      }
  }

  /** `stream_ingest_text` checked key: the landed probe rows replayed
    * through [[textProbeStream]] to completion as THREE PER-FAMILY
    * ingest streams (the `stream_dedup_media` replay shape), each
    * joining ONLY its family's landed census. The DuckDB twin
    * ([[graft.ops.Curation.streamIngestTextSql]]) recomputes censuses
    * AND probe keys from the base tables; StreamingSpec pins the
    * verdicts row-equal to the batch-computed fold over the same landed
    * rows and the url family's seen-ness equal to the frontier screen's
    * `is_dup_corpus`.
    */
  def streamIngestTextQuery(spark: SparkSession,
      sfDir: String): DataFrame = {
    import graft.ops.Curation
    val landing = Curation.textStatesLanding(spark, sfDir)
    val censusKeys = Map(
      "url" -> spark.read.parquet(s"$landing/url_census")
        .select(col("url_norm").as("k")),
      "line" -> spark.read.parquet(s"$landing/line_census")
        .select(col("lh").as("k")),
      "span" -> spark.read.parquet(s"$landing/span_census")
        .select(col("gh").cast("string").as("k")))
    Seq("url", "line", "span")
      .map { family =>
        val stream = spark.readStream.schema(textKeyRowSchema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$landing/batch/b*_$family.parquet")
        replayToFeed(spark, textProbeStream(stream, censusKeys(family)))
      }
      .reduce(_ unionByName _)
      .orderBy(col("family"), col("doc_id"))
  }

  val oracleSql: Map[String, String] = Map(
    // the text-ingest gate's verdicts recomputed from the base tables
    // (censuses + chain-faithful probe keys — the CTE machinery lives
    // beside the chain twins in Curation)
    "stream_ingest_text" -> graft.ops.Curation.streamIngestTextSql,
    // every verdict recomputed from the planting rules (the
    // dedup_media_onstate twin's corpus-probe half, same populations)
    "stream_dedup_media" -> {
      import graft.ops.Multimodal
      // concatenated head (see the media twins' stripMargin note)
      "WITH mpop AS (SELECT doc_id FROM documents),\n" +
      "bpop AS (SELECT doc_id FROM mpop\n" +
      s"  WHERE doc_id % 2 = 1 AND doc_id < ${Multimodal.ReplicaBound}),\n" +
      Multimodal.mediaChainSqlCtes + ",\n" +
      Multimodal.corpusHitSqlCtes("bpop", d => s"$d % 2 = 0") + ",\n" +
      s"""iv AS (
         |  SELECT doc_id,
         |    CAST(1 AS BIGINT) AS n_units,
         |    CAST(CASE WHEN doc_id % 10 = 3
         |      AND (doc_id - 1) IN (SELECT doc_id FROM mpop)
         |      THEN 1 ELSE 0 END AS BIGINT) AS n_hit_units
         |  FROM bpop)
         |""".stripMargin + Multimodal.corpusHitSelectSql + """
         |UNION ALL
         |SELECT 'image' AS modality, doc_id, n_units, n_hit_units,
         |  n_hit_units * 1000 AS corpus_frac_milli,
         |  n_hit_units > 0 AS is_dup_corpus
         |FROM iv
         |ORDER BY modality, doc_id""".stripMargin
    },
    // the windowed-aggregate twin: the direct batch hourly rollup — the
    // flush replay must land on exactly this (epoch-hour flooring
    // mirrors Spark's epoch-aligned window(); the per-row milli-floor
    // before the BIGINT sum is what makes the hash order-independent)
    "stream_window_agg" ->
      """WITH e AS (
        |  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |    event_type, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_milli
        |  FROM events)
        |SELECT window_start_ms, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(v_milli) AS BIGINT) AS value_milli,
        |  min(event_id) AS min_event_id,
        |  max(event_id) AS max_event_id
        |FROM e GROUP BY window_start_ms, event_type
        |ORDER BY window_start_ms, event_type""".stripMargin,
    // the leaderboard twin: batch hourly per-user counts + the same
    // (n_events DESC, user_id) rank cut — the closed-window feed must
    // land on exactly this
    "stream_topk" ->
      s"""WITH e AS (
         |  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
         |    user_id, event_id
         |  FROM events),
         |a AS (
         |  SELECT window_start_ms, user_id,
         |    CAST(count(*) AS BIGINT) AS n_events,
         |    min(event_id) AS min_event_id
         |  FROM e GROUP BY window_start_ms, user_id),
         |r AS (
         |  SELECT window_start_ms, user_id, n_events, min_event_id,
         |    CAST(row_number() OVER (PARTITION BY window_start_ms
         |      ORDER BY n_events DESC, user_id) AS INTEGER) AS rnk
         |  FROM a)
         |SELECT window_start_ms, user_id, n_events, min_event_id, rnk
         |FROM r WHERE rnk <= $StreamTopK
         |ORDER BY window_start_ms, rnk""".stripMargin,
    // the rate-cap twin: the direct batch first-k per (user, event-time
    // day) — the replayed sketch must land on exactly this
    "stream_rate_cap" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |    epoch_us(ts) // 86400000000 AS day_n
         |  FROM events),
         |agg AS (
         |  SELECT user_id, day_n, CAST(count(*) AS BIGINT) AS n_seen
         |  FROM e GROUP BY user_id, day_n),
         |h AS (
         |  SELECT user_id, day_n, ts_us, event_id FROM e
         |  QUALIFY row_number() OVER (PARTITION BY user_id, day_n
         |    ORDER BY ts_us, event_id) <= $RateCapK),
         |heads AS (
         |  SELECT user_id, day_n,
         |    CAST(count(*) AS INTEGER) AS n_kept,
         |    string_agg(CAST(ts_us AS VARCHAR) || ':' ||
         |      CAST(event_id AS VARCHAR), ',' ORDER BY ts_us, event_id)
         |      AS kept_head
         |  FROM h GROUP BY user_id, day_n)
         |SELECT a.user_id,
         |  DATE '1970-01-01' + CAST(a.day_n AS INTEGER) AS day,
         |  a.n_seen, h.n_kept, h.kept_head
         |FROM agg a JOIN heads h
         |  ON a.user_id = h.user_id AND a.day_n = h.day_n
         |ORDER BY a.user_id, day""".stripMargin,
    // pinned BY REFERENCE to the batch twins' oracles: each streaming
    // replay must land on exactly the rows its batch operator computes
    "cdc_snapshot" -> graft.ops.Lifecycle.oracleSql("upsert_latest"),
    // the RocksDB-backed replay must land on the identical snapshot: same
    // oracle by reference (backend choice must be semantics-free)
    "cdc_snapshot_rocksdb" -> graft.ops.Lifecycle.oracleSql("upsert_latest"),
    "asof_stream" -> graft.ops.Temporal.oracleSql("join_asof"),
    // the stream-stream interval join's twin: the unbinned inequality
    // join over data at rest — every (purchase, click-in-trailing-24h)
    // pair, and nothing else
    "stream_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
        |                  event_type FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts_ns AS p_ts_ns FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user,
        |             ts_ns AS c_ts_ns FROM e
        |      WHERE event_type = 'click')
        |SELECT p.p_id, p.user_id, p.p_ts_ns, c.c_id, c.c_ts_ns
        |FROM p JOIN c
        |  ON p.user_id = c.c_user
        | AND c.c_ts_ns > p.p_ts_ns - 86400000000000
        | AND c.c_ts_ns <= p.p_ts_ns
        |ORDER BY p_id, c_id""".stripMargin,
    // pacing cannot change the emission set (see streamRangeJoinPacedQuery
    // scaladoc), so the paced replay pins to the SAME unbinned twin; what
    // differs — the mid-replay eviction arc — is certified by the key's
    // own progress-metric requires
    "stream_range_join_paced" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts_ns,
        |                  event_type FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts_ns AS p_ts_ns FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id AS c_user,
        |             ts_ns AS c_ts_ns FROM e
        |      WHERE event_type = 'click')
        |SELECT p.p_id, p.user_id, p.p_ts_ns, c.c_id, c.c_ts_ns
        |FROM p JOIN c
        |  ON p.user_id = c.c_user
        | AND c.c_ts_ns > p.p_ts_ns - 86400000000000
        | AND c.c_ts_ns <= p.p_ts_ns
        |ORDER BY p_id, c_id""".stripMargin,
    // the streaming content dedup's batch twin: exactly one row per
    // distinct (user_id, event_type, props) — a dropped key or a state
    // loss re-emission changes the row count and hash-mismatches
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type, props FROM events
        |ORDER BY user_id, event_type, props""".stripMargin,
    // the TTL replay's twin: latest version per key by (ts, event_id)
    // order — no n_versions (restart-dependent by contract) — plus the
    // slice-count reconstruction of per-key emissions. The slice formula
    // mirrors landedEventsSorted's integer arithmetic exactly (`//` is
    // DuckDB's integer division, `div` Spark's).
    "cdc_snapshot_ttl" ->
      """WITH b AS (SELECT epoch_us(min(ts)) AS lo,
        |             epoch_us(max(ts)) - epoch_us(min(ts)) + 1 AS span
        |           FROM events),
        |e AS (SELECT event_id, user_id, event_type, value,
        |        epoch_ns(ts) AS ts_ns,
        |        ((epoch_us(ts) - b.lo) * 4) // b.span AS slice
        |      FROM events, b),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts_ns DESC, event_id DESC) AS rn
        |      FROM e),
        |ns AS (SELECT user_id, event_type,
        |         count(DISTINCT slice) AS n_emissions
        |       FROM e GROUP BY user_id, event_type)
        |SELECT r.user_id, r.event_type, r.value, r.ts_ns, r.event_id,
        |       ns.n_emissions
        |FROM r JOIN ns USING (user_id, event_type) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // the streaming replay's twin: the batch session set WITHOUT the
    // float value sum (session identity/shape is integer-exact across
    // the two emission paths; the value sum is suite-pinned at 1e-6 —
    // see sessionizeStreamQuery's scaladoc)
    "sessionize_stream" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |      THEN 1 ELSE 0 END AS sess_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, SUM(sess_start) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m)
        |SELECT user_id, COUNT(*) AS n_events,
        |  epoch_ms(MIN(ts)) AS start_ms, epoch_ms(MAX(ts)) AS end_ms
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, start_ms""".stripMargin,
    // lag + cumulative session counter, the same independent formulation
    // the suite pins the streaming interval-merge against; epoch_ms over
    // the µs-floored timestamp exactly mirrors unix_millis on the Spark
    // side, and integer session bounds sidestep tz-aware/naive parquet
    // timestamp representation differences between the engines.
    "sessionize_batch" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |      THEN 1 ELSE 0 END AS sess_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT *, SUM(sess_start) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM m)
        |SELECT user_id, COUNT(*) AS n_events,
        |  epoch_ms(MIN(ts)) AS start_ms, epoch_ms(MAX(ts)) AS end_ms,
        |  ROUND(SUM(value), 6) AS total_value
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, start_ms""".stripMargin
  )

  /** Batch twin of [[sessionize]]: the same session definition — maximal
    * runs of per-user events where consecutive gaps are ≤ `gapMinutes` —
    * computed with window functions over data at rest (`lag` + cumulative
    * session-start counter, the classic formulation). One output row per
    * session, same columns as [[SessionOut]].
    *
    * Exists both as the batch API for the operator AND as the independent
    * formulation the suite pins the streaming interval-merge against:
    * stream(corpus) replayed to completion must equal batch(corpus).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60L * 1000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      // a session STARTS where there is no predecessor within the gap;
      // boundary inclusive on gap == gapMs, matching the interval merge
      .withColumn("sess_start", when(col("prev_ms").isNull ||
        unix_millis(col("ts")) - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("sess_start")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start"),
        max(col("ts")).as("end"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"), col("n_events"), col("start"), col("end"),
        col("total_value"))
  }
}
