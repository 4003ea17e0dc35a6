package graft

import java.io.File

/** Local-FS helpers for write-once shared caches (bucketed layouts, CSV
  * materializations, persisted models). Publishing is done by writing to a
  * session-unique temp directory and RENAMING it into place: a rename is
  * atomic on a local filesystem, so the stable path only ever contains a
  * COMPLETE artifact — two sessions racing on first materialization cannot
  * interleave files, and a crash mid-write never poisons the cache. (On an
  * object store the analog is a commit-marker protocol; the Hadoop
  * committer used by the sinks does exactly that.)
  */
object LocalFs {

  /** REGISTRY of every tmpdir name family this tree creates, and every
    * prefix any sweeper deletes by. Centralized because round 6 shipped a
    * prefix collision: the replay GC swept `graft_cdc_` with a 1h TTL,
    * which also matched the persistent `graft_cdc_landing_v1…` cache — the
    * landing was deleted between its `_SUCCESS` check and the stream read.
    * Call sites MUST take names from here; [[sweepAged]] refuses any
    * prefix that could reach a published cache, and LocalFsSpec pins the
    * registry's pairwise disjointness. The tmpdir protocol itself (tmp
    * names, the `_SUCCESS` marker, publish, sweeps) lives only in this
    * object — LocalFsSpec fails if any other main source spells it out.
    *
    * | family            | kind            | prefix                   | TTL  | created at (via)          |
    * |-------------------|-----------------|--------------------------|------|---------------------------|
    * | CSV landing       | published cache | graft_scan_csv_v1        | none | Sources.scanCsvTyped (landOnce) |
    * | bucketed layout   | published cache | graft_bucketed_v3        | none | Sources.bucketedJoin (landOnce) |
    * | IVF quantizer     | published cache | graft_ivf_quantizer_v2   | none | Similarity.ivfQuantizer (landOnce) |
    * | CDC landing       | published cache | graft_cdc_landing_v1     | none | Streams.landedEvents (landOnce) |
    * | CDC sorted landing| published cache | graft_cdc_sorted_v1      | none | Streams.landedEventsSorted (landOnce) |
    * | CDC flush landing | published cache | graft_cdc_flush_v1       | none | Streams.landedEventsFlush (landOnce) |
    * | image fixture     | published cache | graft_img_fixture_v1     | none | Multimodal.imageFixture (landOnce) |
    * | jpeg fixture      | published cache | graft_jpeg_fixture_v1    | none | Multimodal.jpegFixture (landOnce) |
    * | noise-img fixture | published cache | graft_img_noise_v2       | none | Multimodal.noiseFixture (landOnce) |
    * | media band tables | published cache | graft_media_bands_v4     | none | Multimodal.mediaBandLanding (landOnce) |
    * | text state tables | published cache | graft_text_states_v3     | none | Curation.textStatesLanding (landOnce) |
    * | landed postings   | published cache | graft_postings_v1        | none | TextAnalysis.postingsLanding (landOnce) |
    * | CSV sink          | session dir     | graft_sink_csv_          | 1h   | Sources.sinkCsvRoundTrip (sessionDir) |
    * | parquet sink      | session dir     | graft_sink_parquet_      | 1h   | Sources.sinkParquetPartitioned (sessionDir) |
    * | JSONL sink        | session dir     | graft_sink_jsonl_        | 1h   | Sources.sinkJsonlRoundTrip (sessionDir) |
    * | CDC replay work   | session dir     | graft_cdcrun_            | 1h   | Streams.replayToFeed (workDir) |
    * | state-absorb work | session dir     | graft_states_absorb_     | 1h   | Curation.corpusStatesAbsorbOnState (storedDayLoop) |
    * | state-compact work| session dir     | graft_states_compact_    | 1h   | Curation.corpusStatesCompact (storedDayLoop) |
    * | media-absorb work | session dir     | graft_media_absorb_      | 1h   | Multimodal.dedupMediaAbsorbOnState (workDir) |
    *
    * Published caches (`<prefix><sfTag>_<fp>`) are built and published by
    * [[landOnce]] alone, which writes the `_SUCCESS` marker into every one
    * of them (the IVF quantizer included: a quantizer dir without it is
    * rebuilt, never loaded). They have no TTL: they are deleted only by
    * [[cachePath]]'s superseded-fingerprint sweep (same prefix+sfTag,
    * different fp) and their `.tmp.` orphans by [[publishDir]] (the
    * `.tmp.` infix can never appear in a published name, so that sweep is
    * structurally cache-safe). Session dirs come from [[sessionDir]] /
    * [[workDir]], which sweep by prefix+TTL at allocation; their prefixes
    * must stay disjoint from every published cache name — enforced below.
    */
  object Names {
    val ScanCsvCache = "graft_scan_csv_v1"
    // v3: one landing holding both bucketed tables under one marker (v2
    // published `lineitem/` and `orders/` as two separate landings)
    val BucketedCache = "graft_bucketed_v3"
    val IvfQuantizerCache = "graft_ivf_quantizer_v2"
    val CdcLandingCache = "graft_cdc_landing_v1"
    val CdcSortedCache = "graft_cdc_sorted_v1"
    val CdcFlushCache = "graft_cdc_flush_v1"
    val ImageFixtureCache = "graft_img_fixture_v1"
    val JpegFixtureCache = "graft_jpeg_fixture_v1"
    val ImgNoiseCache = "graft_img_noise_v2"
    // v4 (layout bump rule: ANY layout change): v3 made the corpus
    // sides BUCKETED tables (8 buckets on band_idx, band_val, sortBy
    // same — zero Exchange/Sort on the streaming probe's static side);
    // v4 adds `odd/{video,audio,image}` — the UNBOUNDED odd-parity band
    // tables in raw per-modality schemas, the landed ingest plants the
    // composed cycle keys read their batch bands from (r19 verdict #1a)
    val MediaBandCache = "graft_media_bands_v4"
    // v2 added `clean`/`manifest` (the flagship run's output side, so
    // the composed cycle keys read day-0 from the landing — r19 verdict
    // #1a); v3 adds `batch/b*_{url,line,span}.parquet` — the replica-0
    // batch's per-family probe keys, the stream_ingest_text landing
    // (r19 verdict #4)
    val TextStatesCache = "graft_text_states_v3"
    // the landed inverted index (r19 verdict #3): postings with inline
    // norms + the maintained stats census + the one-row corpus stats,
    // postings/census bucketed on token — search_bm25_onstate serves
    // from these tables alone
    val PostingsCache = "graft_postings_v1"

    /** Write-once `_SUCCESS`-guarded caches published via [[publishDir]]. */
    val publishedCaches: Seq[String] =
      Seq(ScanCsvCache, BucketedCache, IvfQuantizerCache, CdcLandingCache,
        CdcSortedCache, CdcFlushCache, ImageFixtureCache, JpegFixtureCache,
        ImgNoiseCache, MediaBandCache, TextStatesCache, PostingsCache)

    val SinkCsv = "graft_sink_csv_"
    val SinkParquet = "graft_sink_parquet_"
    val SinkJsonl = "graft_sink_jsonl_"
    val CdcReplay = "graft_cdcrun_"
    val StatesAbsorb = "graft_states_absorb_"
    val StatesCompact = "graft_states_compact_"
    val MediaAbsorb = "graft_media_absorb_"

    /** Prefixes handed to [[sweepAged]] for session-scoped work dirs. */
    val sweptPrefixes: Seq[String] =
      Seq(SinkCsv, SinkParquet, SinkJsonl, CdcReplay, StatesAbsorb,
        StatesCompact, MediaAbsorb)

    /** True iff sweeping `sweepPrefix` could delete a directory published
      * under `cachePrefix`. A published name is `<cachePrefix><sfTag>_<fp>`
      * with sfTag/fp drawn from [A-Za-z0-9_], so a sweep reaches it iff
      * the cache prefix extends the sweep prefix, or the sweep prefix
      * extends the cache prefix using only name-legal characters (which is
      * how `.tmp.` orphan prefixes stay safe: the dot can't occur in a
      * published name).
      */
    def hazardous(sweepPrefix: String, cachePrefix: String): Boolean =
      cachePrefix.startsWith(sweepPrefix) ||
        (sweepPrefix.startsWith(cachePrefix) &&
          sweepPrefix.drop(cachePrefix.length).matches("[A-Za-z0-9_]*"))
  }

  /** The tmpdir root, read per call: a host process may repoint
    * `java.io.tmpdir` between sessions of one JVM.
    */
  private def tmpRoot: File = new File(sys.props("java.io.tmpdir"))

  /** Validity marker of a published landing, written last into its tmp dir. */
  private val Marker = "_SUCCESS"

  private def landed(dir: File): Boolean = new File(dir, Marker).exists()

  /** The session-private staging sibling `<dest>.tmp.<appId>` a session
    * writes before a rename publishes it at `dest` ([[publishDir]],
    * [[replaceDir]]); its `.tmp.` infix is what the orphan sweep keys on.
    */
  def stagingDir(dest: File, appId: String): File =
    new File(s"${dest.getPath}.tmp.$appId")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
    ()
  }

  /** Cheap content fingerprint of source parquet paths (file or directory):
    * a hash over every file's (name, length, mtime). Folded into write-once
    * cache tags (see [[cachePath]]) so regenerating a corpus IN PLACE
    * changes the tag and provably rebuilds, instead of silently serving
    * stale artifacts. A missing source path fails loudly — a constant
    * fingerprint for a nonexistent file would silently disable exactly the
    * staleness protection this exists for. (Granularity caveat: a
    * regeneration producing identical byte lengths within the same mtime
    * tick is invisible; local-FS mtime is millisecond-resolution.)
    */
  def sourceFingerprint(paths: File*): String = {
    def stat(f: File): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty[File])
          .sortBy(_.getName).toSeq.flatMap(stat)
      else Seq(s"${f.getName}:${f.length}:${f.lastModified}")
    paths.foreach(p =>
      require(p.exists(), s"fingerprint source does not exist: $p"))
    val s = paths.flatMap(stat).mkString("|")
    f"${scala.util.hashing.MurmurHash3.stringHash(s)}%08x"
  }

  /** Stable cache path for a write-once artifact derived from `sources`:
    * `<tmpdir>/<prefix><sfTag>_<fp>`. The single place the tag scheme
    * lives (CSV materialization, bucketed layout, IVF quantizer all use
    * it), so staleness behavior cannot diverge between caches. Also sweeps
    * SUPERSEDED siblings — same prefix+tag, different fingerprint — since
    * those can only refer to a corpus state that no longer exists at
    * `sfDir` (their readers, if any, are already broken by the in-place
    * regeneration).
    */
  def cachePath(prefix: String, sfDir: String, sources: File*): String = {
    val sfTag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val fp = sourceFingerprint(sources: _*)
    val name = s"$prefix${sfTag}_$fp"
    val dir = tmpRoot
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(s"$prefix${sfTag}_") &&
        f.getName != name && !f.getName.contains(".tmp."))
      .foreach(deleteRecursively)
    new File(dir, name).getPath
  }

  /** Atomically publish `tmp` at `dest`. Returns true if this call won;
    * on a lost race the tmp artifact is discarded and the winner's stands.
    * `destValid` guards an existing-but-incomplete dest (crashed legacy
    * writer) and is a CLOSURE re-evaluated immediately before any repair
    * delete: a session holding a stale invalid verdict cannot tear down an
    * artifact a faster session just completed (the check-to-delete window
    * shrinks to microseconds; the rename itself stays atomic). On repair,
    * the validity marker (`_SUCCESS`) is deleted FIRST, so a repair that
    * dies mid-delete can never leave a dest that still passes the guard
    * while missing data files. Sibling `<dest>.tmp.*` orphans stranded by
    * crashed sessions are swept only when stale by `OrphanTtlMs` — sized
    * for this harness's seconds-long writes; a deployment with hours-long
    * jobs must raise it (a committer-staged write may not touch the tmp
    * root's mtime until job commit).
    */
  def publishDir(tmp: File, dest: File, destValid: () => Boolean): Boolean = {
    if (dest.exists() && !destValid()) {
      new File(dest, Marker).delete()
      deleteRecursively(dest)
    }
    val won = tmp.renameTo(dest)
    if (!won) deleteRecursively(tmp)
    sweepOrphans(dest, keep = tmp)
    won
  }

  /** THE write-once landing: the published cache for `sources` under
    * `prefix` (path from [[cachePath]]). If it lacks its marker, `build`
    * fills this session's staging dir ([[stagingDir]]; cleared first, so a
    * build that died earlier in the session leaves nothing behind), the
    * marker is written last and the dir is published by [[publishDir]]
    * with the marker as validity guard — so a marker-less dest (a crashed
    * or pre-marker writer's) is repaired, never served. A throwing `build`
    * publishes nothing and discards its staging dir. The landing's mtime
    * is refreshed on every call, so its age counts from last use and no
    * TTL sweeper could see a live landing as dead. Returns the path.
    */
  def landOnce(appId: String, prefix: String, sfDir: String,
      sources: File*)(build: File => Unit): String = {
    val dest = new File(cachePath(prefix, sfDir, sources: _*))
    if (!landed(dest)) {
      val tmp = stagingDir(dest, appId)
      deleteRecursively(tmp)
      try {
        build(tmp)
        require(tmp.isDirectory, s"landing build wrote nothing at $tmp")
        val marker = new File(tmp, Marker)
        require(marker.createNewFile() || marker.exists(),
          s"could not create landing marker $marker")
      } catch {
        case e: Throwable => deleteRecursively(tmp); throw e
      }
      publishDir(tmp, dest, destValid = () => landed(dest))
    }
    dest.setLastModified(System.currentTimeMillis())
    dest.getPath
  }

  /** Atomically REPLACE `dest` with `tmp` — the overwrite-semantics
    * counterpart of [[publishDir]] (which is first-writer-wins). The old
    * artifact is renamed ASIDE before the new one is renamed in, so at
    * every instant `dest` is either absent for a microsecond window or
    * holds a COMPLETE artifact, and a failed swap RESTORES the old one
    * instead of destroying it (the round-11 advisor finding: delete-then-
    * rename could tear down the old model and publish nothing while
    * returning normally). Throws on any rename failure; never returns
    * having lost the previous artifact silently.
    */
  def replaceDir(tmp: File, dest: File): Unit = {
    val aside = new File(dest.getPath + ".tmp.aside-" + tmp.getName.hashCode.toHexString)
    if (aside.exists()) deleteRecursively(aside)
    if (dest.exists())
      require(dest.renameTo(aside), s"failed to move old artifact aside: $dest")
    if (!tmp.renameTo(dest)) {
      deleteRecursively(tmp)
      // The restore rename can itself fail (e.g. a concurrent writer raced
      // a new dest in); reporting "restored" then would be a lie — and the
      // stranded aside dir would later be swept as an orphan. Tell the
      // operator exactly where the old artifact actually sits.
      val restored = !aside.exists() || aside.renameTo(dest)
      if (restored)
        sys.error(s"failed to publish $tmp at $dest (old artifact restored)")
      else
        sys.error(s"failed to publish $tmp at $dest AND the old artifact " +
          s"could not be renamed back — recover it manually from $aside " +
          "before the orphan sweep's TTL elapses")
    }
    if (aside.exists()) deleteRecursively(aside)
    sweepOrphans(dest, keep = dest)
  }

  /** Age after which a stranded `<dest>.tmp.<appId>` directory is presumed
    * dead (crashed writer) rather than in-flight.
    */
  private val OrphanTtlMs = 12L * 60 * 60 * 1000

  private def sweepOrphans(dest: File, keep: File): Unit =
    sweepAged(dest.getParentFile, dest.getName + ".tmp.", keep, OrphanTtlMs)

  /** Delete sibling entries of `parent` whose name starts with `prefix`,
    * excluding `keep`, once older than `ttlMs` — the crashed-session
    * garbage collector shared by the publish tmp dirs and the per-session
    * sink dirs. The age guard is what makes the sweep safe against a LIVE
    * concurrent session's directory (a crashed one stops touching its
    * files; a live one is younger than any sane TTL). The prefix guard
    * makes it safe against the PUBLISHED caches: a prefix that could reach
    * a [[Names.publishedCaches]] name is refused loudly (the round-6
    * landing-deletion bug, made structurally unrepresentable).
    */
  def sweepAged(parent: File, prefix: String, keep: File, ttlMs: Long): Unit = {
    Names.publishedCaches.foreach(c =>
      require(!Names.hazardous(prefix, c),
        s"sweepAged prefix '$prefix' could delete published cache '$c*'"))
    val now = System.currentTimeMillis()
    Option(parent).flatMap(p => Option(p.listFiles))
      .getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(prefix) && f != keep &&
        now - f.lastModified() > ttlMs)
      .foreach(deleteRecursively)
  }

  private val exitHooks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Register one-time JVM-exit deletion for a session-scoped directory
    * (per-session sink outputs: written and read within one session, junk
    * after it). Idempotent per path.
    */
  def deleteOnExit(f: File): Unit =
    if (exitHooks.add(f.getPath)) {
      sys.addShutdownHook(deleteRecursively(f))
      ()
    }

  /** Age after which another session's work dir is presumed dead. Work
    * dirs are written and read WITHIN one session (the appId in the name
    * only keeps concurrent runs apart), so an hour-old sibling can only be
    * a crashed session's leftover.
    */
  private val SessionTtlMs = 60L * 60 * 1000

  /** The session's own dir `<tmpdir>/<prefix><name>`: aged siblings under
    * `prefix` (crashed sessions) are swept, the dir is created, deleted at
    * JVM exit, and TOUCHED on every allocation. A dir's mtime tracks only
    * direct-child churn, so a session older than the TTL that reuses its
    * dir late (e.g. a Bench anomaly retry) would otherwise look dead to a
    * concurrent session's sweep between allocation and the write.
    */
  def sessionDir(prefix: String, name: String): File = {
    val parent = tmpRoot
    val self = new File(parent, s"$prefix$name")
    sweepAged(parent, prefix, keep = self, ttlMs = SessionTtlMs)
    self.mkdirs()
    self.setLastModified(System.currentTimeMillis())
    deleteOnExit(self)
    self
  }

  private val workSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A FRESH [[sessionDir]] per call (`<prefix><appId>_<seq>`): a key
    * re-executed within one session (a bench retry) starts from an empty
    * dir, never from the previous run's files.
    */
  def workDir(prefix: String, appId: String): File =
    sessionDir(prefix, s"${appId}_${workSeq.incrementAndGet()}")

  /** mtime step between [[promoteOrdered]] files — whole seconds, so the
    * order survives filesystems with coarse mtime resolution.
    */
  private val ReplayMtimeStepMs = 2000L

  /** Promote single-file work dirs into ORDERED replay files: for each
    * `(work, dest)` pair (paths relative to `root`), the one
    * `part-*.parquet` file `work` holds (a `coalesce(1)` write) is renamed
    * to `dest` and `work` is deleted; the files then get ascending mtimes
    * in pair order. A paced file stream (`maxFilesPerTrigger = 1`)
    * replays by mtime, so the order rides these stamps — never write
    * completion order, which is what lets the work dirs be written
    * concurrently. An unordered replay would drop later files' rows as
    * late behind the watermark.
    */
  def promoteOrdered(root: File, moves: Seq[(String, String)]): Unit = {
    val base = System.currentTimeMillis()
    moves.zipWithIndex.foreach { case ((workName, destName), i) =>
      val work = new File(root, workName)
      val dest = new File(root, destName)
      val part = Option(work.listFiles).getOrElse(Array.empty[File])
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written in $work"))
      val dir = dest.getParentFile
      require(dir.mkdirs() || dir.isDirectory, s"could not create $dir")
      require(part.renameTo(dest), s"rename failed: $part -> $dest")
      deleteRecursively(work)
      require(dest.setLastModified(base + i * ReplayMtimeStepMs),
        s"setLastModified failed for $dest")
    }
  }
}
