package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Scalars
import graft.ops.{Clustering, Curation, Dedup, Graph, Lifecycle, MLOps, Multimodal,
  Packing, Relational, Similarity, Sketches, Sources, Temporal,
  TextAnalysis, Web}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each key in `queries` is one operator from SURVEY §2, implemented as a
  * pure `(SparkSession, sfDir) => DataFrame` over the harness parquet
  * tables; SQL-expressible keys have a DuckDB twin in `oracleSql` with
  * identical output column names and ordering (the driver hash-compares).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Top revenue supplier per nation — join, aggregate, window rank, filter
    * in one plan (SURVEY §7 minimum slice).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.flagshipNationTopSupplier(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2a sources / sinks
    "scan_parquet" -> (Sources.scanParquet _),
    "scan_csv_typed" -> (Sources.scanCsvTyped _),
    "sink_csv" -> (Sources.sinkCsvRoundTrip _),
    "sink_parquet_partitioned" -> (Sources.sinkParquetPartitioned _),
    "sink_jsonl" -> (Sources.sinkJsonlRoundTrip _),
    // deterministic source-mixture sampling (fractional epochs per source)
    "mix_sample" -> (Sources.mixSample _),
    "bucketed_join" -> (Sources.bucketedJoin _),
    "zorder_layout" -> (Sources.zorderLayout _),
    // §2b projection / filter / cleaning
    "select_cols" -> (Relational.selectCols _),
    "select_cast" -> (Relational.selectCast _),
    "select_alias" -> (Relational.selectAlias _),
    "drop_col" -> (Relational.dropCol _),
    "filter_eq" -> (Relational.filterEq _),
    "filter_compound" -> (Relational.filterCompound _),
    "na_drop" -> (Relational.naDrop _),
    // §2c joins
    "join_inner_equi" -> (Relational.joinInnerEqui _),
    "join_left" -> (Relational.joinLeft _),
    "join_semi" -> (Relational.joinSemi _),
    "join_anti" -> (Relational.joinAnti _),
    // full outer as it is actually used: period-over-period reconciliation
    "join_full_outer" -> (Relational.joinFullOuter _),
    "join_salted" -> (Relational.joinSalted _),
    "join_bloom" -> (Relational.joinBloom _),
    // §2c temporal joins (as-of / bounded range — event attribution)
    "join_asof" -> (Temporal.joinAsof _),
    // merge_asof(tolerance=24h): stale attributions nulled, not a new join
    "join_asof_tol" -> (Temporal.joinAsofTolQuery _),
    // the lag surface: per-user inter-arrival gap stats (burst screening)
    "user_cadence" -> (Temporal.userCadenceQuery _),
    "join_range" -> (Temporal.joinRange _),
    // §2d aggregation
    "agg_count" -> (Relational.aggCount _),
    "groupby_agg" -> (Relational.groupbyAgg _),
    "groupby_ratio" -> (Relational.groupbyRatio _),
    "part_brand_agg" -> (Relational.partBrandAgg _),
    "pivot_wide" -> (Relational.pivotWide _),
    "agg_rollup" -> (Relational.aggRollup _),
    "agg_cube" -> (Relational.aggCube _),
    "agg_string_collect" -> (Relational.stringCollect _),
    "quantile_bins" -> (Relational.quantileBins _),
    "quantile_approx" -> (Relational.quantileBinsApprox _),
    "daily_counts" -> (Relational.dailyCounts _),
    // distinct-count sketching (KMV — cross-engine-exact estimator)
    "sketch_kmv" -> (Sketches.kmvDistinct _),
    // frequency sketching (exact top-k + count-min-sketch certificate)
    "heavy_hitters" -> (Sketches.heavyHitters _),
    // §2e windows
    "window_rank" -> (Relational.windowRank _),
    "window_top1" -> (Relational.windowTop1 _),
    "window_ntile" -> (Relational.windowNtile _),
    "window_moving_avg" -> (Temporal.windowMovingAvg _),
    // ordered funnel over event time (view → click → purchase)
    "event_funnel" -> (Temporal.eventFunnel _),
    // §2f sort / limit
    "order_limit" -> (Relational.orderLimit _),
    // §2g set ops / sampling
    "union_all" -> (Relational.unionAll _),
    "intersect_all" -> (Relational.intersectAll _),
    "except_all" -> (Relational.exceptAll _),
    "sample_fraction" -> (Relational.sampleFraction _),
    "random_split" -> (Relational.randomSplit _),
    "sample_stratified" -> (Relational.sampleStratified _),
    // pipeline lifecycle: deterministic split / CDC compaction / SCD2
    // history / one-pass profiling / distribution quality
    "split_hash" -> (Lifecycle.splitHash _),
    "upsert_latest" -> (Lifecycle.upsertLatest _),
    "scd2_intervals" -> (Lifecycle.scd2Intervals _),
    "profile_stats" -> (Lifecycle.profileStats _),
    "profile_approx" -> (Lifecycle.profileApproxQuery _),
    "group_entropy" -> (Lifecycle.groupEntropy _),
    "anomaly_zscore" -> (Lifecycle.anomalyZscore _),
    "histogram" -> (Lifecycle.histogram _),
    "corr_matrix" -> (Lifecycle.corrMatrix _),
    "minmax_scale" -> (Lifecycle.minmaxScale _),
    // robust sibling: per-group exact-percentile clipping at p01/p99
    "winsorize_clip" -> (Lifecycle.winsorizeClip _),
    // §2h scalars
    "str_normalize" -> (Scalars.strNormalize _),
    "json_extract" -> (Scalars.jsonExtract _),
    "vec_norm" -> (Scalars.vecNorm _),
    // §2i ML surface
    "ml_string_indexer" -> (MLOps.stringIndexer _),
    "ml_string_indexer_multi" -> (MLOps.stringIndexerMulti _),
    "ml_onehot" -> (MLOps.oneHot _),
    "ml_assembler" -> (MLOps.assemble _),
    "ml_rf_classifier" -> (MLOps.rfClassifier _),
    "ml_pipeline" -> (MLOps.pipeline _),
    "ml_evaluator" -> (MLOps.evaluate _),
    "ml_param_grid" -> (MLOps.paramGrid _),
    "ml_cross_validator" -> (MLOps.crossValidator _),
    "ml_fit_predict_eval" -> (MLOps.fitPredictEval _),
    "ml_rebalance_fit" -> (MLOps.rebalanceFit _),
    // §2j dedup
    "dedup_exact" -> (Dedup.dedupExact _),
    // line-level boilerplate removal (C4/RefinedWeb-style: lines repeated
    // across >= K documents stripped, text rebuilt in original order)
    "dedup_lines" -> (Dedup.dedupLines _),
    // Gopher duplicate-line signal turned acting: in-row keep-first per doc
    "dedup_lines_intra" -> (Dedup.dedupLinesIntra _),
    // crawl-batch line dedup: a new batch censused against the maintained
    // corpus line census (additive sketch; merge-by-sum = recompute)
    "dedup_lines_incremental" -> (Dedup.dedupLinesIncremental _),
    // crawl-batch span stats vs the maintained additive span census
    "dedup_spans_incremental" -> (Dedup.dedupSpansIncremental _),
    // span-level duplicate statistics (Lee et al. exact-substring signal:
    // per doc, the token share covered by cross-document repeated runs)
    "dedup_spans" -> (Dedup.dedupSpans _),
    // span excision (the ACT step of Lee et al. exact-substring dedup:
    // covered token runs removed, min-doc_id holder keeps the canonical copy)
    "dedup_spans_strip" -> (Dedup.dedupSpansStrip _),
    "dedup_near" -> (Dedup.dedupNear _),
    "dedup_simhash" -> (Dedup.dedupSimhash _),
    "dedup_simhash_pairs" -> (Dedup.dedupSimhashPairs _),
    "dedup_ngram" -> (Dedup.dedupNgram _),
    "dedup_cluster" -> (Dedup.dedupClusters _),
    "dedup_incremental" -> (Dedup.dedupIncremental _),
    "dedup_embed" -> (Dedup.dedupEmbedChecked _),
    "dedup_embed_incremental" -> (Dedup.dedupEmbedIncrementalChecked _),
    // the full ANN stack composed end-to-end (IVF candidates → int8
    // prescan → exact rerank → keep rule), certified against the exact rule
    "dedup_embed_ivf" -> (Dedup.dedupEmbedIvfChecked _),
    // SemDeDup: frozen sign-cells → cell-mean centroid → within-cell
    // τ-pairs → keep the low-centroid-similarity representative
    "dedup_semantic" -> (Dedup.dedupSemantic _),
    "dedup_semantic_incremental" -> (Dedup.dedupSemanticIncremental _),
    // composed curation pipeline (quality → lang → exact → cluster-keep)
    "corpus_clean" -> (Curation.corpusClean _),
    // the end-to-end crawl→training flagship: url gate → extract → line
    // dedup → gopher gate → span excision → semantic keep → decontam →
    // tokenize → epoch order → loader manifest, graded as ONE key
    "corpus_pipeline" -> (Curation.corpusPipeline _),
    // the crawl-batch composed flagship: the same chain run DAILY — a new
    // batch through the per-family incremental forms against the corpus's
    // frozen states (URL/line/span censuses, semantic cells), ending in
    // an append-only shard manifest (corpus shards byte-immutable)
    "corpus_pipeline_incremental" ->
      (Curation.corpusPipelineIncremental _),
    // the DAY-2 loop: batch-1 absorbed into the maintained states by the
    // per-family additive merges, batch-2 screened against the UPDATED
    // states (twin recomputes states over the union — merge law composed)
    "corpus_states_update" -> (Curation.corpusStatesUpdate _),
    // the production batch-screen shape GRADED on the text axis: the
    // maintained url/line/span/semantic states parquet-landed OUTSIDE
    // the graded region, the key is one crawl batch's screen against
    // the landed tables alone (the dedup_media_onstate precedent)
    "corpus_states_onstate" -> (Curation.corpusStatesOnState _),
    // the day loop ON STORAGE: batch-1 screened against the landed
    // states, its census deltas APPENDED as parquet (batch-sized write,
    // never a state rewrite), batch-2 screened against the union read —
    // append-through-storage == merge == recompute, one graded key
    "corpus_states_absorb_onstate" ->
      (Curation.corpusStatesAbsorbOnState _),
    // the STATE-LANDING generation bump: landing ∪ appended deltas
    // folded into a gen-1 state landing by the shared additive laws,
    // batch-2 screened against the COMPACTED tables alone — same twin
    // as the absorb key, proving compacted == union-read == merge
    "corpus_states_compact" -> (Curation.corpusStatesCompact _),
    // the flagship with the production tokenizer bootstrap: BPE fitted on
    // the CLEANED corpus, the manifest priced by the learned table
    "corpus_pipeline_learned_bpe" ->
      (Curation.corpusPipelineLearnedBpe _),
    // the generation bump: the per-host budget re-enforced over the
    // shipped union (the step the append-only keys defer), survivors
    // re-sharded from position 0
    "corpus_compact" -> (Curation.corpusCompact _),
    // the loop composed ACROSS the generation bump: batch-1 absorbed,
    // corpus compacted to generation 1, batch-2 screened against the
    // CARRIED censuses (seen-ness survives retirement) + the
    // post-compaction cursor
    "corpus_generation_cycle" -> (Curation.corpusGenerationCycle _),
    // the mixed-modality flagship: image/video/audio near-dup verdicts
    // (real decode → hash → banded join ladders) gate the corpus before
    // the text chain — one hash gate over the mixed manifest
    "corpus_pipeline_multimodal" -> (Curation.corpusPipelineMultimodal _),
    // its crawl-batch form: batch media screened against the MAINTAINED
    // band tables (the OnState probes), then the text incremental chain
    "corpus_multimodal_incremental" ->
      (Curation.corpusMultimodalIncremental _),
    // the loop composed ACROSS the generation bump ON THE MEDIA AXIS:
    // batch-1 absorbed into text censuses AND band tables, corpus
    // compacted, batch-2 screened against the CARRIED two-family states
    "corpus_multimodal_generation_cycle" ->
      (Curation.corpusMultimodalGenerationCycle _),
    // eval-set decontamination (benchmark n-gram overlap gate)
    "contamination_check" -> (Curation.contaminationCheck _),
    // its acting form: drop flagged docs, survivors' text intact
    "contamination_strip" -> (Curation.contaminationStrip _),
    // §2j similarity search
    "sim_search" -> (Similarity.simSearch _),
    "sim_search_lsh" -> (Similarity.simSearchLshChecked _),
    "sim_search_ivf" -> (Similarity.simSearchIvfChecked _),
    "sim_search_quant" -> (Similarity.simSearchQuantChecked _),
    "knn_classify" -> (Similarity.knnClassify _),
    // hybrid retrieval: BM25 lexical candidates ∪ exact-cosine vector
    // candidates fused by integer reciprocal-rank fusion (IVF swap-in
    // certificate-pinned in the suite)
    "search_hybrid" -> (Similarity.searchHybrid _),
    // the hybrid's production serving path (IVF vector substrate), graded
    // as a pooled-overlap certificate vs the exact hybrid
    "search_hybrid_ivf" -> (Similarity.searchHybridIvfChecked _),
    // §2j corpus clustering: exact-integer Lloyd's k-means (learned centroids)
    "cluster_kmeans_int" -> (Clustering.clusterKmeansInt _),
    // density rebalancing over the learned cells: hash-uniform per-cluster cap
    "sample_cluster_balanced" -> (Clustering.sampleClusterBalanced _),
    // crawl-batch serving path: frozen corpus-learned centroids, batch assigns
    "cluster_assign_batch" -> (Clustering.clusterAssignBatch _),
    // §2j text analysis
    "text_stats" -> (TextAnalysis.textStats _),
    "lang_id" -> (TextAnalysis.langId _),
    "token_count" -> (TextAnalysis.tokenCount _),
    "token_count_bpe" -> (TextAnalysis.tokenCountBpe _),
    // the TRUE frozen-BPE encoder: merge-table walk emitting token ids
    "tokenize_bpe" -> (TextAnalysis.tokenizeBpe _),
    // the LEARN step a frozen merge table comes from: k rounds of
    // weighted pair count -> argmax -> greedy merge over the word dict
    "bpe_train" -> (TextAnalysis.bpeTrain _),
    // the tokenizer chain composed: the corpus encoded by the merge
    // table it just learned (piece-tracked dictionary rounds + lookup)
    "bpe_pipeline" -> (TextAnalysis.bpePipeline _),
    "vocab_topk" -> (TextAnalysis.vocabTopK _),
    // query-side consumer of the postings substrate: integer-idf top-k
    "search_lexical" -> (TextAnalysis.searchLexical _),
    // BM25 over the same substrate: exact-integer tf saturation +
    // doc-length normalization (k1=1.2, b=0.75 cleared to fixed point)
    "search_bm25" -> (TextAnalysis.searchBm25 _),
    // the index family's OnState form: BM25 served from the LANDED
    // postings/census/stats tables alone (norms inline, df from the
    // maintained census) — same twin as search_bm25, proving the landed
    // index serves exactly like the derived form
    "search_bm25_onstate" -> (TextAnalysis.searchBm25OnState _),
    // the complete Gopher document-level quality gate (word bounds, mean
    // word length, symbol/bullet/ellipsis ratios, stopword presence)
    "gopher_rules" -> (TextAnalysis.gopherRules _),
    "doc_fingerprint" -> (TextAnalysis.docFingerprint _),
    "text_redact" -> (TextAnalysis.textRedact _),
    // main-content extraction from markup (the trafilatura/jusText slot:
    // title + paragraph text kept, nav/footer/script dropped, tags stripped)
    "extract_main_text" -> (TextAnalysis.extractMainText _),
    "url_normalize" -> (Web.urlNormalize _),
    // tolerant stage-0 front of the strict canonicalizer: whitespace,
    // scheme defaults, FQDN dots, slash runs, percent-escape case
    "url_normalize_messy" -> (Web.urlNormalizeMessy _),
    // stage-0 deny-list gate: domain (exact|subdomain) + URL-prefix rules
    "url_blocklist" -> (Web.urlBlocklist _),
    "dedup_url" -> (Web.dedupUrl _),
    // frontier screen: batch URLs vs the maintained canonical census
    "dedup_url_incremental" -> (Web.dedupUrlIncremental _),
    // C4/RefinedWeb anti-domination rule: hash-uniform per-host cap
    "cap_per_host" -> (Web.capPerHost _),
    // per-domain crawl-scheduler table (docs/pages/dup-fetch/volume)
    "host_stats" -> (Web.hostStats _),
    // exact-integer PageRank over the planted link graph (5 iterations)
    "page_rank" -> (Graph.pageRank _),
    // in-link anchor aggregation (the web-search relevance signal)
    "anchor_text" -> (Graph.anchorText _),
    // inverted-index stats + capped posting heads (search-side artifact)
    "build_postings" -> (TextAnalysis.buildPostingsQuery _),
    // the index family's maintained state: a doc-disjoint crawl batch's
    // census plus-merged into the corpus census (df/tf sums, heads
    // re-cut from the two capped heads) — twin recomputes over the union
    "build_postings_incremental" ->
      (TextAnalysis.buildPostingsIncremental _),
    // epoch-order primitive: two-phase distributed deterministic shuffle
    "shuffle_deterministic" -> (Packing.shuffleDeterministic _),
    // the loader contract: epoch-0 shard plan with order-proving digests
    "shard_manifest" -> (Packing.shardManifest _),
    // the loader artifact itself: per-sequence token-id arrays gathered
    // from the frozen-BPE id streams through the span table
    "pack_gather_ids" -> (Packing.packGatherIds _),
    // epoch composition: mix_sample instances ordered per-epoch by
    // salted deterministic shuffle (reproducible, distinct epochs)
    "epoch_order" -> (Packing.epochOrder _),
    // the chain composed: mixture instances in the epoch permutation,
    // id streams cut at the budget via a two-phase GLOBAL token cumsum,
    // sequences gathered into contiguous shards — what a loader reads
    "pack_gather_epoch" -> (Packing.packGatherEpoch _),
    // streaming ingest throttle: per-(user, day) min-k sketch state
    "stream_rate_cap" -> (Streams.rateCapQuery _),
    // watermarked tumbling-window aggregate flushed via the sentinel batch
    "stream_window_agg" -> (Streams.streamWindowAggQuery _),
    // windowed leaderboard: mergeable counts in-stream, rank over the feed
    "stream_topk" -> (Streams.streamTopkQuery _),
    "repetition_stats" -> (TextAnalysis.repetitionStats _),
    // frozen hashed-feature linear quality scorer (fastText serving shape)
    "quality_score_lm" -> (TextAnalysis.qualityScoreLm _),
    // the same frozen scorer with the weight vector shipped as a
    // broadcast (bucket, weight) table — the 2M-bucket serving shape
    "quality_score_lm_table" -> (TextAnalysis.qualityScoreLmTable _),
    // CCNet head/middle/tail: frozen score buckets, per-bucket
    // deterministic-hash keep rates (head whole, tail decimated)
    "sample_quality_buckets" -> (TextAnalysis.sampleQualityBuckets _),
    // the scorer's LEARN step (closing the last train/serve asymmetry):
    // NB log-count-ratio weights at milli fixed point over hashed
    // unigrams, labeled by the trusted-source split (lang = 'en')
    "quality_train_lm" -> (TextAnalysis.qualityTrainLm _),
    // the CCNet chain composed: train → broadcast-serve → tercile
    // calibration (two-phase value-range ranking) → salted sampling
    "quality_pipeline" -> (TextAnalysis.qualityPipeline _),
    "tfidf_topk" -> (TextAnalysis.tfidfTopK _),
    "ngram_lm_score" -> (TextAnalysis.ngramLmScore _),
    // training-sequence packing (token_count → packed span table)
    "pack_sequences" -> (Packing.packSequencesQuery _),
    // sessionization, batch form (streaming twin suite-pinned equal)
    "sessionize_batch" -> (Streams.sessionizeBatchQuery _),
    // the streaming sessionizer replayed to completion over the
    // sentinel-flushed landing (both emission paths graded)
    "sessionize_stream" -> (Streams.sessionizeStreamQuery _),
    // streaming replays to completion, pinned to their batch twins'
    // oracles: CDC upsert snapshot + as-of attribution
    "cdc_snapshot" -> (Streams.cdcSnapshotQuery _),
    "cdc_snapshot_rocksdb" -> (Streams.cdcSnapshotRocksdbQuery _),
    "cdc_snapshot_ttl" -> (Streams.cdcSnapshotTtlQuery _),
    "asof_stream" -> (Streams.asofStreamQuery _),
    // streaming content dedup replayed to completion (ingest-time
    // dedup_exact; projection makes the survivor set batch-twin-exact)
    "stream_dedup" -> (Streams.streamDedupQuery _),
    // streaming MEDIA ingest dedup: landed batch band rows stream-static
    // joined against the maintained corpus band tables, per-doc verdicts
    // folded in one flatMapGroupsWithState (pinned to the batch OnState
    // probe)
    "stream_dedup_media" -> (Streams.streamDedupMediaQuery _),
    // streaming TEXT ingest gate: landed per-family probe keys
    // stream-static joined against the maintained url/line/span
    // censuses, per-doc seen-ness folded in one flatMapGroupsWithState
    // (the stream_dedup_media shape on the text axis)
    "stream_ingest_text" -> (Streams.streamIngestTextQuery _),
    // stream-stream interval join replayed to completion (the two-sided-
    // watermark pair step of join_range, pinned to the unbinned twin)
    "stream_range_join" -> (Streams.streamRangeJoinQuery _),
    // the same interval join replayed as watermark-advancing micro-batches
    // (grades the state-horizon eviction, not just the emission set)
    "stream_range_join_paced" -> (Streams.streamRangeJoinPacedQuery _),
    // §2j multimodal: real PNG decode/resize over the planted image
    // fixture, plus the frame plumbing
    "mm_decode" -> (Multimodal.mmDecode _),
    "mm_decode_jpeg" -> (Multimodal.mmDecodeJpeg _),
    // perceptual dHash per image + banded hamming image near-dup pairs
    "mm_phash" -> (Multimodal.mmPhash _),
    "dedup_image" -> (Multimodal.dedupImage _),
    // new image batch vs corpus + within-batch, one-hop keep rule
    "dedup_image_incremental" -> (Multimodal.dedupImageIncremental _),
    // the ladder's video rung: scene-cut keyframes → per-keyframe
    // gradient dHash → banded hamming join → keep-min τ-fraction verdict
    "dedup_video" -> (Multimodal.dedupVideo _),
    // its crawl-batch form: batch keyframes vs the corpus band table +
    // within-batch, per-video corpus/batch fractions and the keep rule
    "dedup_video_incremental" -> (Multimodal.dedupVideoIncremental _),
    // the ladder's audio rung: window energies → per-segment gradient
    // fingerprint → banded hamming join → keep-min τ-fraction verdict
    "dedup_audio" -> (Multimodal.dedupAudio _),
    // its crawl-batch form: batch segments vs the corpus band table +
    // within-batch, per-clip corpus/batch fractions and the keep rule
    "dedup_audio_incremental" -> (Multimodal.dedupAudioIncremental _),
    // the production probe shape graded: a fixed replica-0 batch screened
    // against the three PRE-MATERIALIZED (parquet-landed) corpus band
    // tables — the flat-probe claim on the oracle board
    "dedup_media_onstate" -> (Multimodal.dedupMediaOnState _),
    // the media absorb THROUGH storage: batch-1 probed against the
    // landed band tables and its band rows appended (batch-sized);
    // batch-2 probed against the union read — the {20k+5, 20k+7}
    // straddling classes flip only through the absorbed delta
    "dedup_media_absorb_onstate" ->
      (Multimodal.dedupMediaAbsorbOnState _),
    // overlapping-window audio features (PCM16 stand-in decode + HOF windows)
    "mm_audio_features" -> (Multimodal.audioFeatures _),
    // video keyframe slot: per-frame feature deltas, cut list in-row
    "mm_scene_cuts" -> (Multimodal.sceneCuts _),
    "mm_frame_sample" -> (Multimodal.frameSample _),
    "mm_frame_layout" -> (Multimodal.frameLayout _),
    "mm_resize" -> (Multimodal.mmResize _),
    // flagship as a checked query
    "flagship_nation_top_supplier" -> (Relational.flagshipNationTopSupplier _),
    // Q10 shape: fact⋈fact⋈dims, selective date cut, exact-decimal top-10
    "flagship_revenue_top_customers" ->
      (Relational.flagshipRevenueTopCustomers _)
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (every key but the omitted ones below). The
    * approximate ANN keys (sim_search_lsh/ivf/quant, dedup_embed,
    * search_hybrid_ivf) are checked via pooled-recall certificates
    * (Similarity.recallCertificate), dedup_embed_incremental/ivf via
    * decision certificates (Similarity.decisionCertificate). Omitted keys —
    * Spark-RNG sampling (sample_fraction, random_split) and spark.ml
    * model internals (ml_rf_classifier, ml_pipeline, ml_evaluator,
    * ml_cross_validator, ml_fit_predict_eval, ml_rebalance_fit) — get the
    * driver's weaker rows-only check; their semantics are covered by
    * scalatest invariants instead (SURVEY §5, COVERAGE.md).
    */
  def oracleSql: Map[String, String] =
    Sources.oracleSql ++ Relational.oracleSql ++ Scalars.oracleSql ++
      MLOps.oracleSql ++ Dedup.oracleSql ++ Similarity.oracleSql ++
      TextAnalysis.oracleSql ++ Multimodal.oracleSql ++ Streams.oracleSql ++
      Curation.oracleSql ++ Web.oracleSql ++ Graph.oracleSql ++
      Clustering.oracleSql ++
      Temporal.oracleSql ++
      Sketches.oracleSql ++
      Lifecycle.oracleSql ++ Packing.oracleSql
}
