package graft

/** Physical-plan shape regressions (SURVEY §4 / SCALE.md claims): the
  * properties that matter at 100 TB — pushed filters, pruned scans,
  * broadcast dims, no cartesian products, partial top-k before window
  * exchanges — asserted against the optimized plan text so a future edit
  * that silently loses one fails the suite, not the next scale-up.
  */
class PlanSpec extends SparkSpec {

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  test("per-document text ops are scan-stage projections: zero Exchange") {
    // the family scaladoc's claim — all per-doc text work (stats, lang
    // ID, token counts, fingerprints, redaction) runs inside the scan's
    // codegen pipeline with NO shuffle — as a plan pin on the unordered
    // API forms (the key forms add only the presentation sort's range
    // exchange)
    import graft.ops.TextAnalysis
    val docs = graft.Tables.table(spark, sf, "documents")
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "textStats" -> TextAnalysis.textStats(docs),
      "langId" -> TextAnalysis.langId(docs),
      "tokenCount" -> TextAnalysis.tokenCount(docs),
      "tokenCountBpe" -> TextAnalysis.tokenCountBpe(docs),
      "docFingerprint" -> TextAnalysis.docFingerprint(docs),
      "repetitionStats" -> TextAnalysis.repetitionStats(docs),
      "textRedact" -> TextAnalysis.textRedact(
        graft.Tables.table(spark, sf, "events"), "event_id", "props"),
      "extractMainText" -> TextAnalysis.extractMainTextOn(
        TextAnalysis.htmlStructured(docs)),
      "tokenizeBpe" -> TextAnalysis.tokenizeBpe(docs),
      "gopherRules" -> TextAnalysis.gopherRulesOn(docs),
      "sampleQualityBuckets" -> TextAnalysis.sampleQualityBucketsOn(docs),
      "urlNormalize" -> graft.ops.Web.urlNormalizeOn(
        graft.ops.Web.urlStructured(docs)))
      .foreach { case (name, df) =>
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
      }
  }

  test("quality_score_lm_table broadcasts the weight table and shuffles" +
      " one row per document") {
    // the weight lookup must be a BroadcastHashJoin (never a sort-merge
    // over corpus tokens) and the doc re-aggregate must plan a map-side
    // partial HashAggregate before its exchange
    val p = plan("quality_score_lm_table")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("filter_eq pushes its predicate into the parquet scan") {
    val p = plan("filter_eq")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
  }

  test("select_cols prunes the scan to the projected columns") {
    val p = plan("select_cols")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"), p)
  }

  test("json_extract reads only the two needed columns") {
    val p = plan("json_extract")
    assert(p.contains("ReadSchema: struct<event_id:bigint,props:string>"), p)
  }

  test("flagship broadcasts dims and avoids cartesian/shuffled fact joins") {
    val p = plan("flagship_nation_top_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("window_top1 computes partial top-k before the window exchange") {
    val p = plan("window_top1")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("quantized sim-search pre-scores with partial top-k, never cartesian") {
    // stage 1's int8 scan must cut to the rerank pool BEFORE its window
    // exchange (same WindowGroupLimit contract as simSearch), and the
    // probe side must ride broadcasts — a shuffled or nested-loop probe
    // join would defeat the whole bandwidth story
    val p = graft.ops.Similarity.simSearchQuantized(SparkSpec.spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the broadcast cross
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("contamination gram lookup broadcasts the benchmark, never sort-merges") {
    // the scale claim: benchmark gram sets are small by definition, so
    // the lookup must be a broadcast hash join — a sort-merge join here
    // would shuffle the full corpus gram explosion by gram
    val p = plan("contamination_check")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("contamination non-broadcast regime hash-joins shuffled, never sorts the grams") {
    // the past-broadcast-scale contract: the gram lookup becomes a
    // SHUFFLED HASH join — no broadcast of a too-big benchmark, and no
    // sort-merge (which would sort the full corpus gram explosion for an
    // order-free lookup)
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
    val p = ops.Curation.contaminationCheck(
      docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
      n = 5, broadcastBenchmark = false)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("order_limit runs as TakeOrderedAndProject, not global sort") {
    val p = plan("order_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bucketed_join joins and aggregates with zero shuffle exchange") {
    // the write-once bucketed layout's whole claim: both sides pre-hashed
    // and pre-sorted into matching buckets, so the sort-merge join AND the
    // following groupBy run without any hash-partitioning Exchange; the
    // only Exchange allowed is the final presentation sort's range
    // partitioning
    val p = plan("bucketed_join")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("ngram shingle sets are built in-row: zero Exchange before the band join") {
    // the 100 TB property behind the r3 rewrite: shingle construction is a
    // pure projection over the scan — no posexplode + window shuffle of
    // every token row. The only Exchanges in dedup_ngram are the slim band
    // self-join and the pair set-join-back, never the raw text.
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 3)
    val p = ops.Dedup.shingleSets(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("simhash fingerprints are a pure projection: no aggregation, no hash exchange") {
    // the shuffle-volume claim in Dedup.simhashFingerprints: the native
    // in-row fingerprint makes the whole relation a projection in the scan
    // stage — a refactor back to an explode + groupBy (or any shuffling
    // form) must fail. The only allowed Exchange is the display orderBy's
    // range partitioning.
    val p = plan("dedup_simhash")
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("simhash_fingerprint"), p)
  }

  test("repetition_stats runs the native linear counter, not interpreted lambdas") {
    // the counters must come from the one-pass codegen'd expression — a
    // regression back to the HOF formulation (quadratic top-bigram count,
    // every lambda interpreted) would show lambda machinery in the plan
    val p = plan("repetition_stats")
    assert(p.contains("ngram_rep_counts"), p)
    assert(!p.contains("lambdafunction"), p)
  }

  test("vocab_topk combines map-side and cuts with TakeOrderedAndProject") {
    // the word-count scale claims: partial aggregation before the token
    // shuffle (one row per distinct token per partition) and a partial
    // top-k cut instead of a global sort
    val p = plan("vocab_topk")
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ngram_lm_score builds bigrams in-row and aggregates map-side") {
    // the 100 TB properties: bigram pairs come from a transform over the
    // tokens array (no posexplode + lead window — a Window node here means
    // the corpus text shuffles before a single pair exists), and both
    // count tables combine partially before their exchanges
    val p = plan("ngram_lm_score")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("image decode and resize are scan-stage object pipelines: zero Exchange") {
    // the multimodal decode contract at 100 TB: per-row codec work rides
    // the scan stage as a typed mapPartitions — no shuffle of the binary
    // payloads, ever (the checked keys add only the presentation sort)
    val assets = ops.Multimodal.imageAssets(spark, sf)
    Seq(
      "decodeImages" -> ops.Multimodal.decodeImages(assets),
      "decodeJpeg" -> ops.Multimodal.decodeImages(
        ops.Multimodal.jpegAssets(spark, sf), payloadCol = "jpeg"),
      "resizeImages" -> ops.Multimodal.resizeImages(assets, 4, 4))
      .foreach { case (name, df) =>
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("Exchange"), s"$name shuffles:\n$p")
        assert(p.contains("MapPartitions"), s"$name lost its batch loop:\n$p")
      }
  }

  test("ml_assembler evaluates the vector conversion exactly once") {
    // two UDF invocations total: the VectorAssembler itself and ONE hoisted
    // vector_to_array — four inlined copies (one per element_at slot) would
    // show four
    val p = plan("ml_assembler")
    val n = "UDF\\(".r.findAllIn(p).length
    assert(n == 2, s"expected 2 UDF invocations, got $n in:\n$p")
  }

  test("quantile_bins_approx holds no exact per-group percentile buffer") {
    // the operator's whole point vs quantile_bins: the sketch aggregate is
    // bounded-memory (no per-group sorted buffer), the certificate pass
    // counts map-side, and the 5-row quartile frame broadcasts back — the
    // fact table never shuffles
    val p = plan("quantile_approx")
    assert(p.contains("approx_percentile"), p)
    assert(!"(?<![a-z_])percentile\\(".r.findAllIn(p).hasNext,
      s"exact percentile (sorted per-group buffer) found in:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("daily_counts aggregates map-side with one hash exchange") {
    val p = plan("daily_counts")
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("broadcast-stats transforms never shuffle the fact table") {
    // anomaly_zscore / minmax_scale: the group-stats side aggregates
    // map-side and broadcasts back; a regression to a shuffled join would
    // repartition the whole fact table by the group key
    Seq("anomaly_zscore", "minmax_scale").foreach { k =>
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin"), s"$k:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$k:\n$p")
      // the only hash exchange feeds the tiny stats aggregate
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
        s"$k:\n$p")
    }
  }

  test("zorder_layout broadcasts 4 scalars back and aggregates with one" +
      " hash exchange") {
    // the stats side is a 1-row aggregate broadcast back over the fact
    // (the minmax_scale pattern); the z computation is pure in-row long
    // arithmetic; the only hash exchange feeds the 256-run aggregate
    val p = plan("zorder_layout")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("profileApprox serving form: one scan, hash-agg only, no sort-agg, no Expand") {
    // the 100 TB serving profile's whole contract: per-column state is an
    // HLL sketch + two longs, aggregated in the hash regime — an exact
    // countDistinct slipping back in would show as an Expand (multi-agg
    // rewrite) and O(cardinality) state; string min/max would force
    // SortAggregate. The certified form pays those knowingly; the serving
    // form must never.
    val p = ops.Lifecycle.profileApprox(
      Tables.table(spark, sf, "orders"),
      Seq("o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("Expand"), p)
    assert(!p.contains("count(distinct"), p)
  }

  test("join_bloom probes the sketch in the fact scan stage, never cartesian") {
    // the bloom membership probe must be an in-row Filter on the fact
    // branch (map-side, before any exchange/join) — the native
    // might_contain expression, not a UDF — and the exact rescue join
    // must never degenerate to a cartesian product
    val p = plan("join_bloom")
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("UDF"), p.take(2000))
  }

  test("sim_search_quant graded key plans int8 prescan + broadcast certificate") {
    // the GRADED form (exact path + quant path + recall certificate):
    // the int8 kernel must actually be in the driver-checked plan, both
    // scans cut to their pools via WindowGroupLimit before the window
    // exchanges, every probe join rides a broadcast, and the certificate's
    // left join broadcasts the ≤ k·probes approx side — nothing in the
    // checked key may cartesian or sort-merge
    val p = plan("sim_search_quant")
    assert(p.contains("dot_product_int8"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("profile_approx graded key: one scan, hash regime, no string sort-agg") {
    // the certified form pays the multi-distinct Expand KNOWINGLY (exact
    // countDistinct per column is what certifies the sketches) — but it
    // must still be ONE pass over the table, all-hash aggregation, and
    // join-free; regressing to per-column scans or a SortAggregate would
    // break the one-scan certification story
    val p = plan("profile_approx")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Expand"), p) // the documented certification price
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("dedup_embed_incremental plans the quantized prescan, never cartesian") {
    // the checked key runs exact + quant paths and the decision-agreement
    // join; the quant path's int8 prescan and pool cut must survive in
    // the graded plan, probes must broadcast, and nothing may cartesian
    // (the agree join on per-new-vec frames may legitimately sort-merge —
    // both sides scale with the batch)
    val p = plan("dedup_embed_incremental")
    assert(p.contains("dot_product_int8"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("heavy_hitters cuts its exact top-k partially, broadcasts the estimates") {
    // the returned plan's claims: per-key counts combine map-side, the
    // top-k is a TakeOrderedAndProject (every partition forwards only its
    // own candidates — no global sort), and the k-row estimate frame joins
    // back broadcast; nothing may sort-merge or cartesian
    val p = plan("heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("IVF-composed embed dedup candidates come from the cluster equi-join") {
    // the composition's entire point: the int8 prescan's candidate stage
    // is a BroadcastHashJoin ON THE CLUSTER ID (corpus rows in probed
    // clusters only) — the one BroadcastNestedLoopJoin allowed is the
    // probe × IvfClusters centroid ranking. A regression back to the
    // corpus-wide probe cross-join would show a second BNLJ and lose the
    // cluster-keyed hash join.
    import org.apache.spark.sql.functions.col
    val p = graft.ops.Dedup.dedupEmbedIncrementalIvf(
        SparkSpec.spark, sf, col("vec_id") % 2 === 1, tau = 0.42, rerank = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("dot_product_int8"), p)
    assert("BroadcastHashJoin \\[cluster#".r.findAllIn(p).nonEmpty, p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("set ops never sort their inputs or go nested-loop") {
    Seq("intersect_all", "except_all").foreach { k =>
      val p = plan(k)
      // Spark plans bag set-ops as union → count-aggregate → Generate
      // replicate: aggregates with map-side partials, one hash exchange,
      // never a SortMergeJoin of the raw inputs or a nested loop
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"$k:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$k:\n$p")
    }
  }

  test("dedup_lines censuses by line hash and never nested-loops the lines") {
    // the SCALE.md story: census shuffle keyed on md5(line) with
    // map-side partial distinct; the boilerplate lookup is never a
    // nested loop / cartesian; rebuild is a hash exchange on doc_id.
    // (The lookup join regime itself is AQE's runtime call — broadcast
    // at harness sizes — so the pin is on the hazards, not the winner.)
    val p = plan("dedup_lines")
    assert(p.contains("partial_count(distinct"), p)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("dedup_spans builds grams in-row, censuses by hash, no nested loop") {
    // grams must come from an in-row transform (no window/posexplode of
    // raw text before hashing), the census runs partial distinct, and
    // nothing degenerates to a cartesian/nested-loop
    val p = plan("dedup_spans")
    assert(p.contains("partial_count(distinct"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("the line and span self forms plan their empty census away") {
    // dedup_lines / dedup_spans / dedup_spans_strip are their incremental
    // forms over the census of no documents, an EMPTY LocalRelation:
    // PropagateEmptyRelation must drop that join from the optimized plan,
    // leaving the self forms' own join and exchange counts (pinned)
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
    Seq("dedup_lines" -> (5, 1), "dedup_spans" -> (6, 2),
        "dedup_spans_strip" -> (6, 2)).foreach { case (key, (ex, jn)) =>
      val qe = SparkEntry.queries(key)(spark, sf).queryExecution
      val o = qe.optimizedPlan
      assert(o.collect { case r: LocalRelation => r }.isEmpty &&
        o.collect { case j: Join => j }.size == jn,
        s"$key still joins its census:\n$o")
      val p = qe.executedPlan.toString
      assert("Exchange".r.findAllIn(p).size == ex, s"$key exchanges:\n$p")
      assert("\\w*Join\\b".r.findAllIn(p).size == jn, s"$key joins:\n$p")
    }
  }

  test("quality_score_lm is a scan-stage projection: zero Exchange") {
    // the frozen scorer (literal weight vector + in-row fold) must stay
    // in the scan's codegen pipeline — no shuffle on the unordered form
    val docs = graft.Tables.table(spark, sf, "documents")
    val p = graft.ops.TextAnalysis.qualityScoreLm(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("cap_per_host cuts to the cap with map-side group-limit before" +
      " its one host exchange") {
    // the C4 per-domain cap must be the window_top1 physical shape:
    // InferWindowGroupLimit's partial top-k runs map-side so a skewed
    // giant host never ships more than ~k rows per map partition, and
    // the whole plan carries exactly one shuffle (the host window)
    val p = plan("cap_per_host")
    assert(p.contains("WindowGroupLimit"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("build_postings cuts posting heads map-side; shuffle_deterministic" +
      " never funnels the corpus through one partition") {
    // the posting-head cut must be the group-limit shape (a stopword's
    // full posting list must never ship), and the global shuffle's only
    // SinglePartition exchange must be the 256-row bucket histogram —
    // the corpus side sees hash exchanges only
    val pp = plan("build_postings")
    assert(pp.contains("WindowGroupLimit"), pp)
    val ps = plan("shuffle_deterministic")
    assert("Exchange SinglePartition".r.findAllIn(ps).size == 1, ps)
    assert(ps.contains("BroadcastHashJoin"), ps) // offsets ride broadcast
    // the manifest inherits the same two-phase ranking: its ONLY
    // SinglePartition step is still the 256-row bucket histogram
    val pm = plan("shard_manifest")
    assert("SinglePartition".r.findAllIn(pm).size == 1, pm)
    assert(!pm.contains("CartesianProduct"), pm)
  }

  test("search_lexical scores via broadcast query joins, cuts top-k" +
      " map-side, never cartesian") {
    // the <= qn*3-row query/weight frames must ride broadcasts into the
    // token stream (the full-corpus token aggregate never runs), and
    // the per-query page cut must be the group-limit shape
    val p = plan("search_lexical")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("search_bm25 keeps search_lexical's broadcast shape with the" +
      " 1-row stats frame broadcast back") {
    // the query/weight frames and the (S, N) scalar frame must all ride
    // broadcasts — the corpus token stream never shuffles for them —
    // and the top-k cut stays the group-limit shape
    val p = plan("search_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the 1-row stats
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pack_gather_ids ships ids through one doc_id hash join — no" +
      " cartesian, nothing corpus-sized through one partition") {
    val p = plan("pack_gather_ids")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("epoch_order runs the two-phase ranking per epoch: exactly two" +
      " SinglePartition exchanges, both 256-row histograms") {
    val p = plan("epoch_order")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 2, p)
    assert(p.contains("BroadcastHashJoin"), p) // offsets ride broadcasts
    assert(!p.contains("CartesianProduct"), p)
  }

  test("anchor_text cuts anchor heads map-side, never cartesian") {
    // the head cut must be the group-limit shape — a hub page every
    // site links to ships ~cap distinct anchors per map partition, not
    // its full in-link anchor multiset; the only cross joins are the
    // planted graph's 1-row stats broadcasts
    val p = plan("anchor_text")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cluster_kmeans_int assigns via broadcast centroids, never cartesian") {
    // every assignment is the in-row argmin against the broadcast 1-row
    // centroid array (BroadcastNestedLoopJoin on a single row — the
    // broadcast-stats shape), and the only shuffles are the per-iteration
    // (cluster, pos) update aggregates; the corpus never cross-joins
    val p = plan("cluster_kmeans_int")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the frozen-centroid batch form keeps the same serve shape: the
    // batch side's only join is the 1-row centroid broadcast
    val pb = plan("cluster_assign_batch")
    assert(pb.contains("BroadcastNestedLoopJoin"), pb)
    assert(!pb.contains("CartesianProduct"), pb)
    spark.catalog.clearCache()
  }

  test("sample_cluster_balanced cuts clusters map-side (group-limit)") {
    // the rank≤cap filter must plan as WindowGroupLimit so a
    // mega-cluster ships ~cap rows per map partition into the window
    // exchange, never its membership; and the composed clustering
    // keeps its never-cartesian discipline
    val p = plan("sample_cluster_balanced")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("page_rank: stats broadcast back, iterations are hash joins," +
      " never cartesian") {
    // the 1-row max-id stats frame rides a broadcast (the zorder
    // discipline); the per-iteration rank joins and the degree joins
    // are equi-joins — a cartesian anywhere would be quadratic in the
    // corpus
    val p = plan("page_rank")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row stats cross
    spark.catalog.clearCache() // release the persisted edge frame
  }

  test("semantic dedup keys: centroids broadcast back, pairs are" +
      " cell-keyed, never cartesian") {
    // both semantic forms: cell assignment is a scan-stage projection,
    // the (rounded) cell means come back via a BROADCAST hash join
    // (explicit hint — the means frame is cells-count rows), and the
    // pair/neighbor steps are equi-joins keyed on the cell id in
    // whatever regime the stats pick — never a cartesian/nested-loop
    // over vectors
    Seq("dedup_semantic", "dedup_semantic_incremental").foreach { k =>
      val p = plan(k)
      assert(p.contains("BroadcastHashJoin"), s"$k:\n$p")
      assert(!p.contains("CartesianProduct"), s"$k:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$k:\n$p")
    }
  }

  test("video dedup keys: the pair joins are banded, never cartesian") {
    // both video forms compose decode-loop hashing with the banded
    // hamming join — keyed on (band_idx, band_val) in whatever regime
    // the stats pick, never a cartesian/nested-loop over keyframes
    Seq("dedup_video", "dedup_video_incremental").foreach { k =>
      val p = plan(k)
      assert(
        "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[band_idx"
          .r.findAllIn(p).nonEmpty, s"$k:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$k:\n$p")
    }
    spark.catalog.clearCache() // both keys persist their plant/bands
  }

  test("audio dedup keys: the pair joins are banded, never cartesian") {
    // the audio rung composes decode-loop windowing with the family's
    // banded hamming join — keyed on (band_idx, band_val) in whatever
    // regime the stats pick, never a cartesian/nested-loop over segments
    Seq("dedup_audio", "dedup_audio_incremental").foreach { k =>
      val p = plan(k)
      assert(
        "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[band_idx"
          .r.findAllIn(p).nonEmpty, s"$k:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), s"$k:\n$p")
    }
    spark.catalog.clearCache() // both keys persist their plant/fingerprints
  }

  test("pack_gather_epoch: global cumsum is two-phase — every " +
      "SinglePartition exchange carries a bounded aggregate") {
    // the plan text duplicates the shared rank subtree per consumer, so
    // the SinglePartition count is a planner artifact; the scale
    // invariant is that EVERY such exchange sits directly above a
    // HashAggregate (the 256-row bucket histograms / totals and the
    // 1-row instance count) — never raw corpus rows funneling into one
    // partition
    val p = plan("pack_gather_epoch")
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles > 0, p)
    val bounded =
      "Exchange SinglePartition[^\\n]*\\n[^\\n]*HashAggregate"
        .r.findAllIn(p).length
    assert(bounded == singles,
      s"$bounded of $singles SinglePartition exchanges bounded:\n$p")
    // the 1-row instance-count broadcast rides a BroadcastNestedLoopJoin
    // by design (the anomaly_zscore stats pattern) — only a true
    // cartesian over data-sized sides is forbidden
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quality_train_lm: bucket counts combine map-side, totals and " +
      "the dense spine attach via broadcast") {
    val p = plan("quality_train_lm")
    assert(p.contains("partial_count"), p) // map-side combine of tokens
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p) // 1-row totals broadcast
    // the token explosion must never sort-merge against the 1024-row
    // spine — the corpus-sized side ships once through the bucket agg
    assert(!p.contains("CartesianProduct"), p)
  }

  test("image hash keys: decode is scan-stage; the pair join is banded") {
    // mm_phash (unordered core via dHashImages): per-row decode work
    // inside mapPartitions, no shuffle
    val hashed = graft.ops.Multimodal.dHashImages(
      graft.ops.Multimodal.noiseAssets(spark, sf).filter(
        org.apache.spark.sql.functions.col("role") === "corpus"),
      "img_id", "payload")
    val ph = hashed.queryExecution.executedPlan.toString
    assert(!ph.contains("Exchange"), ph)
    // dedup_image: the self-join must be the banded EQUI-join — keyed on
    // (band_idx, band_val) in whatever regime the stats pick (broadcast
    // at suite scale, shuffled hash at corpus scale) — never a
    // cartesian/nested-loop of images
    val p = plan("dedup_image")
    assert(
      "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[band_idx"
        .r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("search_hybrid: broadcast substrates, partial top-k on every " +
      "rank cut, never cartesian") {
    // the 100 TB properties: the BM25 side rides broadcast query/weight
    // joins (the search_lexical shape), the vector side is the broadcast
    // probe cross (the sim_search shape), every rank cut is a
    // WindowGroupLimit partial top-k, and the fusion join sees only the
    // two ≤ qn·k candidate frames — a CartesianProduct anywhere means a
    // substrate lost its broadcast
    val p = plan("search_hybrid")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("image doc-level dedup plans the banded equi-join, never " +
      "cartesian") {
    // the mixed-modality flagship's image ladder: the self-join must key
    // on (band_idx, band_val) — the dedup_image contract on the doc
    // surface
    val imgs = graft.ops.Multimodal.pairImages(
      Tables.table(spark, sf, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id")).limit(64))
    val p = graft.ops.Multimodal.dedupImageDocsOn(imgs, 3L)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(
      "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[band_idx"
        .r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("dedup_media_onstate probes the parquet-landed state with banded " +
      "equi-joins, never cartesian") {
    // the graded production probe: the corpus side must arrive as a
    // parquet SCAN of the landing (the maintained table, not an in-key
    // re-derivation), every probe join must key on (band_idx, band_val)
    // (AQE picks the build side by size — at 100 TB that is the batch),
    // and nothing may fall back to a cartesian/nested-loop product
    val p = plan("dedup_media_onstate")
    spark.catalog.clearCache()
    assert("(?i)filescan parquet|scan parquet".r.findAllIn(p).nonEmpty, p)
    assert(
      "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[band_idx"
        .r.findAllIn(p).size >= 3, p) // one probe join per modality
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("search_bm25_onstate serves from the landed index: parquet scans, " +
      "token-keyed broadcast joins with the landed side streamed, never " +
      "cartesian") {
    import graft.ops.TextAnalysis
    val p = TextAnalysis.searchBm25OnState(spark, sf)
      .queryExecution.executedPlan.toString
    // the landed tables arrive as parquet scans (postings, census,
    // stats + the query-frame documents scan)
    assert("(?i)filescan parquet|scan parquet".r.findAllIn(p).size >= 3, p)
    // both landed-table probes are token-keyed BROADCAST joins (the
    // ≤ qn×3 query frame broadcasts), so the landed side is STREAMED —
    // no Exchange, no Sort on it; an SMJ on token would mean the landed
    // scan got shuffled for a 48-row probe
    assert("BroadcastHashJoin(\\(\\d+\\))? \\[token".r
      .findAllIn(p).size >= 2, p)
    assert(!"(SortMergeJoin|ShuffledHashJoin)(\\(\\d+\\))? \\[token".r
      .findAllIn(p).hasNext, p)
    assert(!p.contains("CartesianProduct"), p)
    spark.catalog.clearCache()
  }

  test("corpus_states_onstate probes the parquet-landed text states " +
      "with keyed equi-joins, never cartesian") {
    // the graded key's stage boundaries are eager checkpoints, so the
    // final manifest plan cannot show the state leaves — pin each state
    // PROBE's plan over the same landed tables the key reads (the
    // dedup_media_onstate template on the text axis): the maintained
    // census must arrive as a parquet SCAN (a table, not an in-key
    // re-derivation) and the probe must key on the census hash column
    import graft.ops.{Curation, Dedup, Web}
    import org.apache.spark.sql.functions.col
    val landing = Curation.textStatesLanding(spark, sf)
    val docs = Tables.table(spark, sf, "documents")
    val batch = docs
      .filter(col("doc_id") >= 20 && col("text").isNotNull &&
        col("doc_id") % 2 === 1)
    def pinProbe(p: String, key: String): Unit = {
      assert("(?i)filescan parquet|scan parquet".r.findAllIn(p).nonEmpty,
        s"state did not arrive as a parquet scan:\n$p")
      assert(
        s"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[$key"
          .r.findAllIn(p).nonEmpty ||
          s"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)(\\(\\d+\\))? \\[$key"
            .r.findAllIn(p).nonEmpty,
        s"probe is not an equi-join on $key:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"), p)
    }
    // frontier screen vs the landed URL census (keyed on url_norm)
    pinProbe(Web.dedupUrlIncrementalOn(
        spark.read.parquet(s"$landing/url_census"),
        Web.urlStructured(batch))
      .queryExecution.executedPlan.toString, "url_norm")
    // line screen vs the landed line census (keyed on lh)
    pinProbe(Dedup.dedupLinesIncrementalOn(
        spark.read.parquet(s"$landing/line_census"),
        batch.select(col("doc_id"), col("text")), 2L)
      .queryExecution.executedPlan.toString, "lh")
    // span screen vs the landed span census (keyed on gh)
    pinProbe(Dedup.dedupSpansStripIncrementalOn(
        spark.read.parquet(s"$landing/span_census"),
        batch.select(col("doc_id"), col("text")), Dedup.SpanGram)
      .queryExecution.executedPlan.toString, "gh")
    spark.catalog.clearCache()
  }

  test("global-window boundedness sweep (r20 verdict #6): every " +
      "unpartitioned window the engine executes runs over a " +
      "constant-bounded frame") {
    // The engine has exactly FOUR Window.orderBy (no partition) sites —
    // the source of every 'WindowExec: No Partition Defined' warning —
    // each structurally bounded BEFORE the window:
    //  1. Packing.shuffleDeterministicOn — bucket offsets over
    //     substring(md5, 1, 2): ≤ 256 rows at ANY corpus size (reps:
    //     shuffle_deterministic, and the manifest tail of every
    //     composed corpus key)
    //  2. Packing's epoch cumsum — offsets over CumsumBuckets ranges
    //     (reps: pack_gather_epoch — pinned above — and
    //     pack_gather_ids/epoch_order/pack_sequences/mix_sample)
    //  3. Clustering.initCentroids — limit(k) seed frame: k rows
    //     (reps: cluster_kmeans_int, cluster_assign_batch)
    //  4. TextAnalysis's two-phase value-range ranking — ≤ 257 range
    //     rows (reps: quality_pipeline, sample_quality_buckets)
    // For each representative key, every Exchange SinglePartition in
    // the executed plan must sit directly above a bounded producer — a
    // HashAggregate (bucket/range histogram, stats row) or a limit —
    // never raw corpus rows funneling into one partition (the
    // pack_gather_epoch pin generalized).
    for (k <- Seq("shuffle_deterministic", "pack_gather_ids",
        "epoch_order", "pack_sequences", "mix_sample",
        "cluster_kmeans_int", "cluster_assign_batch",
        "quality_pipeline", "sample_quality_buckets")) {
      val p = plan(k)
      val singles = "Exchange SinglePartition".r.findAllIn(p).length
      val bounded =
        ("Exchange SinglePartition[^\\n]*\\n[^\\n]*" +
          "(HashAggregate|SortAggregate|ObjectHashAggregate|" +
          "GlobalLimit|LocalLimit|TakeOrderedAndProject)")
          .r.findAllIn(p).length
      assert(bounded == singles,
        s"$k: $bounded of $singles SinglePartition exchanges " +
          s"bounded:\n$p")
      spark.catalog.clearCache()
    }
  }

}
