package graft.ops

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH, NGram}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Boundaries
import graft.Tables.table

/** §2j deduplication operators for LLM training-data pipelines
  * (SURVEY §2j; north-star extensions beyond the reference surface).
  *
  * Scale design (the point of each method):
  *  - exact: one shuffle keyed by a 256-bit content hash — state per key is
  *    O(1), no driver involvement, works at any corpus size.
  *  - MinHash+LSH: candidate generation is a band-bucket equi-join (shuffle
  *    on hash-band values), never an all-pairs product; pair count is
  *    bounded by bucket collisions, not N².
  *  - SimHash: per-doc 64-bit fingerprint via a native in-row expression
  *    (one pass over the token array inside the scan stage, zero shuffle);
  *    banding the fingerprint turns near-dup search
  *    into 4 equi-joins, exact for hamming ≤ 3.
  *  - n-gram Jaccard: exact verification, but only on candidate pairs
  *    blocked by three conjunctive two-minima MinHash bands (hot-block-
  *    proof AND higher recall than single-min blocking for J ≥ 0.5).
  *  - embedding cosine: LSH-bucketed candidate join (random hyperplane
  *    projections), exact cosine re-scored only on candidates.
  */
object Dedup {

  private val LshSeed = 42L

  /** Exact dedup on a SHA-256 content hash: keep the lowest doc_id per hash.
    * `ROW_NUMBER over (partition by hash)` is the deterministic, scalable
    * form of `dropDuplicates` (which keeps an arbitrary row).
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    dedupExactOn(table(spark, sfDir, "documents"))

  /** Unordered keep-min core of exact dedup over any (doc_id, text, …)
    * frame — what pipeline compositions consume: a mid-pipeline global
    * sort is presentation-only waste (at 100 TB it is a full range
    * exchange of the survivor corpus), so the ordering lives only in the
    * display wrapper below.
    */
  private[graft] def dedupExactKeepMin(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    docs
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Ordered form of [[dedupExactKeepMin]] — exposed package-private so
    * the tie-break (keep the LOWEST doc_id per hash) is testable on a
    * fixture that actually contains duplicates.
    */
  private[graft] def dedupExactOn(docs: DataFrame): DataFrame =
    dedupExactKeepMin(docs).orderBy(col("doc_id"))

  /** Documents with word tokens; drops docs too short to shingle. */
  private def tokenized(spark: SparkSession, sfDir: String): DataFrame =
    tokenizedDocs(table(spark, sfDir, "documents"))

  /** Same, over any `(doc_id, text)` frame — the entry the API forms of
    * the shingle-based dedup family share.
    */
  private def tokenizedDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 3)

  /** MinHash+LSH near-duplicate pairs: word 3-gram shingles → binary
    * HashingTF (2^18 dims) → MinHashLSH(5 tables) → band-bucket similarity
    * join at Jaccard distance ≤ 0.5. The harness corpus plants near-dup
    * pairs at Jaccard ≈ 0.99 with nothing else above 0.1, so the threshold
    * is robust across scale factors.
    */
  def dedupNear(spark: SparkSession, sfDir: String): DataFrame =
    dedupNear(table(spark, sfDir, "documents"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** API form: MinHash+LSH near-dup pairs over any `(doc_id, text)` frame
    * — unordered.
    */
  def dedupNear(docs: DataFrame): DataFrame = {
    val shingled = new NGram().setN(3)
      .setInputCol("tokens").setOutputCol("shingles")
      .transform(tokenizedDocs(docs))
    // prune to the two columns the join needs; the expensive shingle→TF
    // lineage is materialized exactly once, via the persisted `hashed`
    // frame below (MinHashLSH.fit only reads one row for the dimension)
    val featured = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
      .transform(shingled)
      .select(col("doc_id"), col("features"))
    val model = new MinHashLSH()
      .setInputCol("features").setOutputCol("minhashes")
      .setNumHashTables(5).setSeed(LshSeed)
      .fit(featured)
    // pre-transform once, persist, reuse on both sides — the join skips
    // its own transform when the minhashes column is already present
    val hashed = model.transform(featured).persist()
    model.approxSimilarityJoin(hashed, hashed, 0.5, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(col("jaccard_dist"), 6).as("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
  }

  /** 64-bit SimHash fingerprint per document, plus 4×15-bit bands
    * over the 60 real hash bits.
    * Classic Charikar construction: each token hash votes ±1 per bit
    * position;
    * fingerprint bit i is the sign of vote i. All higher-order functions —
    * stays in the scan stage, zero shuffle; near-dup candidates are then
    * `GROUP BY band` equi-joins (any band equal ⇒ hamming ≤ 3 candidates
    * by pigeonhole over 4 bands).
    */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    dedupSimhash(table(spark, sfDir, "documents")).orderBy(col("doc_id"))

  /** API form: fingerprint + bands over any `(doc_id, text)` frame —
    * unordered.
    */
  def dedupSimhash(docs: DataFrame): DataFrame = simhashFingerprints(docs)

  /** Unordered fingerprint+bands relation — the shared core of the
    * fingerprint key and the banded pair join (which must not pay the
    * display ordering's Exchange+Sort).
    *
    * The fingerprint is a native in-row expression
    * ([[graft.functions.SimhashFingerprint]]): one pass over the token
    * array per document, inside the scan stage — no token explode, no
    * 64-aggregate groupBy, ZERO shuffle (plan-guarded). Earlier forms paid
    * either tokens×64 interpreted lambda calls (HOFs) or a 64-conditional-
    * sum aggregation shuffling 64 longs per doc per partition (exploded
    * rows); the native pass does the same arithmetic as tight JVM code and
    * is suite-pinned bit-equal to the exploded formulation.
    *
    * The token hash is md5-derived (first 15 hex chars = 60 bits; md5 hex
    * is engine-identical) rather than xxhash64 so the fingerprints are
    * cross-engine checkable — this key and the banded pairs run under the
    * full DuckDB hash oracle. Bits 60–63 are structurally 0, so the bands
    * are 4×15 bits over the 60 REAL bits (bits 0–59): uniform bucket
    * cardinality per band (a 16-bit band over bits 48–63 would collapse to
    * 12 effective bits — 16× the candidate volume in that band at scale).
    * Pigeonhole is preserved: a pair at hamming ≤ 3 differs in ≤ 3 of the
    * 60 real bits, leaving at least one of the 4 bands intact.
    */
  private def simhashFingerprints(docs: DataFrame): DataFrame =
    tokenizedDocs(docs)
      .select(col("doc_id"),
        graft.functions.StringMath.simhashFingerprint(col("tokens"))
          .as("simhash"))
      .select(
        col("doc_id"),
        col("simhash"),
        expr("simhash & 32767").as("band0"),
        expr("shiftright(simhash, 15) & 32767").as("band1"),
        expr("shiftright(simhash, 30) & 32767").as("band2"),
        expr("shiftright(simhash, 45) & 32767").as("band3"))

  /** SimHash near-dup PAIRS: completes `dedupSimhash` with the banded
    * self-join. Each doc emits its 4×15-bit bands; candidates are pairs
    * agreeing on ANY band (4 equi-joins expressed as one unpivoted join —
    * by pigeonhole every pair at hamming ≤ 3 shares at least one intact
    * band), then the exact hamming distance over the 64-bit fingerprints
    * filters to ≤ 3. Pairs colliding in several bands are deduped with a
    * groupBy on the pair key, not `distinct` over the whole row.
    */
  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    dedupSimhashPairs(table(spark, sfDir, "documents"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** API form: banded hamming ≤ 3 pairs over any `(doc_id, text)` frame —
    * unordered.
    */
  def dedupSimhashPairs(docs: DataFrame): DataFrame = {
    val fp = simhashFingerprints(docs).persist()
    val banded = fp.select(col("doc_id"), col("simhash"),
        posexplode(array(col("band0"), col("band1"), col("band2"),
          col("band3"))).as(Seq("band_idx", "band_val")))
    val a = banded.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 3)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("hamming")).as("hamming"))
  }

  /** Number of independent conjunctive blocking bands for `dedupNgram`. */
  private val NgramBands = 3

  /** Per-doc shingle-hash sets + blocking keys: for each of `NgramBands`
    * independent hash functions (the canonical shingle hash salted with the
    * band index), the TWO smallest values.
    *
    * Requiring candidates to share BOTH minima within a band means a single
    * boilerplate shingle shared corpus-wide — a header, a license line —
    * cannot collapse everything into one quadratic block in ANY band: the
    * second minimum still separates unrelated docs. A single conjunctive
    * band costs recall (collide prob ≈ J² < J), so three independent bands
    * are OR-ed in `ngramPairs`: collide prob = 1−(1−J²)³, which beats
    * single-minimum blocking (prob J) for every J ≥ 0.5 — exactly the
    * range the operator reports (0.993 vs 0.9 at J=0.9).
    * Input: (doc_id, tokens). Exposed package-private for the hot-block
    * boundedness test.
    */
  private[graft] def shingleSets(docs: DataFrame): DataFrame = {
    // Shingle hashes are built IN-ROW from the `tokens` array with
    // higher-order functions — a pure projection, ZERO shuffle (plan-guarded
    // in PlanSpec). The earlier exploded-rows form (posexplode + lead window
    // + re-group) kept row expressions in whole-stage codegen (~3× less CPU
    // per shingle than interpreted lambda bodies) but its window forced an
    // `Exchange hashpartitioning(doc_id)` of EVERY token row — at 100 TB
    // that is the whole corpus' text crossing the wire before a single
    // shingle exists. A constant CPU factor is the right price for removing
    // a corpus-sized shuffle. Shingles are carried as 64-bit hashes; set
    // ops on fixed i64s beat variable-length strings and the Jaccard
    // estimate is exact up to 2^-64 collisions.
    val shingles = array_distinct(
      transform(sequence(lit(0), size(col("tokens")) - 3),
        i => xxhash64(
          element_at(col("tokens"), i + 1),
          element_at(col("tokens"), i + 2),
          element_at(col("tokens"), i + 3))))
    val bandCols = (0 until NgramBands).flatMap { k =>
      // two smallest salted hashes of the DISTINCT shingle set (matching
      // the previous collect_set semantics up to 64-bit collisions)
      val bh = array_sort(array_distinct(
        transform(col("shingles"), s => xxhash64(s, lit(k)))))
      Seq(element_at(bh, 1).as(s"b${k}m1"),
        // singleton-shingle docs block on (min, min); try_element_at is the
        // ANSI-safe out-of-bounds probe (element_at would throw)
        coalesce(try_element_at(bh, lit(2)), element_at(bh, 1))
          .as(s"b${k}m2"))
    }
    docs
      .select(col("doc_id"), shingles.as("shingles"))
      .select(col("doc_id") +: col("shingles") +: bandCols: _*)
  }

  /** Unpivots a `shingleSets` frame to one row per (doc, band) with that
    * band's two-minima key — the join/unpivot shape shared by `ngramPairs`
    * and the hot-block boundedness test. Deliberately SLIM: only
    * (doc_id, band, m1, m2) — the heavy shingle arrays must not ride
    * through the 3-band explode or the collision join (at 100 TB the band
    * frame is what crosses the wire; the sets are joined back by doc_id
    * once per SURVIVING pair in `ngramPairs`).
    */
  private[graft] def bandKeys(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
        posexplode(array((0 until NgramBands).map(k =>
          struct(col(s"b${k}m1").as("m1"), col(s"b${k}m2").as("m2"))): _*))
          .as(Seq("band", "bk")))
      .select(col("doc_id"), col("band"),
        col("bk.m1").as("m1"), col("bk.m2").as("m2"))

  /** Candidate join + exact Jaccard over a `shingleSets` frame; split from
    * `dedupNgram` so the blocking tests can run it over synthetic corpora.
    *
    * Shuffle-volume shape: the band self-join carries only the 4-long band
    * keys per side; candidate pairs are reduced to distinct (doc_a, doc_b)
    * ids BEFORE the shingle sets are joined back (by doc_id, once per
    * surviving pair) for the exact Jaccard. The shingle arrays therefore
    * cross the wire once per side, not 3× through the band explode plus
    * once per band collision.
    */
  private[graft] def ngramPairs(sh: DataFrame): DataFrame = {
    val bk = bandKeys(sh)
    val a = bk.select(col("band"), col("m1"), col("m2"),
      col("doc_id").as("doc_a"))
    val b = bk.select(col("band"), col("m1"), col("m2"),
      col("doc_id").as("doc_b"))
    val cands = a.join(b, Seq("band", "m1", "m2"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val sets = sh.select(col("doc_id"), col("shingles"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")),
        Seq("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))), 6))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact n-gram Jaccard near-dup pairs with two-minima blocking. The
    * shingle-set frame feeds three consumers (two band sides + the
    * set-join-back), so it is persisted; Bench/Verify release all op-level
    * caches via `spark.catalog.clearCache()` after consuming each query
    * (the documented cache-lifetime contract).
    */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame =
    dedupNgram(table(spark, sfDir, "documents"))

  /** API form: exact two-minima-blocked n-gram Jaccard pairs over any
    * `(doc_id, text)` frame (ordered by pair — the blocking join's output
    * order is not meaningful to preserve).
    */
  def dedupNgram(docs: DataFrame): DataFrame =
    ngramPairs(shingleSets(tokenizedDocs(docs)).persist())

  /** Min-label propagation over an undirected pair graph: returns one row
    * per distinct endpoint with the component's minimum doc_id as its
    * label. Each iteration is one distributed join+groupBy over the PAIR
    * graph only (candidates, not the corpus — at 100 TB the near-dup graph
    * is tiny next to the documents table); iteration count is bounded by
    * the component diameter, which for near-dup clusters at Jaccard ≥ 0.5
    * is small (duplicate groups are near-cliques). A 50-iteration cap
    * fails loudly rather than returning half-propagated labels — and with
    * the pointer-jump below it covers chains of ~2^49 hops, not 50.
    *
    * Lineage discipline: each iteration references the previous labels
    * frame FOUR times (neighbor-min join, left join, and both sides of the
    * shortcut self-join), so carrying the logical plan forward would grow
    * it 4× per round — `persist` does NOT truncate lineage, and by round 8
    * plan-tree stringification alone (AQE emits a plan description per
    * query) dominates runtime. Each round's labels are a lazy
    * [[graft.Boundaries]] boundary (`loopChk`): a flat `LogicalRDD` that
    * keeps every iteration's plan constant-size and materializes inside
    * the round's one `moved`-count job. Under
    * `graft.pipeline.reliableCheckpoint=true` every round checkpoints
    * reliably instead — state survives executor loss, at one
    * distributed-FS round-trip per iteration.
    */
  private[graft] def clusterLabels(pairs: DataFrame): DataFrame =
    Boundaries.scoped(pairs.sparkSession) { scope =>
      val edges = pairs.select(col("doc_a").as("s"), col("doc_b").as("t"))
        .union(pairs.select(col("doc_b").as("s"), col("doc_a").as("t")))
        .persist()
      var labels = scope.loopChk(edges.select(col("s").as("id")).distinct()
        .withColumn("lbl", col("id")))
      var iters = 0
      var converged = false
      while (!converged && iters < 50) {
        val nbrMin = edges
          .join(labels.select(col("id").as("t"), col("lbl").as("nlbl")), "t")
          .groupBy(col("s").as("id")).agg(min(col("nlbl")).as("nbr"))
        // prop needs no checkpoint of its own: labels is a flat LogicalRDD,
        // so this plan is constant-size even when the jump below references
        // it twice (the cost there is recomputing nbrMin once more in the
        // rare jumping rounds, not plan growth)
        val prop = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("nbr"), col("lbl"))).as("lbl"))
        // pointer-jump (path doubling): shortcut every label to its label's
        // label. Labels are always node ids of the same component (they
        // start as self-ids and only ever adopt other nodes' ids), so the
        // self-join resolves; each jumping round at least HALVES the
        // remaining label distance to the component minimum — convergence in
        // O(log diameter) instead of O(diameter). Engaged only from round 4:
        // near-dup components are near-cliques that converge in ≤3 plain
        // rounds (the common case pays zero extra joins), while a
        // pathological chain graph flips into doubling and still finishes
        // far inside the 50-round loud cap (≈ 3 + log₂(diameter) rounds).
        val next = scope.loopChk(
          if (iters < 3) prop
          else prop.join(
              prop.select(col("id").as("lbl"), col("lbl").as("lbl2")),
              Seq("lbl"), "left")
            .select(col("id"),
              least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
        // one action per iteration: count of labels that still moved
        val moved = next.join(labels.withColumnRenamed("lbl", "old"), "id")
          .filter(col("lbl") =!= col("old")).count()
        labels = next
        converged = moved == 0
        iters += 1
      }
      require(converged, s"clusterLabels did not converge in $iters iterations")
      edges.unpersist()
      scope.keep(labels)
    }

  /** Near-duplicate CLUSTERS: every document labeled with the minimum
    * doc_id of its connected component in the `dedupNgram` pair graph
    * (docs outside any pair label themselves). This is the operator a
    * dedup pipeline actually keys on — "keep one representative per
    * duplicate GROUP" needs the transitive closure of pairwise matches,
    * not the raw pairs. The iterative propagation runs on the candidate
    * subgraph only; the corpus-sized step is a single broadcast-friendly
    * left join of the (tiny) labels back onto documents.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clusterAssignments(spark, sfDir).orderBy(col("doc_id"))

  /** Unordered core of [[dedupClusters]] — pipeline compositions
    * (`dedupIncremental`, `corpus_clean`'s keep-rule) consume this; the
    * presentation sort lives only in the display wrapper.
    */
  private[graft] def clusterAssignments(spark: SparkSession,
      sfDir: String): DataFrame = {
    val pairs = dedupNgram(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val labels = clusterLabels(pairs)
    table(spark, sfDir, "documents")
      .select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  /** INCREMENTAL dedup — the shape a training-data pipeline actually runs:
    * a NEW batch of documents deduped against an already-curated corpus,
    * not a corpus against itself. Odd doc_ids stand in for the incoming
    * batch, even for the existing corpus (a deterministic split of the
    * harness table). An incoming doc survives iff its near-dup component
    * (transitive closure over the blocked exact-Jaccard pair graph of the
    * COMBINED corpus) contains no existing doc, and it is the minimum
    * incoming id of that component — i.e. both cross-corpus near-dups and
    * within-batch near-dups are collapsed in one rule.
    *
    * Scale shape: reuses the blocked pair graph + O(log diameter) cluster
    * labeling (candidates only, never all-pairs); the survivor filter is
    * one groupBy over the (tiny) label frame joined back to the incoming
    * side. At 100 TB the existing corpus contributes only its blocking
    * keys and labels — its text crosses the wire once for shingling, the
    * same as a self-dedup run.
    *
    * This form recomputes the COMBINED closure each run — correct, and the
    * oracle-checked key — but a daily pipeline that already holds
    * yesterday's labels should use the priorLabels overload below, whose
    * closure loop touches only edges involving the new batch.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = clusterAssignments(spark, sfDir)
      .withColumn("is_new", col("doc_id") % 2 === 1)
    val byCluster = clusters.groupBy(col("cluster_id")).agg(
      max(when(col("is_new"), 0).otherwise(1)).as("has_existing"),
      min(when(col("is_new"), col("doc_id"))).as("min_new"))
    clusters.filter(col("is_new"))
      .join(byCluster, Seq("cluster_id"))
      .filter(col("has_existing") === 0 && col("doc_id") === col("min_new"))
      .select(col("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** PRIOR-LABELS overload of [[dedupIncremental]] — the per-batch economy
    * a real crawl pipeline needs: yesterday's cluster labels for the
    * EXISTING corpus come in as `priorLabels` (doc_id, cluster_id over
    * existing docs only), and the closure loop runs ONLY over edges that
    * touch the incoming batch. Existing↔existing edges are never re-walked
    * — their transitive closure is already encoded in the labels — so each
    * existing endpoint is CONTRACTED to its prior cluster representative
    * and the iteration's graph is (new docs ∪ touched prior clusters),
    * O(batch candidates), not O(corpus candidates).
    *
    * Correctness: contracting the existing subgraph by its own closure is
    * a quotient homomorphism — two new docs are connected in the combined
    * graph iff they are connected in the contracted graph, and a new doc's
    * component contains an existing doc iff its contracted component
    * contains a cluster representative (even node). Survivors and their
    * labels therefore equal the full-recompute form exactly
    * (ExtensionsSpec pins the equality on the harness corpus; the
    * `dedup_incremental` key keeps the recompute form so its oracle is
    * unchanged).
    *
    * At 100 TB the same quotient applies to pair GENERATION: only blocks
    * containing at least one new doc need candidate pairs at all. Here the
    * harness pair frame is filtered post-hoc (it exists per corpus); the
    * closure-side economy — labels instead of re-walked edges — is what
    * this overload delivers.
    */
  def dedupIncremental(spark: SparkSession, sfDir: String,
      priorLabels: DataFrame): DataFrame =
    dedupIncremental(
      table(spark, sfDir, "documents")
        .select(col("doc_id")).filter(col("doc_id") % 2 === 1),
      dedupNgram(spark, sfDir).select(col("doc_a"), col("doc_b")),
      priorLabels)
      .orderBy(col("doc_id"))

  /** GENERIC core of the prior-labels incremental dedup — the production
    * API shape (real doc ids are not parity-split): `newDocs` is the
    * incoming batch (`doc_id`), `pairs` any candidate pair frame covering
    * at least every edge that touches a new doc (extra existing↔existing
    * edges are allowed and ignored — they are already closed inside the
    * labels), and `priorLabels` is (doc_id, cluster_id) over the existing
    * corpus with cluster ids drawn from existing doc ids (min-id labeling
    * guarantees this; it is what keeps the contracted node space disjoint
    * from the batch). Returns the surviving (doc_id, cluster_id) rows,
    * unordered. PropertiesSpec pins this against a union-find oracle on
    * arbitrary random graphs and splits.
    */
  def dedupIncremental(newDocs: DataFrame, pairs: DataFrame,
      priorLabels: DataFrame): DataFrame = {
    val nd = newDocs.select(col("doc_id")).distinct()
    // edges touching the batch; membership flags via left joins (the
    // batch frame is label-frame-sized, broadcastable at any corpus scale)
    val flagged = pairs
      .join(nd.select(col("doc_id").as("doc_a"))
        .withColumn("a_new", lit(true)), Seq("doc_a"), "left")
      .join(nd.select(col("doc_id").as("doc_b"))
        .withColumn("b_new", lit(true)), Seq("doc_b"), "left")
      .filter(col("a_new").isNotNull || col("b_new").isNotNull)
    val prior = priorLabels.select(col("doc_id"), col("cluster_id"))
    // contract existing endpoints to their prior component representative;
    // an existing doc absent from priorLabels contracts to itself (its
    // prior component is the singleton). New endpoints pass through.
    val contracted = flagged
      .join(prior.select(col("doc_id").as("doc_a"),
        col("cluster_id").as("ca")), Seq("doc_a"), "left")
      .join(prior.select(col("doc_id").as("doc_b"),
        col("cluster_id").as("cb")), Seq("doc_b"), "left")
      .select(
        when(col("a_new").isNotNull, col("doc_a"))
          .otherwise(coalesce(col("ca"), col("doc_a"))).as("doc_a"),
        when(col("b_new").isNotNull, col("doc_b"))
          .otherwise(coalesce(col("cb"), col("doc_b"))).as("doc_b"))
    val labels = clusterLabels(contracted)
    val assigned = nd
      .join(labels.select(col("id").as("doc_id"), col("lbl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("comp"))
    // a component is dirty iff it contains a node that is NOT a new doc —
    // i.e. a contracted existing representative
    val dirty = labels
      .join(nd.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .select(col("lbl").as("comp")).distinct()
      .withColumn("has_existing", lit(1))
    val byComp = assigned.groupBy(col("comp"))
      .agg(min(col("doc_id")).as("min_new"))
    assigned
      .join(dirty, Seq("comp"), "left")
      .join(byComp, Seq("comp"))
      .filter(col("has_existing").isNull && col("doc_id") === col("min_new"))
      .select(col("doc_id"), col("comp").as("cluster_id"))
  }

  /** Embedding-cosine near-dup report: for each probe vector (vec_id < 100),
    * its nearest neighbor among LSH candidates with exact cosine re-score
    * and an `is_dup` flag at cosine ≥ 0.9. Vectors are L2-normalized so the
    * random-hyperplane LSH's euclidean threshold maps to a cosine floor
    * (‖a−b‖² = 2−2cos ⇒ dist ≤ 1.2 ⟺ cos ≥ 0.28).
    */
  def dedupEmbed(spark: SparkSession, sfDir: String): DataFrame =
    dedupEmbed(spark, sfDir, col("vec_id") < 100)

  /** Embedding near-dup report for an arbitrary probe predicate over the
    * embeddings table (the default query probes vec_id < 100): the
    * family's one LSH body ([[Similarity.lshTopK]]) at the near-dup gate
    * 1.2 and k = 1.
    */
  def dedupEmbed(spark: SparkSession, sfDir: String,
      probe: org.apache.spark.sql.Column): DataFrame =
    Similarity.lshTopK(spark, sfDir, probe, gate = 1.2, k = 1)
      .select(col("q_id"), col("c_id").as("nn_id"), col("sim").as("cosine"))
      .withColumn("is_dup", col("cosine") >= 0.9)
      .orderBy(col("q_id"))

  /** `dedup_embed` checked key: the LSH near-dup report's top-1 recall vs
    * the exact nearest neighbor, certified for the driver — pooled over
    * the 100-probe set, floor 0.8 against a measured 1.00 at 10 hash
    * tables (the report's raw neighbor ids are seed/engine-specific;
    * [[dedupEmbed]] stays the API). Same certificate contract as
    * `sim_search_lsh` ([[Similarity.recallCertificate]]): the exact path
    * runs only to verify, the approx path is the production operator.
    */
  def dedupEmbedChecked(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.recallCertificate(
      Similarity.simSearch(spark, sfDir, col("vec_id") < 100, k = 1),
      dedupEmbed(spark, sfDir).select(col("q_id"), col("nn_id").as("c_id")),
      k = 1, Similarity.RecallFloor)

  /** INCREMENTAL EMBEDDING DEDUP — the ANN counterpart of
    * [[dedupIncremental]]: a daily batch of new vectors is screened
    * against the existing corpus (and against itself) for cosine
    * near-duplicates, and each new vector gets a keep decision. Keep
    * rule, per new vector:
    *
    *  - `is_dup_corpus` — some EXISTING vector has cosine ≥ τ;
    *  - `is_dup_batch`  — not a corpus dup, but some EARLIER new vector
    *    (smaller vec_id = earlier arrival) has cosine ≥ τ;
    *  - `keep`          — neither.
    *
    * The within-batch rule is deliberately ONE-HOP, not transitive: it
    * matches a streaming dedup index that inserts every incoming vector
    * (kept or not) and flags each arrival against everything already
    * indexed — the semantics a crawl pipeline actually runs, and (unlike
    * connected components) exactly recomputable by the SQL oracle with
    * no recursion.
    *
    * Production path = the int8 QUANTIZED prescan of
    * [[Similarity.scoredPairs]]: stage 1 scores batch×(corpus ∪
    * earlier-batch) with the 1-byte-per-element kernel and keeps only the
    * top-`rerank` candidate ids per (probe, side) — no float arrays cross
    * the shuffle; stage 2 re-scores that sliver with the exact double
    * kernel. At 100 TB the prescan input is itself fed by an IVF
    * candidate stage ([[dedupEmbedIncrementalIvf]]); the keep logic is a
    * per-probe max over ≤ 2·rerank rows either way.
    *
    * τ defaults to 0.42 for the harness corpus: the generator plants no
    * embedding near-dup twins across the parity split (max any-pair
    * cosine ≈ 0.51), so the conventional 0.9 would make every branch of
    * the rule vacuous; 0.42 populates all three branches (corpus-dup /
    * batch-dup / keep) at every harness scale. Production callers pass
    * their corpus' calibrated threshold.
    */
  def dedupEmbedIncremental(spark: SparkSession, sfDir: String): DataFrame =
    dedupEmbedIncremental(spark, sfDir, col("vec_id") % 2 === 1,
      tau = IncrementalEmbedTau, rerank = 8)

  /** Quantized-prescan incremental report for an arbitrary new-batch
    * predicate over the embeddings table. `rerank` bounds the exact
    * re-score pool per (probe, side).
    */
  def dedupEmbedIncremental(spark: SparkSession, sfDir: String,
      isNew: org.apache.spark.sql.Column, tau: Double,
      rerank: Int): DataFrame =
    dedupEmbedIncremental(table(spark, sfDir, "embeddings"), isNew, tau,
      rerank)

  /** GENERIC frame form — the production API shape (mirrors the frame
    * form of [[dedupIncremental]]): `vectors` is any (vec_id, embedding)
    * frame, `isNew` marks the incoming batch, arrival order within the
    * batch is vec_id order. Zero-norm vectors are excluded at the shared
    * prep chokepoint (same contract as every ANN path).
    */
  def dedupEmbedIncremental(vectors: DataFrame,
      isNew: org.apache.spark.sql.Column, tau: Double,
      rerank: Int): DataFrame = {
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    embedKeepRule(Similarity.quantize(Similarity.prepped(vectors)), isNew,
      Similarity.AllRows, Some(rerank), tau)
  }

  /** IVF-COMPOSED incremental embedding dedup — the 100 TB serving shape
    * promised by [[dedupEmbedIncremental]]'s scaladoc: the int8 prescan's
    * candidate stage is [[Similarity.ivfAssign]]'s cluster layout instead
    * of a full batch×corpus scan ([[Similarity.IvfCells]]). Per new
    * vector, stage 0 ranks the [[Similarity.IvfClusters]] centroids and
    * keeps the `nProbe` nearest (centroid table broadcasts); stage 1
    * int8-prescans ONLY corpus rows in those probed clusters (an equi-join
    * on `cluster` against the broadcast probe slivers — never a cross
    * join); stage 2 exact-reranks the per-(probe, side) top-`rerank` pool
    * with the double kernel and applies the same one-hop keep rule.
    *
    * Cost shape at 100 TB: the cluster assignment is the write-once IVF
    * layout every ANN consumer shares; each new vector touches
    * nProbe/IvfClusters of the corpus with 1-byte-per-element bandwidth,
    * and only (q_id, c_id, side) triples cross the pool shuffle. The
    * recall trade is the IVF dial documented on [[Similarity.simSearchIvf]]:
    * a true near-dup in an unprobed cluster is missed, so the checked key
    * certifies DECISION agreement against the exact rule at a floor rather
    * than assuming it ([[dedupEmbedIvfChecked]]); measured keep-agreement
    * at the default nProbe: 1.00 at sf0.001/sf0.01, 0.995 at sf0.1,
    * 0.997 on a 10× replica (AnnScaleMain).
    */
  def dedupEmbedIncrementalIvf(spark: SparkSession, sfDir: String,
      isNew: org.apache.spark.sql.Column, tau: Double, rerank: Int,
      nProbe: Int = Similarity.IvfNProbe): DataFrame = {
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val (assigned, centroids) = Similarity.ivfAssign(spark, sfDir)
    embedKeepRule(Similarity.quantize(assigned), isNew,
      Similarity.IvfCells(centroids, nProbe), Some(rerank), tau)
  }

  /** EXACT reference form of the incremental report: brute-force cosine
    * over batch×(corpus ∪ earlier-batch), no prescan. This is the
    * verification twin the certificate runs — identical output when the
    * quantized pool covers every true near-dup maximum.
    */
  def dedupEmbedIncrementalExact(spark: SparkSession, sfDir: String,
      isNew: org.apache.spark.sql.Column, tau: Double): DataFrame =
    dedupEmbedIncrementalExact(table(spark, sfDir, "embeddings"), isNew, tau)

  /** Generic frame form of the exact reference path. */
  def dedupEmbedIncrementalExact(vectors: DataFrame,
      isNew: org.apache.spark.sql.Column, tau: Double): DataFrame =
    embedKeepRule(Similarity.prepped(vectors), isNew, Similarity.AllRows,
      None, tau)

  /** The incremental report's one body: the batch (`isNew`) paired with
    * its corpus and earlier-batch candidates through the scoring ladder
    * ([[Similarity.scoredPairs]] under its side rule), then the keep rule
    * — per-probe max cosine per side → flags. The left join keeps new
    * vectors with NO candidate pairs at all (their maxima are NULL → both
    * flags false → keep). The rule filters on the carried `is_new` flag,
    * not the raw predicate — `isNew` may bind columns the ladder drops.
    */
  private def embedKeepRule(prepped: DataFrame,
      isNew: org.apache.spark.sql.Column, pairing: Similarity.Pairing,
      prescan: Option[Int], tau: Double): DataFrame = {
    val v = prepped.withColumn("is_new", isNew)
    val maxes = Similarity.scoredPairs(v, _.filter(col("is_new")), pairing,
        keepRule = true, prescan)
      .select(col("q_id"), col("side"), col("sim"))
      .groupBy(col("q_id")).agg(
        max(when(col("side") === "corpus", col("sim"))).as("max_corpus_cos"),
        max(when(col("side") === "prior", col("sim"))).as("max_prior_cos"))
    v.filter(col("is_new")).select(col("vec_id").as("q_id"))
      .join(maxes, Seq("q_id"), "left")
      .withColumn("is_dup_corpus",
        coalesce(col("max_corpus_cos") >= tau, lit(false)))
      .withColumn("is_dup_batch", !col("is_dup_corpus") &&
        coalesce(col("max_prior_cos") >= tau, lit(false)))
      .withColumn("keep", !col("is_dup_corpus") && !col("is_dup_batch"))
      .orderBy(col("q_id"))
  }

  private[graft] val IncrementalEmbedTau = 0.42

  /** `dedup_embed_incremental` checked key: ONE row aggregating the EXACT
    * keep rule — (n_new, n_dup_corpus, n_dup_batch, n_keep, tau), every
    * value recomputed brute-force by the DuckDB oracle — plus `quant_ok`,
    * the Spark-verified boolean that the quantized-prescan production
    * path reproduces the exact keep decision for EVERY new vector (the
    * oracle pins it TRUE): [[Similarity.decisionCertificate]] at floor
    * 1.0. The keep rule itself is hash-checked, and the int8 path is
    * certified decision-identical to it.
    */
  def dedupEmbedIncrementalChecked(spark: SparkSession,
      sfDir: String): DataFrame =
    embedDecisionChecked(spark, sfDir, col("vec_id") % 2 === 1, ivf = false)

  /** Decision-agreement floor for the IVF-composed path's certificate:
    * unlike the quantized full-scan (which reads every candidate and is
    * decision-identical by construction when the pool is wide enough), IVF
    * legitimately trades recall for touch fraction, so its certificate is
    * a FLOOR on per-vector keep-decision agreement — the same move as the
    * ANN recall certificates' 0.8 floors. Measured at nProbe=24/32: 1.00
    * on the sf0.001/sf0.01 corpora, 0.995 at sf0.1, 0.997 on a 10×
    * replica (AnnScaleMain) — 0.95 carries real headroom against corpus
    * regeneration while still being a strong published contract.
    */
  private val IvfAgreeFloor = 0.95

  /** `dedup_embed_ivf` checked key: the EXACT one-hop keep rule's
    * aggregate counts (each recomputed brute-force by the DuckDB oracle —
    * same contract as `dedup_embed_incremental`) plus `ivf_ok`, the
    * Spark-verified certificate that the IVF-composed serving path
    * ([[dedupEmbedIncrementalIvf]]) reproduces the exact keep decision for
    * at least [[IvfAgreeFloor]] of the batch (the oracle pins it TRUE).
    * This is the end-to-end audit of the full ANN stack: IVF candidate
    * stage → int8 prescan → exact rerank → keep rule, graded as one key.
    */
  def dedupEmbedIvfChecked(spark: SparkSession, sfDir: String): DataFrame =
    embedDecisionChecked(spark, sfDir, col("vec_id") % 2 === 1, ivf = true)

  /** The checked embed keys' one body over batch `isNew`: the exact keep
    * rule's counts and τ, crossed with the decision certificate of the
    * quantized (floor 1.0, `quant_ok`) or IVF-composed ([[IvfAgreeFloor]],
    * `ivf_ok`) serving path. An empty batch certifies nothing (`false`).
    */
  private[graft] def embedDecisionChecked(spark: SparkSession, sfDir: String,
      isNew: org.apache.spark.sql.Column, ivf: Boolean): DataFrame = {
    val exact = dedupEmbedIncrementalExact(spark, sfDir, isNew,
      IncrementalEmbedTau)
    val certificate =
      if (ivf) Similarity.decisionCertificate(exact,
        dedupEmbedIncrementalIvf(spark, sfDir, isNew, IncrementalEmbedTau,
          rerank = 8), IvfAgreeFloor, "ivf_ok")
      else Similarity.decisionCertificate(exact,
        dedupEmbedIncremental(spark, sfDir, isNew, IncrementalEmbedTau,
          rerank = 8), 1.0, "quant_ok")
    exact.agg(
        count(lit(1)).as("n_new"),
        count(when(col("is_dup_corpus"), lit(1))).as("n_dup_corpus"),
        count(when(col("is_dup_batch"), lit(1))).as("n_dup_batch"),
        count(when(col("keep"), lit(1))).as("n_keep"))
      .withColumn("tau", lit(IncrementalEmbedTau))
      .crossJoin(certificate)
  }

  /** Number of sign-bit cells for [[dedupSemanticOn]]: 5 frozen
    * hyperplanes → 32 cells (the IvfClusters scale at harness size; at
    * 100 TB raise bits so per-cell membership stays bounded — the cell
    * count is the quadratic-cost dial).
    */
  private[graft] val SemBits = 5

  /** Frozen ±1 hyperplanes (SemBits × dim), derived from md5 parity of
    * `"sem:<plane>:<dim>"` — data-independent source-frozen geometry
    * (the QualityLmWeights discipline), interpolated into BOTH engines'
    * plans from this one constant so they cannot drift.
    */
  private[graft] def semHyperplanes(dim: Int): IndexedSeq[IndexedSeq[Double]] =
    (0 until SemBits).map(j => (0 until dim).map { d =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sem:$j:$d".getBytes("UTF-8"))
      if ((hex(0) & 1) == 0) 1.0 else -1.0
    })

  /** Frozen sign-cell id for a unit-vector column: SemBits in-row dots
    * against [[semHyperplanes]], 6-dp-rounded before the sign test (both
    * engines' folds agree far inside the grid). Shared by the batch and
    * incremental semantic keys so the two cannot disagree on geometry.
    */
  private[graft] def semCellOf(unit: org.apache.spark.sql.Column,
      dim: Int): org.apache.spark.sql.Column = {
    import graft.functions.VectorMath
    val planes = semHyperplanes(dim)
    (0 until SemBits).map { j =>
      val h = array(planes(j).map(lit(_)): _*)
      when(round(VectorMath.dot(unit, h), 6) > 0.0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SEMANTIC CLUSTER-REPRESENTATIVE DEDUP — the SemDeDup shape (Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", arXiv:2303.09540): partition the
    * embedding space into cells, compare ONLY within a cell (the cell
    * bound is what makes web-scale semantic dedup tractable — the
    * quadratic cost is per cell, never corpus-wide), and among each
    * τ-neighborhood of semantic duplicates keep ONE representative —
    * following the paper's low-centroid-similarity preference: the
    * member with the MINIMUM (centroid_similarity, vec_id) in its
    * one-hop τ-neighborhood keeps (the family's deterministic one-hop
    * discipline, as in `dedup_embed_incremental`; singletons keep).
    *
    * Cells here are frozen-hyperplane sign cells rather than a fitted
    * k-means coarse quantizer: the geometry is source-frozen
    * ([[semHyperplanes]]), so the WHOLE decision — cells, cell-mean
    * centroids, similarities, keep bits — is exactly recomputable by the
    * DuckDB twin, giving this key a full hash oracle where a fitted
    * quantizer could only certify. (The IVF-layout composition with a
    * fitted quantizer is `dedup_embed_ivf`'s territory.)
    *
    * Determinism: sign bits and pair cosines compare on 6-dp-rounded
    * dots (both engines' sequential folds agree far inside the grid);
    * the cell-mean components are rounded to 9 dp BEFORE the centroid
    * similarity (cross-row float summation is order-sensitive; the 9-dp
    * grid absorbs it — the ngram_lm_score discipline. At extreme
    * per-cell member counts a deployment would switch the mean to
    * compensated accumulation before the rounding).
    *
    * Scale shape: cell assignment is a scan-stage projection (SemBits
    * in-row dots); the cell means are one map-side-partial aggregate
    * (dim columns per cell, cells-count rows) broadcast back; the pair
    * step is a cell-keyed equi-join — the shuffle carries (cell, unit)
    * rows hashed by cell, and within-cell pairing is bounded by the cell
    * size dial. One-hop keep needs no iteration.
    *
    * Output per embedding: (vec_id, cell, c_sim, n_dup_nbrs, keep).
    * Unordered; zero-norm vectors are excluded by the family's prep
    * contract.
    */
  def dedupSemanticOn(raw: DataFrame, dim: Int, tau: Double): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val assigned = assignedUnits(raw, dim)
    val meanAggs = (0 until dim).map(d =>
      round(avg(element_at(col("unit"), d + 1)), 9).as(s"m$d"))
    val means = assigned.groupBy(col("cell"))
      .agg(meanAggs.head, meanAggs.tail: _*)
      .select(col("cell"),
        array((0 until dim).map(d => col(s"m$d")): _*).as("mean"))
    val withSim = centroidSim(assigned, means)
    withSim.select(col("vec_id"), col("cell"), col("c_sim"))
      .join(selfNeighbours(withSim, tau), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("c_sim"),
        coalesce(col("n_self"), lit(0L)).as("n_dup_nbrs"),
        coalesce(!col("has_better"), lit(true)).as("keep"))
  }

  /** The semantic verdict's centroid step, shared by the batch and
    * incremental keys: each (vec_id, cell, unit) row's 6-dp cosine to its
    * cell's `mean` (cell, mean) — 0.0 for a zero-norm or absent centroid
    * (the cold-cell fallback). The means broadcast (one row per occupied
    * cell).
    */
  private def centroidSim(assigned: DataFrame, means: DataFrame): DataFrame = {
    import graft.functions.VectorMath
    assigned
      .join(broadcast(means
        .withColumn("mnrm", sqrt(VectorMath.dot(col("mean"), col("mean"))))),
        Seq("cell"), "left")
      .withColumn("c_sim", when(col("mnrm") > 0.0,
        round(VectorMath.dot(col("unit"), col("mean")) / col("mnrm"), 6))
        .otherwise(lit(0.0)))
      .select(col("vec_id"), col("cell"), col("unit"), col("c_sim"))
  }

  /** A within-cell τ-pair test on `u_a`/`u_b`: the 6-dp unit dot ≥ τ. */
  private def semPair(tau: Double): org.apache.spark.sql.Column =
    round(graft.functions.VectorMath.dot(col("u_a"), col("u_b")), 6) >= tau

  /** The one-hop self-neighbour verdict of a [[centroidSim]] frame against
    * itself (a cell-keyed equi-join): per `vec_id`, its τ-neighbour count
    * `n_self` and `has_better` — some neighbour is a better representative
    * under SemDeDup's low-centroid-similarity preference (strictly lower
    * `c_sim`, ties to the lower vec_id). Rows without neighbours are absent.
    */
  private def selfNeighbours(cs: DataFrame, tau: Double): DataFrame = {
    val a = cs.select(col("cell"), col("vec_id").as("id_a"),
      col("unit").as("u_a"), col("c_sim").as("cs_a"))
    val b = cs.select(col("cell"), col("vec_id").as("id_b"),
      col("unit").as("u_b"), col("c_sim").as("cs_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(semPair(tau))
      .groupBy(col("id_a").as("vec_id"))
      .agg(count(lit(1)).as("n_self"),
        max(col("cs_b") < col("cs_a") ||
          (col("cs_b") === col("cs_a") && col("id_b") < col("id_a")))
          .as("has_better"))
  }

  /** `dedup_semantic` checked key: [[dedupSemanticOn]] over the
    * embeddings table (64-dim) at the embed family's τ. Full hash oracle
    * — the DuckDB twin recomputes cells, rounded cell means, centroid
    * similarities, within-cell pairs, and the keep rule from the same
    * frozen hyperplane constants.
    */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame =
    dedupSemanticOn(table(spark, sfDir, "embeddings"), 64,
      IncrementalEmbedTau)
      .orderBy(col("vec_id"))

  /** ADDITIVE per-cell state for the semantic dedup family — the
    * maintained table a production pipeline keeps between crawl batches:
    * one row per occupied sign-cell with the member count and the
    * per-component UNIT-VECTOR SUM. Like the line census
    * ([[lineCensus]]), this is an additive sketch: the states of two
    * DISJOINT corpora merge by per-cell `n_members` sum and component-wise
    * `sums` addition (suite-proven law), so appending a batch never
    * re-reads the corpus. The serving centroid is
    * `round(sums / n_members, 9)` — rounded at SERVE time from the exact
    * running sums, so merge order cannot move the served value off the
    * 9-dp grid's absorption band.
    *
    * Input contract: any (vec_id, embedding) frame; zero-norm vectors are
    * excluded at the family's shared prep chokepoint.
    */
  def semanticCellState(vectors: DataFrame, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    semanticCellStateFrom(assignedUnits(vectors, dim), dim)
  }

  /** INCREMENTAL SEMANTIC DEDUP — [[dedupSemanticOn]] in the crawl-batch
    * shape (the family discipline proven for documents, lines,
    * embeddings, and images): a NEW batch of vectors is screened against
    * the MAINTAINED corpus cell state ([[semanticCellState]]) and against
    * itself, entirely within frozen sign-cells. Per batch vector:
    *
    *  - `c_sim` — cosine to the CORPUS centroid of its cell (served from
    *    the state table's running sums; 0.0 when the cell has no corpus
    *    members — the deterministic cold-cell fallback);
    *  - `is_dup_corpus` — some corpus member of the cell has cosine ≥ τ
    *    (the corpus already kept its representatives, so a corpus hit
    *    always dominates);
    *  - `is_dup_batch` — not a corpus dup, but some same-cell batch
    *    τ-neighbor is a BETTER representative under SemDeDup's
    *    low-centroid-similarity preference (strictly lower `c_sim`, ties
    *    to the lower vec_id) — the same one-hop rule as the batch key,
    *    so the two forms cannot drift;
    *  - `keep` — neither.
    *
    * Scale shape: cell assignment is a scan-stage projection for both
    * sides; the state is one map-side-partial aggregate the pipeline
    * maintains incrementally (per-batch cost = the BATCH's census plus a
    * sum-merge against the state table — corpus text volume is never
    * re-read); the centroid serve is a broadcast of the occupied-cell
    * means; both pair steps are cell-keyed equi-joins whose shuffles
    * carry (cell, unit) rows — the per-cell bound (raise SemBits as the
    * corpus grows) is the quadratic-cost dial, exactly as in the batch
    * key.
    *
    * Output per batch vector: (vec_id, cell, c_sim, n_nbr_corpus,
    * n_nbr_batch, is_dup_corpus, is_dup_batch, keep). Unordered.
    */
  def dedupSemanticIncrementalOn(vectors: DataFrame,
      isNew: org.apache.spark.sql.Column, dim: Int,
      tau: Double): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val v = Similarity.unitVectors(vectors)
      .withColumn("is_new", isNew)
      .select(col("vec_id"), col("unit"), col("is_new"))
      .withColumn("cell", semCellOf(col("unit"), dim))
    dedupSemanticIncrementalOnState(
      v.filter(!col("is_new"))
        .select(col("vec_id"), col("unit"), col("cell")),
      v.filter(col("is_new"))
        .select(col("vec_id"), col("unit"), col("cell")),
      dim, tau)
  }

  /** Cell-assigned unit vectors of a raw (vec_id, embedding) frame —
    * `(vec_id, unit, cell)`, the semantic family's MAINTAINED member
    * state (what [[semanticCellState]] aggregates, kept at member
    * grain because the incremental corpus-neighbor test needs the
    * members themselves; the centroid serve derives from it by one
    * map-side aggregate). Censuses over disjoint vector sets merge by
    * plain union — the family's additive law.
    */
  private[graft] def assignedUnits(vectors: DataFrame, dim: Int): DataFrame =
    Similarity.unitVectors(vectors)
      .select(col("vec_id"), col("unit"))
      .withColumn("cell", semCellOf(col("unit"), dim))

  /** EXPLICIT-STATE form of the incremental semantic screen — the
    * maintained member table ([[assignedUnits]]-shaped `(vec_id, unit,
    * cell)`) passed directly instead of being re-derived from raw
    * vectors, so a composed day-2 pipeline can feed a MERGED state
    * (corpus ∪ absorbed batches) and the batch-only cost is its own
    * measurable stage. [[dedupSemanticIncrementalOn]] is this with both
    * sides assigned from one prepped frame; semantics identical.
    */
  def dedupSemanticIncrementalOnState(members: DataFrame,
      batchAssigned: DataFrame, dim: Int, tau: Double,
      materialize: DataFrame => DataFrame = identity): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val corpus = members
    val means = semanticCellStateFrom(corpus, dim)
      .select(col("cell"),
        expr("transform(sums, s -> round(s / n_members, 9))").as("mean"))
    // `cs` is consumed FOUR times below (corpus-neighbor probe, both
    // batch self-join sides, the final verdict join) — without a
    // materialization hook the whole subtree, INCLUDING the corpus-state
    // means aggregate feeding the broadcast, is duplicated four times in
    // the physical plan (guide §7.2 duplicated subtrees / §3.3).
    // Composed chains pass their stage-boundary `chk`; `identity` keeps
    // the standalone key's one-shot plan unchanged.
    val cs = materialize(centroidSim(batchAssigned, means))
    val nbrCorpus = cs
      .select(col("cell"), col("vec_id").as("id_a"), col("unit").as("u_a"))
      .join(corpus.select(col("cell"), col("unit").as("u_b")), Seq("cell"))
      .filter(semPair(tau))
      .groupBy(col("id_a").as("vec_id"))
      .agg(count(lit(1)).as("n_nbr_corpus"))
    cs.select(col("vec_id"), col("cell"), col("c_sim"))
      .join(nbrCorpus, Seq("vec_id"), "left")
      .join(selfNeighbours(cs, tau), Seq("vec_id"), "left")
      .withColumn("n_nbr_corpus", coalesce(col("n_nbr_corpus"), lit(0L)))
      .withColumn("n_nbr_batch", coalesce(col("n_self"), lit(0L)))
      .withColumn("is_dup_corpus", col("n_nbr_corpus") > 0)
      .withColumn("is_dup_batch",
        !col("is_dup_corpus") && coalesce(col("has_better"), lit(false)))
      .select(col("vec_id"), col("cell"), col("c_sim"),
        col("n_nbr_corpus"), col("n_nbr_batch"), col("is_dup_corpus"),
        col("is_dup_batch"),
        (!col("is_dup_corpus") && !col("is_dup_batch")).as("keep"))
  }

  /** [[semanticCellState]] over an already-prepped (vec_id, unit, cell)
    * frame — the internal serve path, so the incremental key assigns
    * cells exactly once per row.
    */
  private def semanticCellStateFrom(assigned: DataFrame,
      dim: Int): DataFrame = {
    val sumAggs = (0 until dim).map(d =>
      sum(element_at(col("unit"), d + 1)).as(s"s$d"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sumAggs: _*)
      .select(col("cell"), col("n_members"),
        array((0 until dim).map(d => col(s"s$d")): _*).as("sums"))
  }

  /** `dedup_semantic_incremental` checked key: odd vec_ids are the new
    * batch, even the corpus (the embed family's parity split), dim 64, τ
    * at the family's harness threshold. Full hash oracle — the DuckDB
    * twin recomputes cells, the corpus-only state means, centroid
    * similarities, both neighbor joins, and the keep rule from the same
    * frozen constants.
    */
  def dedupSemanticIncremental(spark: SparkSession,
      sfDir: String): DataFrame =
    dedupSemanticIncrementalOn(table(spark, sfDir, "embeddings"),
      col("vec_id") % 2 === 1, 64, IncrementalEmbedTau)
      .orderBy(col("vec_id"))

  /** Boilerplate threshold for the `dedup_lines` demo key: a line is
    * boilerplate when it occurs in at least this many DISTINCT documents.
    * Sized between the planted content lines (unique-ish) and the planted
    * per-source headers (25 docs each at every harness sf).
    */
  private[graft] val LineMinDocs = 5L

  /** Content-line chunk width (tokens) for [[lineStructured]]. */
  private val LineChunkTokens = 10

  /** Line-structured view of the documents corpus for `dedup_lines`. The
    * harness corpus carries no newlines, so the key plants a deterministic
    * line structure — per-source nav header, the doc's own tokens chunked
    * into [[LineChunkTokens]]-token content lines, per-lang license footer
    * — the exact crawl shape C4/RefinedWeb-style boilerplate removal
    * targets (nav bars and license lines repeat across a source's pages;
    * body lines don't). Pure in-row projection; the DuckDB twin
    * reconstructs the identical lines from the same arithmetic.
    *
    * NULL-text rows are dropped HERE, not left to downstream: Spark's
    * array_join would silently skip the null chunk element (a 2-line
    * nav+footer doc) while the SQL twin would emit a NULL chunk line that
    * string_agg drops but count(*) still counts — a latent hash mismatch
    * if a regenerated corpus ever carries NULL text. Filtering at the
    * source (and mirroring the predicate in the twin's base CTE) makes
    * both sides agree by construction.
    */
  private[graft] def lineStructured(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nChunks = greatest(
      ceil(size(toks) / lit(LineChunkTokens.toDouble)), lit(1L))
    val chunks = transform(sequence(lit(0L), nChunks - 1),
      i => array_join(
        slice(toks, (i * LineChunkTokens + 1).cast(IntegerType),
          lit(LineChunkTokens)), " "))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_join(
          concat(
            array(concat(lit("nav "), col("source"), lit(" home login"))),
            chunks,
            array(concat(lit("copyright footer "), col("lang")))),
          "\n").as("text"))
  }

  /** LINE-LEVEL BOILERPLATE DEDUP — the single most common curation op in
    * web-crawl pipelines (C4 / RefinedWeb / Dolma all remove lines
    * repeated across many documents: nav bars, cookie banners, license
    * headers) and the granularity the document-level dedup family can't
    * reach. A line appearing in ≥ `minDocs` distinct documents is
    * boilerplate; every occurrence is removed and each document's text is
    * reconstructed from its surviving lines in original order.
    *
    * Scale shape (the 100 TB story):
    *  - the boilerplate census GROUPs BY the line's 128-bit md5, never the
    *    line text — the shuffle carries (32-hex hash, doc_id), not the
    *    corpus bytes, and `count(DISTINCT doc_id)` plans with map-side
    *    partial distinct;
    *  - the boilerplate set's cardinality is ≤ total_lines / minDocs by
    *    construction and in practice tiny (lines repeated across ≥ K
    *    documents ARE the template lines), so the removal join is left
    *    to AQE, which sees the aggregate's runtime size and broadcasts it
    *    — the corpus-side lines never shuffle for the lookup;
    *  - reconstruction is ONE hash shuffle of the corpus keyed by doc_id
    *    (unavoidable: the lines must reunite), with the per-doc order
    *    restored by sorting the collected (pos, line) structs in-row —
    *    no window, no range exchange.
    *
    * Output per input document: (doc_id, n_lines_in, n_lines_kept,
    * clean_text). Documents whose every line is boilerplate survive with
    * clean_text = '' (the caller decides whether to drop empties — that's
    * a quality gate, not dedup). Unordered. The self form IS
    * [[dedupLinesIncrementalOn]] over the census of no documents
    * ([[noLineCensus]]).
    */
  def dedupLinesOn(docs: DataFrame, minDocs: Long): DataFrame =
    dedupLinesIncrementalOn(noLineCensus(docs.sparkSession), docs, minDocs)

  /** The census of no documents for a content-hash family keyed by `key`
    * (`(key, n_docs)`, no rows) — an EMPTY LocalRelation, so a self form
    * is its incremental form over it and Catalyst's
    * `PropagateEmptyRelation` plans the census join away (PlanSpec pins
    * it; a LogicalRDD-backed empty frame would keep the join).
    */
  private def noCensus(spark: SparkSession, key: String,
      keyType: DataType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField(key, keyType),
        StructField("n_docs", LongType))))

  /** The empty [[lineCensus]] / [[spanCensus]]: what a corpus run's line
    * and span rungs probe (its own documents are the whole census).
    */
  private[graft] def noLineCensus(spark: SparkSession): DataFrame =
    noCensus(spark, "lh", StringType)
  private[graft] def noSpanCensus(spark: SparkSession): DataFrame =
    noCensus(spark, "gh", LongType)

  /** Exploded line view shared by the line-dedup family: one
    * `(doc_id, pos, line, lh)` row per line, `lh` the line's 128-bit md5.
    * NULL-text rows are dropped explicitly (the tfidfTopK convention):
    * posexplode over a null array would silently drop them anyway, so the
    * filter makes the contract visible rather than incidental. Empty text
    * is a real (single empty line) document and flows through.
    */
  private def docLines(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))

  /** The line family's PROBE KEYS — one `(doc_id, lh)` row per DISTINCT
    * line hash of each document: the rows the streaming text-ingest gate
    * lands at ingest and screens against the maintained [[lineCensus]]
    * (`stream_ingest_text`'s line side).
    */
  private[graft] def lineProbeRows(docs: DataFrame): DataFrame =
    docLines(docs).select(col("doc_id"), col("lh")).distinct()

  /** LINE CENSUS — the maintained corpus-side state of incremental line
    * dedup: `(lh, n_docs)`, the number of DISTINCT documents each line
    * hash occurs in. This is an ADDITIVE sketch: two censuses over
    * disjoint document sets merge by summing `n_docs` per `lh` (each
    * document is counted in exactly one input), so a production pipeline
    * maintains it as a running table — append each crawl batch's census,
    * compact by sum — without ever re-reading the corpus. Hash-sized rows
    * only; the corpus text never enters the state.
    */
  def lineCensus(docs: DataFrame): DataFrame =
    docLines(docs).groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))

  /** INCREMENTAL LINE DEDUP — the crawl-batch shape at line granularity
    * (completing the incremental family: documents `dedupIncremental`,
    * embeddings `dedupEmbedIncremental`, images `dedupImageIncremental`):
    * a NEW batch of documents is line-deduped against a MAINTAINED corpus
    * line census ([[lineCensus]]) plus its own lines, without touching
    * the corpus text. A batch line is boilerplate when its distinct-doc
    * count across corpus + batch reaches `minDocs` — by the census'
    * additivity this is EXACTLY the recompute-over-union rule (suite-
    * pinned), restricted to the batch's documents.
    *
    * Scale shape: the batch census aggregates map-side over batch-sized
    * volume; the corpus census is a static hash-keyed table probed with
    * batch-census-sized volume (at 100 TB: bucket the census table by
    * `lh` once, every batch joins shuffle-free); the merged boilerplate
    * set stays tiny, so the removal lookup broadcasts; the rebuild
    * shuffles batch lines only. Corpus cost per batch: census-table
    * probe, never a corpus scan.
    *
    * `corpusCensus` must be a `(lh, n_docs)` frame (any source: a
    * [[lineCensus]] call, or the maintained running table). Output per
    * batch document: the [[dedupLinesOn]] shape. Unordered.
    */
  def dedupLinesIncrementalOn(corpusCensus: DataFrame, batch: DataFrame,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docLines(batch)
    val batchCensus = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("n_batch"))
    val boiler = batchCensus
      .join(corpusCensus.select(col("lh"), col("n_docs").as("n_corpus")),
        Seq("lh"), "left")
      .filter(col("n_batch") + coalesce(col("n_corpus"), lit(0L)) >= minDocs)
      .select(col("lh"), lit(true).as("__graft_bp"))
    // anti-lookup the boilerplate set (tiny by construction → AQE
    // broadcasts it), then ONE doc_id shuffle reuniting each document's
    // surviving lines, the per-doc order restored by sorting the
    // collected (pos, line) structs in-row
    lines
      .join(boiler, Seq("lh"), "left")
      .withColumn("keep", col("__graft_bp").isNull)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines_in"),
        count(when(col("keep"), lit(1))).as("n_lines_kept"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(
                struct(col("pos"), col("line"), col("keep")))),
              x => x.getField("keep")),
            x => x.getField("line")),
          "\n").as("clean_text"))
  }

  /** `dedup_lines_incremental` checked key: the parity split (even doc_id
    * = existing corpus, odd = incoming batch — the `dedup_incremental`
    * convention) over the line-structured corpus; the batch is deduped
    * against the corpus' [[lineCensus]]. By census additivity the result
    * equals [[dedupLines]] restricted to odd documents — which is exactly
    * what the DuckDB twin computes (full-union census, odd-doc rebuild).
    */
  def dedupLinesIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val all = lineStructured(table(spark, sfDir, "documents"))
    dedupLinesIncrementalOn(
      lineCensus(all.filter(col("doc_id") % 2 === 0)),
      all.filter(col("doc_id") % 2 === 1),
      LineMinDocs)
      .select(col("doc_id"), col("n_lines_in"), col("n_lines_kept"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** `dedup_lines` checked key: [[dedupLinesOn]] over the line-structured
    * corpus at [[LineMinDocs]]. The DuckDB twin rebuilds the same lines,
    * censuses the same md5 groups, and reassembles with
    * `string_agg(… ORDER BY pos)` — an exact independent formulation of
    * the whole explode → census → anti-lookup → rebuild chain.
    */
  def dedupLines(spark: SparkSession, sfDir: String): DataFrame =
    dedupLinesOn(lineStructured(table(spark, sfDir, "documents")),
      LineMinDocs)
      .select(col("doc_id"), col("n_lines_in"), col("n_lines_kept"),
        col("clean_text"))
      .orderBy(col("doc_id"))

  /** Scraped-page view for `dedup_lines_intra`: the [[lineStructured]]
    * plant EXTENDED with the two intra-document repetitions real crawled
    * pages carry — the nav menu rendered twice (top header + bottom
    * menu, the classic scraper artifact) and, for doc_id % 3 == 0, the
    * first paragraph duplicated (the double-render glitch). Pure in-row
    * projection; the twin rebuilds the identical lines from the same
    * arithmetic.
    */
  private[graft] def lineStructuredIntra(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nChunks = greatest(
      ceil(size(toks) / lit(LineChunkTokens.toDouble)), lit(1L))
    val chunks = transform(sequence(lit(0L), nChunks - 1),
      i => array_join(
        slice(toks, (i * LineChunkTokens + 1).cast(IntegerType),
          lit(LineChunkTokens)), " "))
    val nav = concat(lit("nav "), col("source"), lit(" home login"))
    val dupPara = when(col("doc_id") % 3 === 0,
      array(array_join(slice(toks, 1, LineChunkTokens), " ")))
      .otherwise(array().cast("array<string>"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_join(
          concat(
            array(nav), chunks, dupPara, array(nav),
            array(concat(lit("copyright footer "), col("lang")))),
          "\n").as("text"))
  }

  /** INTRA-DOCUMENT LINE DEDUP — the Gopher/Dolma `duplicate_line_
    * fraction` signal turned into an acting operator: within EACH
    * document, every line identical to an earlier line of the SAME
    * document is removed (keep-first), and the text is rebuilt from the
    * survivors in original order. This is the granularity neither
    * `dedup_lines` (cross-document census) nor `repetition_stats`
    * (measures, doesn't act) covers: the duplicated nav menu and
    * double-rendered paragraph INSIDE a scraped page, which no
    * cross-document threshold can touch without collateral damage.
    *
    * Scale shape: ZERO shuffle — the keep-first rule is a per-row
    * `filter(lines, (x, i) -> array_position(lines, x) == i + 1)` fold
    * (first-occurrence index equals own index), entirely inside the
    * scan's codegen stage. A document's line count bounds the in-row
    * quadratic; crawl pages are hundreds of lines, never millions —
    * the right side of the row-vs-corpus asymmetry.
    *
    * Output per document: (doc_id, n_lines_in, n_lines_kept,
    * clean_text). Takes any (doc_id, text) frame with \n-separated
    * lines.
    */
  def dedupLinesIntraOn(docs: DataFrame): DataFrame = {
    val la = split(col("text"), "\n")
    docs
      .withColumn("kept",
        filter(la, (x, i) => array_position(la, x) === i.cast("long") + 1))
      .select(col("doc_id"),
        size(la).cast("long").as("n_lines_in"),
        size(col("kept")).cast("long").as("n_lines_kept"),
        array_join(col("kept"), "\n").as("clean_text"))
  }

  /** `dedup_lines_intra` checked key: [[dedupLinesIntraOn]] over the
    * planted scraped-page view (double nav + %3 duplicated paragraph).
    * The DuckDB twin rebuilds the same lines with positions and applies
    * the identical keep-first rule as a (doc_id, line) window.
    */
  def dedupLinesIntra(spark: SparkSession, sfDir: String): DataFrame =
    dedupLinesIntraOn(lineStructuredIntra(table(spark, sfDir, "documents")))
      .orderBy(col("doc_id"))

  /** Span gram length for `dedup_spans` — 8 tokens. (The literature's
    * exact-substring dedup uses ~50-token thresholds against web-scale
    * corpora; the harness documents run 30–60 tokens, so 8 keeps the
    * operator's decision structure — long-run overlap, not shingle
    * overlap — exercised at harness scale. The API form takes any n.)
    */
  private[graft] val SpanGram = 8

  /** SPAN-LEVEL DUPLICATE STATISTICS — the third granularity of the
    * dedup ladder (document `dedup_exact`/`dedup_near`, line
    * `dedup_lines`, and here token SPANS): for every document, how much
    * of its text occurs verbatim in other documents, measured by n-token
    * gram runs shared with ≥ 1 other document — the exact-substring
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499) expressed relationally.
    * Per document: gram counts, duplicated-gram counts, the number of
    * token positions covered by ≥ 1 duplicated gram (interval union, not
    * double-counted), and the covered fraction — the curation signal a
    * pipeline thresholds on (a doc that is 90% duplicated spans is a
    * template or a copy even if no single whole-doc match exists).
    *
    * Scale shape: gram hashes are built IN-ROW (transform over an index
    * sequence — the ngram-dedup discipline: text never crosses the wire
    * to form a gram) and explode only as (doc_id, pos, 60-bit hash); the
    * census GROUPs BY the hash with map-side partial distinct; the
    * dup-flag join shuffles hash-sized rows; the per-doc reduce collects
    * dup START POSITIONS only (bounded by grams/doc) and the interval
    * union is one in-row linear fold over the sorted starts. Nothing
    * corpus-sized is ever shuffled except the gram-hash rows themselves
    * — the same volume class as a word count.
    */
  def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    dedupSpansOn(table(spark, sfDir, "documents"), SpanGram)
      .orderBy(col("doc_id"))

  /** API form over any `(doc_id, text)` frame and gram length —
    * unordered. NULL-text rows are dropped (the family convention);
    * docs shorter than `n` tokens carry zero grams and fraction 0. The
    * self form IS [[dedupSpansIncrementalOn]] over the census of no
    * documents ([[noSpanCensus]]).
    */
  def dedupSpansOn(docs: DataFrame, n: Int): DataFrame =
    dedupSpansIncrementalOn(noSpanCensus(docs.sparkSession), docs, n)

  /** SPAN CENSUS — the maintained corpus-side state of incremental span
    * dedup: `(gh, n_docs)`, distinct documents per 60-bit gram hash. An
    * ADDITIVE sketch exactly like [[lineCensus]]: censuses over disjoint
    * document sets merge by summing `n_docs` per `gh`, so a production
    * pipeline appends each crawl batch's census and compacts by sum —
    * the corpus text is never re-read. Hash-sized rows only.
    */
  def spanCensus(docs: DataFrame, n: Int): DataFrame =
    spanGrams(spanBase(docs), n).groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))

  /** INCREMENTAL SPAN DEDUP — the crawl-batch shape at the LAST
    * granularity missing it (documents, lines, embeddings, images, URLs
    * and semantic cells all have incremental forms): a NEW batch's span
    * statistics against the maintained corpus [[spanCensus]]. A gram is
    * duplicated for a batch doc iff its distinct-doc count over the
    * UNION is ≥ 2 — `corpus_census(gh) + batch_census(gh)` (disjoint doc
    * sets, so the sum IS the union count); the contract is therefore
    * recompute-over-union restricted to the batch, which is exactly what
    * the twin and the suite pin. Batch-sized work only: the corpus
    * contributes its census rows (hash-sized), never its text.
    */
  def dedupSpansIncrementalOn(corpusCensus: DataFrame, batch: DataFrame,
      n: Int): DataFrame = {
    require(n >= 2, s"span gram length must be >= 2, got $n")
    val base = spanBase(batch)
    val grams = spanGrams(base, n)
    val dupSet = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nb"))
      .join(corpusCensus.select(col("gh"), col("n_docs").as("nc")),
        Seq("gh"), "left")
      .filter(col("nb") + coalesce(col("nc"), lit(0L)) >= 2)
      .select(col("gh"), lit(true).as("__graft_dup"))
    // dup-flag the grams, reduce per doc to counts + sorted dup start
    // positions, and take the interval-union length of [s, s+n−1] as one
    // in-row linear fold — never a per-position scan
    val perDoc = grams.join(dupSet, Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        count(when(col("__graft_dup"), lit(1))).as("n_dup_grams"),
        sort_array(collect_list(when(col("__graft_dup"), col("pos"))))
          .as("starts"))
    val covered = expr(
      s"""aggregate(starts,
         |  struct(0L AS cov, -${n}L AS fin),
         |  (acc, s) -> struct(
         |    acc.cov + CASE WHEN s > acc.fin THEN ${n}L
         |      ELSE greatest(s + ${n - 1}L - acc.fin, 0L) END AS cov,
         |    greatest(acc.fin, s + ${n - 1}L) AS fin),
         |  acc -> acc.cov)""".stripMargin)
    base.select(col("doc_id"), col("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("covered_tokens", coalesce(covered, lit(0L)))
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        col("covered_tokens"),
        round(col("covered_tokens").cast(DoubleType) / col("n_toks"), 6)
          .as("dup_frac"))
  }

  /** `dedup_spans_incremental` checked key: the family parity split
    * (odd = new batch, even = maintained corpus) at [[SpanGram]]. The
    * DuckDB twin runs the identical full-union census and restricts the
    * output to the batch — an independent proof of the census-merge
    * decision rule.
    */
  def dedupSpansIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    dedupSpansIncrementalOn(
      spanCensus(docs.filter(col("doc_id") % 2 === 0), SpanGram),
      docs.filter(col("doc_id") % 2 === 1), SpanGram)
      .orderBy(col("doc_id"))
  }

  /** Tokenized base frame shared by the span family: `(doc_id, w, n_toks)`
    * with NULL-text rows dropped (the family convention).
    */
  private def spanBase(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_toks", size(col("w")).cast(LongType))

  /** In-row gram hashes with start positions — 60-bit md5 of the joined
    * n-token window (engine-exact), one `(doc_id, pos, gh)` row per
    * window. The gram is formed IN-ROW (the ngram-dedup discipline: text
    * never crosses the wire to build a gram); only hash-sized rows
    * explode.
    */
  private def spanGrams(base: DataFrame, n: Int): DataFrame =
    base.filter(col("n_toks") >= n)
      .select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(0L, n_toks - $n),
             |  i -> struct(i AS pos,
             |    cast(conv(substring(md5(array_join(
             |      slice(w, cast(i + 1 AS INT), $n), ' ')), 1, 15), 16, 10)
             |      AS BIGINT) AS gh))""".stripMargin)).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))

  /** The span family's PROBE KEYS — one `(doc_id, gh)` row per DISTINCT
    * gram hash ([[lineProbeRows]]' counterpart on the span axis).
    */
  private[graft] def spanProbeRows(docs: DataFrame, n: Int): DataFrame =
    spanGrams(spanBase(docs), n).select(col("doc_id"), col("gh")).distinct()

  /** SPAN EXCISION — `dedup_spans` measures cross-document verbatim
    * overlap; this ACTS on it, the remove step of Lee et al. 2022's
    * exact-substring dedup (arXiv:2107.06499 §4.2: delete duplicated
    * substrings, keep one canonical copy in the corpus). Every n-token
    * gram occurring in ≥ 2 distinct documents is duplicated; the MINIMUM
    * doc_id holding it is the canonical keeper (the `dedup_exact`
    * keep-min discipline) and keeps its text intact; every OTHER
    * holder's occurrences are excised — the doc's covered token
    * positions (interval union of the strip starts) are removed and the
    * text is rebuilt from the surviving tokens in original order.
    *
    * Output per input document: (doc_id, n_toks, stripped_tokens,
    * kept_tokens, clean_text). Documents shorter than n tokens carry no
    * grams and pass through intact; a document whose every token is
    * covered survives with clean_text '' (dropping empties is a quality
    * gate, not dedup — the `dedup_lines` convention). Unordered.
    *
    * Scale shape: identical to [[dedupSpansOn]] up to the census — grams
    * hash in-row, the shuffle carries (doc_id, pos, 60-bit hash) rows,
    * the census adds a min(doc_id) alongside the distinct-doc count with
    * map-side partials — then ONE inner join of gram rows against the
    * duplicated-gram census (its cardinality is the duplicated grams
    * only, tiny by construction at real thresholds) and one doc_id
    * shuffle to collect strip starts. The rebuild is in-row: a linear
    * fold merges the sorted starts into excision intervals, and the kept
    * filter probes those MERGED intervals (bounded count, typically a
    * handful) rather than the raw starts — never a per-position
    * per-start scan. The per-position formulation exists only as the
    * DuckDB oracle twin, which is exactly right. The self form IS
    * [[dedupSpansStripIncrementalOn]] over [[noSpanCensus]].
    */
  def dedupSpansStripOn(docs: DataFrame, n: Int): DataFrame =
    dedupSpansStripIncrementalOn(noSpanCensus(docs.sparkSession), docs, n)

  /** INCREMENTAL SPAN EXCISION — the ACT form of [[dedupSpansIncrementalOn]]
    * (completing the measure/act pair at span granularity the way
    * `dedup_lines`/`dedup_lines_incremental` pair at line granularity): a
    * NEW batch's duplicated runs are excised against the maintained corpus
    * [[spanCensus]] plus the batch's own grams. The keeper rule composes
    * keep-min with the frozen-corpus discipline: a gram present in the
    * CORPUS at all is already canonically held there (corpus documents
    * predate every batch document), so every batch occurrence is excised;
    * a batch-only duplicated gram keeps its minimum batch doc_id. Batch-
    * sized work only — the corpus contributes census rows, never text.
    */
  def dedupSpansStripIncrementalOn(corpusCensus: DataFrame,
      batch: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"span gram length must be >= 2, got $n")
    val base = spanBase(batch)
    val grams = spanGrams(base, n)
    // keeper = −1 marks "held by the corpus": no batch doc_id matches it,
    // so the strip join excises every batch occurrence of the gram
    val census = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nb"),
        min(col("doc_id")).as("bkeeper"))
      .join(corpusCensus.select(col("gh"), col("n_docs").as("nc")),
        Seq("gh"), "left")
      .filter(col("nb") + coalesce(col("nc"), lit(0L)) >= 2)
      .select(col("gh"),
        when(coalesce(col("nc"), lit(0L)) > 0, lit(-1L))
          .otherwise(col("bkeeper")).as("keeper"))
    // merged excision intervals [lo, hi] from the sorted starts — one
    // linear fold, run BEFORE the rebuild join so the join ships one
    // bounded interval list per duplicated doc (never per-start rows).
    // The nested CASE keeps element_at off the empty accumulator (ANSI
    // mode raises on out-of-bounds; CASE branches evaluate lazily).
    val strips = grams.join(census, Seq("gh"))
      .filter(col("doc_id") =!= col("keeper"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
      .select(col("doc_id"), expr(
        s"""aggregate(starts,
           |  cast(array() AS array<struct<lo: bigint, hi: bigint>>),
           |  (acc, s) -> CASE
           |    WHEN size(acc) = 0 THEN array(struct(s AS lo, s + ${n - 1}L AS hi))
           |    WHEN s <= element_at(acc, -1).hi + 1L THEN concat(
           |      slice(acc, 1, size(acc) - 1),
           |      array(struct(element_at(acc, -1).lo AS lo,
           |        greatest(element_at(acc, -1).hi, s + ${n - 1}L) AS hi)))
           |    ELSE concat(acc, array(struct(s AS lo, s + ${n - 1}L AS hi)))
           |  END)""".stripMargin).as("ivs"))
    // COMPLEMENT rebuild (the r14 re-shape — the old form probed every
    // token position with an interpreted exists() lambda, an
    // O(n_toks · |ivs|) closure pass; the repetition_stats lesson applied
    // to the rebuild): the kept text is the gaps BETWEEN the merged
    // excision intervals, so derive the keep intervals in O(|ivs|) and
    // rebuild with slice/flatten/array_join — builtin array ops over
    // whole slices, not per-token lambda work. Merged intervals are
    // disjoint with gaps ≥ 1, so every in-between candidate is emitted
    // exactly once and the degenerate filter only drops the empty head
    // (first interval at 0) and tail (last interval at n_toks − n).
    base.join(strips, Seq("doc_id"), "left")
      .withColumn("ivs", coalesce(col("ivs"),
        expr("cast(array() AS array<struct<lo: bigint, hi: bigint>>)")))
      .withColumn("stripped", expr(
        "aggregate(ivs, 0L, (a, iv) -> a + iv.hi - iv.lo + 1L)"))
      .withColumn("keep_ivs", expr(
        """filter(
          |  concat(
          |    transform(ivs, (iv, i) -> struct(
          |      CASE WHEN i = 0 THEN 0L
          |           ELSE element_at(ivs, i).hi + 1L END AS lo,
          |      iv.lo - 1L AS hi)),
          |    array(struct(
          |      CASE WHEN size(ivs) = 0 THEN 0L
          |           ELSE element_at(ivs, -1).hi + 1L END AS lo,
          |      n_toks - 1L AS hi))),
          |  k -> k.hi >= k.lo)""".stripMargin))
      .select(col("doc_id"), col("n_toks"),
        col("stripped").cast(LongType).as("stripped_tokens"),
        (col("n_toks") - col("stripped")).cast(LongType).as("kept_tokens"),
        array_join(expr(
          """flatten(transform(keep_ivs, k ->
            |  slice(w, cast(k.lo + 1 AS INT),
            |    cast(k.hi - k.lo + 1 AS INT))))""".stripMargin),
          " ").as("clean_text"))
  }

  /** `dedup_spans_strip` checked key: [[dedupSpansStripOn]] over the
    * documents corpus at [[SpanGram]]. The DuckDB twin recomputes the
    * census + keeper and rebuilds each document's text the INDEPENDENT
    * way — a per-token-position EXISTS scan over the strip starts and a
    * `string_agg(… ORDER BY pos)` reassembly (the Spark side folds
    * merged intervals and filters in-row; both must excise exactly the
    * positions lying under ≥ 1 non-canonical duplicated gram).
    */
  def dedupSpansStrip(spark: SparkSession, sfDir: String): DataFrame =
    dedupSpansStripOn(table(spark, sfDir, "documents"), SpanGram)
      .orderBy(col("doc_id"))

  /** Shared CTE chain recomputing `simhashFingerprints` in DuckDB SQL:
    * same token split + length floor, same md5-derived 60-bit token hash
    * (md5 hex is engine-identical; `CAST('0x…' AS BIGINT)` parses it), and
    * the 64 vote sums / sign bits generated programmatically — the literal
    * SQL twin of the 64 codegen'd aggregates above.
    */
  private def simhashSqlCtes: String = {
    val votes = (0 until 64).map(i =>
      s"SUM(CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(",\n    ")
    val fp = (0 until 64).map(i =>
      s"(CASE WHEN v$i > 0 THEN (CAST(1 AS BIGINT) << $i) " +
        "ELSE CAST(0 AS BIGINT) END)")
      .mkString(" +\n    ")
    s"""t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
       |h AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM t),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |s AS (
       |  SELECT doc_id,
       |    $fp AS simhash
       |  FROM v)""".stripMargin
  }

  /** The span family's SQL ladder over CTE prefix `p` — every span twin's
    * (and the composed chain's) one spelling of the 8-gram hash and the
    * per-position excision: `${p}sd` (doc_id, w, n_toks) over `src` (a
    * relation, with its own WHERE), `${p}sg` the in-row 8-gram md5
    * hashes, the caller's `dup` CTEs ending in `${p}dup (gh, keeper)`,
    * then `${p}ss` (every duplicated gram start but the keeper's),
    * `${p}spos` (each token position flagged covered by a per-position
    * EXISTS over those starts — the ORTHOGONAL formulation of the Spark
    * side's interval fold) and `${p}sagg` (doc_id, stripped_tokens,
    * kept_tokens, clean_text). A keeper of −1 strips every holder.
    */
  private[graft] def spanSqlCtes(p: String, src: String,
      dup: String): String =
    s"""${p}sd AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM $src),
       |${p}sg AS MATERIALIZED (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       |    CAST(concat('0x', substring(md5(
       |      array_to_string(w[i : i + 7], ' ')), 1, 15)) AS BIGINT) AS gh
       |  FROM ${p}sd, UNNEST(range(1, CAST(len(w) AS BIGINT) - 6))
       |    AS us(i)
       |  WHERE len(w) >= 8),
       |$dup,
       |${p}ss AS MATERIALIZED (
       |  SELECT ${p}sg.doc_id, ${p}sg.pos FROM ${p}sg
       |  JOIN ${p}dup USING (gh)
       |  WHERE ${p}sg.doc_id != ${p}dup.keeper),
       |${p}spos AS (
       |  SELECT ${p}sd.doc_id, t.p, w[t.p + 1] AS tok,
       |    EXISTS (SELECT 1 FROM ${p}ss WHERE ${p}ss.doc_id = ${p}sd.doc_id
       |            AND ${p}ss.pos <= t.p AND t.p <= ${p}ss.pos + 7)
       |      AS covered
       |  FROM ${p}sd CROSS JOIN UNNEST(range(0, ${p}sd.n_toks)) AS t(p)),
       |${p}sagg AS MATERIALIZED (
       |  SELECT doc_id,
       |    count(*) FILTER (WHERE covered) AS stripped_tokens,
       |    count(*) FILTER (WHERE NOT covered) AS kept_tokens,
       |    coalesce(string_agg(tok, ' ' ORDER BY p)
       |      FILTER (WHERE NOT covered), '') AS clean_text
       |  FROM ${p}spos GROUP BY doc_id)""".stripMargin

  /** [[spanSqlCtes]] over the whole corpus, each gram duplicated in ≥ 2
    * distinct docs kept by `keeper` (an aggregate over its holders).
    */
  private def spanSelfSqlCtes(keeper: String): String =
    spanSqlCtes("", "documents WHERE text IS NOT NULL",
      s"""dup AS (
         |  SELECT gh, $keeper AS keeper FROM sg GROUP BY gh
         |  HAVING count(DISTINCT doc_id) >= 2)""".stripMargin)

  /** The span statistics twin over the whole corpus: every duplicated
    * gram (≥ 2 distinct docs) strips every holder (keeper −1), so
    * `sagg.stripped_tokens` counts the covered positions; `per` holds the
    * per-doc gram and dup-gram counts. Restricted to docs `where`.
    */
  private def spanStatsSql(where: String): String =
    "WITH " + spanSelfSqlCtes("-1") + ",\n" +
    s"""per AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |    count(*) FILTER (WHERE dup.gh IS NOT NULL) AS n_dup_grams
       |  FROM sg LEFT JOIN dup USING (gh) GROUP BY doc_id)
       |SELECT sd.doc_id, sd.n_toks,
       |  coalesce(per.n_grams, 0) AS n_grams,
       |  coalesce(per.n_dup_grams, 0) AS n_dup_grams,
       |  sagg.stripped_tokens AS covered_tokens,
       |  round(CAST(sagg.stripped_tokens AS DOUBLE) / sd.n_toks, 6)
       |    AS dup_frac
       |FROM sd JOIN sagg USING (doc_id) LEFT JOIN per USING (doc_id)
       |WHERE $where
       |ORDER BY sd.doc_id""".stripMargin

  /** Shared CTE chain rebuilding the planted line structure, censusing
    * lines by md5 with the distinct-doc threshold, and flagging keeps —
    * the common prefix of the `dedup_lines` and `dedup_lines_incremental`
    * twins (which differ only in which documents they reassemble).
    */
  private val lineSqlCtes: String =
    """d AS (
      |  SELECT doc_id, lang, source, string_split(text, ' ') AS t,
      |    greatest(CAST(ceil(len(string_split(text, ' ')) / 10.0)
      |      AS BIGINT), 1) AS nc
      |  FROM documents WHERE text IS NOT NULL),
      |lines AS (
      |  SELECT doc_id, CAST(0 AS BIGINT) AS pos,
      |    'nav ' || source || ' home login' AS line FROM d
      |  UNION ALL
      |  SELECT doc_id, i + 1,
      |    array_to_string(t[(i*10+1) : (i*10+10)], ' ')
      |  FROM d, UNNEST(range(0, nc)) AS u(i)
      |  UNION ALL
      |  SELECT doc_id, nc + 1, 'copyright footer ' || lang FROM d),
      |bp AS (
      |  SELECT md5(line) AS lh FROM lines
      |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
      |k AS (
      |  SELECT l.doc_id, l.pos, l.line, bp.lh IS NULL AS keep
      |  FROM lines l LEFT JOIN bp ON md5(l.line) = bp.lh)""".stripMargin

  /** Shared CTE chain (used inside a `WITH RECURSIVE`) computing the
    * near-dup transitive closure in DuckDB: exact all-pairs 3-gram Jaccard
    * edges at ≥ 0.5, symmetric closure by recursive reachability, and the
    * component-minimum label per reached node — the independent twin the
    * iterative min-label/pointer-jump propagation is checked against.
    */
  private val clusterSqlCtes: String =
    """tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |st AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM tk),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM st a JOIN st b ON a.doc_id < b.doc_id
      |  WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        len(list_distinct(a.sh || b.sh)), 6) >= 0.5),
      |eg AS (
      |  SELECT doc_a AS u, doc_b AS v FROM p
      |  UNION ALL SELECT doc_b, doc_a FROM p),
      |reach AS (
      |  SELECT u, v FROM eg
      |  UNION
      |  SELECT r.u, g.v FROM reach r JOIN eg g ON r.v = g.u),
      |lbl AS (
      |  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      |  FROM reach GROUP BY u)""".stripMargin

  /** DuckDB sign-cell expression over a list column named `unit` —
    * generated from the same frozen hyperplanes as [[semCellOf]].
    */
  private def semCellSqlExpr(dim: Int): String = {
    val planes = semHyperplanes(dim)
    (0 until SemBits).map { j =>
      val h = planes(j).map(x => if (x > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
      s"""(CASE WHEN ROUND(list_sum(list_transform(list_zip(unit,
         |      $h),
         |      p -> p[1] * p[2])), 6) > 0
         |      THEN ${1L << j} ELSE 0 END)""".stripMargin
    }.mkString(" +\n    ")
  }

  /** The semantic twins' mean formulas: the batch key's rounded cell
    * average, and the incremental key's state serve, round(sum / n, 9).
    */
  private val SemAvgMeanSql = "ROUND(avg(unit[i]), 9)"
  private val SemStateMeanSql = "ROUND(sum(unit[i]) / count(*), 9)"

  /** Cell means of a (vec_id, unit, cell) CTE `cells` (64-dim): `${p}dim`
    * → `${p}mn` → `${p}mm` = (cell, mean, mnrm), with the key's `mean`
    * formula. Shared by the semantic twins and the composed day-2 state.
    */
  private[graft] def semMeansSql(p: String, cells: String,
      mean: String = SemAvgMeanSql): String =
    s"""${p}dim AS (
       |  SELECT cell, i AS dd, $mean AS m
       |  FROM $cells, UNNEST(range(1, 65)) AS ${p}td(i)
       |  GROUP BY cell, i),
       |${p}mn AS (
       |  SELECT cell, list(m ORDER BY dd) AS mean FROM ${p}dim
       |  GROUP BY cell),
       |${p}mm AS (
       |  SELECT cell, mean,
       |    SQRT(list_sum(list_transform(mean, x -> x * x))) AS mnrm
       |  FROM ${p}mn)""".stripMargin

  /** The twin of [[assignedUnits]] (dim 64) over the embeddings filtered
    * by `where`: `${p}v` → `${p}u` → `${p}cell` = (vec_id, unit, cell),
    * plus the [[semMeansSql]] chain when a `mean` formula is given.
    */
  private[graft] def semCellsSql(p: String, where: String = "",
      mean: Option[String] = Some(SemAvgMeanSql)): String =
    (Seq(Similarity.preppedSql(s"${p}v", where),
      Similarity.unitSql(s"${p}u", s"${p}v"),
      s"""${p}cell AS (
         |  SELECT vec_id, unit,
         |    CAST(${semCellSqlExpr(64)} AS BIGINT) AS cell
         |  FROM ${p}u)""".stripMargin) ++
      mean.map(semMeansSql(p, s"${p}cell", _))).mkString(",\n")

  /** The twin of [[centroidSim]] + [[selfNeighbours]] (+ the incremental
    * key's corpus-neighbour count) over `${p}cell`: `${p}cs` (c_sim
    * against the centroid CTE `mm`, 0.0 for a cold cell), `${p}pb` (the
    * one-hop self pairs: n, has_better) and, with corpus `members`,
    * `${p}pc` (n corpus τ-neighbours). The one semantic verdict of the
    * semantic twins and the composed pipelines' twins.
    */
  private[graft] def semVerdictSql(p: String, mm: String,
      members: Option[String] = None): String = {
    val tau =
      s"""ROUND(list_sum(list_transform(list_zip(a.unit, b.unit),
         |    pz -> pz[1] * pz[2])), 6) >= $IncrementalEmbedTau""".stripMargin
    s"""${p}cs AS MATERIALIZED (
       |  SELECT c.vec_id, c.cell, c.unit,
       |    CASE WHEN m.mnrm > 0 THEN
       |      ROUND(list_sum(list_transform(list_zip(c.unit, m.mean),
       |        pz -> pz[1] * pz[2])) / m.mnrm, 6)
       |    ELSE 0.0 END AS c_sim
       |  FROM ${p}cell c LEFT JOIN $mm m USING (cell)),
       |${p}pb AS (
       |  SELECT a.vec_id AS id_a, CAST(count(*) AS BIGINT) AS n,
       |    bool_or(b.c_sim < a.c_sim OR
       |      (b.c_sim = a.c_sim AND b.vec_id < a.vec_id)) AS has_better
       |  FROM ${p}cs a JOIN ${p}cs b ON a.cell = b.cell
       |    AND a.vec_id != b.vec_id
       |  WHERE $tau
       |  GROUP BY a.vec_id)""".stripMargin +
      members.fold("")(m =>
        s""",
           |${p}pc AS (
           |  SELECT a.vec_id AS id_a, CAST(count(*) AS BIGINT) AS n
           |  FROM ${p}cs a JOIN $m b ON a.cell = b.cell
           |  WHERE $tau
           |  GROUP BY a.vec_id)""".stripMargin)
  }

  /** Full recompute twin of `dedup_semantic`, generated from the same
    * frozen hyperplane constants (cells → 9-dp-rounded cell means →
    * centroid similarity → within-cell τ-pairs → one-hop keep rule).
    */
  private def semanticSql: String =
    "WITH " + semCellsSql("s") + ",\n" + semVerdictSql("s", "smm") + "\n" +
      """SELECT scs.vec_id, scs.cell, scs.c_sim,
        |  coalesce(spb.n, 0) AS n_dup_nbrs,
        |  coalesce(NOT spb.has_better, true) AS keep
        |FROM scs LEFT JOIN spb ON spb.id_a = scs.vec_id
        |ORDER BY scs.vec_id""".stripMargin

  /** Full recompute twin of `dedup_semantic_incremental`: same frozen
    * cells, corpus-only (`c`) state means served as round(sum/n, 9),
    * centroid similarity with the cold-cell 0.0 fallback, the corpus and
    * batch neighbor joins, and the one-hop keep rule.
    */
  private def semanticIncrementalSql: String =
    "WITH " +
      semCellsSql("c", " WHERE NOT (vec_id % 2 = 1)", Some(SemStateMeanSql)) +
      ",\n" + semCellsSql("s", " WHERE vec_id % 2 = 1", None) + ",\n" +
      semVerdictSql("s", "cmm", Some("ccell")) + "\n" +
      """SELECT scs.vec_id, scs.cell, scs.c_sim,
        |  coalesce(spc.n, 0) AS n_nbr_corpus,
        |  coalesce(spb.n, 0) AS n_nbr_batch,
        |  coalesce(spc.n, 0) > 0 AS is_dup_corpus,
        |  (coalesce(spc.n, 0) = 0 AND coalesce(spb.has_better, false))
        |    AS is_dup_batch,
        |  (coalesce(spc.n, 0) = 0 AND NOT coalesce(spb.has_better, false))
        |    AS keep
        |FROM scs LEFT JOIN spc ON spc.id_a = scs.vec_id
        |LEFT JOIN spb ON spb.id_a = scs.vec_id
        |ORDER BY scs.vec_id""".stripMargin

  /** EXACT brute-force recompute of the one-hop incremental keep rule
    * (see [[embedDecisionChecked]]): every aggregate is engine-exact
    * (6dp-rounded cosines on both sides make the τ comparison
    * bit-stable); the certificate column `cert` — the serving path's
    * decision agreement — is pinned TRUE. One text for the quantized
    * (`quant_ok`) and IVF-composed (`ivf_ok`) keys.
    */
  private def embedIncrementalSql(cert: String): String =
    s"""WITH ${Similarity.preppedSql("v")},
       |n AS (SELECT vec_id, emb, nrm FROM v WHERE vec_id % 2 = 1),
       |pairs AS (
       |  SELECT n.vec_id AS q_id,
       |    CASE WHEN v.vec_id % 2 = 0 THEN 'corpus' ELSE 'prior' END AS side,
       |    ROUND(list_sum(list_transform(list_zip(n.emb, v.emb),
       |      p -> p[1] * p[2])) / (n.nrm * v.nrm), 6) AS sim
       |  FROM n, v
       |  WHERE v.vec_id != n.vec_id
       |    AND (v.vec_id % 2 = 0 OR v.vec_id < n.vec_id)),
       |flags AS (
       |  SELECT n.vec_id AS q_id,
       |    COALESCE(MAX(CASE WHEN side = 'corpus' THEN sim END)
       |      >= $IncrementalEmbedTau, false) AS dc,
       |    COALESCE(MAX(CASE WHEN side = 'prior' THEN sim END)
       |      >= $IncrementalEmbedTau, false) AS dp
       |  FROM n LEFT JOIN pairs ON pairs.q_id = n.vec_id
       |  GROUP BY n.vec_id)
       |SELECT count(*) AS n_new,
       |  count(*) FILTER (dc) AS n_dup_corpus,
       |  count(*) FILTER (NOT dc AND dp) AS n_dup_batch,
       |  count(*) FILTER (NOT dc AND NOT dp) AS n_keep,
       |  CAST($IncrementalEmbedTau AS DOUBLE) AS tau, true AS $cert
       |FROM flags""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_semantic" -> semanticSql,
    "dedup_semantic_incremental" -> semanticIncrementalSql,
    // exact independent formulation of the span statistics: same in-row
    // 8-gram md5 hashes and >= 2-distinct-docs census; coverage is
    // recomputed the INDEPENDENT way — a per-token-position EXISTS scan
    // over the dup starts (the Spark side folds an interval union; both
    // count exactly the positions lying under >= 1 duplicated gram)
    "dedup_spans" -> spanStatsSql("TRUE"),
    // the incremental contract IS recompute-over-union restricted to the
    // batch (span-census additivity over disjoint doc sets), so the twin
    // runs the identical full-corpus census and keeps only odd docs —
    // an independent proof of the corpus+batch census-merge rule
    "dedup_spans_incremental" -> spanStatsSql("sd.doc_id % 2 = 1"),
    // independent recompute of the excision: same gram hashes, census +
    // min-doc keeper, then the rebuild done the ORTHOGONAL way — covered
    // flags from a per-position EXISTS over the raw strip starts (the
    // Spark side folds merged intervals and filters in-row) and
    // string_agg reassembly in position order
    "dedup_spans_strip" ->
      ("WITH " + spanSelfSqlCtes("min(doc_id)") + "\n" +
      """SELECT sd.doc_id, sd.n_toks, sagg.stripped_tokens,
        |  sagg.kept_tokens, sagg.clean_text
        |FROM sd JOIN sagg USING (doc_id)
        |ORDER BY sd.doc_id""".stripMargin),
    // exact independent formulation of the whole line-dedup chain: rebuild
    // the planted line structure (header / 10-token chunks / footer — the
    // same arithmetic as lineStructured, DuckDB's 1-based inclusive slice
    // t[a : a+9] mirroring Spark's slice(t, a, 10)), census lines by md5
    // with a distinct-doc threshold, and reassemble surviving lines with
    // string_agg ORDER BY pos (Spark: in-row array_sort of (pos, line))
    "dedup_lines" ->
      s"""WITH $lineSqlCtes
        |SELECT doc_id,
        |  count(*) AS n_lines_in,
        |  count(*) FILTER (WHERE keep) AS n_lines_kept,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE keep), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // scraped-page plant rebuilt with explicit positions; keep-first is
    // the (doc_id, line) first-pos window — an independent formulation
    // of the Spark side's in-row first-occurrence-index rule
    "dedup_lines_intra" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, string_split(text, ' ') AS t,
        |    greatest(CAST(ceil(len(string_split(text, ' ')) / 10.0)
        |      AS BIGINT), 1) AS nc,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS dup
        |  FROM documents WHERE text IS NOT NULL),
        |lines AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        |    'nav ' || source || ' home login' AS line FROM d
        |  UNION ALL
        |  SELECT doc_id, i + 1,
        |    array_to_string(t[(i*10+1) : (i*10+10)], ' ')
        |  FROM d, UNNEST(range(0, nc)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, nc + 1, array_to_string(t[1 : 10], ' ')
        |  FROM d WHERE dup = 1
        |  UNION ALL
        |  SELECT doc_id, nc + 1 + dup,
        |    'nav ' || source || ' home login' FROM d
        |  UNION ALL
        |  SELECT doc_id, nc + 2 + dup, 'copyright footer ' || lang
        |  FROM d),
        |k AS (
        |  SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY doc_id, line
        |                       ORDER BY pos) = 1 AS keep
        |  FROM lines)
        |SELECT doc_id,
        |  count(*) AS n_lines_in,
        |  count(*) FILTER (WHERE keep) AS n_lines_kept,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE keep), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the incremental form's contract IS recompute-over-union restricted
    // to the batch (census additivity), so the twin runs the identical
    // full-corpus census and rebuilds only the odd (batch) documents —
    // an independent proof that the corpus-census + batch-census merge
    // path changes nothing about the decision rule
    "dedup_lines_incremental" ->
      s"""WITH $lineSqlCtes
        |SELECT doc_id,
        |  count(*) AS n_lines_in,
        |  count(*) FILTER (WHERE keep) AS n_lines_kept,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE keep), '') AS clean_text
        |FROM k WHERE doc_id % 2 = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_embed" -> Similarity.probeRecallCertSql(1, "vec_id < 100"),
    "dedup_embed_incremental" -> embedIncrementalSql("quant_ok"),
    "dedup_embed_ivf" -> embedIncrementalSql("ivf_ok"),
    "dedup_exact" ->
      """SELECT doc_id, text, lang, source, n_chars, sha256(text) AS h
        |FROM documents
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY sha256(text)
        |                           ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashSqlCtes
         |SELECT doc_id, simhash,
         |  simhash & 32767 AS band0,
         |  (simhash >> 15) & 32767 AS band1,
         |  (simhash >> 30) & 32767 AS band2,
         |  (simhash >> 45) & 32767 AS band3
         |FROM s ORDER BY doc_id""".stripMargin,
    // EXACT all-pairs 3-gram Jaccard distance twin for the MinHash-LSH
    // path: approxSimilarityJoin's distCol is spark.ml's EXACT key
    // distance (1 − Jaccard over the binary-TF index sets) — LSH only
    // gates candidates. Oracle equality therefore proves (a) the distance
    // arithmetic, (b) LSH candidate recall 1.0 on this corpus, and (c) no
    // 2^18-bucket TF collisions perturb the values (all deterministic:
    // fixed corpus + seed). Verified bit-exact at sf0.01. The WHERE is a
    // STRICT < 0.5: spark.ml filters `distCol < threshold` (exclusive).
    "dedup_near" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(1.0 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(a.sh || b.sh)), 6) AS jaccard_dist
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE 1.0 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(list_distinct(a.sh || b.sh)) < 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // EXACT all-pairs 3-gram Jaccard twin: the Spark op is exact Jaccard
    // over banded candidates, so oracle equality additionally proves the
    // two-minima blocking has recall 1.0 on this corpus (deterministic:
    // fixed corpus + fixed salts). Jaccard over hashed shingle sets equals
    // Jaccard over string shingle sets absent xxhash64 collisions. The
    // WHERE filters the ROUNDED value — exactly what the Spark op does —
    // so the twins agree even for raw ratios in [0.4999995, 0.5).
    "dedup_ngram" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        |  FROM t),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |          len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, jaccard FROM p
        |WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // EXACT twin for the cluster labels: the same all-pairs Jaccard edge
    // set (proven equal to the blocked Spark pairs by the dedup_ngram
    // oracle), closed transitively with a recursive CTE — equality proves
    // the iterative min-label propagation computes the true connected
    // components on this corpus, singletons included.
    "dedup_cluster" ->
      s"""WITH RECURSIVE $clusterSqlCtes
        |SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
        |FROM documents d LEFT JOIN lbl l USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // incremental curation: the same transitive closure, then the
    // keep-rule over the parity split — no even (existing) member in the
    // component, minimum odd (incoming) id wins
    "dedup_incremental" ->
      s"""WITH RECURSIVE $clusterSqlCtes,
        |cl AS (
        |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN lbl l USING (doc_id))
        |SELECT c.doc_id, c.cluster_id
        |FROM cl c
        |WHERE c.doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM cl e
        |                  WHERE e.cluster_id = c.cluster_id
        |                    AND e.doc_id % 2 = 0)
        |  AND c.doc_id = (SELECT MIN(i.doc_id) FROM cl i
        |                  WHERE i.cluster_id = c.cluster_id
        |                    AND i.doc_id % 2 = 1)
        |ORDER BY c.doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashSqlCtes,
         |b AS (
         |  SELECT doc_id, simhash,
         |    unnest([simhash & 32767, (simhash >> 15) & 32767,
         |            (simhash >> 30) & 32767, (simhash >> 45) & 32767])
         |      AS band_val,
         |    unnest([0, 1, 2, 3]) AS band_idx
         |  FROM s)
         |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |  CAST(MIN(bit_count(xor(a.simhash, c.simhash))) AS INTEGER)
         |    AS hamming
         |FROM b a JOIN b c
         |  ON a.band_idx = c.band_idx AND a.band_val = c.band_val
         |  AND a.doc_id < c.doc_id
         |GROUP BY a.doc_id, c.doc_id
         |HAVING MIN(bit_count(xor(a.simhash, c.simhash))) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
  )
}
