package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.table
import graft.functions.VectorMath

/** §2j similarity search over the embedding column (SURVEY §2j
  * `sim_search`).
  *
  * One scoring ladder, several entry points. Every path pairs probes
  * with candidates, optionally cuts the pairs with an int8 pre-score,
  * scores the survivors with the exact cosine and, for the checked keys,
  * certifies the approximate result against the exact one:
  *  - pairing ([[paired]]) — a broadcast cross join over every row, or
  *    the IVF `cluster` equi-join over each probe's nearest clusters;
  *  - int8 cut ([[scoredPairs]] with `prescan`) — the 1-byte kernel ranks
  *    each probe's (or each (probe, side)'s) candidates and keeps the
  *    top `prescan` ids, so no float arrays cross that shuffle;
  *  - exact score ([[exactCosine]]) — float→double cast (exact), folded
  *    sequentially, so Spark and DuckDB produce bit-identical doubles;
  *    rounded to 6dp with doc-id tie-breaks so rank order is engine-stable;
  *  - certificates — [[recallCertificate]] (pooled recall of a top-k) and
  *    [[decisionCertificate]] (keep-decision agreement at a floor).
  *
  * The entry points are projections of that ladder: exact top-k
  * ([[simSearch]], [[knnClassify]], the hybrid's vector side), int8 scan
  * + exact rerank ([[simSearchQuantized]]), IVF top-k ([[simSearchIvf]],
  * with its own unit-dot score), and the incremental embedding dedup in
  * [[Dedup]] (the corpus/prior side rule of [[paired]]). The LSH paths
  * ([[simSearchLsh]], [[Dedup.dedupEmbed]]) take candidates from one
  * random-hyperplane bucket join ([[lshTopK]]) instead.
  *
  * Every top-k runs as a rank-limited window: Spark's WindowGroupLimit
  * (verified in the plan) computes a partial top-k per input partition
  * BEFORE the exchange, so the shuffle carries at most k·partitions rows
  * per probe, not N.
  */
object Similarity {

  private val K = 10
  private val NProbes = 5

  /** Default probe set for the demo queries: the first `NProbes` vectors.
    * Every search path also has an overload taking an arbitrary probe
    * predicate — the ANN surface is an API, not a fixed demo (any filter
    * over the embeddings table selects the query side).
    */
  private def defaultProbe: Column = col("vec_id") < NProbes

  /** embeddings with double-cast vector `emb` and precomputed L2 norm
    * `nrm` (computed once per row, not once per pair). Norm via the
    * codegen'd native `dot_product` (same sequential fold as the HOF form
    * → bit-identical).
    *
    * Zero-norm vectors are EXCLUDED here, at the single prep chokepoint:
    * cosine is undefined for them, and downstream they would zero a
    * divisor (an ANSI-mode job abort, not just a bad score) in both the
    * exact cosine and the unit normalization every LSH/IVF path shares.
    * At 100 TB an all-zeros embedding (a failed encoder call) is a
    * certainty, so the exclusion is the serving contract, not a test
    * nicety; the harness corpus contains none, so checked results are
    * unchanged. The oracle twins carry the same `WHERE nrm > 0`
    * ([[preppedSql]]).
    */
  private[ops] def prepped(spark: SparkSession, sfDir: String): DataFrame =
    prepped(table(spark, sfDir, "embeddings"))

  /** Frame form of the prep chokepoint — any (vec_id, embedding) frame,
    * same cast/norm/zero-vector contract as the table form.
    */
  private[ops] def prepped(raw: DataFrame): DataFrame =
    raw
      .withColumn("emb", transform(col("embedding"), x => x.cast(DoubleType)))
      .withColumn("nrm", sqrt(VectorMath.dot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0.0)

  /** [[prepped]] plus the L2-normalized `unit` array — the one unit prep
    * of every LSH/IVF path and of the semantic dedup keys; on unit
    * vectors euclidean distance maps to cosine via ‖a−b‖² = 2−2cos.
    */
  private[ops] def unitVectors(raw: DataFrame): DataFrame =
    prepped(raw).withColumn("unit", expr("transform(emb, x -> x / nrm)"))

  /** The embeddings table as unit vectors in both array (`unit`) and
    * ml Vector (`vec`) form — the input of the LSH and IVF models.
    */
  private def mlVectors(spark: SparkSession, sfDir: String): DataFrame =
    unitVectors(table(spark, sfDir, "embeddings"))
      .withColumn("vec", array_to_vector(col("unit")))

  // ---- the scoring ladder ----

  /** The exact 6-dp cosine of a scored pair (`q_emb`/`q_nrm` against
    * `c_emb`/`c_nrm`).
    */
  private val exactCosine: Column = round(
    VectorMath.dot(col("q_emb"), col("c_emb"))
      / (col("q_nrm") * col("c_nrm")), 6)

  /** The int8 pre-score of a pair: the rescaled 1-byte dot product over
    * the float norms ([[quantize]] forms on both sides).
    */
  private val int8Cosine: Column = (col("q_scale") * col("c_scale")
    * VectorMath.dotInt8(col("q_i8"), col("c_i8"))
    / (col("q_nrm") * col("c_nrm")))

  /** INT8 QUANTIZATION of a prepped frame: symmetric per-vector `scale`
    * (`maxabs/127`), vector stored as array<tinyint> `i8`. At 100 TB the
    * quantized corpus is 4× smaller than float32 (8× smaller than the
    * double-cast scoring form) — the difference between an in-memory
    * candidate scan and a spilling one. Exact per-vector `scale` and the
    * float norm ride along so scores rescale and the rerank stage can
    * recover exactness. Requires positive-norm input (callers come through
    * [[prepped]], which excludes zero vectors — there `maxabs > 0`, so the
    * scale never zeroes and round(x/scale) ∈ [−127, 127] exactly).
    */
  private[ops] def quantize(v: DataFrame): DataFrame =
    v.withColumn("scale",
        aggregate(col("emb"), lit(0.0), (acc, x) => greatest(acc, abs(x)))
          / 127.0)
      .withColumn("i8",
        transform(col("emb"), x => round(x / col("scale"), 0)
          .cast(ByteType)))

  /** One side of a pairing: `vec_id` → `<p>_id` and every payload column
    * `c` → `<p>_<c>` (`q` probes, `c` candidates); `keep` columns pass
    * through unrenamed.
    */
  private def side(v: DataFrame, p: String, payload: Seq[String],
      keep: String*): DataFrame =
    v.select((col("vec_id").as(s"${p}_id") +:
      payload.map(c => col(c).as(s"${p}_$c"))) ++ keep.map(col): _*)

  /** Where each probe's candidates come from. */
  private[ops] sealed trait Pairing
  /** Every corpus row: the probe side broadcasts into a cross join. */
  private[ops] case object AllRows extends Pairing
  /** The rows of each probe's `nProbe` nearest IVF clusters: a `cluster`
    * equi-join against the broadcast probe cells ([[nearestClusters]];
    * needs `cluster` on the corpus and `unit` on the probes).
    */
  private[ops] final case class IvfCells(centroids: DataFrame, nProbe: Int)
      extends Pairing

  /** The ladder's pairing step: candidate rows of `v` against the
    * `probes` rows, both carrying `payload`, self pairs dropped. With
    * `keepRule` (an `is_new` column on `v`) each pair gets its side —
    * `corpus` for an existing candidate, `prior` for an earlier new one —
    * and a later new candidate pairs with nothing (the incremental dedup's
    * one-hop arrival order).
    */
  private def paired(v: DataFrame, probes: DataFrame, pairing: Pairing,
      keepRule: Boolean, payload: String*): DataFrame = {
    val newCol = if (keepRule) Seq("is_new") else Nil
    val pairs = (pairing match {
      case AllRows =>
        side(v, "c", payload ++ newCol)
          .crossJoin(broadcast(side(probes, "q", payload)))
      case IvfCells(centroids, nProbe) =>
        // no pair-dedup needed: a candidate lives in exactly ONE cluster
        // and the probe cells are unique on (q_id, cluster), so the
        // equi-join emits each (q_id, c_id) at most once by construction
        side(v, "c", payload ++ newCol, "cluster")
          .join(broadcast(nearestClusters(
            side(probes, "q", (payload :+ "unit").distinct),
            centroids, nProbe)), "cluster")
    }).filter(col("c_id") =!= col("q_id"))
    if (!keepRule) pairs
    else pairs
      .withColumn("side", when(!col("c_is_new"), lit("corpus"))
        .when(col("c_id") < col("q_id"), lit("prior")))
      .filter(col("side").isNotNull)
  }

  /** Rank-limited window: the top `n` rows by `score` (ties to the smaller
    * `c_id`) per `by` group, ranked in column `rank`.
    */
  private def topN(df: DataFrame, score: String, rank: String, n: Int,
      by: String*): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy(by.map(col): _*)
        .orderBy(col(score).desc, col("c_id"))))
      .filter(col(rank) <= n)

  /** The ladder: probes (`probesOf` over the prepped corpus `v`) paired
    * with their candidates, scored with the exact cosine — (q_id, c_id,
    * sim) plus `side` under `keepRule`.
    *
    * With `prescan = Some(n)` (`v` through [[quantize]]) the pairs are
    * first int8-scored and cut to the top `n` per probe (per (probe,
    * side) under `keepRule`); only those (q_id, c_id) ids cross the
    * shuffle, and the exact rerank joins the candidates' double arrays by
    * `c_id` and the broadcast probes' by `q_id`. The rerank applies the
    * same kernel, rounding and tie-breaks as the exact pairing, so the
    * result is IDENTICAL to it whenever the pool covers the true answer.
    */
  private[ops] def scoredPairs(v: DataFrame, probesOf: DataFrame => DataFrame,
      pairing: Pairing = AllRows, keepRule: Boolean = false,
      prescan: Option[Int] = None): DataFrame = {
    val probes = probesOf(v)
    prescan match {
      case None =>
        paired(v, probes, pairing, keepRule, "emb", "nrm")
          .withColumn("sim", exactCosine)
      case Some(n) =>
        val keys = if (keepRule) Seq("q_id", "side") else Seq("q_id")
        topN(paired(v, probes, pairing, keepRule, "i8", "scale", "nrm")
            .withColumn("pre_sim", int8Cosine), "pre_sim", "pre_rnk", n,
            keys: _*)
          .select((keys :+ "c_id").map(col): _*)
          .join(side(v, "c", Seq("emb", "nrm")), "c_id")
          .join(broadcast(side(probes, "q", Seq("emb", "nrm"))), "q_id")
          .withColumn("sim", exactCosine)
    }
  }

  /** Top-`k` exact (or int8-prescanned) neighbors per probe: (q_id, c_id,
    * sim, rnk), unordered.
    */
  private def topK(v: DataFrame, probesOf: DataFrame => DataFrame, k: Int,
      prescan: Option[Int] = None): DataFrame =
    topN(scoredPairs(v, probesOf, prescan = prescan), "sim", "rnk", k, "q_id")
      .select(col("q_id"), col("c_id"), col("sim"), col("rnk"))

  /** Exact top-k cosine neighbors for the default probe set. */
  def simSearch(spark: SparkSession, sfDir: String): DataFrame =
    simSearch(spark, sfDir, defaultProbe)

  /** Exact top-k cosine neighbors for an arbitrary probe predicate over the
    * embeddings table. `k` bounds neighbors per probe. This is the
    * correctness baseline and is DuckDB-checkable bit-exactly.
    */
  def simSearch(spark: SparkSession, sfDir: String, probe: Column,
      k: Int = K): DataFrame =
    topK(prepped(spark, sfDir), _.filter(probe), k)
      .orderBy(col("q_id"), col("rnk"))

  /** IVF-style approximate top-k: a seeded k-means coarse quantizer
    * clusters the corpus once; each probe searches only its `nProbe`
    * nearest clusters, re-scored with exact cosine. This is the classic
    * inverted-file ANN layout: at 100 TB the cluster assignment is a
    * write-once partitioning column, and each query touches
    * nProbe/nClusters of the data instead of all of it.
    *
    * Probe-width honesty: the harness embeddings are near-structureless
    * (random vectors + planted near-dup twins), so top-10 recall tracks
    * the scanned fraction almost linearly — certifying the 0.8 floor with
    * headroom needs 24 of 32 clusters probed (measured pooled recall
    * 0.94). On a real corpus with cluster structure (the case IVF exists
    * for) the same floor holds at a far smaller nProbe/nClusters; the
    * ratio is the recall/cost dial, and the certificate is exactly the
    * audit that tells an operator their dial setting is safe.
    */
  def simSearchIvf(spark: SparkSession, sfDir: String): DataFrame =
    simSearchIvf(spark, sfDir, defaultProbe)

  /** The engine's standard IVF layout parameters (single source of truth
    * for the coarse-quantizer size and default probe width — see
    * [[simSearchIvf]]'s probe-width honesty note).
    */
  private[ops] val IvfClusters = 32
  private[ops] val IvfNProbe = 24

  /** Fit-ONCE coarse quantizer: at 100 TB the quantizer is corpus
    * infrastructure, not per-query work. The fitted model is persisted at
    * a corpus-keyed path; later sessions load it and only pay cluster
    * assignment. (Seeded fit → identical centroids either way.)
    * The cache tag fingerprints the corpus content (LocalFs.cachePath):
    * regenerating the embeddings table in place changes the tag → the
    * quantizer refits instead of silently serving stale centroids.
    */
  private[ops] def ivfQuantizer(spark: SparkSession, sfDir: String,
      v: DataFrame): org.apache.spark.ml.clustering.KMeansModel = {
    // fitted and saved inside a LocalFs.landOnce build: the stable path
    // only ever holds a COMPLETE model under its marker (ML writers land
    // metadata before data, so guarding on the writer's own files would
    // let a crash mid-save poison the cache for every later session)
    var fitted: Option[org.apache.spark.ml.clustering.KMeansModel] = None
    val modelPath = graft.LocalFs.landOnce(spark.sparkContext.applicationId,
      graft.LocalFs.Names.IvfQuantizerCache, sfDir,
      new java.io.File(s"$sfDir/embeddings.parquet")) { tmp =>
      val m = new KMeans().setK(IvfClusters).setSeed(42L)
        .setFeaturesCol("vec").setPredictionCol("cluster").fit(v)
      m.write.overwrite().save(tmp.getPath)
      fitted = Some(m)
    }
    fitted.getOrElse(
      org.apache.spark.ml.clustering.KMeansModel.load(modelPath))
  }

  /** The corpus in IVF layout: every [[mlVectors]] column plus the
    * quantizer's `cluster` assignment, and the centroid table (IvfClusters
    * rows — broadcastable anywhere). At 100 TB `cluster` is a write-once
    * partitioning column; every IVF consumer (top-k search, incremental
    * dedup) shares this one layout.
    */
  private[ops] def ivfAssign(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val v = mlVectors(spark, sfDir)
    val model = ivfQuantizer(spark, sfDir, v)
    val assigned = model.transform(v)
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.toIndexedSeq
        .map { case (c, i) => (i, c.toArray.toSeq) })
      .toDF("cluster", "centroid")
    (assigned, centroids)
  }

  /** Each probe's `nProbe` nearest clusters by centroid similarity: input
    * (q_id, q_unit, …), output the same columns plus `cluster` — nProbe
    * rows per probe. The centroid table broadcasts (IvfClusters rows), so
    * this is a map-side ranking over the probe set.
    */
  private def nearestClusters(probes: DataFrame, centroids: DataFrame,
      nProbe: Int): DataFrame = {
    val wC = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cluster"))
    probes.crossJoin(broadcast(centroids))
      .withColumn("c_sim", VectorMath.dot(col("q_unit"), col("centroid")))
      .withColumn("c_rnk", row_number().over(wC))
      .filter(col("c_rnk") <= nProbe)
      .select(probes.columns.map(col).toIndexedSeq :+ col("cluster"): _*)
  }

  /** IVF search for an arbitrary probe predicate over the embeddings table. */
  def simSearchIvf(spark: SparkSession, sfDir: String, probe: Column,
      k: Int = K): DataFrame =
    simSearchIvfBy(spark, sfDir, _.filter(probe), k)

  /** IVF search for an explicit probe ID FRAME (`vec_id` rows) — the form
    * a composition uses when its query set is itself a frame (the hybrid
    * keys' query-by-example ids), avoiding a driver-side collect into a
    * predicate. The id frame is probe-sized by contract → broadcast.
    */
  private[ops] def simSearchIvfForIds(spark: SparkSession, sfDir: String,
      qIds: DataFrame, k: Int): DataFrame =
    simSearchIvfBy(spark, sfDir,
      _.join(broadcast(qIds.select(col("vec_id"))), Seq("vec_id")), k)

  /** The shared IVF top-k body: `probesOf` selects the probe rows from the
    * assigned corpus (predicate filter or broadcast id-frame semi-join);
    * candidates are the rows of the probed clusters only, scored by the
    * 6-dp dot of the unit vectors.
    */
  private def simSearchIvfBy(spark: SparkSession, sfDir: String,
      probesOf: DataFrame => DataFrame, k: Int): DataFrame = {
    val (assignedAll, centroids) = ivfAssign(spark, sfDir)
    val assigned = assignedAll.select(col("vec_id"), col("unit"), col("cluster"))
    topN(paired(assigned, probesOf(assigned), IvfCells(centroids, IvfNProbe),
        keepRule = false, "unit")
        .withColumn("sim",
          round(VectorMath.dot(col("q_unit"), col("c_unit")), 6))
        .select(col("q_id"), col("c_id"), col("sim")), "sim", "rnk", k, "q_id")
      .orderBy(col("q_id"), col("rnk"))
  }

  /** LSH-bucketed top-`k`: candidates come from the engine's standard
    * random-hyperplane LSH (bucket length 1.0, 10 tables, seed 42 — one
    * config for every LSH path) via `approxSimilarityJoin` on unit vectors
    * at euclidean `gate`, scored by cosine = 1 − d²/2 (6dp). Output
    * (q_id, c_id, sim, rnk), unordered. Both sides are normalized and
    * hashed ONCE (persisted); approxSimilarityJoin skips its transform
    * when the hash column is present.
    */
  private[ops] def lshTopK(spark: SparkSession, sfDir: String, probe: Column,
      gate: Double, k: Int): DataFrame = {
    val v = mlVectors(spark, sfDir).select(col("vec_id"), col("vec"))
    val model = new BucketedRandomProjectionLSH()
      .setInputCol("vec").setOutputCol("hashes")
      .setBucketLength(1.0).setNumHashTables(10).setSeed(42L)
      .fit(v)
    val hashed = model.transform(v).persist()
    val dist = col("dist")
    topN(model.approxSimilarityJoin(hashed.filter(probe), hashed, gate, "dist")
        .filter(col("datasetA.vec_id") =!= col("datasetB.vec_id"))
        .select(
          col("datasetA.vec_id").as("q_id"),
          col("datasetB.vec_id").as("c_id"),
          round(lit(1.0) - dist * dist / 2.0, 6).as("sim")),
      "sim", "rnk", k, "q_id")
  }

  /** LSH-bucketed approximate top-k: same output shape as `simSearch`, but
    * candidates come from [[lshTopK]]. The euclidean candidate gate is 1.5
    * (⟺ cosine ≥ −0.125): a TOP-K search must not let the candidate gate
    * truncate true neighbors, and on a corpus whose exact top-10 includes
    * near-orthogonal vectors the old 1.2 (cos ≥ 0.28) capped pooled recall
    * at ~0.6 no matter how many hash tables fired — the near-dup path
    * ([[Dedup.dedupEmbed]]) keeps its tighter gate because its contract
    * is duplicates, not top-k. Recall vs the exact path is
    * certificate-graded; results are seed-deterministic, not
    * SQL-checkable.
    */
  def simSearchLsh(spark: SparkSession, sfDir: String): DataFrame =
    simSearchLsh(spark, sfDir, defaultProbe)

  /** LSH-bucketed search for an arbitrary probe predicate. */
  def simSearchLsh(spark: SparkSession, sfDir: String, probe: Column,
      k: Int = K): DataFrame =
    lshTopK(spark, sfDir, probe, gate = 1.5, k).orderBy(col("q_id"), col("rnk"))

  /** QUANTIZED-SCAN + EXACT-RERANK top-k: the two-stage serving layout
    * every production vector store uses. Stage 1 scores ALL candidates
    * with the int8 kernel ([[graft.functions.VectorMath.dotInt8]] — 1 byte
    * per element of memory traffic instead of 8) and keeps the top
    * `k·rerank` per probe; stage 2 re-scores ONLY those survivors
    * (k·rerank·probes rows — a broadcastable sliver) with the exact double
    * kernel and cuts to k ([[scoredPairs]]). Output schema/rounding/
    * tie-breaks match [[simSearch]] exactly, so when the rerank pool
    * covers the true top-k the result is IDENTICAL to the exact path — the
    * suite pins pooled recall and the int8 pre-score's error envelope.
    *
    * Unlike LSH/IVF this path still reads every candidate once — it cuts
    * constant-factor memory bandwidth, not asymptotics — so at 100 TB it
    * serves as the rerank tier UNDER an IVF/LSH candidate stage, or alone
    * on the largest corpus that fits a quantized in-memory scan.
    */
  def simSearchQuantized(spark: SparkSession, sfDir: String,
      probe: Column = defaultProbe, k: Int = K,
      rerank: Int = 3): DataFrame = {
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    // the probe predicate binds over embeddings-table columns, so it
    // filters BEFORE the q_-renames (same convention as simSearch)
    topK(quantize(prepped(spark, sfDir)), _.filter(probe), k,
        prescan = Some(k * rerank))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The family's recall floor: every top-k certificate promises pooled
    * recall ≥ 0.8 (see [[recallCertificate]]'s floor sizing).
    */
  private[ops] val RecallFloor = 0.8

  /** A certificate's verdict: `hits ≥ floor · n`, and `false` (nothing
    * certified) when there is nothing to count — a global aggregate over
    * no rows leaves `hits` NULL, and a certificate never reads NULL.
    */
  private def certified(hits: Column, n: Column, floor: Double): Column =
    coalesce(hits >= n * floor, lit(false))

  /** POOLED-RECALL CERTIFICATE: one row summarizing an approximate result
    * against the exact path — (n_probes, k, floor, recall_ok) with
    * recall_ok ⟺ |approx ∩ exact| ≥ floor · |exact| pooled over all
    * probes (`false` on an empty exact result). Everything in the row
    * except the Spark-verified boolean is recomputable by the oracle
    * (probe count from the probe predicate, k and floor are the
    * operator's contract), which turns the recall bound itself into a
    * hash-checked driver entry — the same move as `quantile_approx`'s rank
    * certificate. One pass: the exact result left-joins the approx
    * (q_id, c_id) pairs and aggregates hit counts.
    *
    * Pooled, not per-probe: LSH/IVF recall is probe-dependent (a probe in
    * a sparse bucket can legitimately recall 1 of 10), so per-probe
    * booleans would pin corpus-specific noise; the pooled floor is the
    * operator's actual documented guarantee.
    *
    * Floor sizing (RecallProbeMain, sf0.01): LSH (10 tables, candidate
    * gate 1.5), int8-rerank and embed top-1 measure pooled recall 1.00;
    * IVF ([[IvfNProbe]] of [[IvfClusters]] clusters probed) measures 0.94
    * (see [[simSearchIvf]]). The 0.8 floor carries headroom against
    * corpus regeneration while still promising a user a strong (≥0.8)
    * documented recall contract; the old 0.2 floors certified almost
    * nothing.
    */
  private[graft] def recallCertificate(exact: DataFrame, approx: DataFrame,
      k: Int, floor: Double): DataFrame =
    exact.select(col("q_id"), col("c_id"))
      // dropDuplicates: n_exact/n_hit are post-join row counts, so a
      // duplicate (q_id, c_id) pair on the approx side would multiply its
      // matching exact row and inflate the pooled recall. The five current
      // callers are unique-by-construction (approxSimilarityJoin dedups;
      // IVF, int8-rerank and the fused hybrid emit one row per pair) —
      // this keeps the helper honest for any future caller.
      // the approx side is ≤ k·probes rows by the operator's contract, so
      // it broadcasts at any corpus scale — without the hint Spark
      // sort-merges two frames it has no stats for
      .join(broadcast(approx.select(col("q_id"), col("c_id")).dropDuplicates(
        "q_id", "c_id")
        .withColumn("hit", lit(1L))), Seq("q_id", "c_id"), "left")
      .agg(countDistinct(col("q_id")).as("n_probes"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("n_probes"), lit(k).as("k"), lit(floor).as("min_recall"),
        certified(col("n_hit"), col("n_exact"), floor).as("recall_ok"))

  /** DECISION CERTIFICATE: one boolean column `name`, true iff the approx
    * path reproduces at least `floor` of the exact path's per-`q_id`
    * `keep` decisions (a q_id present on one side only disagrees; `false`
    * when both are empty). Floor 1.0 demands every decision — the
    * quantized full scan, decision-identical by construction when its pool
    * is wide enough; the IVF composition certifies at a floor below 1.
    */
  private[ops] def decisionCertificate(exact: DataFrame, approx: DataFrame,
      floor: Double, name: String): DataFrame =
    exact.select(col("q_id"), col("keep"))
      .join(approx.select(col("q_id"), col("keep").as("keep_a")),
        Seq("q_id"), "full_outer")
      .agg(certified(
        sum(when(col("keep").isNotNull && col("keep_a").isNotNull &&
          col("keep") === col("keep_a"), 1L).otherwise(0L)),
        count(lit(1)), floor).as(name))

  /** `sim_search_lsh` checked key: the LSH path's pooled recall vs the
    * exact path, certified for the driver (the raw approximate neighbor
    * lists are seed/engine-specific — [[simSearchLsh]] stays the API).
    * The certificate runs BOTH paths; that is the cost of verification,
    * not of serving — at 100 TB the production query is the approx path
    * alone, and this key is the recurring quality audit a pipeline runs
    * on a sampled probe set.
    */
  def simSearchLshChecked(spark: SparkSession, sfDir: String): DataFrame =
    recallCertificate(simSearch(spark, sfDir),
      simSearchLsh(spark, sfDir), K, RecallFloor)

  /** `sim_search_ivf` checked key: IVF pooled recall vs exact, certified
    * (same contract as [[simSearchLshChecked]]).
    */
  def simSearchIvfChecked(spark: SparkSession, sfDir: String): DataFrame =
    recallCertificate(simSearch(spark, sfDir),
      simSearchIvf(spark, sfDir), K, RecallFloor)

  /** `sim_search_quant` checked key: the quantized-scan + exact-rerank
    * tier's pooled recall vs the exact path, certified (same contract as
    * [[simSearchLshChecked]]). Floor 0.8 against a measured pooled recall
    * of 1.0 (the int8 pre-score reads every candidate, so only a
    * quantization-error rank inversion past the k·rerank pool boundary can
    * lose a true neighbor — ExtensionsSpec pins ≥0.9 as the spot check).
    */
  def simSearchQuantChecked(spark: SparkSession, sfDir: String): DataFrame =
    recallCertificate(simSearch(spark, sfDir),
      simSearchQuantized(spark, sfDir), K, RecallFloor)

  /** kNN CLASSIFICATION over the embedding space: each probe vector
    * (vec_id < 50) takes the majority label of its 5 exact-cosine nearest
    * neighbors — the classify-by-similarity composition (labeling new data
    * from curated neighbors) a training pipeline runs on top of ANN.
    *
    * Rides [[simSearch]]'s machinery unchanged: broadcast probe cross +
    * codegen'd dot product + WindowGroupLimit partial top-k; the vote is a
    * tiny groupBy over k·probes rows and the label lookups broadcast. At
    * 100 TB the neighbor stage swaps to `simSearchIvf`/`simSearchLsh` with
    * the vote unchanged — the oracle pins the exact-neighbor form
    * bit-identically (cosine rounding + (votes desc, label) tie-break are
    * engine-stable).
    */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 5
    val labels = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    val nn = simSearch(spark, sfDir, col("vec_id") < 50, k)
    val votes = nn
      .join(broadcast(labels.withColumnRenamed("vec_id", "c_id")), "c_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
      .join(broadcast(labels.select(col("vec_id").as("q_id"),
        col("label").as("true_label"))), "q_id")
      .select(col("q_id"), col("pred_label"), col("votes"), col("true_label"),
        when(col("pred_label") === col("true_label"), 1).otherwise(0)
          .as("correct"))
      .orderBy(col("q_id"))
  }

  /** Candidate depth each hybrid substrate contributes (= [[K]], the
    * family's result depth) and the standard RRF dampening constant
    * (Cormack et al. 2009 — rank 1 scores 1/61 of the unit).
    */
  private[ops] val HybridCandK = 10
  private[ops] val RrfC = 60

  /** HYBRID RETRIEVAL — the serving composition retrieval pipelines
    * actually run: LEXICAL candidates (the exact-integer BM25 top-k,
    * [[TextAnalysis.searchBm25On]]) ∪ VECTOR candidates (exact cosine
    * top-k over the query document's embedding — the `sim_search`
    * baseline; `vec_id = doc_id` is the harness pairing), fused by
    * RECIPROCAL RANK FUSION: `rrf_milli = Σ 1000000 div (RrfC + rank)`
    * over the lists that surfaced the candidate (a missing list
    * contributes 0). RRF is the score-normalization-free fusion the
    * hybrid-search literature and engines default to — and, being pure
    * integer rank arithmetic, it is cross-engine bit-exact where a
    * score-blend of BM25 integers against cosine doubles would not be.
    * Queries are the BM25 key's query-by-example layout (first `qn`
    * text-bearing docs, 3-token queries); each substrate keeps its own
    * conventions (BM25 may surface the query doc itself; the vector
    * side excludes it). Ties break to the smaller doc_id.
    *
    * Scale path: swap the vector candidates to [[simSearchIvf]] (the
    * fusion is rank-only, so the swap is a drop-in) — the graded key
    * keeps the exact side as its DuckDB-checkable baseline, and
    * ExtensionsSpec certifies the IVF-swapped variant's pooled overlap
    * against it (the `sim_search_ivf` certificate discipline).
    *
    * Scale shape: both substrates keep their own shapes (broadcast
    * query frames, map-side filtered token stream / WindowGroupLimit
    * partial top-k); the fusion is a full-outer join of two ≤ qn·kCand
    * frames and a row_number over ≤ qn groups — nothing corpus-sized
    * past the substrate stages.
    */
  def searchHybridOn(docs: DataFrame, embeddings: DataFrame, qn: Int,
      kCand: Int, k: Int): DataFrame = {
    require(qn >= 1 && kCand >= 1 && k >= 1,
      s"qn/kCand/k must be >= 1, got $qn/$kCand/$k")
    hybridOn(docs, qn, kCand, k)(qIds =>
      topK(prepped(embeddings), _.join(broadcast(qIds), Seq("vec_id")), kCand))
  }

  /** The hybrid body shared by the exact and IVF forms (one formulation,
    * so the serving variant cannot drift from the graded one): the BM25
    * lexical top-`kCand`, the query ids (the first `qn` text-bearing docs
    * — the BM25 side's layout) handed to `vectorTopK` as a FRAME, and the
    * RRF fusion — full-outer join of the two candidate frames (≤ qn·kCand
    * rows each), integer reciprocal-rank scores, top-`k` per query.
    */
  private def hybridOn(docs: DataFrame, qn: Int, kCand: Int, k: Int)(
      vectorTopK: DataFrame => DataFrame): DataFrame = {
    val lex = TextAnalysis.searchBm25On(docs, qn, kCand)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val qIds = TextAnalysis.queryDocs(docs, qn)
      .select(col("doc_id").as("vec_id"))
    val vec = vectorTopK(qIds)
      .select(col("q_id").as("query_id"), col("c_id").as("doc_id"),
        col("rnk").as("vec_rnk"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_milli").desc, col("doc_id"))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr(s"CAST(1000000 AS BIGINT) div ($RrfC + lex_rnk)"),
          lit(0L)) +
        coalesce(expr(s"CAST(1000000 AS BIGINT) div ($RrfC + vec_rnk)"),
          lit(0L)))
      .withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_rnk"),
        col("vec_rnk"), col("rrf_milli"), col("rnk"))
  }

  /** `search_hybrid` checked key: [[searchHybridOn]] at the family's
    * [[TextAnalysis.SearchQueries]] queries, [[HybridCandK]] candidates
    * per substrate, top-[[K]] fused results.
    */
  def searchHybrid(spark: SparkSession, sfDir: String): DataFrame =
    searchHybridOn(table(spark, sfDir, "documents"),
      table(spark, sfDir, "embeddings"),
      TextAnalysis.SearchQueries, HybridCandK, K)
      .orderBy(col("query_id"), col("rnk"))

  /** The scale-path variant — vector candidates from the IVF index
    * instead of the exact scan, fusion unchanged ([[hybridOn]]). The query
    * ids stay a FRAME through [[simSearchIvfForIds]]: no driver-side
    * collect into a probe predicate.
    */
  private[graft] def searchHybridIvf(spark: SparkSession, sfDir: String,
      qn: Int, kCand: Int, k: Int): DataFrame =
    hybridOn(table(spark, sfDir, "documents"), qn, kCand, k)(
      simSearchIvfForIds(spark, sfDir, _, kCand))

  /** `search_hybrid_ivf` checked key — the hybrid family's PRODUCTION
    * serving path on the oracle board (the `sim_search_ivf` /
    * `dedup_embed_ivf` certificate discipline): the IVF-swapped hybrid's
    * pooled overlap against the exact hybrid, certified at the family's
    * 0.8 floor. Every column except the Spark-verified overlap boolean is
    * oracle-recomputable (n_probes = the exact hybrid's distinct query
    * count, from the shared twin CTEs; k and the floor are the contract).
    * The certificate runs BOTH paths — the cost of verification, not of
    * serving (production serves the IVF path alone; this key is the
    * recurring quality audit).
    */
  def searchHybridIvfChecked(spark: SparkSession, sfDir: String): DataFrame =
    recallCertificate(
      searchHybrid(spark, sfDir)
        .select(col("query_id").as("q_id"), col("doc_id").as("c_id")),
      searchHybridIvf(spark, sfDir, TextAnalysis.SearchQueries,
        HybridCandK, K)
        .select(col("query_id").as("q_id"), col("doc_id").as("c_id")),
      K, RecallFloor)

  /** The DuckDB twin of [[prepped]] as CTE `name`: the embeddings table
    * (filtered by `where`, carrying the `extra` columns) with the
    * double-cast `emb`, its L2 `nrm`, zero-norm rows excluded. The one
    * embedding prep of every oracle twin.
    */
  private[graft] def preppedSql(name: String, where: String = "",
      extra: String = ""): String =
    s"""$name AS (
       |  SELECT * FROM (
       |    SELECT vec_id,$extra
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
       |      SQRT(list_sum(list_transform(embedding,
       |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |    FROM embeddings$where) ${name}0 WHERE nrm > 0)""".stripMargin

  /** The twin of [[unitVectors]]: CTE `name` = (vec_id, unit) over the
    * prepped CTE `prep`.
    */
  private[graft] def unitSql(name: String, prep: String): String =
    s"""$name AS (
       |  SELECT vec_id, list_transform(emb, x -> x / nrm) AS unit
       |  FROM $prep)""".stripMargin

  /** The twin of the exact pairing: `pairs` = every (probe `q`, corpus
    * `v`) pair but the self pair, with its 6-dp cosine; `extra` carries
    * corpus columns.
    */
  private def exactPairsSql(extra: String = ""): String =
    s"""pairs AS (
       |  SELECT q_id, v.vec_id AS c_id,$extra
       |    ROUND(list_sum(list_transform(list_zip(q_emb, v.emb),
       |      p -> p[1] * p[2])) / (q_nrm * v.nrm), 6) AS sim
       |  FROM q, v WHERE v.vec_id != q_id)""".stripMargin

  /** The certificate row's twin: every column but the Spark-verified
    * recall boolean (pinned true) is exact cross-engine — the probe count
    * `nProbes` over `from`, and k and the floor, the operator's published
    * contract. See [[recallCertificate]].
    */
  private def recallCertSql(k: Int, from: String,
      nProbes: String = "count(*)"): String =
    s"""SELECT $nProbes AS n_probes, $k AS k,
       |  CAST($RecallFloor AS DOUBLE) AS min_recall, true AS recall_ok
       |FROM $from""".stripMargin

  /** [[recallCertSql]] for a probe predicate over the prepped embeddings. */
  private[graft] def probeRecallCertSql(k: Int, probe: String): String =
    "WITH " + preppedSql("v") + "\n" + recallCertSql(k, s"v WHERE $probe")

  /** The fused-hybrid CTE chain shared by the `search_hybrid` and
    * `search_hybrid_ivf` twins: the [[TextAnalysis.bm25SqlCtes]] scoring
    * chain (ADVICE r17 — one BM25 formulation across all three twins),
    * the exact-cosine vector side, RRF fusion; ends in `fr`, the fused
    * ranking. Pre-stripped — concatenate, never re-wrap in stripMargin.
    */
  private def hybridFusedCtes: String =
    "WITH " + TextAnalysis.bm25SqlCtes(TextAnalysis.SearchQueries) +
      ",\n" +
    s"""lex AS (
       |  SELECT query_id, doc_id, rnk AS lex_rnk FROM r
       |  WHERE rnk <= $HybridCandK),
       |${preppedSql("v")},
       |q AS (
       |  SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM v
       |  WHERE vec_id IN (SELECT query_id FROM qids)),
       |${exactPairsSql()},
       |vec AS (
       |  SELECT q_id AS query_id, c_id AS doc_id,
       |    CAST(rnk AS INTEGER) AS vec_rnk
       |  FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY sim DESC, c_id) AS rnk
       |    FROM pairs) vr
       |  WHERE rnk <= $HybridCandK),
       |f AS (
       |  SELECT coalesce(lex.query_id, vec.query_id) AS query_id,
       |    coalesce(lex.doc_id, vec.doc_id) AS doc_id,
       |    lex.lex_rnk, vec.vec_rnk,
       |    coalesce(CAST(1000000 AS BIGINT) // ($RrfC + lex.lex_rnk), 0)
       |      + coalesce(CAST(1000000 AS BIGINT) // ($RrfC + vec.vec_rnk),
       |        0) AS rrf_milli
       |  FROM lex FULL OUTER JOIN vec
       |    ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id),
       |fr AS (
       |  SELECT query_id, doc_id, lex_rnk, vec_rnk, rrf_milli,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_milli DESC, doc_id) AS INTEGER) AS rnk
       |  FROM f)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "search_hybrid" ->
      (hybridFusedCtes + "\n" +
      s"""SELECT query_id, doc_id, lex_rnk, vec_rnk, rrf_milli, rnk
         |FROM fr WHERE rnk <= $K
         |ORDER BY query_id, rnk""".stripMargin),
    // the certificate row: n_probes from the exact hybrid's own CTEs
    "search_hybrid_ivf" ->
      (hybridFusedCtes + "\n" + recallCertSql(K, s"fr WHERE rnk <= $K",
        "CAST(count(DISTINCT query_id) AS BIGINT)")),
    "sim_search_lsh" -> probeRecallCertSql(K, s"vec_id < $NProbes"),
    "sim_search_ivf" -> probeRecallCertSql(K, s"vec_id < $NProbes"),
    "sim_search_quant" -> probeRecallCertSql(K, s"vec_id < $NProbes"),
    "knn_classify" ->
      s"""WITH ${preppedSql("v", extra = " label,")},
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
        |      FROM v WHERE vec_id < 50),
        |${exactPairsSql(" v.label,")},
        |nn AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY sim DESC, c_id) AS rnk FROM pairs) t
        |  WHERE rnk <= 5),
        |votes AS (SELECT q_id, label, count(*) AS votes FROM nn
        |          GROUP BY q_id, label),
        |pred AS (SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY votes DESC, label) AS r FROM votes) t
        |  WHERE r = 1)
        |SELECT p.q_id, p.label AS pred_label, p.votes,
        |  v.label AS true_label,
        |  CASE WHEN p.label = v.label THEN 1 ELSE 0 END AS correct
        |FROM pred p JOIN v ON p.q_id = v.vec_id
        |ORDER BY p.q_id""".stripMargin,
    "sim_search" ->
      s"""WITH ${preppedSql("v")},
        |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
        |      FROM v WHERE vec_id < $NProbes),
        |${exactPairsSql()}
        |SELECT q_id, c_id, sim, CAST(rnk AS INTEGER) AS rnk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY sim DESC, c_id) AS rnk FROM pairs) t
        |WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  )
}
