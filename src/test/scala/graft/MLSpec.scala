package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.tree.graftbridge.ForestBridge
import org.apache.spark.ml.tuning.CrossValidator
import org.apache.spark.mllib.util.MLUtils
import org.apache.spark.sql.functions._

import graft.ops.MLOps

/** §2i determinism + semantics (SURVEY §5.4): pinned seeds must reproduce
  * identical outputs; StringIndexer frequency ordering; pipeline staging
  * equivalence with eager stagewise fit/transform
  * (the `/root/reference/A related code.txt:102-103` shape).
  */
class MLSpec extends SparkSpec {

  test("StringIndexer assigns 0 to the most frequent label") {
    val docs = Tables.table(spark, sf, "documents")
    val top = docs.groupBy("lang").count()
      .orderBy(col("count").desc, col("lang")).first().getString(0)
    val indexed = MLOps.stringIndexer(spark, sf)
    val zeroLang = indexed.filter(col("lang_idx") === 0.0)
      .select("lang").distinct().collect().map(_.getString(0)).toSeq
    assert(zeroLang == Seq(top))
  }

  test("same seeds => identical predictions across two independent fits") {
    val a = MLOps.pipeline(spark, sf).collect()
    val b = MLOps.pipeline(spark, sf).collect()
    assert(a.sameElements(b))
  }

  test("evaluator accuracy is within [0,1]") {
    val acc = MLOps.evaluate(spark, sf).first().getDouble(0)
    assert(acc >= 0.0 && acc <= 1.0)
  }

  test("cross validation equals stock CrossValidator: avgMetrics and bestModel") {
    assert(MLOps.crossValidator(spark, sf).collect().length == 4)
    // the oracle: a stock CrossValidator over the same pipeline, grid,
    // fold count and seed, fit on the same capped slice
    val data = MLOps.cvSlice(spark, sf).persist()
    try {
      val sel = MLOps.selectForest(spark, data)
      val stock = new CrossValidator()
        .setEstimator(sel.pipe).setEvaluator(sel.eval)
        .setEstimatorParamMaps(sel.grid)
        .setNumFolds(MLOps.NumFolds).setSeed(MLOps.SplitSeed)
        .setParallelism(4)
        .fit(data)
      assert(sel.avgMetrics.toSeq == stock.avgMetrics.toSeq,
        s"${sel.avgMetrics.toSeq} != stock ${stock.avgMetrics.toSeq}")
      def scored(m: org.apache.spark.ml.Model[_]) =
        m.transform(MLOps.labeledEvents(spark, sf))
          .select("event_id", "label_idx", "prediction")
          .orderBy("event_id").collect()
      val (model, _) = MLOps.fitCv(spark, sf)
      val direct = scored(model.bestModel)
      assert(direct.nonEmpty)
      assert(direct.sameElements(scored(stock.bestModel)),
        "fitCv's bestModel predicts differently from the stock bestModel")
    } finally data.unpersist()
  }

  test("cross validation leaves the persisted RDDs as it found them, on failure too") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    MLOps.crossValidator(spark, sf).collect()
    assert(sc.getPersistentRDDs.keySet == before)
    // one null feature fails every fit (the assembler rejects it): the
    // rethrow names the key, the fold and the ParamMap, and the fold
    // caches still go
    val firstId = MLOps.cvSlice(spark, sf).agg(min("event_id")).first().get(0)
    val bad = MLOps.cvSlice(spark, sf).withColumn("value",
      when(col("event_id") === firstId, lit(null)).otherwise(col("value")))
    val e = intercept[IllegalStateException](MLOps.selectForest(spark, bad))
    assert(e.getMessage.contains("ml_cross_validator: fold 0 fit with {"),
      e.getMessage)
    assert(e.getMessage.contains("maxDepth="), e.getMessage)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("withPersisted releases its caches when the body throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val data = MLOps.cvSlice(spark, sf)
    val e = intercept[IllegalStateException](MLOps.withPersisted(data) {
      data.count() // materialize the cache, then fail like a bad fit
      throw new IllegalStateException("fit failed")
    })
    assert(e.getMessage == "fit failed")
    assert(sc.getPersistentRDDs.keySet == before)
    assert(data.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("the shared forest input fits tree for tree what stock fit fits") {
    // the label carries no signal, so equal avgMetrics alone could hide a
    // different forest: on every fold's training frame (featurized as
    // selectForest does), each ParamMap's model over the fold's shared
    // input must print and weigh its features as stock rfStage.fit does
    val data = MLOps.cvSlice(spark, sf).persist()
    try {
      val Array(indexer: StringIndexer, assembler: VectorAssembler,
        rf: RandomForestClassifier) = MLOps.fullPipeline().getStages
      val grid = MLOps.forestGrid(rf)
      val folds = MLUtils.kFold(data.rdd, MLOps.NumFolds, MLOps.SplitSeed)
      for (((train, _), fold) <- folds.zipWithIndex) {
        val trainDf = spark.createDataFrame(train, data.schema)
        val featurized = assembler.transform(
          indexer.fit(trainDf).transform(trainDf)).persist()
        val input = ForestBridge.prepare(rf, featurized)
        try grid.foreach { pm =>
          val shared = ForestBridge.fit(rf, input, featurized, pm)
          val stock = rf.fit(featurized, pm)
          assert(shared.getNumTrees == 10)
          assert(shared.toDebugString == stock.toDebugString,
            s"fold $fold $pm: the forests differ")
          assert(shared.featureImportances == stock.featureImportances,
            s"fold $fold $pm: ${shared.featureImportances} != " +
              s"stock ${stock.featureImportances}")
        } finally {
          input.release()
          featurized.unpersist()
        }
      }
    } finally data.unpersist()
  }

  test("forest internals are named only in the forest bridge") {
    // RandomForest.run's steps before induction are called from one file,
    // which calls them in run's order; a second caller would be a copy of
    // run's orchestration, free to drift from Spark's
    val banned = Seq("runBagged", "findSplits", "DecisionTreeMetadata",
      "BaggedPoint", "TreePoint")
    val bridge = "org/apache/spark/ml/tree/graftbridge/ForestBridge.scala"
    assert(MainSources.exists(bridge))
    val hits = MainSources.strays(banned, _ != bridge)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("cross validation jobs carry the caller's job group, call after call") {
    val sc = spark.sparkContext
    for (group <- Seq("cv-call-a", "cv-call-b")) {
      val seen = jobGroupsOf {
        sc.setJobGroup(group, group)
        try MLOps.crossValidator(spark, sf).collect() finally sc.clearJobGroup()
      }
      assert(seen.nonEmpty)
      assert(seen.forall(_ == group), s"$group: ${seen.distinct}")
    }
  }

  test("pipeline fit-then-transform == eager stagewise fit/transform") {
    import spark.implicits._
    val data = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        col("value"), col("user_id").cast("double").as("user_id_d"))
    val indexer = new StringIndexer()
      .setInputCol("event_type").setOutputCol("label_idx")
    val assembler = new VectorAssembler()
      .setInputCols(Array("value", "user_id_d")).setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setFeaturesCol("features").setLabelCol("label_idx")
      .setSeed(1234L).setMaxDepth(3)
    val piped = new Pipeline().setStages(Array(indexer, assembler, rf))
      .fit(data).transform(data)
      .select("event_id", "prediction").as[(Long, Double)].collect().toMap
    val eagerIndexed = indexer.fit(data).transform(data)
    val eagerAssembled = assembler.transform(eagerIndexed)
    val eager = rf.fit(eagerAssembled).transform(eagerAssembled)
      .select("event_id", "prediction").as[(Long, Double)].collect().toMap
    assert(piped == eager)
  }

  test("onehot vector size is cardinality-1 (dropLast) and one-hot") {
    val rows = MLOps.oneHot(spark, sf).collect()
    val nLangs = Tables.table(spark, sf, "documents")
      .select("lang").distinct().count().toInt
    rows.foreach { r =>
      val idx = r.getAs[Double]("lang_idx").toInt
      val size = r.getAs[Int]("lang_vec_size")
      val hot = r.getAs[Int]("lang_hot_idx")
      assert(size == nLangs - 1)
      // hot slot is the string index; the dropped (last) category is all-zeros
      assert(hot == (if (idx < size) idx else -1))
    }
  }

  test("assembler slots carry the input columns in declaration order") {
    val sample = MLOps.assemble(spark, sf).limit(100)
    val src = Tables.events(spark, sf)
      .select(col("event_id"), col("value"),
        col("user_id").cast("double").as("user_id_d"))
    val joined = sample.join(src, "event_id")
    assert(joined.filter(col("f_value") =!= col("value")).count() == 0)
    assert(joined.filter(col("f_user_id") =!= col("user_id_d")).count() == 0)
    assert(joined.filter(col("f_hour") < 0.0 || col("f_hour") > 23.0)
      .count() == 0)
  }

  test("rebalance undersampling equalizes the two classes (EP3's point)") {
    // post-union minority/majority count ratio ≈ 1: the fixed ratio divides
    // by the MAJORITY count. Re-introducing the transcript's whole-dataset
    // divisor (A related code.txt:77) under-samples the majority to
    // ~minority·(majority/total) and fails this bound.
    val counts = MLOps.balancedDataset(spark, sf)
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("purchase", "view"), counts.toString)
    val ratio = counts.values.min.toDouble / counts.values.max
    assert(ratio > 0.9, s"classes not balanced after rebalance: $counts")
    spark.catalog.clearCache() // caller-side cache release (engine contract)
  }

  test("rebalance pipeline is deterministic and keeps only the two classes") {
    val a = MLOps.rebalanceFit(spark, sf).collect()
    val b = MLOps.rebalanceFit(spark, sf).collect()
    assert(a.nonEmpty)
    assert(a.sameElements(b))
    // binary outcome (purchase/view) and binary predictions
    assert(a.forall(r => Set(0, 1).contains(r.getAs[Int]("outcome_idx"))))
    assert(a.forall(r => Set(0.0, 1.0).contains(r.getAs[Double]("prediction"))))
  }

  test("rebalanceFit leaves only the caches its returned plan reads") {
    // the balanced union and the test split outlive the call; the wide
    // projection and the train split are released
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val before = sc.getPersistentRDDs.keySet
    assert(MLOps.rebalanceFit(spark, sf).collect().nonEmpty)
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size == 2, sc.getPersistentRDDs.filter(r => added(r._1))
      .values.map(_.name).mkString("\n"))
    spark.catalog.clearCache() // caller-side cache release (engine contract)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("model save/load round-trip: reloaded predictions are bit-equal") {
    // the persistence contract (MLOps.saveFittedPipeline): a published
    // model reloaded in a later session scores bit-identically — spark.ml
    // serializes the fitted parameters, not a retraining recipe. The saved
    // path is atomic-publish guarded, so it holds a complete model or
    // nothing.
    val dir = java.nio.file.Files.createTempDirectory("graft_ml_model")
    val path = s"$dir/pipeline_model"
    try {
      MLOps.saveFittedPipeline(spark, sf, path)
      assert(new java.io.File(path).exists(), "model dir not published")
      assert(!new java.io.File(s"$path.tmp.${spark.sparkContext.applicationId}")
        .exists(), "tmp save dir survived the atomic publish")
      val direct = MLOps.pipeline(spark, sf).collect()
      val reloaded = MLOps.scoreWithSavedPipeline(spark, sf, path).collect()
      assert(direct.nonEmpty)
      assert(direct.sameElements(reloaded),
        "reloaded model predictions differ from the in-memory fit")
      // explicit save OVERWRITES: a second save must replace the published
      // directory, not silently keep the first (the quantizer cache's
      // first-writer-wins would be wrong for a user-facing save API).
      // Detected via the rename: a fresh publish lands a NEW directory
      // inode with a new mtime; a discarded tmp would leave the old one.
      val firstMtime = new java.io.File(path).lastModified()
      Thread.sleep(1100) // mtime granularity can be a full second
      MLOps.saveFittedPipeline(spark, sf, path)
      assert(new java.io.File(path).lastModified() > firstMtime,
        "second save did not replace the published model directory")
      val reSaved = MLOps.scoreWithSavedPipeline(spark, sf, path).collect()
      assert(direct.sameElements(reSaved),
        "re-saved model predictions differ (same data, same seeds)")
    } finally LocalFs.deleteRecursively(dir.toFile)
  }

  test("cv model save/load round-trip: selection artifact survives intact") {
    // the CrossValidatorModel persistence contract (MLOps.saveCvModel):
    // the published artifact carries BOTH the winning refit pipeline and
    // the per-ParamMap avgMetrics; reloaded in a later session it scores
    // bit-identically and reports the identical grid audit trail.
    val dir = java.nio.file.Files.createTempDirectory("graft_cv_model")
    val path = s"$dir/cv_model"
    try {
      val (fitModel, gridRows) = MLOps.fitCv(spark, sf)
      val tmp = s"$path.tmp.${spark.sparkContext.applicationId}"
      fitModel.write.overwrite().save(tmp)
      LocalFs.replaceDir(new java.io.File(tmp), new java.io.File(path))
      assert(new java.io.File(path).exists(), "cv model dir not published")
      val reloaded =
        org.apache.spark.ml.tuning.CrossValidatorModel.load(path)
      assert(reloaded.avgMetrics.toSeq == fitModel.avgMetrics.toSeq,
        "avgMetrics audit trail drifted through persistence")
      assert(gridRows.size == reloaded.avgMetrics.length)
      val direct = MLOps.scoreWithSavedCvModel(spark, sf, path).collect()
      val inMemory = fitModel.bestModel
        .transform(MLOps.labeledEvents(spark, sf))
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("label_idx"),
          org.apache.spark.sql.functions.col("prediction"))
        .orderBy(org.apache.spark.sql.functions.col("event_id"))
        .collect()
      assert(direct.nonEmpty)
      assert(direct.sameElements(inMemory),
        "reloaded cv bestModel predictions differ from the in-memory fit")
      // the saveCvModel entry point refits with the same seeds — its
      // published model must score identically to this fit's
      MLOps.saveCvModel(spark, sf, path)
      val reSaved = MLOps.scoreWithSavedCvModel(spark, sf, path).collect()
      assert(direct.sameElements(reSaved),
        "re-saved cv model predictions differ (same data, same seeds)")
    } finally LocalFs.deleteRecursively(dir.toFile)
  }

  test("ivf quantizer dir without its marker is rebuilt, not loaded") {
    // the quantizer cache is a LocalFs.landOnce landing: its validity is
    // the marker, not the directory's existence. A dir at the stable path
    // holding no marker (a crashed or pre-marker writer's) must be
    // replaced by a fresh fit — KMeansModel.load on it would fail or
    // serve whatever partial model it holds.
    val emb = new java.io.File(s"$sf/embeddings.parquet")
    val dest = new java.io.File(LocalFs.cachePath(
      LocalFs.Names.IvfQuantizerCache, sf, emb))
    LocalFs.deleteRecursively(dest)
    dest.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dest, "partial").toPath,
      "not a model")
    val hits = graft.ops.Similarity.simSearchIvf(spark, sf).collect()
    assert(hits.nonEmpty)
    assert(new java.io.File(dest, "_SUCCESS").exists(),
      "rebuilt quantizer published without its marker")
    assert(!new java.io.File(dest, "partial").exists(),
      "marker-less quantizer dir was not replaced")
    assert(new java.io.File(dest, "metadata").isDirectory)
    // and the published model serves the next session's load path
    assert(graft.ops.Similarity.simSearchIvf(spark, sf).collect()
      .sameElements(hits))
  }
}
