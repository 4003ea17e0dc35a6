package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.ops.{Curation, Dedup, Multimodal, Packing, TextAnalysis, Web}

/** Dev tool (test scope): per-boundary wall-clock + exchange counts of
  * the INCREMENTAL batch chain (the `runBatch` core ten composed keys
  * execute 1-2x each) against the LANDED day-0 states — so the chain's
  * fixed overhead is attributable stage by stage (r20 "Not yet
  * optimized" #1). Mirrors `Curation.runBatch` exactly; prints each
  * stage's physical-plan node counts (Exchange / join strategies).
  * Run: sbt "Test/runMain graft.BatchChainProbeMain <sfDir> <reps> [explain]"
  */
object BatchChainProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val explain = args.drop(2).contains("explain")
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val landing = Curation.textStatesLanding(spark, sfDir)
    val docs0 = table(spark, sfDir, "documents")
    val live = docs0
      .filter(col("doc_id") >= 20 && col("text").isNotNull)
    val benchmark = docs0
      .filter(col("doc_id") < 20 && col("text").isNotNull)
    val embeddings = table(spark, sfDir, "embeddings")

    def planStats(df: DataFrame, name: String): Unit = {
      val p = df.queryExecution.executedPlan.toString()
      def c(s: String) = p.sliding(s.length).count(_ == s)
      println(s"  PLAN $name: Exchange=${c("Exchange")} " +
        s"SMJ=${c("SortMergeJoin")} BHJ=${c("BroadcastHashJoin")} " +
        s"SHJ=${c("ShuffledHashJoin")} BNLJ=${c("BroadcastNestedLoop")} " +
        s"HashAgg=${c("HashAggregate")} ObjHashAgg=${c("ObjectHashAggregate")} " +
        s"SortAgg=${c("SortAggregate")} Window=${c("Window")}")
      if (explain) println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    (1 to reps).foreach { rep =>
      println(s"== batch chain rep $rep ==")
      // (urlCensus, lineCensus, spanCensus, semMembers, cursor) — the
      // landed day-0 state tables, read exactly as landedDay0 does
      val states = (
        spark.read.parquet(s"$landing/url_census"),
        spark.read.parquet(s"$landing/line_census"),
        spark.read.parquet(s"$landing/span_census"),
        spark.read.parquet(s"$landing/sem_members"),
        spark.read.parquet(s"$landing/cursor"))
      val batch = live.filter(col("doc_id") % 4 === 1 &&
        col("doc_id") < Multimodal.ReplicaBound)
      var t0 = System.nanoTime()
      def lap(name: String, df: DataFrame): DataFrame = {
        planStats(df, name)
        val out = org.apache.spark.sql.graftbridge.StatsBridge
          .withExactSize(df.localCheckpoint(true))
        val s = out.queryExecution.optimizedPlan.stats
        println(f"  STAGE $name: ${(System.nanoTime() - t0) / 1e9}%.2f s " +
          s"(carried stats: sizeInBytes=${s.sizeInBytes} rowCount=${s.rowCount})")
        t0 = System.nanoTime()
        out
      }
      // 1-2. deny list + frontier screen vs the URL census
      val burls = lap("burls", Web.urlStructured(batch))
      val bUnblocked = burls.join(
        Web.urlBlocklistOn(burls, Web.BlockedDomains, Web.BlockedPrefixes)
          .filter(col("blocked") === 0).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val bKeep = Web.dedupUrlIncrementalOn(states._1, bUnblocked)
        .filter(col("keep")).select(col("doc_id"))
      val bdocs1 = lap("bdocs1",
        batch.join(bKeep, Seq("doc_id"), "left_semi"))
      // 3. main-content extraction
      val bextracted = lap("bextracted", TextAnalysis.extractMainTextOn(
          TextAnalysis.htmlStructured(bdocs1))
        .filter(col("n_paragraphs") > 0)
        .select(col("doc_id"), col("main_text").as("text")))
      // 4. line dedup vs the line census
      val bflat = Dedup.dedupLinesIncrementalOn(states._2, bextracted, 2L)
        .select(col("doc_id"),
          regexp_replace(col("clean_text"), "\n", " ").as("text"))
        .filter(col("text") =!= "")
      // 5. Gopher gate
      val bgated = lap("bgated", bflat.filter(TextAnalysis.gopherKeep))
      // 6. span excision vs the span census
      val bstripped = lap("bstripped", Dedup.dedupSpansStripIncrementalOn(
          states._3, bgated, Dedup.SpanGram)
        .filter(col("kept_tokens") > 0)
        .select(col("doc_id"), col("clean_text").as("text")))
      // 7. semantic screen
      val bAssigned = Dedup.assignedUnits(
        embeddings.join(bstripped.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"), 64)
      val semDrop = Dedup.dedupSemanticIncrementalOnState(
          states._4, bAssigned, 64, Dedup.IncrementalEmbedTau,
          materialize = df => org.apache.spark.sql.graftbridge.StatsBridge
            .withExactSize(df.localCheckpoint(true)))
        .filter(!col("keep"))
        .select(col("vec_id").as("doc_id"))
      val bdocs2 = lap("bdocs2",
        bstripped.join(semDrop, Seq("doc_id"), "left_anti"))
      // 8. decontamination
      val bclean = lap("bclean",
        Curation.contaminationStripOn(bdocs2, benchmark, 5))
      // 9. tokenize -> salted batch order -> appended shards
      val bprops = bclean.filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt"),
          graft.functions.BpeTokenizer.bpeEncode(col("text"))
            .getField("n_tokens").as("n_tokens"))
      val bman = Packing
        .shuffleDeterministicOn(bclean, Packing.ShuffleSalt)
        .join(bprops, Seq("doc_id"))
        .crossJoin(broadcast(states._5))
        .withColumn("shard_id",
          col("c_max_shard") + 1 + expr(s"pos div 25"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"))
      planStats(bman, "bman")
      val n = bman.queryExecution.toRdd.count()
      println(f"  STAGE bman: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n shards)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
