package graft

import org.apache.spark.sql.functions._

/** Dev tool (test scope): per-stage wall-clock of the corpus_pipeline
  * composition — counts each persisted stage boundary in order so the
  * composition overhead is attributable. Not part of the graded surface.
  * Run: sbt "Test/runMain graft.PipelineProbeMain <sfDir>"
  */
object PipelineProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 1
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.Tables.table
    import graft.ops.{Curation, Dedup, Packing, TextAnalysis, Web}
    val docs0 = table(spark, sfDir, "documents")
    val embeddings = table(spark, sfDir, "embeddings")
    var t0 = System.nanoTime()
    def lap(name: String, n: => Long): Unit = {
      val c = n
      println(f"STAGE $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($c rows)")
      t0 = System.nanoTime()
    }
    // reps > 1 re-runs the whole chain in the SAME JVM so steady-state
    // stage weights are readable past the cold-JIT first pass
    (1 to reps).foreach { rep =>
    println(s"== pass $rep ==")
    t0 = System.nanoTime()
    val corpus = docs0
      .filter(col("doc_id") >= 20 && col("text").isNotNull)
    val benchmark = docs0
      .filter(col("doc_id") < 20 && col("text").isNotNull)
    val urls = Web.urlStructured(corpus).localCheckpoint(true)
    lap("urls", urls.count())
    val unblocked = urls.join(
      Web.urlBlocklistOn(urls, Web.BlockedDomains, Web.BlockedPrefixes)
        .filter(col("blocked") === 0).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val urlDeduped = unblocked.join(
      Web.dedupUrlOn(unblocked).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val docs1 = corpus.join(
      Web.capPerHostOn(urlDeduped, Web.HostCap).select(col("doc_id")),
      Seq("doc_id"), "left_semi").localCheckpoint(true)
    lap("docs1", docs1.count())
    val extracted = TextAnalysis.extractMainTextOn(
        TextAnalysis.htmlStructured(docs1))
      .filter(col("n_paragraphs") > 0)
      .select(col("doc_id"), col("main_text").as("text")).localCheckpoint(true)
    lap("extracted", extracted.count())
    val flat = Dedup.dedupLinesOn(extracted, 2L)
      .select(col("doc_id"),
        regexp_replace(col("clean_text"), "\n", " ").as("text"))
      .filter(col("text") =!= "")
    val gated = flat.filter(TextAnalysis.gopherKeep).localCheckpoint(true)
    lap("gated", gated.count())
    val stripped = Dedup.dedupSpansStripOn(gated, 8)
      .filter(col("kept_tokens") > 0)
      .select(col("doc_id"), col("clean_text").as("text")).localCheckpoint(true)
    lap("stripped", stripped.count())
    // mirror corpusPipelineOn exactly (ADVICE r14): anti-join against the
    // DROP set, so survivors WITHOUT embedding rows pass — a semi-join on
    // the keep set would drop them and misstate downstream cardinalities
    val semDrop = Dedup.dedupSemanticOn(
        embeddings.join(stripped.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"),
        64, 0.42)
      .filter(!col("keep"))
      .select(col("vec_id").as("doc_id"))
    val docs2 = stripped.join(semDrop, Seq("doc_id"), "left_anti").localCheckpoint(true)
    lap("docs2_semantic", docs2.count())
    val clean = Curation.contaminationStripOn(docs2, benchmark, 5).localCheckpoint(true)
    lap("clean_contam", clean.count())
    val enc = TextAnalysis.tokenizeBpe(clean)
      .select(col("doc_id"), col("n_tokens"))
    val nt = clean.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("nt"))
    val manifest = Packing.shuffleDeterministicOn(clean, Packing.ShuffleSalt)
      .join(nt, Seq("doc_id"))
      .join(enc, Seq("doc_id"))
      .withColumn("shard_id", expr("pos div 25"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"))
    lap("manifest", manifest.count())
    spark.catalog.clearCache()
    }
    spark.stop()
  }
}
