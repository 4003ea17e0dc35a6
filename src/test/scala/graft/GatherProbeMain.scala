package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Dev scratch (test scope): A/B the duplicate-BPE-pass vs persisted-enc
  * formulations of pack_gather_ids in one JVM.
  * Run: sbt "Test/runMain graft.GatherProbeMain <sfDir> <reps>"
  */
object GatherProbeMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.Tables.table
    import graft.ops.{Packing, TextAnalysis}
    val docs = table(spark, sfDir, "documents")
    def gather(persistEnc: Boolean): Long = {
      val enc0 = TextAnalysis.tokenizeBpe(docs)
        .select(col("doc_id"), col("n_tokens"),
          split(col("token_ids"), " ").as("ids"))
      val enc = if (persistEnc) enc0.persist() else enc0
      val spans = Packing.packSequences(
        enc.select(col("doc_id"), col("n_tokens")), Packing.GradedBudget,
        Packing.GradedShards)
      val out = spans
        .join(enc.select(col("doc_id"), col("ids")), Seq("doc_id"))
        .select(col("shard"), col("seq_id"), col("seq_offset"),
          col("span_len"),
          slice(col("ids"), (col("doc_offset") + 1).cast(IntegerType),
            col("span_len")).as("piece"))
        .groupBy(col("shard"), col("seq_id"))
        .agg(
          count(lit(1)).as("n_spans"),
          sum(col("span_len").cast(LongType)).as("seq_len"),
          array_join(
            flatten(transform(
              array_sort(collect_list(struct(col("seq_offset"),
                col("piece")))),
              x => x.getField("piece"))),
            " ").as("token_ids"))
        .orderBy(col("shard"), col("seq_id"))
      out.queryExecution.toRdd.count()
    }
    (1 to reps).foreach { i =>
      Seq(false, true).foreach { p =>
        val t0 = System.nanoTime()
        val n = gather(p)
        println(f"GATHER rep$i persist=$p: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
