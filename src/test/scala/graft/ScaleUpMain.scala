package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (test scope): build an ~Nx scale-up of the sf0.1 corpus for
  * the scaling-slope spot-bench (SCALE.md) — the harness ships no sf1, so
  * the slope check replicates sf0.1 with key remapping.
  *
  * Replication semantics per table (each replica must behave like NEW
  * data, not a clone, for the operator that reads it):
  *  - `lineitem`: verbatim rows, `l_orderkey`/`l_suppkey` offset per
  *    replica — aggregate workloads (corr_matrix) and the salted join see
  *    10× rows with identical distributions.
  *  - `supplier`: `s_suppkey` offset + `s_name` tagged per replica so the
  *    join fanout and the s_name groupBy cardinality both scale 10×.
  *  - `documents`, two variants:
  *      * `documents.parquet` — verbatim text, `doc_id` offset: right for
  *        count-shaped text workloads (ngram_lm_score: same bigram
  *        vocabulary, 10× counts — what a larger real corpus does).
  *      * `documents_sharded.parquet` — tokens of length ≥ 5 get a
  *        per-replica suffix: replicas share no long-token shingles, so
  *        the near-dup pair graph scales exactly linearly (verbatim
  *        clones would form cross-replica cliques — a quadratic pair
  *        explosion no real corpus has), while short tokens — the
  *        stopword/lexicon mass that drives the lang/quality gates —
  *        stay intact, keeping gate selectivity comparable. Used by
  *        dedup_cluster and corpus_clean; swap it into place as
  *        `documents.parquet` in a separate dir.
  *
  * Run: sbt "Test/runMain graft.ScaleUpMain /root/testdata/sf0.1 target/scale 10"
  * → target/scale/rep/   (lineitem, supplier, documents — verbatim)
  *   target/scale/shard/ (documents — suffix-sharded)
  */
object ScaleUpMain {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/scale"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Session.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = Tables.table(spark, src, t)
      (0 until reps).map(i => if (i == 0) base else f(base, i))
        .reduce(_ unionByName _)
    }

    val keyOff = 1000000000L
    val supOff = 1000000L

    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * keyOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * supOff))
    }.write.mode("overwrite").parquet(s"$out/rep/lineitem.parquet")

    replicate("supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * supOff))
        .withColumn("s_name", concat(col("s_name"), lit(s"#r$i")))
    }.write.mode("overwrite").parquet(s"$out/rep/supplier.parquet")

    replicate("documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * keyOff))
    }.write.mode("overwrite").parquet(s"$out/rep/documents.parquet")

    // events: replicas are NEW users (user_id offset) with fresh event ids —
    // the replay keys' state (per-user / per-(user,type)) and the CDC feed
    // then scale 10× in key cardinality, which is exactly the dimension
    // that grows on a larger corpus. `ts` stays the raw ns long, so the
    // replica round-trips through Tables.events like the harness file.
    replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * keyOff))
        .withColumn("user_id", col("user_id") + lit(i * supOff))
    }.write.mode("overwrite").parquet(s"$out/rep/events.parquet")

    replicate("documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * keyOff))
        .withColumn("text", array_join(transform(split(col("text"), " "),
          t => when(length(t) >= 5, concat(t, lit(s"_r$i"))).otherwise(t)),
          " "))
        .withColumn("n_chars", length(col("text")))
    }.write.mode("overwrite").parquet(s"$out/shard/documents.parquet")

    // embeddings: replicas are NEW vectors — vec_id offset, array
    // circularly rotated by a replica-specific stride (7i mod 64, all
    // distinct and nonzero for i = 1..9). Rotation is norm-preserving, so
    // the corpus stays one comparable point cloud, but replicas are NOT
    // clones of the base: exact top-k keeps a real neighbor structure
    // (verbatim copies would hand every probe ten sim-1.0 twins and turn
    // the recall question vacuous). Probes stay `vec_id < k` — replica 0
    // only — so the probe count is FIXED while the searched corpus grows
    // 10×: exactly the ANN scaling axis.
    replicate("embeddings") { (df, i) =>
      val rot = (i * 7) % 64
      df.withColumn("vec_id", col("vec_id") + lit(i * keyOff))
        .withColumn("embedding",
          concat(slice(col("embedding"), rot + 1, 64 - rot),
            slice(col("embedding"), 1, rot)))
    }.write.mode("overwrite").parquet(s"$out/rep/embeddings.parquet")

    Seq("rep/lineitem", "rep/supplier", "rep/documents", "rep/events",
      "rep/embeddings", "shard/documents")
      .foreach { t =>
        val n = spark.read.parquet(s"$out/$t.parquet").count()
        println(s"SCALEUP $t rows=$n")
      }
    spark.stop()
  }
}
