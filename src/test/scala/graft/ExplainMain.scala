package graft

/** Dev tool (test scope): dump formatted physical plans for selected query
  * keys so scan pruning / pushdown / broadcast / codegen spans can be
  * audited. Run: sbt "Test/runMain graft.ExplainMain q1 q2 ..."
  * (no args = a default set of plan-interesting queries).
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.01"
    // optional session confs: leading args of the form conf:key=value
    // (e.g. conf:spark.sql.adaptive.enabled=false)
    val (confs, keyArgs) = args.toSeq.partition(_.startsWith("conf:"))
    confs.foreach { c =>
      val kv = c.stripPrefix("conf:").split("=", 2)
      spark.conf.set(kv(0), kv(1))
    }
    val keys = if (keyArgs.nonEmpty) keyArgs
      else Seq("flagship_nation_top_supplier", "filter_eq", "select_cols",
        "groupby_agg", "join_inner_equi", "sim_search", "json_extract",
        "window_top1", "dedup_ngram", "dedup_simhash", "mm_decode",
        "corpus_clean", "join_asof", "join_range", "sketch_kmv",
        "pivot_wide", "sample_stratified", "join_salted", "agg_cube",
        "window_moving_avg", "event_funnel", "tfidf_topk", "ngram_lm_score",
        "split_hash", "upsert_latest", "scd2_intervals", "profile_stats",
        "group_entropy", "anomaly_zscore", "knn_classify",
        "intersect_all", "window_ntile", "daily_counts", "histogram")
    keys.foreach { k =>
      println(s"\n================ $k ================")
      SparkEntry.queries(k)(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
