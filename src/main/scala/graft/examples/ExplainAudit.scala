package graft.examples

/** Dev tool: dump formatted physical plans of representative queries to
  * audit pushdown / pruning / codegen / join strategies (see NOTES in the
  * repo docs; the brief's ".explain until it's the plan you'd want"). */
object ExplainAudit {
  def main(args0: Array[String]): Unit = {
    // -nobroadcast simulates beyond-threshold scale: shows the SMJ plans
    // (and exchange reuse) that a real cluster run would pick
    val noBroadcast = args0.contains("-nobroadcast")
    val args = args0.filterNot(_ == "-nobroadcast")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.util.Sessions.local("graft-explain-audit", Some(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    if (noBroadcast) spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    for (name <- args.drop(1).headOption.map(_.split(",").toSeq).getOrElse(
        Seq("q1_pricing", "q3_topk", "comm_matrix", "trace_flat_profile",
            "ann_topk", "minhash_sig", "trace_time_profile",
            "knn_graph", "bm25_topk", "dsir_weights", "dup_spans",
            "q_asof", "q_range_join", "hybrid_topk", "graph_pagerank",
            "q_concurrency", "graph_triangles", "trace_duration_pctl",
            "q_outliers", "source_crossent", "emb_drift",
            "trace_imbalance_time", "dedup_containment", "q_domain_cap",
            "q_skew_join", "tfidf_topterms", "q_cube", "q_sliding",
            "comm_latency_pctl", "q_interval_merge", "q_scd2", "q_gapfill",
            "fuzzy_names", "q_zorder", "q_skyline",
            "q_merge_upsert", "q_autocorr", "emb_gram", "emb_cov",
            "ann_mips", "quantile_sketch", "dq_report", "value_drift",
            "trace_chrome_roundtrip", "video_features",
            "tile_dedup", "split_leakage", "q_changepoint",
            "q_rolling_active", "ann_trunc_recall", "column_profile",
            "trace_callers", "minhash_incremental", "epoch_order",
            "trace_dur_drift", "retrieval_mrr", "q_skew_report",
            "xlingual_margin", "xlingual_mutual", "comm_wait_classes",
            "epoch_shards", "trace_sample_calls", "trace_align",
            "sample_budget", "q_asof_fwd", "q_dwell", "q_winsor",
            "q_transitions3", "image_resize"))) {
      println(s"\n=============== $name ===============")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
