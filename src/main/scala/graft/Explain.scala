package graft

/** Plan-inspection main: prints the formatted physical plan of the
  * named queries (or a default set of scale-critical ones) so plan
  * properties — PushedFilters, BroadcastHashJoin, TakeOrderedAndProject,
  * partial aggregation, WholeStageCodegen spans — can be audited.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("filter_eq", "join_fk", "topk", "agg_group", "semi_exists",
        "sim_topk_brute", "window_rank", "sink_partitioned",
        // round-3 scale-critical additions
        "scd2_intervals", "funnel_conversion", "ts_resample",
        "join_asof_nearest", "join_hinted", "text_pack_bins",
        // round-4 scale-critical additions
        "join_range_binned", "agg_bitmap_distinct", "pipeline_incremental",
        "ts_sessionize",
        // round-4 wave-2 scale-critical additions
        "join_dpp", "join_bloom_filtered", "agg_distinct_salted",
        "ts_interp_linear",
        // round-4 wave scale-critical additions
        "dedup_bloom_prefilter", "feature_target_encode",
        "join_existence_mark", "scd2_apply", "join_pit_scd2",
        // round-5 scale-critical additions (ScaleRank two-phase
        // ranking, windowless PSI, bucketed lag, interval sweeps)
        "agg_deciles", "analytics_rfm", "analytics_pareto", "dq_psi",
        "dq_id_gaps", "sim_knn_graph", "ts_max_concurrent",
        "stat_mann_whitney",
        // round-7 scale-critical additions (distributed exact
        // quantiles, histogram-driven join costing)
        "agg_histogram_equiheight", "feature_quantile_bucket",
        "join_cost_advisor",
        // round-8 scale-critical additions (persisted-index
        // incremental dedup pair)
        "dedup_index_build", "dedup_incremental",
        // round-9: the multi-day append cycle probing the grown index
        "dedup_index_append",
        // round-10: generation-resolved repair probe, banded embedding
        // dedup, the sampled recall report (dedup_bloom_prefilter
        // already audited in the round-4 block above)
        "dedup_index_repair", "dedup_embedding_banded",
        "emb_band_recall", "sim_topk_pq", "sim_topk_ivfpq",
        "dedup_semantic", "cluster_dbscan",
        // round-10 session 8: Gopher n-gram gate (doc-keyed explode
        // aggregations), DSIR weights (64-bucket broadcast join), and
        // the ExactSubstr span trimmer (rolling-window groupBy)
        "text_repetition_ngram", "corpus_dsir_weight", "dedup_span_trim",
        "sim_hard_negatives",
        // round-11: the band-density health report, the rewritten
        // running-state journey counter, and the batched ANN scan
        "emb_band_occupancy", "seq_pattern_match", "sim_topk_batch",
        "corpus_stratified_sample",
        // round-12: the persisted embedding index trio and PQ recall
        "emb_index_build", "emb_incremental", "emb_index_repair",
        "emb_index_append", "sim_recall_pq", "mm_perceptual_dedup",
        // round-13: maintenance + erasure through the persisted
        // indexes (both families)
        "emb_index_compact", "emb_index_erase", "dedup_index_compact",
        "pq_index_build", "pq_incremental", "pq_index_append",
        "pq_index_query", "dedup_index_erase", "pq_index_erase",
        "pq_index_repair", "emb_index_query", "mm_video_dedup",
        "mm_audio_dedup")
    val spark = Sessions.single("4")
    val qs = SparkEntry.queries
    names.foreach { n =>
      println(s"\n========== $n ==========")
      qs(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
