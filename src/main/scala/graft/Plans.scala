package graft

import java.nio.file.{Files, Paths}

/** Dump the executed physical plans of headline queries to PLANS.md —
  * the plan-shape record backing DESIGN.md's claims (broadcasts pinned,
  * pushdown/pruning visible, no stray exchanges). Regenerate with:
  *   sbt "runMain graft.Plans /root/testdata/sf0.001 PLANS.md"
  */
object Plans {
  val headline: Seq[String] = Seq(
    "agg_groupby", "join_multiway", "join_bucketed", "win_topk_per_group",
    "sim_search_topk", "skyline_2d", "dedup_ngram", "dedup_resolve",
    "knn_graph", "upsert_keyed", "time_resample", "sort_limit_topk",
    "filter_predicate", "graph_pagerank", "join_skew_salted",
    "sessionize_batch", "decontaminate", "curate_corpus",
    "stream_foreach_batch", "chunk_overlap",
    "graph_triangles", "dedup_incremental", "curate_apply",
    "text_repetition", "agg_winsorize", "win_range_interval",
    "compact_files", "vec_quantize",
    "sql_passthrough", "join_interval_overlap", "sort_hilbert",
    "text_boilerplate", "time_gap_fill", "dedup_near",
    "market_basket", "join_bloom_prefilter", "event_transitions",
    "cohort_retention", "table_diff",
    "graph_adamic_adar", "dedup_containment", "maintain_stats",
    "join_spatial_grid", "agg_sketch_merge", "sample_negative",
    "sim_search_batch", "dedup_lines", "text_tokenize_bpe",
    "pack_sequences", "evolve_add_column", "catalog_analyze",
    "chunk_cdc", "join_asof_nearest", "mix_by_quality",
    "table_time_travel", "export_jsonl_sharded", "vocab_compression",
    "shuffle_shards", "sim_index_append", "dedup_url", "cdc_merge",
    "agg_countmin", "mix_temperature", "profile_ks_test",
    "quality_train", "quality_score", "maintain_vacuum",
    "sql_recursive", "table_changes", "vec_pq", "vec_kmeans",
    "sample_coreset", "graph_kcore", "text_dup_coverage",
    "event_attribution", "agg_bitmap_distinct", "agg_kmv_ops",
    "mix_epochs", "text_bm25", "maintain_cluster_rewrite",
    "table_partition_evolution", "scd2_apply", "quality_eval",
    "profile_hill_tail", "text_zipf_slope", "profile_equidepth_approx",
    "dq_dedup_dropped", "rank_fusion_rrf", "rfm_segmentation",
    "dq_sequence_gaps", "vocab_coverage", "funnel_latency",
    "graph_clustering_coef", "ab_cuped", "quality_calibration",
    "sink_sorted_stats", "sort_limit_offset", "sql_pipe_syntax",
    "agg_hll_partitioned", "time_autocorr", "pack_efficiency",
    // round-8 second-session headliners
    "agg_multi_distinct", "graph_jaccard", "graph_hits",
    "graph_random_walks", "sim_search_l2", "vec_mips",
    "vec_cluster_purity", "dedup_minhash_error", "dedup_source_matrix",
    "join_exists_flags", "join_spatial_knn", "sql_not_in_nulls",
    "time_survival_km", "time_period_over_period", "cohort_ltv",
    "sample_importance", "profile_functional_dep", "dq_referential",
    "dq_bot_sessions", "win_rolling_slope", "text_novelty",
    "scd2_asof",
    // round-8 fourth-session headliners
    "graph_pagerank_personalized", "maintain_zorder_effectiveness",
    "event_markov_convergence", "agg_theil_index", "time_pacf",
    "graph_bipartite_projection", "dq_completeness_trend",
    "sink_bloom_filter", "time_mann_kendall", "mix_token_budget",
    "cohort_spend_migration", "vec_residual_error",
    "agg_percentile_drilldown", "graph_degree_gini",
    "time_max_drawdown",
    // round-8 fifth-session headliners
    "sql_qualify", "win_frame_exclude", "ml_auc_roc", "ml_lift_table",
    "vec_hard_negatives", "revenue_bridge", "join_role_playing",
    "agg_weighted_median", "scan_nested_filter_pushdown",
    "text_source_similarity", "event_abandoned_clicks",
    "stream_late_drop", "agg_price_volume_bridge", "graph_ego_2hop",
    "etl_idempotent_rerun", "ml_ks_statistic",
    // round-9: every BENCH_r08 top-20 key + the wave-21/22 additions
    "agg_countmin_sweep", "sim_index_compact", "stream_restart_resume",
    "stream_cdf_consume", "ml_pr_auc", "time_backtest_horizons",
    "recon_three_way", "event_activity_concentration", "ml_minmax_scale",
    "etl_incremental_extract",
    // round-9 statistics family headliners (dq_sequence_gaps, now the
    // three-level form, is already in the first block)
    "ml_spearman_corr", "ml_kendall_tau", "ab_mann_whitney",
    "ml_psi_features", "time_ljung_box",
    // round-10: the r9-verdict gaps — the one missing bench-top-20
    // key, the full wave-3/4/5 statistics family, and the re-planned
    // vocab_build (range-partitioned id assignment)
    "graph_closeness_sampled", "time_seasonal_mk", "graph_rich_club",
    "pareto_lorenz_deciles", "ab_power_mde", "ab_delta_method",
    "ab_cohens_d", "ab_odds_ratio", "ml_mcnemar", "ml_chi2_select",
    "ml_info_gain", "time_granger_f", "time_runs_test", "time_kpss",
    "profile_cramers_v", "ml_brier_decomposition", "ab_wilson_ci",
    "vocab_build",
    // round-10 wave-2 additions
    "ab_sequential_sprt", "ab_stratified_cmh", "ml_confusion_multi",
    "ml_feature_vif", "time_adf", "time_permutation_entropy",
    // round-10 wave-3 additions
    "ab_diff_in_diff", "ml_expected_calibration_error",
    "text_simpson_diversity", "time_theil_u2",
    // round-10 wave-4/5/6 additions (continuation session)
    "ml_cohen_kappa", "ml_matthews_corr", "ml_cramers_v",
    "ab_cochran_armitage", "time_rsi", "time_variance_ratio",
    "text_yule_k", "graph_katz_centrality",
    "ab_fieller_ci", "ml_somers_d", "time_mase", "time_pettitt",
    "text_hapax_ratio", "graph_avg_neighbor_degree",
    "sample_ht_total", "time_seasonal_index_mult",
    "text_heaps_law", "time_ar1_halflife",
    // round-10 waves 8-13 (second continuation session)
    "ab_kruskal_wallis", "ab_cliffs_delta", "ab_levene",
    "ab_mood_median", "time_durbin_watson", "time_smape",
    "profile_jarque_bera", "sample_ratio_estimator",
    "vec_davies_bouldin", "vec_calinski_harabasz", "ml_log_loss",
    "text_chao1_richness", "agg_atkinson", "ml_adjusted_rand",
    "ml_uncertainty_coef", "ml_fleiss_kappa", "ab_jonckheere",
    "ab_cochran_q", "vec_mrr", "vec_silhouette_simplified",
    "time_stochastic_k", "event_nelson_aalen", "ab_welch_t",
    "ab_hodges_lehmann", "dq_capture_recapture", "profile_renyi",
    "text_lexical_richness",
    // round-10 wave 14
    "ab_permutation_test", "event_logrank", "time_bollinger",
    "graph_eigenvector_centrality", "mix_ess",
    // round-10 wave 15
    "ab_ks_2sample", "ab_brunner_munzel", "ab_friedman",
    "text_burrows_delta",
    // round-10 wave 16
    "ab_anderson_darling", "ab_quantile_effects", "text_hellinger_tv",
    "ml_hosmer_lemeshow",
    // round-10 wave 17
    "ab_bayes_factor_bic", "ml_balanced_accuracy",
    // round-10 wave 18
    "ab_sign_test",
    // round-12: the r11 plans_check red (sim_search_mmr entered the
    // driver-window top-20 at 3.45 s) plus every key inside the
    // top-45 of EITHER the official BENCH_r11 or the builder's close
    // record — coverage margin so tenancy swings can't push an
    // unplanned key into the official top-20 again
    "sim_search_mmr", "table_clone", "graph_feature_propagation",
    "sql_unpivot_multi", "sim_search_rerank", "sim_ann_nprobe_sweep",
    "dedup_threshold_curve",
    // round-12 close: keys that entered a top-20 in ANY of the four
    // r12 records (warm local[4]/local[32], true-cold, official) —
    // cold top-20s included so an artifact-rebuild-heavy driver
    // window can't surface an unplanned key
    "entity_match", "graph_label_prop", "graph_components",
    "sim_ann_ivf_indexed",
    // round-14: clear the r13 plans_check red (fn_collate hit #18 in
    // the official window with no entry) and pre-cover the whole
    // 25%-bubble union across BENCH_r13 + both r13 close records —
    // plans_check now enforces the bubble, so every key within 25%
    // of any record's top-20 cutoff needs an entry
    "fn_collate", "event_markov_entropy", "sim_ann_ivf",
    "vec_pca_top_component",
    // r14 close: the optimization round reshuffled the top-20 — cover
    // the two new 25%-bubble entrants of the r14 close record
    "sim_ann_lsh", "graph_assortativity")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.tools.Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — executed physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on $sfDir. AQE final plans\n")
    sb.append("(materialized with collect() so adaptive stages finalize).\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
        .linesIterator.map(_.replaceAll("#\\d+[L]?", "")).mkString("\n")
      sb.append(s"\n## $name\n\n```\n$plan\n```\n")
    }
    spark.stop()
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
  }
}
