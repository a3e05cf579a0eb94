package graft

import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{CollectLimitExec, GenerateExec, GlobalLimitExec, LeafExecNode, LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec, UnaryExecNode, UnionExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec, Final => FinalMode}
import org.scalatest.funsuite.AnyFunSuite

/** The permanent unpartitioned-window census (round-8 ran this as a
  * one-off sweep; round-9 makes it a gate): walk EVERY declared key's
  * physical plan and require that each WindowExec with an empty
  * partition spec — the single-task global-sort funnel — sits above a
  * relation that is bounded by construction. Two bounds are accepted:
  *
  *  - STRUCTURAL: every leaf-reaching path of the window's child is
  *    cut by a TakeOrderedAndProject / GlobalLimit / CollectLimit /
  *    global WindowGroupLimit — a k-row relation whatever the input
  *    size — or ends in a LocalTableScan (literal rows). Checked by
  *    an operator-chain WALK, not a subtree grep: a limit in one
  *    join leg cannot vouch for a corpus-sized other leg, and
  *    LocalLimit (per-partition, so data-scaled) does not count.
  *  - DECLARED: the key appears in `boundedByGrain` below with the
  *    stated bound — the window input is an aggregate (or generated
  *    spine) whose key domain is bounded by the operator's definition
  *    (calendar days, histogram bins, bands, cells, folds …), not by
  *    the data volume. Every entry names its bound so the allowlist
  *    is auditable, and the test still requires the child subtree to
  *    contain an aggregate/generator — a raw corpus-sized scan can
  *    never ride in on an allowlist entry.
  *
  * A future key that reintroduces the r7 anti-pattern (global rank
  * over a corpus-sized relation) fails this suite unless its author
  * states the bound here — which is exactly the review conversation
  * the census is meant to force. This suite is also the documented
  * rationale for the benign WindowExec single-partition WARNings the
  * verify run emits.
  *
  * The same walk is the build census: it counts the Spark jobs each
  * key launches while it builds its DataFrame (before anything runs it)
  * and fails on a key that launches more than `buildJobs` pins.
  */
class WindowCensusSpec extends AnyFunSuite with SparkFixture {

  /** key -> the stated bound of its global-window input. Every window
    * here runs over an AGGREGATE whose key domain the operator's
    * definition bounds — calendar grain, fixed bins/bands/deciles,
    * mixture cells, shard manifests — so the single task sees grain-
    * many rows however large the corpus is. */
  private val boundedByGrain: Map[String, String] = Map(
    "dq_drift_psi" -> "fixed PSI bin histogram",
    "dq_sequence_gaps" ->
      "blk2 block summary, <= keyspace/4096^2 rows (recursion level 3)",
    "event_interarrival_burstiness" ->
      "inter-arrival band histogram (fixed band count)",
    "graph_degree_gini" ->
      "distinct-degree histogram (O(sqrt E) distinct degrees)",
    "graph_modularity" -> "per-community aggregate (<= #communities)",
    "interval_concurrency" -> "per-day boundary deltas (calendar grain)",
    "maintain_zorder_effectiveness" -> "zval histogram (<= 2^20 bins)",
    "mix_epochs" -> "mixture cells (<= #langs x #sources)",
    "mix_round_lrm" -> "mixture cells (<= #langs x #sources)",
    "mix_temperature" -> "mixture cells (<= #langs x #sources)",
    "mix_token_budget" -> "mixture cells (<= #langs x #sources)",
    "ml_auc_roc" -> "distinct rounded scores (fixed score precision)",
    "ml_cost_threshold" ->
      "distinct rounded scores (fixed score precision)",
    "ml_ks_statistic" ->
      "distinct rounded scores (fixed score precision)",
    "ml_lift_table" -> "decile table (10 rows)",
    "ml_pr_auc" -> "distinct rounded scores (fixed score precision)",
    "pareto_gini_banded" -> "spend-band histogram (fixed band count)",
    "pareto_lorenz_deciles" ->
      "distinct spend cent-values histogram (value-domain-bounded)",
    "profile_ks_test" -> "fixed KS bin histogram",
    "profile_mutual_info" ->
      "contingency cells (enumerable category pair domain)",
    "sample_bootstrap_ci" -> "bootstrap replicate aggregate (<= R reps)",
    // the sim_* recall windows rank a per-probe aggregate: LeftOuter
    // join of two HashAggregate(probe_id) legs, <= #probes rows (the
    // probe set is a k-row TakeOrdered sample by construction). Under
    // the r9 string-grep gate these passed on the probe leg's deeper
    // TakeOrdered; the r10 walk makes the bound explicit here instead.
    "sim_ann_ivf" -> "per-probe recall aggregate (<= #probes)",
    "sim_ann_ivf_indexed" -> "per-probe recall aggregate (<= #probes)",
    "sim_ann_lsh" -> "per-probe recall aggregate (<= #probes)",
    "sim_ann_nprobe_sweep" -> "per-probe recall aggregate (<= #probes)",
    "sim_index_append" -> "per-probe recall aggregate (<= #probes)",
    "sim_search_batch" -> "per-probe recall aggregate (<= #probes)",
    "sim_search_rerank" -> "per-probe recall aggregate (<= #probes)",
    "sample_neyman" -> "per-stratum aggregate (<= #strata)",
    "shuffle_shards" -> "K-row shard manifest (<= #shards)",
    "sink_sorted_stats" -> "per-file stats (<= #files written)",
    "stream_late_drop" ->
      "per-micro-batch watermark summary (<= #batches)",
    "ab_mann_whitney" ->
      "distinct metric cent-values histogram (value-domain-bounded)",
    "ab_sequential_sprt" ->
      "cumulative LLR over the entry-day grain (calendar-bounded)",
    "time_adf" -> "calendar-grain series (days/months)",
    "time_permutation_entropy" -> "calendar-grain series (days/months)",
    "time_theil_u2" -> "calendar-grain series (days/months)",
    "time_rsi" -> "calendar-grain series (days/months)",
    "time_variance_ratio" -> "calendar-grain series (days/months)",
    "time_mase" -> "calendar-grain series (days/months)",
    "time_pettitt" -> "calendar-grain series (days/months)",
    "time_seasonal_index_mult" -> "calendar-grain series (days/months)",
    "time_ar1_halflife" -> "calendar-grain series (days/months)",
    "time_durbin_watson" -> "calendar-grain series (days/months)",
    "time_smape" -> "calendar-grain series (days/months)",
    "time_stochastic_k" -> "calendar-grain series (days/months)",
    "event_nelson_aalen" -> "event-day risk-set grain (calendar-bounded)",
    "event_logrank" -> "event-day risk-set grain (calendar-bounded)",
    "time_bollinger" -> "calendar-grain series (days/months)",
    "ml_somers_d" -> "distinct rounded scores (fixed score precision)",
    "ab_kruskal_wallis" -> "quantity value histogram (<= 50 cells)",
    "ab_cliffs_delta" -> "quantity value histogram (<= 50 cells)",
    "ab_mood_median" -> "quantity value histogram (<= 50 cells)",
    "ab_jonckheere" -> "quantity value histogram (<= 50 cells)",
    "ab_hodges_lehmann" ->
      "pairwise-difference histogram (<= 99 cells)",
    "ab_ks_2sample" -> "quantity value histogram (<= 50 cells)",
    "ab_brunner_munzel" -> "quantity value histogram (<= 50 cells)",
    "ab_anderson_darling" -> "quantity value histogram (<= 50 cells)",
    "ab_quantile_effects" -> "quantity value histogram (<= 50 cells)",
    "time_autocorr" -> "calendar-grain series (days/months)",
    "time_ljung_box" -> "calendar-grain series (days/months)",
    "time_backtest_horizons" -> "calendar-grain series (days/months)",
    "time_changepoint" -> "calendar-grain series (days/months)",
    "time_control_chart" -> "calendar-grain series (days/months)",
    "time_cusum" -> "calendar-grain series (days/months)",
    "time_decompose_additive" -> "calendar-grain series (days/months)",
    "time_granger_f" -> "calendar-grain series (days/months)",
    "time_hurst_rs" -> "calendar-grain series (days/months)",
    "time_kpss" -> "calendar-grain series (days/months)",
    "time_runs_test" -> "calendar-grain series (days/months)",
    "time_max_drawdown" -> "calendar-grain series (days/months)",
    "time_mean_crossings" -> "calendar-grain series (days/months)",
    "time_pacf" -> "calendar-grain series (days/months)",
    "time_period_over_period" -> "calendar-grain series (days/months)",
    "time_rolling_corr" -> "calendar-grain series (days/months)",
    "time_sax_runs" -> "calendar-grain series (days/months)",
    "time_survival_km" ->
      "distinct event times at day grain (calendar-bounded)",
    "time_theilsen_trend" -> "calendar-grain series (days/months)",
    "time_velocity_accel" -> "calendar-grain series (days/months)")
  // vocab_build left the allowlist in r10: its id assignment is now
  // range-partitioned local ranks + a limit(P)-bounded offset window,
  // so the plan is structurally bounded on its own.

  /** Keys DELIBERATELY kept as exact one-task forms whose declared
    * scale path is a sibling key (r7 'done' criterion: the exact form
    * stays as the oracle-checked twin). */
  private val exactTwinException: Map[String, String] = Map(
    "profile_equidepth" ->
      "exact-NTILE twin; scale path is profile_equidepth_approx")

  // Round-10 hardening (r9 verdict + ADVICE): both checks are now a
  // STRUCTURAL WALK of the window child's operator chain instead of a
  // toString grep, so a limit (or aggregate) in ONE join leg can no
  // longer vouch for a corpus-sized OTHER leg — every leaf-reaching
  // path must be bounded, except semi/anti/existence joins where the
  // output is at most the left leg. LocalLimit is dropped from the
  // accepted markers: it bounds rows PER PARTITION, and partition
  // count scales with the data, so it is not a true bound.

  /** True iff every path from p down to a data source passes through
    * a row-count bound that holds whatever the input size. */
  private def boundedOnPath(p: SparkPlan): Boolean = p match {
    case _: TakeOrderedAndProjectExec => true
    case _: GlobalLimitExec           => true
    case _: CollectLimitExec          => true
    case _: LocalTableScanExec        => true // literal rows
    case w: WindowGroupLimitExec
        if w.partitionSpec.isEmpty && w.mode == FinalMode =>
      true // global top-k pushdown; Partial mode bounds per upstream
           // partition only (k x #partitions, data-scaled) — same
           // loophole class as the dropped LocalLimit marker
    case j: BaseJoinExec => j.joinType match {
      case LeftSemi | LeftAnti | _: ExistenceJoin => boundedOnPath(j.left)
      case _ => boundedOnPath(j.left) && boundedOnPath(j.right)
    }
    case c: CartesianProductExec =>
      boundedOnPath(c.left) && boundedOnPath(c.right)
    case u: UnionExec   => u.children.forall(boundedOnPath)
    case u: UnaryExecNode => boundedOnPath(u.child)
    case _: LeafExecNode  => false // corpus-sized scan
    case other            => other.children.forall(boundedOnPath)
  }

  /** True iff every path from p down to a data source passes through
    * an aggregate / generator / literal domain — the structural
    * backstop for allowlisted keys (the allowlist entry states WHY the
    * aggregate's key domain is grain- not corpus-bounded). */
  private def aggregatedOnPath(p: SparkPlan): Boolean = p match {
    case _ if boundedOnPath(p) => true
    case _: BaseAggregateExec  => true
    case _: GenerateExec       => true // generated spine (sequence/explode)
    case _: RangeExec          => true // literal domain
    case j: BaseJoinExec => j.joinType match {
      case LeftSemi | LeftAnti | _: ExistenceJoin => aggregatedOnPath(j.left)
      case _ => aggregatedOnPath(j.left) && aggregatedOnPath(j.right)
    }
    case c: CartesianProductExec =>
      aggregatedOnPath(c.left) && aggregatedOnPath(c.right)
    case u: UnionExec   => u.children.forall(aggregatedOnPath)
    case u: UnaryExecNode => aggregatedOnPath(u.child)
    case _: LeafExecNode  => false
    case other            => other.children.forall(aggregatedOnPath)
  }

  /** key -> the most Spark jobs its DataFrame construction may launch
    * at sf0.001: the larger of a build over a cold and over a warm
    * warehouse (artifacts built or reused). A key not listed may launch
    * none. The IO keys write before they read; the others collect
    * bounded state. Lower a count when a change lowers it; a new key or
    * a higher count fails. */
  private val buildJobs: Map[String, Int] = Map(
    "agg_countmin_sweep" -> 4, "catalog_analyze" -> 7, "compact_files" -> 3,
    "curate_apply" -> 15, "dedup_band_tuning" -> 3, "dedup_embedding" -> 3,
    "dedup_embedding_knee" -> 3, "dedup_incremental" -> 2, "dedup_near" -> 4,
    "delete_keyed" -> 2, "dq_observe" -> 1, "etl_idempotent_rerun" -> 4,
    "etl_incremental_extract" -> 9, "etl_late_dimension" -> 4,
    "event_markov_convergence" -> 5, "event_markov_entropy" -> 5,
    "event_markov_stationary" -> 5, "evolve_add_column" -> 3,
    "export_fixed_trailer" -> 3, "export_jsonl_sharded" -> 1,
    "export_manifest" -> 4, "fn_transpose" -> 2, "graph_assortativity" -> 3,
    "graph_closeness_sampled" -> 4, "graph_components" -> 5,
    "graph_eigenvector_centrality" -> 2, "graph_hits" -> 3,
    "graph_label_prop" -> 13, "graph_pagerank_personalized" -> 18,
    "join_bloom_prefilter" -> 2, "join_bucketed" -> 2, "knn_graph" -> 3,
    "maintain_cluster_rewrite" -> 7, "maintain_retention" -> 1,
    "maintain_vacuum" -> 4, "mix_allocate" -> 6, "sample_coreset" -> 12,
    "scan_binaryfile" -> 1, "scan_csv_dropmalformed" -> 1,
    "scan_csv_formats" -> 1, "scan_csv_malformed" -> 1,
    "scan_csv_multichar_delim" -> 1, "scan_csv_quoted" -> 1,
    "scan_csv_roundtrip" -> 1, "scan_csv_union_evolve" -> 2,
    "scan_glob_filtered" -> 5, "scan_ignore_corrupt" -> 2,
    "scan_json_multiline" -> 2, "scan_jsonl_malformed" -> 1,
    "scan_jsonl_roundtrip" -> 1, "scan_merge_schema" -> 3,
    "scan_nested_filter_pushdown" -> 1, "scan_nested_pruning" -> 1,
    "scan_orc_roundtrip" -> 1, "scan_row_index" -> 3, "scan_text" -> 1,
    "scan_xml_roundtrip" -> 2, "sim_ann_ivf" -> 10,
    "sim_ann_ivf_indexed" -> 9, "sim_ann_lsh" -> 6, "sim_index_append" -> 24,
    "sim_index_compact" -> 30, "sim_search_batch" -> 4,
    "sim_search_mmr" -> 5, "sink_bloom_filter" -> 1, "sink_gzip_jsonl" -> 2,
    "sink_overwrite_dynamic" -> 2, "sink_partitioned" -> 1,
    "sink_row_group_size" -> 1, "sink_sorted_stats" -> 3, "sink_zstd" -> 1,
    "sql_ctas" -> 2, "sql_variables" -> 2, "stream_cdf_consume" -> 3,
    "stream_foreach_batch" -> 13, "stream_restart_resume" -> 2,
    "stream_state_read" -> 1, "table_changes" -> 3, "table_clone" -> 4,
    "table_commit_log" -> 3, "table_partition_evolution" -> 6,
    "table_time_travel" -> 2, "text_langid" -> 5,
    "text_langid_confusion" -> 1, "text_langid_mismatch" -> 1,
    "text_tokenize_unicode" -> 6, "time_mann_kendall" -> 2,
    "vec_kmeans" -> 4, "vec_pq" -> 1, "vocab_bpe" -> 1,
    "vocab_bpe_unicode" -> 1)

  /** One build of every declared key, sorted by name: its physical plan
    * (or why the build failed) and the jobs the build launched. Both
    * tests read this one walk, so no key is built twice. */
  private lazy val walk: Seq[(String, Either[String, SparkPlan], Int)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      try {
        val (df, jobs) = jobsOf(q(spark, sf))
        (name, Right(df.queryExecution.sparkPlan), jobs)
      } catch { case e: Throwable =>
        (name, Left(s"plan construction failed: ${e.getMessage}"), 0)
      }
    }

  test("every unpartitioned WindowExec in all declared plans sits " +
      "above a limit or a declared grain-bounded relation") {
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, plan, _) <- walk) {
      plan.left.foreach(e => violations += s"$name: $e")
      plan.foreach { p =>
        val globals = p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        globals.foreach { w =>
          val ok = boundedOnPath(w.child) ||
            (boundedByGrain.contains(name) && aggregatedOnPath(w.child)) ||
            exactTwinException.contains(name)
          if (!ok) violations +=
            s"$name: unpartitioned WindowExec over unbounded child:\n" +
              w.child.toString.linesIterator.take(6).mkString("\n")
        }
      }
    }
    assert(violations.isEmpty,
      s"${violations.size} census violations:\n" +
        violations.mkString("\n---\n"))
  }

  test("no key launches more jobs while it builds than the build " +
      "census pins") {
    val launching = walk.filter(_._3 > 0)
    info(s"build census: ${launching.size} keys launch " +
      s"${launching.map(_._3).sum} jobs")
    val over = launching.collect {
      case (name, _, jobs) if jobs > buildJobs.getOrElse(name, 0) =>
        s""""$name" -> $jobs (pinned ${buildJobs.getOrElse(name, 0)})"""
    }
    if (over.nonEmpty)
      fail(s"${over.size} keys over their build-job pin:\n" +
        over.mkString("\n"))
    val stale = buildJobs.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"pins for keys that no longer exist: $stale")
  }

  test("the join(limited-leg, corpus-leg) loophole is caught: a limit " +
      "in one join leg must not vouch for an unbounded other leg") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sf/events.parquet")
    val limited = spark.read.parquet(s"$sf/nation.parquet").limit(5)
    // The r9 gate's string grep saw "GlobalLimit" in the limited leg's
    // subtree and accepted the whole join as bounded input — while the
    // window actually ranks a corpus-sized relation.
    val leaky = corpus
      .join(limited, corpus("user_id") % 25 === limited("n_nationkey"))
      .withColumn("rk", row_number().over(Window.orderBy("ts")))
    val leakyWins = leaky.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(leakyWins.nonEmpty, "fixture lost its global window")
    leakyWins.foreach { w =>
      assert(w.child.toString.contains("GlobalLimit") ||
          w.child.toString.contains("TakeOrderedAndProject"),
        "fixture no longer reproduces the string-match loophole shape")
      assert(!boundedOnPath(w.child),
        "boundedOnPath accepted a join whose corpus leg is unbounded")
      assert(!aggregatedOnPath(w.child),
        "aggregatedOnPath accepted a join whose corpus leg is raw")
    }
    // and the genuinely bounded shape still passes: window over a
    // global limit of the SAME corpus relation
    val bounded = corpus.orderBy("ts").limit(7)
      .withColumn("rk", row_number().over(Window.orderBy("ts")))
    val boundedWins = bounded.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(boundedWins.nonEmpty, "bounded fixture lost its window")
    boundedWins.foreach(w => assert(boundedOnPath(w.child),
      "boundedOnPath rejected a window over a global top-k"))
  }
}
