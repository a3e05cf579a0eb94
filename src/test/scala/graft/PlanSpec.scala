package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY §4): the scale guarantees — filter
  * pushdown, column pruning, broadcast pinning, top-k without global
  * sort — must be visible in the executed plan, not assumed. */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString()
  }

  test("filter_predicate pushes predicates into the parquet scan") {
    val p = plan("filter_predicate")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(o_totalprice)") ||
      p.contains("GreaterThanOrEqual(o_totalprice"), p)
  }

  test("project_select prunes the scan to the referenced columns") {
    val p = plan("project_select")
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_shipdate"), readSchema)
  }

  test("join_broadcast executes as a broadcast hash join") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("ExplainDump writes join_broadcast's broadcast plan to <key>_<suffix>.txt") {
    val out = java.nio.file.Files.createTempDirectory("graft_explain")
    graft.tools.ExplainDump.dump(spark, sf, out.toString, "t",
      Seq("join_broadcast"))
    val dumped = java.nio.file.Files.readString(
      out.resolve("join_broadcast_t.txt"))
    assert(dumped.contains("BroadcastHashJoin"), dumped)
  }

  test("join_multiway broadcasts every dimension side") {
    val p = plan("join_multiway")
    // lineitem⋈orders is the one big join; customer/nation/region broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
  }

  test("sort_limit_topk avoids a global sort (TakeOrderedAndProject)") {
    assert(plan("sort_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("join_semi/anti compile to semi/anti hash joins, not generic") {
    assert(plan("join_semi").contains("LeftSemi"))
    assert(plan("join_anti").contains("LeftAnti"))
  }

  test("agg_groupby keeps partial aggregation (map-side combine)") {
    val p = plan("agg_groupby")
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, // partial + final
      p)
  }

  test("whole-stage codegen covers the flagship pipeline") {
    // AQE shows codegen spans only in the final (executed) plan
    val df = SparkEntry.queries("agg_groupby")(spark, sf)
    df.collect() // materialize THIS plan so AQE finalizes it
    val p = df.queryExecution.executedPlan.toString()
    // codegen'd operators carry the "*(n)" span marker in the final plan
    assert(p.contains("*(1)") && p.contains("*(2)"), p)
  }

  test("sim_search_topk broadcasts the probe side (no shuffle cross)") {
    val p = plan("sim_search_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("runtime bloom-filter pruning injects on a selective fact join") {
    // thresholds floored so the optimization fires at test scale; on a
    // 100 TB cluster the defaults (10MB creation side) govern
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
      val sel = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      val j = li.join(sel,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString()
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("join_bucketed joins without a join-side exchange") {
    // pin large-large: broadcast would bypass the bucketed layout here
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("join_bucketed")(spark, sf)
      df.collect()
      // AQE's toString echoes final + initial plans; the join subtree is
      // the deepest part of the final section — from the join operator
      // to the section break there must be no Exchange, only bucketed
      // scans feeding Sorts
      val p = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      val joinIdx = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin")
      assert(joinIdx >= 0, p)
      val joinSubtree = p.substring(joinIdx)
      assert(!joinSubtree.contains("Exchange"), joinSubtree)
      assert("Bucketed: true".r.findAllIn(joinSubtree).size === 2, joinSubtree)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("dedup candidate dedup shuffles once, keyed by doc_a only") {
    // distinctPairs: the (doc_a, doc_b) distinct must ride a doc_a-only
    // exchange (reused by the verify join) — never its own two-key
    // exchange, which would shuffle the same bytes twice
    Seq("dedup_near", "dedup_ngram").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
        .replaceAll("#\\d+L?", "")
      assert(p.contains("Exchange hashpartitioning(doc_a,"), p)
      assert(!p.contains("Exchange hashpartitioning(doc_a, doc_b"), p)
      graft.engine.ml.Dedup.unpersistTracked()
    }
  }

  test("skyline_2d runs the distributive path (no global window)") {
    val p = plan("skyline_2d")
    // the single-reducer shape would be a Window with no partitionBy;
    // the distributive plan has no Window operator at all
    assert(!p.contains("Window"), p)
  }

  test("time_resample broadcasts the calendar spine") {
    val p = plan("time_resample")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("capped candidate self-join reads the index from cache, once") {
    val docs = Tables.documents(spark, sf)
    val df = graft.engine.ml.Dedup.ngramJaccardPairs(docs, 0.12)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString()
    // both sides of the prefix-token self-join must scan the SAME
    // materialized index (before the fix the windowed cap was
    // recomputed per side: zero InMemoryTableScan in this plan)
    val cacheScans = p.linesIterator
      .count(_.contains("InMemoryTableScan"))
    assert(cacheScans >= 2, s"expected both join sides cached:\n$p")
    graft.engine.ml.Dedup.unpersistTracked()
  }

  test("dedup_resolve keep-list mapping joins by broadcast (driver regime)") {
    val docs = Tables.documents(spark, sf)
    val pairs = graft.engine.ml.Dedup.ngramJaccardPairs(docs, 0.05)
      .select("doc_a", "doc_b")
    val p = graft.engine.ml.Dedup.resolvePairs(pairs, docs)
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), p)
    graft.engine.ml.Dedup.unpersistTracked()
  }

  test("sink_partitioned read prunes to the selected partition") {
    // executing the query writes the partitioned tree; then check the
    // read side lists only y=1997
    val df = SparkEntry.queries("sink_partitioned")(spark, sf)
    df.count()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("PartitionFilters: [isnotnull(y"), p)
  }

  test("text_repetition never shuffles by key (no aggregation exchange)") {
    // the per-doc profile never leaves its partition: the ONLY exchange
    // allowed is spreadForCompute's round-robin repartition, which
    // exists to unlock parallelism when the local scan under-splits (a
    // real corpus scan has thousands of splits and the spread no-ops) —
    // there must be no hash exchange from any per-doc aggregation
    val p = graft.engine.ml.Text
      .repetitionProfile(Tables.documents(spark, sf), 3)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("agg_winsorize joins the bounds back by broadcast") {
    assert(plan("agg_winsorize").contains("BroadcastHashJoin"))
  }

  test("sql_passthrough broadcasts every dimension of the 5-table join") {
    // region/nation/customer broadcast; only lineitem⋈orders shuffles
    val p = plan("sql_passthrough")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("join_interval_overlap joins on the bucket equi-key with no dedup aggregate") {
    // the week-bucket expansion must make this a plain hash/merge join
    // on (o_custkey, bkt) — no cartesian/range fallback — and the
    // claim-by-overlap-start arithmetic must replace any distinct
    // (a dropDuplicates would show as an extra aggregate + exchange)
    val df = SparkEntry.queries("join_interval_overlap")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("text_boilerplate broadcasts the frequent-chunk set") {
    assert(plan("text_boilerplate").contains("BroadcastHashJoin"))
  }

  test("dq_anomaly broadcasts the one-row stats relation") {
    val p = plan("dq_anomaly")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("win_range_interval shuffles once on user_id (frame rides the window exchange)") {
    // the interval frame + the windowed sum must share ONE user_id hash
    // exchange; the only other exchange is the presentation sort's range
    // partitioning — a second hash exchange would mean the frame and the
    // aggregate each shuffled the events separately
    val df = SparkEntry.queries("win_range_interval")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .replaceAll("#\\d+L?", "")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("sessionize_batch shares one user_id shuffle across windows AND the session agg") {
    // lag-window, running-sum window, and the (user_id, session_seq)
    // aggregate all cluster on user_id — HashPartitioning(user_id)
    // satisfies the aggregate's ClusteredDistribution, so the whole
    // gaps-and-islands pipeline rides a single hash exchange
    val df = SparkEntry.queries("sessionize_batch")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .replaceAll("#\\d+L?", "")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("market_basket reuses the basket exchange and takes top-100 without a global sort") {
    // the pair self-join's two sides are the SAME distinct (ok, pk)
    // relation — AQE must reuse the first shuffle (ReusedExchange), not
    // scan+shuffle lineitem twice; the bounded output rides
    // TakeOrderedAndProject, never a full rangepartition sort
    val df = SparkEntry.queries("market_basket")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"), p)
    assert(p.contains("TakeOrderedAndProject(limit=100"), p)
  }

  test("join_bloom_prefilter probes the bloom below the semi join, in the scan stage") {
    // the broadcast sketch probe must run map-side on the lineitem scan
    // (a Filter with the UDF over l_orderkey feeding the join), so at
    // scale the semi join's shuffle/broadcast sees only the survivors
    val df = SparkEntry.queries("join_bloom_prefilter")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .replaceAll("#\\d+L?", "")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("UDF(knownnotnull(l_orderkey))"), p)
  }

  test("event_transitions shuffles the event stream once, on user_id") {
    // the LEAD window is the only data-sized exchange; everything after
    // it operates on the tiny type×type matrix
    val df = SparkEntry.queries("event_transitions")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .replaceAll("#\\d+L?", "")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
  }

  test("table_diff classifies via one full-outer sort-merge join on the key") {
    val df = SparkEntry.queries("table_diff")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .replaceAll("#\\d+L?", "")
    assert(p.contains("SortMergeJoin [k], [k], FullOuter"), p)
    assert("Exchange hashpartitioning\\(k,".r.findAllIn(p).size === 2, p)
  }

  test("time_m4_downsample rides one bucket exchange (both windows + the agg)") {
    val df = SparkEntry.queries("time_m4_downsample")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .replaceAll("#\\d+L?", "")
    assert("Exchange hashpartitioning\\(bucket".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("sample_weighted takes its top-100 without a global sort") {
    val df = SparkEntry.queries("sample_weighted")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject(limit=100"), p)
  }

  test("join_spatial_grid is an equi-join on the cell key, never a cross product") {
    // the 3×3 stencil replication must turn the radius predicate into a
    // plain hash join on (gx, gy); a Cartesian/nested-loop plan would be
    // the |A|×|B| shape that dies at scale
    val df = SparkEntry.queries("join_spatial_grid")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("graph_adamic_adar generates pairs map-side off one basket exchange") {
    // no self-join: the only data-sized exchanges are the ok-keyed
    // basket rollup and the pair-key aggregate; the bounded output
    // rides TakeOrderedAndProject
    val df = SparkEntry.queries("graph_adamic_adar")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
      .replaceAll("#\\d+L?", "")
    assert("Exchange hashpartitioning\\(ok".r.findAllIn(p).size === 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject(limit=100"), p)
  }

  test("agg_sketch_merge keeps the partial/final split on both sketch levels") {
    // partial HLL sketches build map-side before each exchange — the
    // mergeable-sketch contract (only sketch bytes cross the wire)
    val df = SparkEntry.queries("agg_sketch_merge")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert("partial_hllsketchagg".r.findAllIn(p.toLowerCase).nonEmpty ||
      ("HashAggregate".r.findAllIn(p).size >= 4), p)
  }

  test("dedup_containment explodes grams only for candidate docs (semi filter first)") {
    // the corpus-wide 5-gram distinct must NOT materialize: the gram
    // generator sits above a LeftSemi join against the candidate ids
    val df = SparkEntry.queries("dedup_containment")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(p.contains("LeftSemi"), p)
    val semiIdx = p.indexOf("LeftSemi")
    val genIdx = p.indexOf("Generate explode")
    assert(genIdx >= 0, p)
    // The positional relationship IS the property: in the tree dump an
    // ancestor prints before its descendants, so the gram explode
    // (applied to the semi-join output) must appear ABOVE the LeftSemi
    // candidate filter. A regression that exploded corpus-wide grams
    // below the semi join would print Generate after LeftSemi.
    assert(genIdx < semiIdx,
      s"Generate explode at $genIdx not above LeftSemi at $semiIdx:\n$p")
  }

  test("chunk_cdc is map-only: no keyed exchange anywhere in the plan") {
    // the whole computation is per-document, so the only exchanges
    // allowed are the compute-spread round-robin and the presentation
    // sort's range partitioning — never a hashpartitioning shuffle
    val df = SparkEntry.queries("chunk_cdc")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("sim_search_batch: cell equi-join, no cartesian, no probe broadcast") {
    val df = SparkEntry.queries("sim_search_batch")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the probes×corpus meet is a shuffled equi-join on the cell key
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("catalog_analyze: column stats + CBO flip a join to broadcast, no hint") {
    import graft.engine.catalog.Catalog
    import graft.engine.meta.{ColumnMeta, TableMeta}
    import org.apache.spark.sql.functions.col
    // fresh session: conf isolated, persistent catalog (and thus the
    // ANALYZE results) shared with the fixture session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    // both raw files (orders 35 KB, customer 6.9 KB at sf0.001) exceed
    // the threshold, so WITHOUT stats no side broadcasts
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "4096")
    val ordersMeta = TableMeta("graft_orders_cbo", Seq(
      ColumnMeta("o_orderkey", "long"),
      ColumnMeta("o_custkey", "long"),
      ColumnMeta("o_totalprice", "double")))
    val custMeta = TableMeta("graft_customer_cbo", Seq(
      ColumnMeta("c_custkey", "long"),
      ColumnMeta("c_name", "character")))
    for (m <- Seq(ordersMeta, custMeta)) Catalog.dropExternal(s2, m.name)
    Catalog.registerExternal(s2, ordersMeta, s"$sf/orders.parquet")
    Catalog.registerExternal(s2, custMeta, s"$sf/customer.parquet")

    def joined = s2.table("graft_orders_cbo")
      .filter(col("o_totalprice") > 500000.0)
      .join(s2.table("graft_customer_cbo"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_name").count()

    // control: no statistics — size-only estimation sees the full file
    // behind the filter and plans a shuffle join
    val before = joined.queryExecution.executedPlan.toString()
    assert(!before.contains("BroadcastHashJoin"), before)

    // ANALYZE → filter-cardinality estimation from min/max + rowCount
    // shrinks the filtered side below the threshold → broadcast,
    // purely stats-driven (no hint anywhere in the query)
    Catalog.analyzeColumns(s2, "graft_orders_cbo",
      Seq("o_orderkey", "o_custkey", "o_totalprice"))
    Catalog.analyzeColumns(s2, "graft_customer_cbo",
      Seq("c_custkey", "c_name"))
    val after = joined.queryExecution.executedPlan.toString()
    assert(after.contains("BroadcastHashJoin"), after)
    for (m <- Seq(ordersMeta, custMeta)) Catalog.dropExternal(s2, m.name)
  }

  test("cdc_merge resolves the whole change log through ONE key shuffle") {
    // snapshot + every change class union into a single rank window:
    // exactly one hashpartitioning exchange (on k), no join operator —
    // a per-operation-type join-apply shape would show several
    val p = plan("cdc_merge")
    assert("Exchange hashpartitioning\\(k".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    assert(!p.contains("Join"), p)
  }

  test("vec_pq / vec_kmeans evaluate the codebook argmin map-side " +
      "(r14: no join, no window — the k·d codebook is a bounded " +
      "literal, distances are exact-decimal HOF folds on the scan)") {
    for (k <- Seq("vec_pq", "vec_kmeans")) {
      val p = plan(k)
      assert(!p.contains("Join"), s"$k:\n$p")
      assert(!p.contains("Window"), s"$k:\n$p")
      assert(!p.contains("CartesianProduct"), k)
    }
  }

  test("text_dup_coverage joins the shared set by fingerprint hash " +
      "and never goes quadratic") {
    val p = plan("text_dup_coverage")
    assert(p.contains("BroadcastHashJoin [ch#") ||
      p.contains("SortMergeJoin [ch#"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("event_attribution evaluates the interval condition INSIDE the " +
      "user join (no nested-loop fallback)") {
    val p = plan("event_attribution")
    assert(p.contains("BroadcastHashJoin [user_id#") ||
      p.contains("SortMergeJoin [user_id#"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("graph_kcore peel rounds stay equi-joins over the edge artifact") {
    val p = plan("graph_kcore")
    assert(!p.contains("CartesianProduct"), p)
    // 4 peel rounds x 2 alive-joins + the final degree pass
    assert(("BroadcastHashJoin".r.findAllIn(p).size +
      "SortMergeJoin".r.findAllIn(p).size) >= 8, p)
  }

  test("join_hint_shuffle_hash: the hint flips the physical join to " +
      "ShuffledHashJoin") {
    assert(plan("join_hint_shuffle_hash").contains("ShuffledHashJoin"))
  }

  test("shuffle_shards: shard manifest rides one shard exchange") {
    // the per-shard row_number and the manifest aggregate share the
    // single hashpartitioning(shard) exchange; the only other exchange
    // is the SinglePartition collapse of the K-row manifest for the
    // global balance window — nothing reshuffles the corpus twice
    val p = plan("shuffle_shards")
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("seed/top-k keys: no unpartitioned Window over a full-table " +
      "input (every global window sits above a TakeOrdered k-row " +
      "relation)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // vec_pq / vec_kmeans left this list in r14: their seed TakeOrdered
    // now runs EAGERLY at build time (bounded collect feeding the HOF
    // codebook literals) so the declared plan has no window at all —
    // pinned by the map-side plan test above.
    for (name <- Seq("profile_hill_tail",
        "text_zipf_slope", "rank_fusion_rrf")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.sparkPlan
      assert(p.toString.contains("TakeOrderedAndProject"),
        s"$name: no TakeOrderedAndProject\n$p")
      val bad = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
            !w.child.toString.contains("TakeOrderedAndProject") => w
      }
      assert(bad.isEmpty,
        s"$name: unpartitioned Window over a non-TakeOrdered input:\n" +
          bad.mkString("\n"))
    }
  }

  test("round-8 top-k keys plan as TakeOrderedAndProject, not a " +
      "global sort") {
    for (name <- Seq("sort_limit_offset", "time_top_movers",
        "dq_sequence_gaps", "vocab_coverage")) {
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.toString
      assert(p.contains("TakeOrderedAndProject"), s"$name:\n$p")
    }
  }

  test("maintain_cluster_rewrite pre-write plan shard-partitions the " +
      "rows (one hash exchange, no sampling pass, no global sort); " +
      "the only global window runs over the bounded zval histogram") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.queries.IoQueries.clusterRewriteSharded(spark, sf)
    val p = df.queryExecution.sparkPlan
    assert(p.toString.contains("hashpartitioning(shard"), p.toString)
    assert(!p.toString.toLowerCase.contains("rangepartitioning"),
      "range partitioning would add a boundary-sampling pass: " +
        p.toString)
    val unpart = p.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpart.nonEmpty, "expected the histogram cumulative window")
    unpart.foreach { w =>
      assert(w.child.toString.contains("HashAggregate(keys=[zval"),
        s"global window input is not the zval histogram:\n${w.child}")
    }
  }
}
