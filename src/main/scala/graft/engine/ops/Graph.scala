package graft.engine.ops

import graft.engine.io.Artifacts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph verbs over edge DataFrames. Connected components
  * live in [[graft.engine.ml.Dedup.resolvePairs]] (min-label
  * propagation with pointer halving); this object holds the
  * fixed-iteration power-method family.
  */
object Graph {

  /** Persisted weighted co-occurrence projection — the graph-side
    * member of the fit-once artifact family (keep-list, quantizer,
    * signature stores): project the (group, member) relation onto
    * member–member edges weighted by shared-group count ONCE at ingest,
    * keyed by dataset tag + content fingerprint. Triangle counting,
    * components,
    * and any other strength-thresholded consumer read the same stored
    * relation and apply their own threshold — the 6M-pair projection
    * agg is paid once, not per query. */
  def coOccurrenceEdgesFor(pairs: DataFrame, datasetTag: String): DataFrame = {
    Artifacts.table(pairs, "graft_graph_edges", datasetTag) {
      pairs
        .groupBy("pk")
        .agg(sort_array(collect_set(col("sk"))).as("sks"))
        .select(posexplode(col("sks"))
          .as(Seq("i", "a")), col("sks"))
        .select(col("a"),
          explode(expr("slice(sks, i + 2, size(sks))")).as("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("w"))
    }
  }

  /** PageRank by `iterations` rounds of the power method over a
    * directed edge list `(src, dst)` — corpus-curation's
    * quality-weighting primitive (rank web-ish sources by link mass).
    *
    * Shape per round: one equi-join of ranks onto edges (both sides
    * hash-partitioned on `src` — the partitioning is REUSED across
    * rounds since every round shuffles on the same keys) and one
    * aggregation on `dst`. No driver-side state; the rank vector never
    * leaves the cluster. Fixed iteration count (not convergence-tested)
    * keeps the plan static and the result deterministic — the shape to
    * prefer at 100 TB where a convergence check would add a full pass
    * per round. For >10 rounds at scale, localCheckpoint the rank
    * vector every few rounds to truncate lineage (cf.
    * Dedup.resolveDistributed); at this fixed depth the lineage is
    * bounded and reused-exchange-friendly, so we keep it pure.
    *
    * Every node present as a source participates; because the caller
    * supplies both directions for an undirected graph, every node has
    * out-degree ≥ 1 and no dangling-mass correction is needed.
    * Arithmetic is all-double so an external engine (the DuckDB oracle)
    * reproduces it bit-for-bit modulo summation order — callers round
    * the emitted rank. */
  def pageRank(edges: DataFrame, iterations: Int,
      damping: Double = 0.85): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // (src, dst, deg): static across rounds — shuffled on src once,
    // every round's rank join reuses the exchange
    val outflow = edges.join(deg, "src")
    val nDf = broadcast(deg.agg(count(lit(1)).cast("double").as("n")))
    // node universe from the STATIC deg relation, not from the evolving
    // ranks: referencing `ranks` twice per round would double the plan
    // every iteration (2^rounds copies of the base by the last one)
    val nodes = deg.select(col("src").as("node"))
    var ranks = nodes.crossJoin(nDf)
      .select(col("node"), (lit(1.0) / col("n")).as("pr"))
    (1 to iterations).foreach { _ =>
      val inflow = outflow
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("pr") / col("deg").cast("double")).as("inflow"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .crossJoin(nDf)
        .select(col("node"),
          (lit(1.0 - damping) / col("n") +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("pr"))
    }
    ranks
  }

  /** Persisted directed both-ways bipartite edge list — the iterative
    * consumers (label propagation, modularity) reference the edge
    * relation once per round, so re-deriving it from the fact scan
    * each time multiplies the scan by the round count; staging it
    * once (artifact-keyed like the co-occurrence projection) makes
    * every round a small parquet read. */
  def bipartiteEdgesFor(pairs: DataFrame, datasetTag: String): DataFrame = {
    Artifacts.table(pairs, "graft_graph_edges", datasetTag, "bip") {
      val e0 = pairs.select(col("a"), col("b")).distinct()
      e0.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e0.select(col("b").as("src"), col("a").as("dst")))
    }
  }

  /** Persisted label-propagation result — the fit-once form: both the
    * community listing (graph_label_prop) and its quality score
    * (graph_modularity) consume the SAME propagated labels, so the
    * 3-round chain runs once per dataset version, not per consumer.
    * Fingerprint-keyed on the edge relation like every other store. */
  def labelPropagationFor(edges: DataFrame, iterations: Int,
      datasetTag: String): DataFrame = {
    Artifacts.table(edges, "graft_graph_labels", datasetTag,
      params = Seq(s"r$iterations"))(labelPropagation(edges, iterations))
  }

  /** Persisted single-seed personalized PageRank — the fit-once form
    * (labelPropagationFor discipline): the 8-round exact-integer power
    * iteration runs once per (edge relation, iterations) version and
    * every consumer reads the tiny (node, seed, pi) parquet. Seed =
    * the minimum even-coded node (the declared rule), read once on the
    * driver and used as a literal. Inside the fit, the degree-annotated
    * edge relation is eagerly checkpointed once and the rounds stay one
    * linear deferred chain — measured faster than per-round
    * materialization (no 8× job latency) and far faster than
    * re-deriving edges per round. */
  def personalizedPagerankFor(edges: DataFrame, iterations: Int,
      datasetTag: String): DataFrame = {
    Artifacts.table(edges, "graft_graph_ppr", datasetTag,
      params = Seq(s"r$iterations")) {
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      // cuts the 8-round chain's lineage, which grows with the round
      // count; a local checkpoint is lost if an executor fails
      val ed = edges.join(deg, Seq("src")).localCheckpoint(true)
      // If the edge relation has no even-coded src the seed is NULL,
      // every pi comparison below would be null, and the fit would
      // silently persist an all-zero vector. Fail loudly instead
      // (claimVersion discipline); the probe is a 1-row driver read.
      val seedRow = ed.filter(col("src") % 2 === 0)
        .agg(min("src")).head()
      require(!seedRow.isNullAt(0),
        "personalizedPagerankFor: no even-coded src node to seed from")
      val seed = lit(seedRow.get(0))
      var pi = ed.select(col("src").as("node")).distinct()
        .select(col("node"), seed.as("seed"),
          when(col("node") === seed, lit(1000000000000L))
            .otherwise(lit(0L)).as("pi"))
      // every node of the undirected graph has in-degree >= 1 and the
      // start vector is positive everywhere after round 1, so contrib
      // covers all nodes each round — no nodes-relation left join
      (1 to iterations).foreach { _ =>
        val contrib = pi
          .join(ed, col("node") === col("src"))
          .select(col("dst").as("node"),
            expr("(pi * 85) div (100 * deg)").as("c"))
          .groupBy("node").agg(sum("c").as("c"))
        pi = contrib
          .select(col("node"), seed.as("seed"),
            (col("c") + when(col("node") === seed,
              lit(150000000000L)).otherwise(lit(0L))).as("pi"))
      }
      pi
    }
  }

  /** SYNCHRONOUS label propagation (fixed round count) — community
    * detection by majority vote: each round every node adopts the most
    * frequent label among its neighbours, ties broken by the SMALLEST
    * label (a total order, so the rounds are deterministic and an
    * external engine replays them exactly — the async/random-order
    * variant converges faster but is unreproducible, which disqualifies
    * it here). Labels initialize to the node id. On the undirected
    * projections we feed it, every node has ≥1 neighbour, so the
    * majority vote covers the full node set each round.
    *
    * Scale shape: per round ONE join of the static edge relation with
    * the (node, label) frontier + one count aggregate + one rank
    * window — all shuffled on node ids; no driver-side state, same
    * discipline as [[pageRank]]. Fixed rounds (not convergence
    * detection) keep the plan linear in rounds.
    *
    * Feed the edge relation through [[bipartiteEdgesFor]] (or another
    * persisted artifact): each round references it once, so an
    * unstaged derivation would recompute its fact scan per round. */
  private def labelPropagation(edges: DataFrame,
      iterations: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    (1 to iterations).foreach { _ =>
      val w = Window.partitionBy("node").orderBy(desc("c"), asc("label"))
      labels = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("node", "label")
    }
    labels
  }
}
