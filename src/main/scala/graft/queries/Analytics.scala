package graft.queries

import graft.Tables._
import graft.queries.Fragments._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Advanced analytics shapes: Pareto skyline and event funnels.
  *
  * `skyline_2d` runs the distributive formulation (Scale.skyline2D):
  * each partition computes its local skyline with an in-memory
  * sort-scan, then the tiny union is re-skylined — skyline(A ∪ B) =
  * skyline(skyline(A) ∪ skyline(B)), so the result is identical to a
  * global O(n log n) sort-scan but no single reducer ever sees more
  * than its partition + the union of local skylines.
  */
object Analytics {

  /** Per-node triangle-membership counts + degrees over the
    * thresholded (w ≥ 25) co-supply graph — shared by graph_triangles
    * and graph_clustering_coef. DEGREE orientation (the standard
    * wedge-fan-out bound): each edge points low-(degree, id) →
    * high-(degree, id), an acyclic orientation under which every
    * node's out-degree is O(√edges) on any graph — so the wedge join
    * never fans out on a hub node, the failure mode id-orientation
    * hits on skewed co-occurrence graphs. Triangle identity is
    * unchanged (each triangle has exactly one source under any
    * acyclic orientation), so the oracles stay the plain a<b SQL.
    * Edges come from the persisted co-occurrence artifact
    * (Graph.coOccurrenceEdgesFor — built once per dataset). */
  private def triangleCounts(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val undirected = graft.engine.ops.Graph.coOccurrenceEdgesFor(
        lineitem(s, d).select(col("l_partkey").as("pk"),
          col("l_suppkey").as("sk")), s"${d}_cosupply")
      .filter(col("w") >= 25)
      .select("a", "b")
    val deg = undirected.select(col("a").as("n"))
      .union(undirected.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val edges = undirected
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .join(edges.as("e3"),
        col("e1.src") === col("e3.src") &&
          col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("t"))
    val nodeTri = tri.select(col("u").as("node"))
      .union(tri.select(col("v").as("node")))
      .union(tri.select(col("t").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    (nodeTri, deg.select(col("n").as("node"), col("deg")))
  }

  /** Generate the unrolled Hilbert xy→d walk (grid 1024×1024) over a
    * source relation exposing (p_partkey, x, y). Pure integer CASE/&
    * arithmetic — runs verbatim on Spark SQL and DuckDB. Each of the 10
    * levels reads the previous level's rotated (x, y) frame and
    * accumulates s²·quadrant into d; the flip uses n-1 (the canonical
    * xy2d form). */
  def hilbertSql(src: String): String = {
    val n = 1024L
    var inner =
      s"SELECT p_partkey, x AS x0, y AS y0, x, y, CAST(0 AS BIGINT) AS d FROM ($src)"
    var step = n / 2
    while (step > 0) {
      val rx = s"(CASE WHEN (x & $step) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $step) > 0 THEN 1 ELSE 0 END)"
      inner = s"""SELECT p_partkey, x0, y0,
        CASE WHEN $ry = 0
             THEN (CASE WHEN $rx = 1 THEN ${n - 1} - y ELSE y END)
             ELSE x END AS x,
        CASE WHEN $ry = 0
             THEN (CASE WHEN $rx = 1 THEN ${n - 1} - x ELSE x END)
             ELSE y END AS y,
        d + ${step * step} * (CASE WHEN $rx = 1 AND $ry = 1 THEN 2
                                   WHEN $rx = 1 THEN 3
                                   WHEN $ry = 1 THEN 1
                                   ELSE 0 END) AS d
        FROM ($inner)"""
      step /= 2
    }
    s"SELECT p_partkey, x0 AS x, y0 AS y, d AS hval FROM ($inner) " +
      "ORDER BY hval, p_partkey"
  }

  val qs: Seq[Q] = Seq(
    Q("skyline_2d",
      (s, d) => {
        val pts = orders(s, d)
          .select(col("o_totalprice").as("price"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
        // distributive path (Scale.skyline2D): per-partition sort-scan
        // skyline, then re-skyline the tiny union — no global window, no
        // single-reducer sort. t survives the double roundtrip exactly
        // (epoch-µs < 2^53); cast back to long for the oracle's BIGINT.
        graft.engine.ops.Scale.skyline2D(pts, "price", "t")
          .select(col("price"), col("t").cast("long").as("t"))
          .orderBy(desc("price"))
      },
      """WITH pts AS (
           SELECT DISTINCT o_totalprice AS price,
                  epoch_us(o_orderdate) AS t
           FROM orders),
         scanned AS (
           SELECT price, t,
                  MAX(t) OVER (ORDER BY price DESC, t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS max_prev_t
           FROM pts)
         SELECT price, t FROM scanned
         WHERE max_prev_t IS NULL OR max_prev_t < t
         ORDER BY price DESC"""),

    // click→purchase conversion within 24h of the user's first click
    Q("funnel_conversion",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        val firstClick = ev.filter(col("event_type") === "click")
          .groupBy("user_id").agg(min(col("t")).as("click_t"))
        val firstPurchase = ev.filter(col("event_type") === "purchase")
          .join(firstClick, "user_id")
          .filter(col("t") >= col("click_t"))
          .groupBy("user_id").agg(min(col("t")).as("purchase_t"))
        firstClick.join(firstPurchase, Seq("user_id"), "left")
          .select(col("user_id"), col("click_t"),
            when(col("purchase_t") - col("click_t") <= 86400000000L, 1L)
              .otherwise(0L).as("converted_24h"))
          .agg(count(lit(1)).as("n_clickers"),
            sum(col("converted_24h")).as("n_converted"),
            round(sum(col("converted_24h")) /
              count(lit(1)).cast("double"), 4).as("conversion_rate"))
      },
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t
                     FROM events),
         first_click AS (
           SELECT user_id, MIN(t) AS click_t FROM ev
           WHERE event_type = 'click' GROUP BY 1),
         first_purchase AS (
           SELECT e.user_id, MIN(e.t) AS purchase_t
           FROM ev e JOIN first_click c
             ON e.user_id = c.user_id AND e.t >= c.click_t
           WHERE e.event_type = 'purchase' GROUP BY 1)
         SELECT COUNT(*) AS n_clickers,
                CAST(SUM(CASE WHEN purchase_t - click_t <= 86400000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                ROUND(SUM(CASE WHEN purchase_t - click_t <= 86400000000
                          THEN 1 ELSE 0 END)
                      / CAST(COUNT(*) AS DOUBLE), 4) AS conversion_rate
         FROM first_click LEFT JOIN first_purchase USING (user_id)"""),

    // PageRank (5 fixed power-method rounds, d=0.85) over the
    // undirected supplier↔part co-occurrence graph from lineitem —
    // link-mass quality weighting, the corpus-curation shape. Engine
    // verb: graft.engine.ops.Graph.pageRank; the oracle unrolls the
    // identical 5 rounds (generated below — same joins, same
    // all-double arithmetic), so ranks hash-match at 8 decimals.
    Q("graph_pagerank",
      (s, d) => {
        // numeric node ids (suppliers even, parts odd): string keys
        // would double the shuffle bytes and make every compare a
        // memcmp — at 100 TB the id encoding IS the performance knob
        val e0 = lineitem(s, d)
          .select((col("l_suppkey").cast("bigint") * 2).as("a"),
            (col("l_partkey").cast("bigint") * 2 + 1).as("b"))
          .distinct()
        // (r14 note: a tracked cache of this edge relation was A/B'd —
        // ReuseExchange already dedups the distinct's exchanges, so the
        // cache only added a materialization barrier and measured
        // consistently SLOWER; left uncached.)
        // (r15 note: an eager localCheckpoint of this edge relation —
        // the eigenvector/hits/closeness win — was A/B'd here too and
        // measured FLAT (1.15/1.39/1.11 uncheckpointed vs
        // 1.19/1.32/1.16 s over 3 reversed-order alternations, flat
        // control): pageRank's 5 rounds are rank-relation joins, the
        // edge subtree is shallow, and the materialization pays for
        // itself only on the deeper iterate chains. Left lazy.)
        val edges = e0.select(col("a").as("src"), col("b").as("dst"))
          .union(e0.select(col("b").as("src"), col("a").as("dst")))
        graft.engine.ops.Graph.pageRank(edges, 5)
          .select(col("node"), round(col("pr"), 8).as("pr"))
          .orderBy("node")
      }, {
        val iters = (1 to 5).map { i =>
          s"""r$i AS (
               SELECT r.node,
                      CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) +
                      CAST(0.85 AS DOUBLE) * COALESCE(c.inflow,
                        CAST(0 AS DOUBLE)) AS pr
               FROM r${i - 1} r LEFT JOIN (
                 SELECT e.dst AS node,
                        SUM(rp.pr / CAST(dg.deg AS DOUBLE)) AS inflow
                 FROM edges e
                   JOIN r${i - 1} rp ON rp.node = e.src
                   JOIN deg dg ON dg.src = e.src
                 GROUP BY e.dst) c ON c.node = r.node)"""
        }.mkString(",\n")
        s"""WITH $BipartiteEdgesCte,
            deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
            nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
            r0 AS (
              SELECT src AS node,
                     CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr
              FROM deg),
            $iters
            SELECT node, ROUND(pr, 8) AS pr FROM r5 ORDER BY node"""
      }),

    // Label-propagation community detection (3 synchronous rounds,
    // min-label tie-break) over the same undirected supplier↔part
    // projection as graph_pagerank — the curation verb that groups a
    // corpus into supply communities without choosing k in advance.
    // Deterministic by construction (integer votes, total tie order),
    // so the oracle replays every round as a chained CTE. One edge
    // join + count + rank window per round; no driver state.
    Q("graph_label_prop",
      (s, d) => {
        // persisted bipartite edge artifact: 3 rounds × 1 edge
        // reference each — without it the lineitem distinct re-derives
        // per round (measured 5.9 s → the artifact read path)
        val edges = supplierPartEdges(s, d)
        graft.engine.ops.Graph.labelPropagationFor(edges, 3,
            s"${d}_bipsp")
          .orderBy("node")
      },
      s"""WITH $BipartiteEdgesCte,
          $LabelPropCte
          SELECT node, label FROM lp3 ORDER BY node"""),

    // MODULARITY of the label-prop partition — the number that says
    // whether those communities MEAN anything (Newman Q: fraction of
    // edges inside communities minus the degree-model expectation;
    // Q≈0 ⇒ no better than random, Q≳0.3 ⇒ real structure). Computed
    // per community over the directed both-ways edge list:
    // q_c = e_c/m_dir − (d_c/m_dir)², all inputs exact integers off
    // one label join + two tiny aggregates, each q_c one rounded
    // closed form and the headline Q a decimal-pinned sum. The
    // communities come from the SAME 3-round deterministic label
    // propagation as graph_label_prop (oracle replays the identical
    // chain, then the modularity algebra on top).
    Q("graph_modularity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val edges = supplierPartEdges(s, d)
        // the SAME persisted label store graph_label_prop reads: the
        // 3-round chain is a fit-once artifact, and the two endpoint
        // joins here read it, not recompute it
        val labels = graft.engine.ops.Graph.labelPropagationFor(
          edges, 3, s"${d}_bipsp")
        val lsrc = labels.select(col("node").as("src"),
          col("label").as("c_src"))
        val ldst = labels.select(col("node").as("dst"),
          col("label").as("c_dst"))
        val tagged = edges.join(lsrc, Seq("src")).join(ldst, Seq("dst"))
        val mDir = tagged.agg(count(lit(1)).as("m_dir"))
        val perC = tagged
          .groupBy(col("c_src").as("community"))
          .agg(count(when(col("c_src") === col("c_dst"), 1))
            .as("e_in_dir"),
            count(lit(1)).as("d_c"))
        val wAll = Window.partitionBy()
        perC.crossJoin(broadcast(mDir))
          .withColumn("q_term",
            round(col("e_in_dir").cast("double") / col("m_dir") -
              (col("d_c").cast("double") / col("m_dir")) *
              (col("d_c").cast("double") / col("m_dir")), 8) + 0.0)
          .withColumn("modularity",
            round(sum(col("q_term")
              .cast(org.apache.spark.sql.types.DecimalType(14, 8)))
              .over(wAll).cast("double"), 8))
          .select("community", "e_in_dir", "d_c", "q_term", "modularity")
          .orderBy("community")
      },
      s"""WITH $BipartiteEdgesCte,
          $LabelPropCte,
          tagged AS (
            SELECT ls.label AS c_src, ld.label AS c_dst
            FROM edges e
            JOIN lp3 ls ON ls.node = e.src
            JOIN lp3 ld ON ld.node = e.dst),
          m AS (SELECT COUNT(*) AS m_dir FROM tagged),
          per_c AS (
            SELECT c_src AS community,
                   COUNT(CASE WHEN c_src = c_dst THEN 1 END)
                     AS e_in_dir,
                   COUNT(*) AS d_c
            FROM tagged GROUP BY 1),
          terms AS (
            SELECT community, e_in_dir, d_c,
                   ROUND(CAST(e_in_dir AS DOUBLE) / m_dir -
                         (CAST(d_c AS DOUBLE) / m_dir) *
                         (CAST(d_c AS DOUBLE) / m_dir), 8) + 0.0
                     AS q_term
            FROM per_c, m)
          SELECT community, e_in_dir, d_c, q_term,
                 ROUND(CAST((SELECT
                   SUM(CAST(q_term AS DECIMAL(14,8))) FROM terms)
                   AS DOUBLE), 8) AS modularity
          FROM terms ORDER BY community"""),

    // Z-order (Morton) clustering key: interleave the bits of two
    // dimensions so sorting by the key co-locates rows close in BOTH —
    // the layout that lets min/max file stats prune 2-D range
    // predicates at 100 TB (sort by one column and the other's stats
    // are useless). Pure integer bit math, generated identically for
    // both engines; pairs with Scale.writeSortedByRange for the
    // physical write.
    Q("sort_zorder",
      (s, d) => {
        val z = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) + " +
            s"(((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
        part(s, d)
          .select(col("p_partkey"),
            (col("p_partkey") % 1024).as("x"),
            (col("p_size").cast("bigint") % 1024).as("y"))
          .withColumn("zval", expr(z))
          .select("p_partkey", "x", "y", "zval")
          .orderBy("zval", "p_partkey")
      }, {
        val z = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) + " +
            s"(((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
        s"""SELECT p_partkey, x, y, $z AS zval
            FROM (SELECT p_partkey, p_partkey % 1024 AS x,
                         CAST(p_size AS BIGINT) % 1024 AS y
                  FROM part)
            ORDER BY zval, p_partkey"""
      }),

    // 3-dimensional Morton key — the same bit-interleave as sort_zorder
    // but over three dims (7 bits each): the layout for min/max pruning
    // when queries slice on THREE columns (e.g. time × tenant × region).
    // Same generated-identically-for-both-engines integer bit math.
    Q("sort_zorder3",
      (s, d) => {
        val z = (0 until 7).map(i =>
          s"(((x >> $i) & 1) << ${3 * i}) + " +
            s"(((y >> $i) & 1) << ${3 * i + 1}) + " +
            s"(((z >> $i) & 1) << ${3 * i + 2})").mkString(" + ")
        part(s, d)
          .select(col("p_partkey"),
            (col("p_partkey") % 128).as("x"),
            (col("p_size").cast("bigint") % 128).as("y"),
            (expr("length(p_name)").cast("bigint") % 128).as("z"))
          .withColumn("zval", expr(z))
          .select("p_partkey", "x", "y", "z", "zval")
          .orderBy("zval", "p_partkey")
      }, {
        val z = (0 until 7).map(i =>
          s"(((x >> $i) & 1) << ${3 * i}) + " +
            s"(((y >> $i) & 1) << ${3 * i + 1}) + " +
            s"(((z >> $i) & 1) << ${3 * i + 2})").mkString(" + ")
        s"""SELECT p_partkey, x, y, z, $z AS zval
            FROM (SELECT p_partkey, p_partkey % 128 AS x,
                         CAST(p_size AS BIGINT) % 128 AS y,
                         CAST(length(p_name) AS BIGINT) % 128 AS z
                  FROM part)
            ORDER BY zval, p_partkey"""
      }),

    // Hilbert-curve clustering key — the locality-better alternative to
    // Morton: consecutive Hilbert indexes are always grid-adjacent (no
    // Z-shaped jumps across the space), so file min/max ranges along the
    // sort are tighter and 2-D range predicates prune more files at
    // 100 TB. The xy→d walk is inherently iterative (each level rotates
    // the frame), so it unrolls as 10 nested projections — Catalyst
    // collapses them into ONE codegen'd Project over the scan; the same
    // generated string is the DuckDB oracle, so engine and oracle cannot
    // drift. Validated cell-by-cell against the canonical xy2d walk.
    Q("sort_hilbert",
      (s, d) => {
        part(s, d).createOrReplaceTempView("graft_part_hil")
        s.sql(Analytics.hilbertSql(
          "SELECT p_partkey, p_partkey % 1024 AS x, " +
            "CAST(p_size AS BIGINT) % 1024 AS y FROM graft_part_hil"))
      },
      Analytics.hilbertSql(
        "SELECT p_partkey, p_partkey % 1024 AS x, " +
          "CAST(p_size AS BIGINT) % 1024 AS y FROM part")),

    // Per-node triangle counts on the supplier co-supply graph (edge =
    // two suppliers sharing ≥25 distinct parts — the strength threshold
    // keeps the projection sparse as the corpus grows). Triangles via
    // the oriented-edge wedge join: every edge stored once, each
    // triangle found exactly once from its unique source — no ×6
    // duplication — with DEGREE orientation bounding the wedge fan-out
    // on hub nodes (see below).
    Q("graph_triangles",
      (s, d) => {
        // pair generation via per-part sorted supplier array + generator
        // explode, not a self-join: collect_set dedupes (pk, sk) AND
        // builds the array in the same single shuffle on pk (map-side
        // partial sets), then the a<b pairs stream out of codegen'd
        // generators straight into the (a,b) partial agg — no separate
        // distinct, no second copy of the scan shuffled, no join to plan
        // the weighted projection comes from the persisted edge
        // artifact (built once per dataset — see
        // Graph.coOccurrenceEdgesFor; inside it, pair emission is
        // codegen'd posexplode+slice generators fused with the (a,b)
        // partial agg — a JIT mapPartitions emitter was measured and
        // REJECTED, 4.6 s → 6.6 s, because the Dataset boundary breaks
        // that fusion); this query just thresholds the stored relation
        val (nodeTri, _) = triangleCounts(s, d)
        nodeTri.orderBy("node")
      },
      s"""WITH $CoSupplyTrianglesCte
         SELECT node, COUNT(*) AS n_triangles FROM (
           SELECT u AS node FROM tri
           UNION ALL SELECT v FROM tri
           UNION ALL SELECT t FROM tri)
         GROUP BY node ORDER BY node"""),

    // Connected components over the THRESHOLDED co-supply graph (edge =
    // ≥150 shared parts — tight enough that the graph fragments into
    // real components at the sf0.01 gate instead of staying one blob).
    // Reuses the dedup resolver: union-find on the driver under the
    // edge cap, pointer-halving label propagation beyond — component
    // id = member minimum. The oracle is the same recursive-CTE
    // reachability as the curation keep-list.
    Q("graph_components",
      (s, d) => {
        // same persisted edge artifact as graph_triangles — each
        // consumer applies its own strength threshold to the stored
        // weighted relation
        val edges = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")), s"${d}_cosupply")
          .filter(col("w") >= 150)
          .select(col("a").as("doc_a"), col("b").as("doc_b"))
        val nodes = lineitem(s, d)
          .select(col("l_suppkey").as("doc_id")).distinct()
        graft.engine.ml.Dedup.resolvePairs(edges, nodes)
          .select(col("doc_id").as("node"),
            col("keep_id").as("component_id"))
          .orderBy("node")
      },
      """WITH RECURSIVE sp AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         e AS (
           SELECT x.sk AS a, y.sk AS b
           FROM sp x JOIN sp y ON x.pk = y.pk AND x.sk < y.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 150),
         edges AS (
           SELECT a AS u, b AS v FROM e
           UNION SELECT b, a FROM e),
         reach(u, v) AS (
           SELECT DISTINCT l_suppkey, l_suppkey FROM lineitem
           UNION
           SELECT r.u, ed.v FROM reach r JOIN edges ed ON r.v = ed.u),
         comp AS (
           SELECT u AS node, MIN(v) AS component_id FROM reach GROUP BY u)
         SELECT node, component_id FROM comp ORDER BY node"""),

    // Degree distribution of the thresholded co-supply graph — the
    // first diagnostic anyone computes on a graph (is it skewed? is
    // the threshold right?). Third consumer of the persisted edge
    // artifact: histogram of node degree over w ≥ 25 edges.
    Q("graph_degree_distribution",
      (s, d) => {
        val e = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")), s"${d}_cosupply")
          .filter(col("w") >= 25)
        e.select(col("a").as("n")).union(e.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
          .orderBy("degree")
      },
      """WITH sp AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         e AS (
           SELECT x.sk AS a, y.sk AS b
           FROM sp x JOIN sp y ON x.pk = y.pk AND x.sk < y.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 25),
         deg AS (
           SELECT n, COUNT(*) AS degree FROM (
             SELECT a AS n FROM e UNION ALL SELECT b FROM e)
           GROUP BY n)
         SELECT degree, COUNT(*) AS n_nodes
         FROM deg GROUP BY degree ORDER BY degree"""),

    // Time-weighted average per user: each observation holds until the
    // next one (step interpolation), weight = µs held. Products stay
    // EXACT — DECIMAL(18,2) value × integer-µs interval — so the only
    // float op is one final double division on identical inputs.
    // One lead() window + one agg, both on the user_id shuffle.
    Q("time_weighted_avg",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t"), col("value"))
          .withColumn("dt", lead(col("t"), 1).over(w) - col("t"))
          .filter(col("dt").isNotNull && col("dt") > 0)
          .groupBy("user_id")
          .agg(
            sum(col("value")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
              col("dt").cast(org.apache.spark.sql.types.DecimalType(18, 0)))
              .as("num"),
            sum(col("dt")).as("den"))
          .select(col("user_id"),
            round(col("num").cast("double") / col("den").cast("double"), 6)
              .as("twa"))
          .orderBy("user_id")
      },
      """WITH stepped AS (
           SELECT user_id, value,
                  LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dt
           FROM events),
         agg AS (
           SELECT user_id,
                  SUM(CAST(value AS DECIMAL(18,2)) *
                      CAST(dt AS DECIMAL(18,0))) AS num,
                  SUM(dt) AS den
           FROM stepped WHERE dt IS NOT NULL AND dt > 0
           GROUP BY user_id)
         SELECT user_id,
                ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS twa
         FROM agg ORDER BY user_id"""),

    // Bounded BFS (shortest hop counts ≤4 from the lowest-id supplier)
    // on the SAME thresholded co-supply projection as graph_components —
    // fourth consumer of the persisted edge artifact. Levels expand as
    // unrolled frontier joins (frontier ⋈ edges → distinct), each level
    // tiny; min-over-levels folds at the end. The level-wise expansion
    // mirrors the oracle's bounded recursive CTE state set exactly, so
    // hash parity is structural. At corpus scale each hop is one
    // edge-keyed equi-join — the standard Pregel-free BFS shape.
    Q("graph_shortest_hops",
      (s, d) => {
        val e = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")), s"${d}_cosupply")
          .filter(col("w") >= 150)
        val und = e.select(col("a").as("u"), col("b").as("v"))
          .unionByName(e.select(col("b").as("u"), col("a").as("v")))
        val src = e.agg(min(col("a")).as("node"))
        var levels = List(src.withColumn("d", lit(0L)))
        var frontier = src
        (1 to 4).foreach { h =>
          frontier = frontier.join(und, col("node") === col("u"))
            .select(col("v").as("node")).distinct()
          levels = frontier.withColumn("d", lit(h.toLong)) :: levels
        }
        levels.reduce(_ unionByName _)
          .groupBy("node").agg(min(col("d")).as("dist"))
          .orderBy("node")
      },
      """WITH RECURSIVE sp AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         e AS (
           SELECT x.sk AS a, y.sk AS b
           FROM sp x JOIN sp y ON x.pk = y.pk AND x.sk < y.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 150),
         edges AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
         src AS (SELECT MIN(a) AS s FROM e),
         walk(node, d) AS (
           SELECT s, 0 FROM src
           UNION
           SELECT v, d + 1 FROM walk JOIN edges ON node = u WHERE d < 4)
         SELECT node, CAST(MIN(d) AS BIGINT) AS dist
         FROM walk GROUP BY node ORDER BY node"""),

    // Gap fill + linear interpolation onto a regular per-user daily
    // grid — the time-series regularization that turns irregular event
    // streams into model-ready features. The grid (tiny: one row per
    // user-day) unions with the observations and ONE user_id shuffle
    // carries both directional windows: last-non-null-behind gives the
    // left anchor, first-non-null-ahead the right, and the interp is a
    // per-row closed form. No as-of join, no per-gap explode, and the
    // grid bounds the output regardless of event density.
    Q("time_gap_fill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("value").as("v"),
          lit(0).as("is_grid"), col("event_id"))
        // Guard the grid source: a user whose events all land on one
        // calendar day has trunc(mn)+1d > trunc(mx), and Spark's
        // sequence() with an explicit positive step THROWS there while
        // DuckDB's generate_series returns empty — a data-dependent
        // crash/engine divergence. The filter mirrors the oracle's
        // zero-grid-rows outcome exactly.
        val grid = events(s, d).groupBy("user_id")
          .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
          .filter(expr("date_trunc('DAY', mn) < date_trunc('DAY', mx)"))
          .select(col("user_id"),
            explode(expr("""sequence(date_trunc('DAY', mn) + INTERVAL 1 DAY,
                date_trunc('DAY', mx), INTERVAL 1 DAY)""")).as("gts"))
          .select(col("user_id"), unix_micros(col("gts")).as("t_us"),
            lit(null).cast("double").as("v"), lit(1).as("is_grid"),
            lit(-1L).as("event_id"))
        // event_id is the final tiebreak (same discipline as
        // event_transitions / time_ewma / time_m4_downsample): two
        // events at the same timestamp must window identically in
        // Spark and DuckDB or last/first over the frame can disagree.
        val ord = Window.partitionBy("user_id")
          .orderBy("t_us", "is_grid", "event_id")
        val wp = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ev.unionByName(grid)
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
          .withColumn("pt", last(when(col("is_grid") === 0, col("t_us")),
            ignoreNulls = true).over(wp))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(wn))
          .withColumn("nt", first(when(col("is_grid") === 0, col("t_us")),
            ignoreNulls = true).over(wn))
          .filter(col("is_grid") === 1 && col("pv").isNotNull &&
            col("nv").isNotNull)
          .select(col("user_id"), col("t_us"),
            round(when(col("nt") === col("pt"), col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                (col("t_us") - col("pt")).cast("double") /
                (col("nt") - col("pt")).cast("double")), 6).as("v_interp"))
          .orderBy("user_id", "t_us")
      },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS t_us, value AS v, 0 AS is_grid,
                  event_id
           FROM events),
         g AS (
           SELECT user_id,
                  epoch_us(unnest(generate_series(
                    date_trunc('day', mn) + INTERVAL 1 DAY,
                    date_trunc('day', mx), INTERVAL 1 DAY))) AS t_us,
                  CAST(NULL AS DOUBLE) AS v, 1 AS is_grid,
                  CAST(-1 AS BIGINT) AS event_id
           FROM (SELECT user_id, MIN(ts) AS mn, MAX(ts) AS mx
                 FROM events GROUP BY 1)),
         allr AS (SELECT * FROM ev UNION ALL SELECT * FROM g),
         w AS (
           SELECT user_id, t_us, is_grid,
                  LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
                  LAST_VALUE(CASE WHEN is_grid = 0 THEN t_us END
                             IGNORE NULLS) OVER wp AS pt,
                  FIRST_VALUE(v IGNORE NULLS) OVER wn AS nv,
                  FIRST_VALUE(CASE WHEN is_grid = 0 THEN t_us END
                              IGNORE NULLS) OVER wn AS nt
           FROM allr
           WINDOW wp AS (PARTITION BY user_id
                         ORDER BY t_us, is_grid, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wn AS (PARTITION BY user_id
                         ORDER BY t_us, is_grid, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, t_us,
                ROUND(CASE WHEN nt = pt THEN pv
                           ELSE pv + (nv - pv) * CAST(t_us - pt AS DOUBLE)
                                / CAST(nt - pt AS DOUBLE) END, 6) AS v_interp
         FROM w
         WHERE is_grid = 1 AND pv IS NOT NULL AND nv IS NOT NULL
         ORDER BY user_id, t_us"""),

    // DEGREE ASSORTATIVITY (Newman's r) — do high-degree nodes link to
    // high-degree nodes? The one-number answer that separates social
    // graphs (assortative, r>0) from infrastructure/dependency graphs
    // (disassortative, r<0) — and for the co-supply projection it
    // predicts whether hub suppliers cluster (hot partitions under any
    // graph algorithm). Pearson correlation of endpoint degrees over
    // the directed both-ways edge list: every moment (n, Σx, Σy, Σxy,
    // Σx², Σy²) is an EXACT integer sum, the coefficient one rounded
    // closed form — bit-identical on both engines. One degree
    // aggregate + two joins back onto the edge list.
    Q("graph_assortativity",
      (s, d) => {
        // the co-ORDER part graph (graph_kcore's artifact — reused, no
        // extra build): real degree spread at every SF, unlike the
        // w≥25 co-supply projection which is degree-regular at small
        // SF (zero variance ⇒ r undefined)
        val e = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_orderkey").as("pk"),
              col("l_partkey").as("sk")), s"${d}_coorder")
          .filter(col("w") >= 2)
        val und = e.select(col("a").as("u"), col("b").as("v"))
          .unionByName(e.select(col("b").as("u"), col("a").as("v")))
        val deg = und.groupBy("u").agg(count(lit(1)).as("du"))
        val pairs = und
          .join(deg, Seq("u"))
          .join(deg.select(col("u").as("v"), col("du").as("dv")),
            Seq("v"))
        pairs.agg(
            count(lit(1)).as("n"),
            sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
            sum(col("du") * col("dv")).as("sxy"),
            sum(col("du") * col("du")).as("sxx"),
            sum(col("dv") * col("dv")).as("syy"))
          .select(col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")), 6).as("assortativity"))
      },
      s"""WITH $CoOrderGraphCte,
         deg AS (SELECT u, COUNT(*) AS du FROM und GROUP BY 1),
         pairs AS (
           SELECT x.du AS du, y.du AS dv
           FROM und
           JOIN deg x ON und.u = x.u
           JOIN deg y ON und.v = y.u),
         m AS (
           SELECT COUNT(*) AS n,
                  CAST(SUM(du) AS BIGINT) AS sx,
                  CAST(SUM(dv) AS BIGINT) AS sy,
                  CAST(SUM(du * dv) AS BIGINT) AS sxy,
                  CAST(SUM(du * du) AS BIGINT) AS sxx,
                  CAST(SUM(dv * dv) AS BIGINT) AS syy
           FROM pairs)
         SELECT n,
                ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                      sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                           CAST(n * syy - sy * sy AS DOUBLE)), 6)
                  AS assortativity
         FROM m"""),

    // CUSUM CHANGE-POINT detection on the daily event volume — "when
    // did behavior change?" in exact INTEGER arithmetic: the scaled
    // cusum S_d = D·(running count through day d) − d_idx·N is the
    // textbook cusum multiplied by the day count D, which clears every
    // division — S is a BIGINT on both engines, the change-point is
    // argmax |S| (earliest day on ties), and no float ever enters. At
    // 100 TB: one day-key aggregate (tiny), one ordered window over
    // |days| rows.
    Q("time_cusum",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val wOrd = Window.orderBy("day")
        val wAll = Window.partitionBy()
        val scored = daily
          .withColumn("d_idx", row_number().over(wOrd).cast("long"))
          .withColumn("run", sum(col("n")).over(
            wOrd.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .withColumn("nn", sum(col("n")).over(wAll))
          .withColumn("dd", count(lit(1)).over(wAll))
          .withColumn("s_scaled",
            col("dd") * col("run") - col("d_idx") * col("nn"))
        val wPick = Window.orderBy(abs(col("s_scaled")).desc,
          col("day").asc)
        scored
          .withColumn("is_changepoint",
            (row_number().over(wPick) === 1).cast("int"))
          .select("day", "n", "s_scaled", "is_changepoint")
          .orderBy("day")
      },
      """WITH daily AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  COUNT(*) AS n
           FROM events GROUP BY 1),
         scored AS (
           SELECT day, n,
                  (SELECT COUNT(*) FROM daily) *
                    SUM(n) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) -
                  ROW_NUMBER() OVER (ORDER BY day) *
                    (SELECT SUM(n) FROM daily) AS s_scaled
           FROM daily)
         SELECT day, n, CAST(s_scaled AS BIGINT) AS s_scaled,
                CAST(CASE WHEN ROW_NUMBER() OVER (
                    ORDER BY abs(s_scaled) DESC, day ASC) = 1
                  THEN 1 ELSE 0 END AS INT) AS is_changepoint
         FROM scored ORDER BY day"""),

    // Bounded k-core peeling (k=2, 4 synchronous rounds) on the
    // co-order part graph — the graph-sparsification verb the
    // curation/graph family lacked: strip the tree-like periphery so
    // downstream quadratic ops (triangles, Adamic-Adar) run on the
    // dense core only. Each round recomputes degrees within the
    // surviving subgraph (two alive-semijoins + one count on the SAME
    // edge-keyed exchange) and drops nodes under degree k — the
    // standard iterative-peel; at 100 TB the loop stops on a
    // convergence check, and the fixed-round bounded form here is what
    // the oracle replays as chained CTEs (the graph_shortest_hops
    // device). Support-≥2 co-order edges keep pair fan-out
    // basket-bounded; the peel is real at every SF (sf0.1:
    // 5922 → 22 nodes in 3 rounds).
    Q("graph_kcore",
      (s, d) => {
        // persisted co-order edge artifact (the co-supply device on the
        // (order, part) relation): each peel round re-reads the tiny
        // stored parquet instead of re-deriving the basket projection —
        // the unrolled 4-round plan stays linear, not 2^rounds
        val e = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_orderkey").as("pk"),
              col("l_partkey").as("sk")), s"${d}_coorder")
          .filter(col("w") >= 2)
        // tracked caches (r14): und feeds 2 joins + a distinct per peel
        // round (11 consumers over 5 rounds); each round's alive set is
        // consumed twice by the NEXT peel (u- and v-side) — caching
        // both keeps every round's degree aggregate computed once.
        // Node-/edge-count-sized, runner-released.
        val und = graft.engine.ml.Dedup.cacheTracked(
          e.select(col("a").as("u"), col("b").as("v"))
            .unionByName(e.select(col("b").as("u"), col("a").as("v"))))
        def peel(alive: org.apache.spark.sql.DataFrame) =
          und.join(alive, Seq("u"))
            .join(alive.select(col("u").as("v")), Seq("v"))
            .groupBy("u").agg(count(lit(1)).as("deg"))
        var alive = und.select("u").distinct()
        for (_ <- 1 to 4)
          alive = graft.engine.ml.Dedup.cacheTracked(
            peel(alive).filter(col("deg") >= 2).select("u"))
        peel(alive)
          .select(col("u").as("node"), col("deg").as("core_deg"))
          .orderBy("node")
      },
      s"""WITH $CoOrderGraphCte,
         a0 AS (SELECT DISTINCT u FROM und),
         a1 AS (SELECT d.u FROM und d JOIN a0 x ON d.u = x.u
                JOIN a0 y ON d.v = y.u GROUP BY d.u HAVING COUNT(*) >= 2),
         a2 AS (SELECT d.u FROM und d JOIN a1 x ON d.u = x.u
                JOIN a1 y ON d.v = y.u GROUP BY d.u HAVING COUNT(*) >= 2),
         a3 AS (SELECT d.u FROM und d JOIN a2 x ON d.u = x.u
                JOIN a2 y ON d.v = y.u GROUP BY d.u HAVING COUNT(*) >= 2),
         a4 AS (SELECT d.u FROM und d JOIN a3 x ON d.u = x.u
                JOIN a3 y ON d.v = y.u GROUP BY d.u HAVING COUNT(*) >= 2)
         SELECT d.u AS node, COUNT(*) AS core_deg
         FROM und d JOIN a4 x ON d.u = x.u JOIN a4 y ON d.v = y.u
         GROUP BY 1 ORDER BY node"""),

    // LAG-k AUTOCORRELATION (k = 1..3) of the daily revenue series —
    // the seasonality/momentum screen next to time_seasonality's
    // day-of-week decomposition: r_k near 1 means a smooth trending
    // series (downsample it), oscillating r_k flags periodicity at k.
    // The series is the BOUNDED daily aggregate (days, never rows),
    // so the one unpartitioned lag window runs over a calendar-sized
    // relation — the zval-histogram discipline; all three lags ride
    // ONE window pass, pairs explode via stack, and r_k is the
    // agg_corr closed form on exact decimal moments cast to double
    // once.
    Q("time_autocorr",
      (s, d) => {
        lagMoments(s, d)
          .select(col("k"), col("n").as("n_pairs"),
            round(lagCorr, 6).as("autocorr"))
          .orderBy("k")
      },
      s"""WITH $DailyRevXCte,
         $LagPairsCte,
         $LagMomentsCte
         SELECT k, CAST(n AS BIGINT) AS n_pairs,
                ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                      sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                           (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                            CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                      6) AS autocorr
         FROM m ORDER BY k"""),

    // LOCAL CLUSTERING COEFFICIENT per node — "how clique-like is
    // this node's neighborhood" (2·T(v) / deg(v)(deg(v)−1)), the
    // community-density number next to graph_triangles' raw counts
    // and graph_modularity's global Q. Reuses the SAME degree-oriented
    // wedge plan and persisted co-occurrence artifact
    // (triangleCounts); one extra broadcast-sized join of the two
    // node-keyed aggregates. Nodes with deg ≥ 2 and no triangles
    // report an exact 0.
    Q("graph_clustering_coef",
      (s, d) => {
        val (nodeTri, deg) = triangleCounts(s, d)
        deg.filter(col("deg") >= 2)
          .join(nodeTri, Seq("node"), "left")
          .select(col("node"), col("deg"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
              (col("deg") * (col("deg") - lit(1.0))), 6)
              .as("clustering_coef"))
          .orderBy("node")
      },
      s"""WITH $CoSupplyTrianglesCte,
         tc AS (
           SELECT node, COUNT(*) AS n_tri FROM (
             SELECT u AS node FROM tri
             UNION ALL SELECT v FROM tri
             UNION ALL SELECT t FROM tri)
           GROUP BY node),
         deg AS (
           SELECT node, COUNT(*) AS deg FROM (
             SELECT a AS node FROM edges
             UNION ALL SELECT b FROM edges)
           GROUP BY node)
         SELECT d.node, d.deg,
                COALESCE(tc.n_tri, 0) AS n_triangles,
                ROUND(2.0 * COALESCE(tc.n_tri, 0) /
                      (d.deg * (d.deg - 1.0)), 6) AS clustering_coef
         FROM deg d LEFT JOIN tc USING (node)
         WHERE d.deg >= 2 ORDER BY node"""),

    // TOP MOVERS — the day-over-day change leaderboard (the ops
    // dashboard's "what spiked yesterday"): per-priority daily
    // revenue, DoD delta via one priority-partitioned lag, top-20 by
    // |delta| through TakeOrdered — never a global sort. Deltas are
    // exact decimal differences; only the emitted columns cast to
    // double once.
    Q("time_top_movers",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"),
            col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("rev"))
        val w = Window.partitionBy("prio").orderBy("day")
        daily
          .withColumn("prev", lag(col("rev"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("prio"), col("day"),
            (col("rev") - col("prev")).as("delta"))
          .withColumn("abs_delta", abs(col("delta")))
          .orderBy(desc("abs_delta"), col("prio"), col("day"))
          .limit(20)
          .select(col("prio"), col("day"),
            col("delta").cast("double").as("delta"))
      },
      """WITH daily AS (
           SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE)
                    AS day,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1, 2),
         deltas AS (
           SELECT prio, day,
                  rev - LAG(rev, 1) OVER (PARTITION BY prio
                    ORDER BY day) AS delta
           FROM daily)
         SELECT prio, day, CAST(delta AS DOUBLE) AS delta
         FROM deltas WHERE delta IS NOT NULL
         ORDER BY abs(delta) DESC, prio, day LIMIT 20"""),

    // SEASONAL-NAIVE BACKTEST — the forecasting-pipeline evaluation
    // primitive: predict each event's value with the user's value 7
    // observations earlier (the "same slot last cycle" baseline every
    // model must beat), then report per-event-type MAE and coverage.
    // The lag is one user-partitioned window (shares the sort exchange
    // with nothing else — a single pass); the absolute errors are
    // exact DECIMAL(12,4) so the Σ|err| is order-free, and the MAE
    // divides in exact 1e-4 integer units (no ROUND ties). At 100 TB
    // this is one window + one partial-agg exchange.
    Q("time_backtest_naive",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("t"),
          col("value")
            .cast(org.apache.spark.sql.types.DecimalType(12, 4)).as("v"))
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        ev.withColumn("pred", lag(col("v"), 7).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            count(col("pred")).as("n_scored"),
            sum(abs(col("v") - col("pred"))).as("sae"))
          // corpus-scale error sum × 1e4 stays DECIMAL(38,0) — a LONG
          // cast here overflows once Σ|err| passes ~9e14 value units
          .withColumn("sae_u",
            (col("sae") * 10000).cast(DecimalType(38, 0)))
          .select(col("event_type"), col("n_events"), col("n_scored"),
            (expr("(sae_u + n_scored div 2) div n_scored")
              .cast("double") / 10000.0).as("mae"))
          .orderBy("event_type")
      },
      """WITH ev AS (
           SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
                  CAST(value AS DECIMAL(12,4)) AS v
           FROM events),
         p AS (
           SELECT event_type, v,
                  LAG(v, 7) OVER (PARTITION BY user_id
                    ORDER BY t, event_id) AS pred
           FROM ev),
         a AS (
           SELECT event_type, COUNT(*) AS n_events,
                  COUNT(pred) AS n_scored,
                  CAST(SUM(ABS(v - pred)) * 10000 AS HUGEINT) AS sae_u
           FROM p GROUP BY 1)
         SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
                CAST(n_scored AS BIGINT) AS n_scored,
                CAST((sae_u + n_scored // 2) // n_scored AS DOUBLE)
                  / 10000.0 AS mae
         FROM a ORDER BY event_type"""),

    // PERIOD-OVER-PERIOD scorecard — monthly revenue with
    // month-over-month and year-over-year deltas, the BI table every
    // finance dashboard leads with. Aggregate once to month grain
    // (exact DECIMAL(18,2) sums), then lag(1) and lag(12) over the
    // MONTH-GRAIN relation — the window input is #months rows, so the
    // "global" window is bounded by the calendar, not the data
    // (contrast the corpus-sized windows round 8 re-planned away).
    // Growth pcts divide exact integer cents, in 1e-4 units.
    Q("time_period_over_period",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val m = orders(s, d)
          .groupBy((year(col("o_orderdate")) * 12 +
            month(col("o_orderdate")) - 1).as("mi"))
          .agg(sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .as("rev"))
          .withColumn("rev_c", (col("rev") * 100).cast("long"))
        val w = Window.orderBy("mi") // month-grain: ≤ #months rows
        // pct in exact 1e-4 units on ABSOLUTE values (floor division of
        // positives is identical in both engines; Spark div truncates
        // vs DuckDB // floors on negatives — the time_decay_sum trap),
        // sign re-applied after
        def pct(prev: String) =
          when(col(prev).isNotNull && col(prev) =!= 0,
            expr(s"""(case when rev_c >= $prev then 1 else -1 end) *
                 ((CAST(abs(rev_c - $prev) AS DECIMAL(38,0)) * 1000000
                   + abs($prev) div 2)
                  div abs($prev))""").cast("double") / 10000.0)
        m.withColumn("prev_m", lag(col("rev_c"), 1).over(w))
          .withColumn("prev_y", lag(col("rev_c"), 12).over(w))
          .select(
            concat(expr("mi div 12").cast("string"), lit("-"),
              lpad((col("mi") % 12 + 1).cast("string"), 2, "0"))
              .as("month"),
            round(col("rev").cast("double"), 2).as("revenue"),
            pct("prev_m").as("mom_pct"),
            pct("prev_y").as("yoy_pct"))
          .orderBy("month")
      },
      """WITH m AS (
           SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1),
         c AS (
           SELECT mi, rev, CAST(rev * 100 AS BIGINT) AS rev_c,
                  LAG(CAST(rev * 100 AS BIGINT), 1)
                    OVER (ORDER BY mi) AS prev_m,
                  LAG(CAST(rev * 100 AS BIGINT), 12)
                    OVER (ORDER BY mi) AS prev_y
           FROM m)
         SELECT CAST(mi // 12 AS VARCHAR) || '-' ||
                  lpad(CAST(mi % 12 + 1 AS VARCHAR), 2, '0') AS month,
                ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
                CASE WHEN prev_m IS NOT NULL AND prev_m <> 0 THEN
                  CAST((CASE WHEN rev_c >= prev_m THEN 1 ELSE -1 END) *
                       ((CAST(ABS(rev_c - prev_m) AS HUGEINT) * 1000000
                         + ABS(prev_m) // 2) // ABS(prev_m)) AS DOUBLE)
                    / 10000.0 END AS mom_pct,
                CASE WHEN prev_y IS NOT NULL AND prev_y <> 0 THEN
                  CAST((CASE WHEN rev_c >= prev_y THEN 1 ELSE -1 END) *
                       ((CAST(ABS(rev_c - prev_y) AS HUGEINT) * 1000000
                         + ABS(prev_y) // 2) // ABS(prev_y)) AS DOUBLE)
                    / 10000.0 END AS yoy_pct
         FROM c ORDER BY month"""),

    // HITS (hubs & authorities, Kleinberg) on the customer→part
    // purchase bipartite graph — two full mutual-reinforcement rounds
    // kept ENTIRELY in integer arithmetic: a₁(p) = deg(p),
    // h₁(c) = Σ_{p∈c} a₁(p), a₂(p) = Σ_{c∋p} h₁(c) — every score is a
    // BIGINT path count, so there is no normalization float to
    // diverge and the ranking is exact. Each round is one edge-keyed
    // exchange (the PageRank discipline); top-20 authorities via
    // TakeOrdered. The float-normalized variant at convergence is
    // engine-private; two integer rounds are the honest
    // oracle-checkable form.
    Q("graph_hits",
      (s, d) => {
        // (r14 note: caching this edge relation was A/B'd and measured
        // slightly slower — ReuseExchange covers the 3 consumers.)
        // r15 (verdict item 1): eager localCheckpoint instead — truncates
        // the logical plan so the a1/h1/a2 chain and the final join no
        // longer carry the join+distinct subtree 4×.
        // localCheckpoint keeps the blocks executor-local: cheaper than a
        // reliable checkpoint() but lost on executor failure, which then
        // fails the query instead of recomputing the lineage.
        val edges = orders(s, d).select(col("o_custkey"), col("o_orderkey"))
          .join(lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
            col("l_partkey")), Seq("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
          .localCheckpoint(true)
        val a1 = edges.groupBy("p").agg(count(lit(1)).as("a1"))
        val h1 = edges.join(a1, Seq("p"))
          .groupBy("c").agg(sum(col("a1")).as("h1"))
        val a2 = edges.join(h1, Seq("c"))
          .groupBy("p").agg(sum(col("h1")).as("a2"))
        a2.join(a1, Seq("p"))
          .select(col("p").as("part"), col("a1").as("degree"),
            col("a2").as("authority2"))
          .orderBy(desc("authority2"), col("part"))
          .limit(20)
      },
      """WITH edges AS (
           SELECT DISTINCT o_custkey AS c, l_partkey AS p
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         a1 AS (SELECT p, COUNT(*) AS a1 FROM edges GROUP BY p),
         h1 AS (
           SELECT c, SUM(a1) AS h1
           FROM edges JOIN a1 USING (p) GROUP BY c),
         a2 AS (
           SELECT p, SUM(h1) AS a2
           FROM edges JOIN h1 USING (c) GROUP BY p)
         SELECT p AS part, CAST(a1 AS BIGINT) AS degree,
                CAST(a2 AS BIGINT) AS authority2
         FROM a2 JOIN a1 USING (p)
         ORDER BY authority2 DESC, part LIMIT 20"""),

    // KAPLAN–MEIER survival estimate for time-to-conversion (first
    // click → first purchase, right-censored at users who never
    // convert): at each event day t, S(t) = Π_{i≤t} (1 − dᵢ/nᵢ) with
    // dᵢ = conversions at day i and nᵢ = users still at risk. The
    // product is exp(Σ ln(1 − d/n)) with each ln term pinned to
    // DECIMAL(18,12) (order-free cumulative window over the DAY-GRAIN
    // relation — calendar-bounded, never data-sized); d/n divides two
    // exact BIGINTs so both engines feed ln identical doubles (the
    // agg_geomean discipline). The risk-set count is total users −
    // running prior events/censors — all integer window arithmetic.
    Q("time_survival_km",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val users = firstClickBuy(s, d)
          .select(col("user_id"),
            when(col("dp").isNotNull && col("dp") >= col("d0"),
              col("dp") - col("d0")).as("t_event"))
        val tot = users.agg(count(lit(1)).as("n_total"))
        val byDay = users.filter(col("t_event").isNotNull)
          .groupBy(col("t_event").as("t"))
          .agg(count(lit(1)).as("d_events"))
        val wc = Window.orderBy("t") // day-grain: calendar-bounded
        byDay.crossJoin(broadcast(tot))
          .withColumn("prior",
            coalesce(sum(col("d_events"))
              .over(wc.rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .withColumn("n_risk", col("n_total") - col("prior"))
          .withColumn("lnterm",
            expr("CAST(ln(1.0D - CAST(d_events AS DOUBLE) / n_risk) " +
              "AS DECIMAL(18,12))"))
          .withColumn("s",
            exp(sum(col("lnterm"))
              .over(wc.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double")))
          .select(col("t").as("day"), col("n_risk"), col("d_events"),
            round(col("s"), 6).as("survival"))
          .orderBy("day")
      },
      s"""WITH $FirstClickBuyCte,
         users AS (
           SELECT fc.user_id,
                  CASE WHEN dp IS NOT NULL AND dp >= d0
                       THEN dp - d0 END AS t_event
           FROM fc LEFT JOIN fb USING (user_id)),
         tot AS (SELECT COUNT(*) AS n_total FROM users),
         byday AS (
           SELECT t_event AS t, COUNT(*) AS d_events
           FROM users WHERE t_event IS NOT NULL GROUP BY 1),
         km AS (
           SELECT t, d_events, n_total,
                  n_total - COALESCE(SUM(d_events) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS n_risk
           FROM byday, tot),
         lns AS (
           SELECT t, d_events, n_risk,
                  CAST(ln(1.0 - CAST(d_events AS DOUBLE) / n_risk)
                    AS DECIMAL(18,12)) AS lnterm
           FROM km),
         surv AS (
           SELECT t, n_risk, d_events,
                  exp(CAST(SUM(lnterm) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)) AS s
           FROM lns)
         SELECT t AS day, CAST(n_risk AS BIGINT) AS n_risk,
                CAST(d_events AS BIGINT) AS d_events,
                ROUND(s, 6) AS survival
         FROM surv ORDER BY day"""),

    // SAX SYMBOLIZATION (Lin et al.) of the daily-revenue series:
    // z-normalize against the series' own exact-decimal moments, then
    // map to a 4-letter alphabet at the standard N(0,1) quartile
    // breakpoints ±0.6745 — the discretization behind time-series
    // motif/anomaly indexing. Moments are one aggregate broadcast
    // back; every z is the identical double expression on exact
    // inputs, and the breakpoint comparisons are deterministic
    // because both engines see bit-equal z. Day-grain relation —
    // calendar-bounded.
    Q("time_sax_symbolize",
      (s, d) => {
        dailyRevZ(s, d)
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            round(col("rev").cast("double"), 2).as("revenue"),
            // + 0.0: a small negative z rounds to -0.0 in one engine
            // and +0.0 in the other (comparator-distinct cells)
            (round(col("z"), 4) + 0.0).as("z"),
            when(col("z") < -0.6745, "a")
              .when(col("z") < 0.0, "b")
              .when(col("z") < 0.6745, "c")
              .otherwise("d").as("sax_symbol"))
          .orderBy("day")
      },
      s"""WITH $SaxMomentsCte,
         z AS (
           SELECT day, rev,
                  (CAST(rev AS DOUBLE) - mu) / sd AS z
           FROM daily, (
             SELECT n, CAST(sx AS DOUBLE) / n AS mu,
                    sqrt(CAST(sx2 AS DOUBLE) / n -
                         (CAST(sx AS DOUBLE) / n) *
                         (CAST(sx AS DOUBLE) / n)) AS sd
             FROM m))
         SELECT strftime(day, '%Y-%m-%d') AS day,
                ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
                ROUND(z, 4) + 0.0 AS z,
                CASE WHEN z < -0.6745 THEN 'a'
                     WHEN z < 0.0 THEN 'b'
                     WHEN z < 0.6745 THEN 'c'
                     ELSE 'd' END AS sax_symbol
         FROM z ORDER BY day"""),

    // SAX RUN-LENGTH SEGMENTS — the motif layer over
    // time_sax_symbolize: collapse the symbol stream into (symbol,
    // start, end, length) runs via the gaps-and-islands change flag.
    // Long 'a'/'d' runs are sustained regime excursions; this is the
    // relation a motif index or anomaly report consumes. All windows
    // run over the day-grain series (calendar-bounded).
    Q("time_sax_runs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sym = dailyRevZ(s, d)
          .select(col("day"),
            when(col("z") < -0.6745, "a")
              .when(col("z") < 0.0, "b")
              .when(col("z") < 0.6745, "c")
              .otherwise("d").as("sym"))
        val w = Window.orderBy("day") // day-grain
        sym
          .withColumn("chg",
            when(lag(col("sym"), 1).over(w).isNull ||
              lag(col("sym"), 1).over(w) =!= col("sym"), 1L)
              .otherwise(0L))
          .withColumn("run_id",
            sum(col("chg")).over(
              w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("run_id", "sym")
          .agg(date_format(min(col("day")), "yyyy-MM-dd").as("run_start"),
            date_format(max(col("day")), "yyyy-MM-dd").as("run_end"),
            count(lit(1)).as("run_days"))
          .select(col("run_id"), col("sym").as("sax_symbol"),
            col("run_start"), col("run_end"), col("run_days"))
          .orderBy("run_id")
      },
      s"""WITH $SaxMomentsCte,
         sym AS (
           SELECT day,
                  CASE WHEN z < -0.6745 THEN 'a'
                       WHEN z < 0.0 THEN 'b'
                       WHEN z < 0.6745 THEN 'c'
                       ELSE 'd' END AS sym
           FROM (
             SELECT day, (CAST(rev AS DOUBLE) - mu) / sd AS z
             FROM daily, (
               SELECT n, CAST(sx AS DOUBLE) / n AS mu,
                      sqrt(CAST(sx2 AS DOUBLE) / n -
                           (CAST(sx AS DOUBLE) / n) *
                           (CAST(sx AS DOUBLE) / n)) AS sd
               FROM m))),
         flagged AS (
           SELECT day, sym,
                  CASE WHEN LAG(sym) OVER (ORDER BY day) IS NULL
                         OR LAG(sym) OVER (ORDER BY day) <> sym
                       THEN 1 ELSE 0 END AS chg
           FROM sym),
         runs AS (
           SELECT day, sym,
                  SUM(chg) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS run_id
           FROM flagged)
         SELECT CAST(run_id AS BIGINT) AS run_id, sym AS sax_symbol,
                strftime(MIN(day), '%Y-%m-%d') AS run_start,
                strftime(MAX(day), '%Y-%m-%d') AS run_end,
                COUNT(*) AS run_days
         FROM runs GROUP BY 1, 2 ORDER BY run_id"""),

    // THEIL–SEN robust trend — the median of all pairwise slopes of
    // the monthly-revenue series (breakdown point 29%, immune to the
    // outlier months that wreck OLS). The pair relation is C(m,2)
    // over the MONTH-GRAIN aggregate (calendar-bounded — ~80 months →
    // ~3k pairs at any data scale), so the "quadratic" step is
    // quadratic in the calendar, not the data; the median is a ranked
    // pick over that bounded relation. Slopes divide exact cents by
    // exact month deltas — identical doubles both engines.
    Q("time_theilsen_trend",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val m = orders(s, d)
          .groupBy((year(col("o_orderdate")) * 12 +
            month(col("o_orderdate")) - 1).as("mi"))
          .agg(sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .as("rev"))
          .withColumn("rc", (col("rev") * 100).cast("long"))
        val pairs = m.as("a").join(m.as("b"),
            col("a.mi") < col("b.mi"))
          .select(col("a.mi").as("m1"), col("b.mi").as("m2"),
            ((col("b.rc") - col("a.rc")).cast("double") / 100.0 /
              (col("b.mi") - col("a.mi"))).as("slope"))
        val n = pairs.agg(count(lit(1)).as("n_pairs"))
        val wr = Window.orderBy(col("slope"), col("m1"), col("m2"))
        val ranked = pairs.withColumn("rk", row_number().over(wr))
        ranked.crossJoin(broadcast(n))
          .filter(col("rk") === expr("(n_pairs + 1) div 2"))
          .select(col("n_pairs"),
            round(col("slope"), 4).as("sen_slope_per_month"))
      },
      """WITH m AS (
           SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS rc
           FROM orders GROUP BY 1),
         pairs AS (
           SELECT a.mi AS m1, b.mi AS m2,
                  CAST(b.rc - a.rc AS DOUBLE) / 100.0 / (b.mi - a.mi)
                    AS slope
           FROM m a JOIN m b ON a.mi < b.mi),
         n AS (SELECT COUNT(*) AS n_pairs FROM pairs),
         ranked AS (
           SELECT slope, m1, m2,
                  ROW_NUMBER() OVER (ORDER BY slope, m1, m2) AS rk
           FROM pairs)
         SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
                ROUND(slope, 4) AS sen_slope_per_month
         FROM ranked, n
         WHERE rk = (n_pairs + 1) // 2"""),

    // VELOCITY & ACCELERATION — first and second differences of the
    // monthly revenue series (growth and growth-of-growth, the two
    // derivatives a trend readout needs). Exact cents throughout; two
    // lags share ONE month-grain window (calendar-bounded). NULL
    // velocity/accel on the first one/two months by construction.
    Q("time_velocity_accel",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val m = orders(s, d)
          .groupBy((year(col("o_orderdate")) * 12 +
            month(col("o_orderdate")) - 1).as("mi"))
          .agg((sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
            .cast("long").as("rc"))
        val w = Window.orderBy("mi") // month-grain
        m.withColumn("vel_c", col("rc") - lag(col("rc"), 1).over(w))
          .withColumn("acc_c",
            col("vel_c") - lag(col("vel_c"), 1).over(w))
          .select(
            concat(expr("mi div 12").cast("string"), lit("-"),
              lpad((col("mi") % 12 + 1).cast("string"), 2, "0"))
              .as("month"),
            (col("rc").cast("double") / 100.0).as("revenue"),
            (col("vel_c").cast("double") / 100.0).as("velocity"),
            (col("acc_c").cast("double") / 100.0).as("acceleration"))
          .orderBy("month")
      },
      """WITH m AS (
           SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS rc
           FROM orders GROUP BY 1),
         v AS (
           SELECT mi, rc,
                  rc - LAG(rc, 1) OVER (ORDER BY mi) AS vel_c
           FROM m),
         a AS (
           SELECT mi, rc, vel_c,
                  vel_c - LAG(vel_c, 1) OVER (ORDER BY mi) AS acc_c
           FROM v)
         SELECT CAST(mi // 12 AS VARCHAR) || '-' ||
                  lpad(CAST(mi % 12 + 1 AS VARCHAR), 2, '0') AS month,
                CAST(rc AS DOUBLE) / 100.0 AS revenue,
                CAST(vel_c AS DOUBLE) / 100.0 AS velocity,
                CAST(acc_c AS DOUBLE) / 100.0 AS acceleration
         FROM a ORDER BY month"""),

    // HURST EXPONENT via rescaled-range (R/S) analysis of the daily
    // revenue series — the long-memory diagnostic next to
    // time_autocorr's short-lag view: H ≈ 0.5 random walk, H > 0.5
    // persistent trend, H < 0.5 mean reversion. Mandelbrot–Wallis
    // form: for dyadic block sizes n ∈ {8,16,32} chop the day-indexed
    // series into complete blocks, compute range-of-cumulative-
    // deviations over in-block stddev, and read H off the log2 slope —
    // with three equally spaced log2 sizes the LSQ slope collapses to
    // (y(32) − y(8)) / 2. Parity: every block moment stays EXACT
    // (cents as longs, Σx² as DECIMAL(38,0), the deviation series is
    // the integer n·cum − t·S so no division happens before the one
    // closed-form double R′/√(n·Σx² − S²) whose /,√ are IEEE-exact in
    // both engines), and the per-n representative is a MEDIAN — a rank
    // SELECTION of a bit-identical double, never an order-sensitive
    // sum. Windows all run over bounded relations: day-index over the
    // calendar-sized daily aggregate, in-block cumsum partitioned by
    // (n, block) with ≤ 32 rows, block rank partitioned by n over the
    // block-count-sized R/S relation.
    Q("time_hurst_rs",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
          .select(col("day"), (col("rev") * 100).cast("long").as("xc"))
        val idx = daily
          .withColumn("i", row_number().over(Window.orderBy("day")))
        val blocks = idx
          .select(col("i"), col("xc"),
            explode(array(lit(8), lit(16), lit(32))).as("n"))
          .withColumn("blk", expr("(i - 1) div n"))
        val wB = Window.partitionBy("n", "blk").orderBy("i")
        val wAll = Window.partitionBy("n", "blk")
        val xd = col("xc").cast(DecimalType(19, 0))
        val z = blocks
          .withColumn("cum", sum(col("xc")).over(wB))
          .withColumn("t", row_number().over(wB))
          .withColumn("cnt", count(lit(1)).over(wAll))
          .filter(col("cnt") === col("n"))
          .withColumn("sx", sum(col("xc")).over(wAll))
          .withColumn("sxx", sum(xd * xd).over(wAll))
          .withColumn("zp", col("n") * col("cum") - col("t") * col("sx"))
        val rs = z.groupBy("n", "blk", "sx", "sxx")
          .agg(greatest(max("zp"), lit(0L)).as("zmax"),
            least(min("zp"), lit(0L)).as("zmin"))
          .withColumn("denom",
            col("n").cast(DecimalType(19, 0)) * col("sxx") -
              col("sx").cast(DecimalType(19, 0)) *
                col("sx").cast(DecimalType(19, 0)))
          .filter(col("denom") > 0)
          .select(col("n"), col("blk"),
            ((col("zmax") - col("zmin")).cast("double") /
              sqrt(col("denom").cast("double"))).as("rs"))
        val wN = Window.partitionBy("n").orderBy("rs", "blk")
        val med = rs
          .withColumn("rk", row_number().over(wN))
          .withColumn("nb", count(lit(1)).over(Window.partitionBy("n")))
          .filter(col("rk") === expr("(nb + 1) div 2"))
          .select(col("n"), col("nb").as("n_blocks"),
            col("rs").as("median_rs"))
        val h = med.agg(
          round((log(max(when(col("n") === 32, col("median_rs")))) -
            log(max(when(col("n") === 8, col("median_rs"))))) /
            (lit(2.0) * log(lit(2.0))), 4).as("hurst"))
        med.crossJoin(h).orderBy("n")
      },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS xc
           FROM orders GROUP BY 1),
         idx AS (SELECT xc, ROW_NUMBER() OVER (ORDER BY day) AS i
                 FROM daily),
         blocks AS (
           SELECT n, (i - 1) // n AS blk, i, xc
           FROM idx CROSS JOIN (SELECT UNNEST([8, 16, 32]) AS n)),
         cum AS (
           SELECT n, blk, xc,
                  SUM(xc) OVER (PARTITION BY n, blk ORDER BY i) AS cum,
                  ROW_NUMBER() OVER (PARTITION BY n, blk ORDER BY i)
                    AS t,
                  COUNT(*) OVER (PARTITION BY n, blk) AS cnt,
                  SUM(xc) OVER (PARTITION BY n, blk) AS sx,
                  SUM(CAST(xc AS HUGEINT) * xc)
                    OVER (PARTITION BY n, blk) AS sxx
           FROM blocks),
         z AS (SELECT n, blk, sx, sxx, n * cum - t * sx AS zp
               FROM cum WHERE cnt = n),
         rs AS (
           SELECT n, blk,
                  CAST(GREATEST(MAX(zp), 0) - LEAST(MIN(zp), 0)
                    AS DOUBLE) /
                    sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                      AS DOUBLE)) AS rs
           FROM z GROUP BY n, blk, sx, sxx
           HAVING n * sxx - CAST(sx AS HUGEINT) * sx > 0),
         med AS (
           SELECT n, nb AS n_blocks, rs AS median_rs FROM (
             SELECT n, rs, blk,
                    ROW_NUMBER() OVER (PARTITION BY n
                      ORDER BY rs, blk) AS rk,
                    COUNT(*) OVER (PARTITION BY n) AS nb
             FROM rs) WHERE rk = (nb + 1) // 2),
         h AS (SELECT ROUND(
                 (ln(MAX(CASE WHEN n = 32 THEN median_rs END)) -
                  ln(MAX(CASE WHEN n = 8 THEN median_rs END))) /
                 (2.0 * ln(2.0)), 4) AS hurst FROM med)
         SELECT n, CAST(n_blocks AS BIGINT) AS n_blocks, median_rs,
                hurst
         FROM med, h ORDER BY n"""),

    // LAGGED CROSS-CORRELATION between the daily view-count and
    // purchase-count series (k = −3..3) — the lead/lag screen between
    // two event streams that time_autocorr answers for one: a peak at
    // k > 0 means views LEAD purchases by k days. Pairing is a
    // date-shift equi-join on the bounded daily aggregate (days,
    // never rows), one partial-agg exchange per side; all moments are
    // exact integer counts (longs, products < 2^53) and r_k is one
    // closed-form double expression on identical rationals, with each
    // factor cast to double BEFORE the product so nothing overflows —
    // rounded once.
    Q("time_cross_corr",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("ts").cast("date").as("day"))
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("x"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"))
        val xs = daily.select(col("day"), col("x"),
            explode(sequence(lit(-3), lit(3))).as("k"))
          .withColumn("yday", date_add(col("day"), col("k")))
        val m = xs
          .join(daily.select(col("day").as("yday"), col("y")),
            Seq("yday"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_pairs"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
        m.select(col("k"), col("n_pairs"),
            round((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n_pairs") * col("syy") - col("sy") * col("sy"))
                .cast("double")), 6).as("xcorr"))
          .orderBy("k")
      },
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(SUM(CASE WHEN event_type = 'view' THEN 1
                    ELSE 0 END) AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                    ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
         pairs AS (
           SELECT k, a.x, b.y
           FROM daily a
           CROSS JOIN (SELECT UNNEST(range(-3, 4)) AS k)
           JOIN daily b ON b.day = a.day + k * INTERVAL 1 DAY),
         m AS (SELECT k, COUNT(*) AS n_pairs, SUM(x) AS sx,
                      SUM(y) AS sy, SUM(x * y) AS sxy,
                      SUM(x * x) AS sxx, SUM(y * y) AS syy
               FROM pairs GROUP BY k)
         SELECT CAST(k AS INT) AS k, n_pairs,
                ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
                      sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) *
                           CAST(n_pairs * syy - sy * sy AS DOUBLE)),
                      6) AS xcorr
         FROM m ORDER BY k"""),

    // HOLT LINEAR (double-exponential) SMOOTHING of the daily revenue
    // series — the trend-aware sibling of time_ewma's single
    // smoothing: level and trend evolve by the coupled recursion
    // l_t = α·x_t + (1−α)(l+b), b_t = β(l_t − l) + (1−β)b with
    // α = β = 0.5. The recursion is inherently sequential, so it runs
    // as ONE ordered HOF fold over the calendar-bounded daily series
    // (days, never rows — collect_list of a ~2.4k-element array);
    // both engines fold strictly left-to-right, and with α = 0.5
    // every step is add-and-halve, so the doubles are bit-identical
    // without any decimal pinning (the sequential-fold rule from
    // SKILL.md). The oracle replays the identical recursion as a
    // recursive CTE. Output: final state + 1/2-step-ahead forecasts.
    Q("time_holt_linear",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
          .select(col("day"), (col("rev") * 100).cast("long").as("xc"))
        val st = daily
          .agg(sort_array(collect_list(struct(col("day"), col("xc"))))
            .as("s"))
          .select(expr(
            """aggregate(
                 slice(s, 2, size(s) - 1),
                 named_struct('l', CAST(s[0].xc AS DOUBLE),
                              'b', CAST(0.0 AS DOUBLE), 'n', 1),
                 (acc, e) -> named_struct(
                   'l', 0.5D * CAST(e.xc AS DOUBLE)
                        + 0.5D * (acc.l + acc.b),
                   'b', 0.5D * (0.5D * CAST(e.xc AS DOUBLE)
                        + 0.5D * (acc.l + acc.b) - acc.l)
                        + 0.5D * acc.b,
                   'n', acc.n + 1),
                 acc -> acc) AS st"""))
        st.select(col("st.n").as("n_days"),
          (col("st.l") / 100.0).as("level"),
          (col("st.b") / 100.0).as("trend"),
          ((col("st.l") + col("st.b")) / 100.0).as("forecast_1"),
          ((col("st.l") + lit(2.0) * col("st.b")) / 100.0)
            .as("forecast_2"))
      },
      """WITH RECURSIVE daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS xc
           FROM orders GROUP BY 1),
         idx AS (SELECT xc, ROW_NUMBER() OVER (ORDER BY day) AS i
                 FROM daily),
         h AS (
           SELECT 1 AS i, CAST(xc AS DOUBLE) AS l,
                  CAST(0 AS DOUBLE) AS b
           FROM idx WHERE i = 1
           UNION ALL
           SELECT h.i + 1,
                  0.5 * CAST(x.xc AS DOUBLE) + 0.5 * (h.l + h.b),
                  0.5 * (0.5 * CAST(x.xc AS DOUBLE)
                         + 0.5 * (h.l + h.b) - h.l) + 0.5 * h.b
           FROM h JOIN idx x ON x.i = h.i + 1),
         fin AS (SELECT * FROM h ORDER BY i DESC LIMIT 1)
         SELECT CAST(i AS INT) AS n_days, l / 100.0 AS level,
                b / 100.0 AS trend, (l + b) / 100.0 AS forecast_1,
                (l + 2.0 * b) / 100.0 AS forecast_2
         FROM fin"""),

    // SAMPLED CLOSENESS CENTRALITY — bounded-radius BFS from the 4
    // lowest-id nodes of the thresholded co-supply graph (fifth
    // consumer of the persisted edge artifact): per seed, nodes
    // reached within 4 hops, total hop distance, and HARMONIC
    // closeness Σ 1/d — the variant that stays well-defined on
    // disconnected graphs. Sampling seeds is how closeness runs at
    // 100 TB (exact all-pairs BFS is quadratic; k sampled sources is
    // the standard estimator) and the multi-seed frontier is ONE
    // relation tagged (seed, node), so all 4 BFS trees expand in the
    // same 4 edge-keyed equi-joins. Parity: harmonic closeness is
    // kept in exact twelfths (Σ count_d · 12/d is an integer for
    // d ≤ 4) and divided by 12 once — no float sum of reciprocals.
    Q("graph_closeness_sampled",
      (s, d) => {
        val e = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")), s"${d}_cosupply")
          .filter(col("w") >= 25)
        // r15 (verdict item 1): eager localCheckpoint — the undirected
        // relation is referenced by all 4 BFS-level joins plus the seed
        // pick, and each level's plan otherwise carries (and AQE
        // replans) the artifact-read+filter+union subtree of every
        // previous level.
        // localCheckpoint keeps the blocks executor-local: cheaper than a
        // reliable checkpoint() but lost on executor failure, which then
        // fails the query instead of recomputing the lineage.
        val und = e.select(col("a").as("u"), col("b").as("v"))
          .unionByName(e.select(col("b").as("u"), col("a").as("v")))
          .localCheckpoint(true)
        val seeds = und.select(col("u")).distinct()
          .orderBy("u").limit(4).select(col("u").as("seed"))
        var frontier = seeds.select(col("seed"), col("seed").as("node"))
        var levels = List(frontier.withColumn("dd", lit(0L)))
        (1 to 4).foreach { h =>
          // (r14 note: per-level tracked caches were A/B'd and measured
          // slower — ReuseExchange covers the two consumers per level.)
          frontier = frontier.join(und, col("node") === col("u"))
            .select(col("seed"), col("v").as("node")).distinct()
          levels = frontier.withColumn("dd", lit(h.toLong)) :: levels
        }
        levels.reduce(_ unionByName _)
          .groupBy("seed", "node").agg(min(col("dd")).as("dist"))
          .filter(col("dist") > 0)
          .groupBy("seed")
          .agg(count(lit(1)).as("n_reached"),
            sum("dist").as("sum_dist"),
            sum(expr("12 div dist")).as("h12"))
          .select(col("seed"), col("n_reached"), col("sum_dist"),
            (col("h12").cast("double") / 12.0).as("harmonic_closeness"))
          .orderBy("seed")
      },
      """WITH RECURSIVE sp AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
           FROM lineitem),
         e AS (
           SELECT x.sk AS a, y.sk AS b
           FROM sp x JOIN sp y ON x.pk = y.pk AND x.sk < y.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 25),
         edges AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a
                   FROM e),
         seeds AS (SELECT u AS seed FROM (SELECT DISTINCT u FROM edges)
                   ORDER BY u LIMIT 4),
         walk(seed, node, dd) AS (
           SELECT seed, seed, 0 FROM seeds
           UNION
           SELECT seed, v, dd + 1 FROM walk JOIN edges ON node = u
           WHERE dd < 4),
         md AS (SELECT seed, node, MIN(dd) AS dist FROM walk
                GROUP BY 1, 2),
         r AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
                      CAST(SUM(dist) AS BIGINT) AS sum_dist,
                      CAST(SUM(12 // dist) AS BIGINT) AS h12
               FROM md WHERE dist > 0 GROUP BY 1)
         SELECT seed, n_reached, sum_dist,
                CAST(h12 AS DOUBLE) / 12.0 AS harmonic_closeness
         FROM r ORDER BY seed"""),

    // SINGLE CHANGEPOINT DETECTION (binary-segmentation step): the
    // split of the daily revenue series minimizing total within-
    // segment SSE — the offline complement of time_cusum's online
    // drift alarm. Classic two-pass prefix-moment form: cumulative
    // S_t (cents, long) and SS_t (DECIMAL(38,0)) over the day-grain
    // series, then cost(t) = [SS_t − S_t²/t] + [rest] is one
    // closed-form double per candidate split — every input to the
    // float expression is an exact integer, so the doubles are
    // bit-identical across engines and the argmin is a TakeOrdered
    // (cost, t) limit 1, never a global sort. All windows run over
    // the calendar-bounded daily aggregate.
    Q("time_changepoint",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
          .select(col("day"), (col("rev") * 100).cast("long").as("xc"))
        val w = Window.orderBy("day")
        val xd = col("xc").cast(DecimalType(19, 0))
        val pre = daily
          .withColumn("t", row_number().over(w))
          .withColumn("st", sum(col("xc")).over(w))
          .withColumn("sst", sum(xd * xd).over(w))
        val tot = pre.agg(max("t").as("n"), max("st").as("sn"),
          max("sst").as("ssn"))
        val costs = pre.crossJoin(tot)
          .filter(col("t") < col("n"))
          .withColumn("lc", col("sst").cast("double") -
            col("st").cast("double") * col("st").cast("double") /
              col("t").cast("double"))
          .withColumn("rc",
            (col("ssn") - col("sst")).cast("double") -
              (col("sn") - col("st")).cast("double") *
                (col("sn") - col("st")).cast("double") /
                (col("n") - col("t")).cast("double"))
          .withColumn("cost", col("lc") + col("rc"))
          .withColumn("ctot", col("ssn").cast("double") -
            col("sn").cast("double") * col("sn").cast("double") /
              col("n").cast("double"))
        costs.orderBy("cost", "t").limit(1)
          .select(col("day").as("split_day"),
            col("t").cast("long").as("n_left"),
            (col("n") - col("t")).cast("long").as("n_right"),
            // prefix-sum cents × 100 widened (st is corpus-scale;
            // oracle side is already HUGEINT via DuckDB window SUM)
            (expr("""(CAST(st AS DECIMAL(38,0)) * 100 + t div 2)
                     div t""").cast("double") /
              10000.0).as("mean_left"),
            (expr("""(CAST(sn - st AS DECIMAL(38,0)) * 100
                     + (n - t) div 2) div (n - t)""")
              .cast("double") / 10000.0).as("mean_right"),
            (round(lit(1.0) - col("cost") / col("ctot"), 4) + lit(0.0))
              .as("sse_drop_pct"))
      },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS xc
           FROM orders GROUP BY 1),
         pre AS (
           SELECT day, xc,
                  ROW_NUMBER() OVER (ORDER BY day) AS t,
                  SUM(xc) OVER (ORDER BY day) AS st,
                  SUM(CAST(xc AS HUGEINT) * xc) OVER (ORDER BY day)
                    AS sst
           FROM daily),
         tot AS (SELECT MAX(t) AS n, MAX(st) AS sn, MAX(sst) AS ssn
                 FROM pre),
         costs AS (
           SELECT day, t, st, n, sn,
                  (CAST(sst AS DOUBLE) -
                   CAST(st AS DOUBLE) * CAST(st AS DOUBLE) /
                     CAST(t AS DOUBLE)) +
                  (CAST(ssn - sst AS DOUBLE) -
                   CAST(sn - st AS DOUBLE) * CAST(sn - st AS DOUBLE) /
                     CAST(n - t AS DOUBLE)) AS cost,
                  CAST(ssn AS DOUBLE) -
                  CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) /
                    CAST(n AS DOUBLE) AS ctot
           FROM pre, tot WHERE t < n)
         SELECT day AS split_day, CAST(t AS BIGINT) AS n_left,
                CAST(n - t AS BIGINT) AS n_right,
                CAST((st * 100 + t // 2) // t AS DOUBLE) / 10000.0
                  AS mean_left,
                CAST(((sn - st) * 100 + (n - t) // 2) // (n - t)
                  AS DOUBLE) / 10000.0 AS mean_right,
                ROUND(1.0 - cost / ctot, 4) + 0.0 AS sse_drop_pct
         FROM costs ORDER BY cost, t LIMIT 1"""),

    // PERSONALIZED PAGERANK from a single seed (teleport mass returns
    // to the seed, not the uniform vector) — the LOCAL relevance
    // ranking behind related-item / graph-expansion retrieval, where
    // graph_pagerank's global variant ranks universal hubness. Runs
    // on the same even/odd-encoded supplier↔part bipartite graph, 8
    // rounds in EXACT 1e-12 integer units: per-edge flow is
    // (π_u·85) div (100·deg_u) and the seed gets the fixed 1.5e11
    // teleport — positive-operand integer division, so both engines
    // truncate identically and no float enters the recursion (the
    // event_markov_stationary discipline, here at graph scale: each
    // round is one edge-keyed equi-join + partial agg). Top-10 by
    // (π, node) via TakeOrdered.
    Q("graph_pagerank_personalized",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // fit-once: the 8-round power iteration lives in the persisted
        // graft_graph_ppr artifact (Graph.personalizedPagerankFor),
        // sharing the SAME bipartite edge artifact graph_label_prop
        // reads — warm consumers pay one tiny parquet read; the cold
        // fit checkpoints the degree-annotated edges once and keeps
        // the rounds one linear deferred chain (measured: per-round
        // eager materialization pays 8× job latency for nothing)
        val edges = supplierPartEdges(s, d)
        val pi = graft.engine.ops.Graph.personalizedPagerankFor(
          edges, 8, s"${d}_bipsp")
        val top = pi.orderBy(desc("pi"), col("node")).limit(10)
        val w = Window.orderBy(desc("pi"), col("node"))
        top.withColumn("rk", row_number().over(w).cast("long"))
          .select(col("rk"), col("node"),
            (col("pi").cast("double") / 1.0e12).as("ppr"))
          .orderBy("rk")
      }, {
        val steps = (1 to 8).map { i =>
          s"""p$i AS (
               SELECT n.node,
                      CAST(COALESCE(sq.c, 0) +
                        CASE WHEN n.node = (SELECT seed FROM sd)
                             THEN 150000000000 ELSE 0 END
                        AS BIGINT) AS pi
               FROM nodes n LEFT JOIN (
                 SELECT e.dst AS node,
                        SUM((p.pi * 85) // (100 * e.deg)) AS c
                 FROM p${i - 1} p JOIN ed e ON e.src = p.node
                 GROUP BY 1) sq ON sq.node = n.node)"""
        }.mkString(",\n            ")
        s"""WITH e0 AS (
              SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS a,
                     CAST(l_partkey AS BIGINT) * 2 + 1 AS b
              FROM lineitem),
            edges AS (SELECT a AS src, b AS dst FROM e0
                      UNION ALL SELECT b, a FROM e0),
            deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
                    FROM edges GROUP BY 1),
            ed AS (SELECT e.src, e.dst, dg.deg FROM edges e
                   JOIN deg dg ON dg.src = e.src),
            sd AS (SELECT MIN(a) AS seed FROM e0),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            p0 AS (SELECT node,
                     CAST(CASE WHEN node = (SELECT seed FROM sd)
                          THEN 1000000000000 ELSE 0 END AS BIGINT)
                     AS pi
                   FROM nodes),
            $steps,
            top AS (SELECT node, pi FROM p8
                    ORDER BY pi DESC, node LIMIT 10)
            SELECT ROW_NUMBER() OVER (ORDER BY pi DESC, node) AS rk,
                   node, CAST(pi AS DOUBLE) / 1e12 AS ppr
            FROM top ORDER BY rk"""
      }),

    // Z-ORDER LAYOUT EFFECTIVENESS — the measurement that justifies
    // sort_zorder / maintain_cluster_rewrite: simulate 64 equal-count
    // shards under (a) hash layout (l_orderkey % 64 — what an
    // unclustered table gives you) and (b) z-order layout (the
    // zval-HISTOGRAM shard map: cumulative window over the ≤2^20
    // bounded zval domain, shard = ((cum−1)·64) div n — the
    // maintain_cluster_rewrite device, never a global ntile), collect
    // per-shard min/max "file stats" on both dims, and count how many
    // shards a 2-D range probe (x∈[100,130] ∧ y∈[200,230]) can skip.
    // This is exactly the min/max pruning a 100 TB scan does with
    // parquet footers; hash layout skips ≈ 0, z-order skips almost
    // everything — the audit makes the layout win a NUMBER. All
    // integer arithmetic, rates in 1e-4 units.
    Q("maintain_zorder_effectiveness",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val zexpr = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) + " +
            s"(((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
        val base = lineitem(s, d)
          .select(col("l_orderkey"),
            (col("l_partkey") % 1024).as("x"),
            (col("l_suppkey") % 1024).as("y"))
          .withColumn("zval", expr(zexpr))
        val tot = base.agg(count(lit(1)).as("n"))
        val hist = base.groupBy("zval").agg(count(lit(1)).as("c"))
        val wz = Window.orderBy("zval")
        val shardMap = hist.withColumn("cum", sum("c").over(wz))
          .crossJoin(tot)
          .select(col("zval"), expr("((cum - 1) * 64) div n").as("shard"))
        val zorder = base.join(shardMap, Seq("zval"))
          .select(lit("zorder").as("layout"), col("shard"), col("x"),
            col("y"))
        val hashed = base.select(lit("hash").as("layout"),
          (col("l_orderkey") % 64).as("shard"), col("x"), col("y"))
        zorder.unionByName(hashed)
          .groupBy("layout", "shard")
          .agg(min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .withColumn("skip_x",
            when(col("max_x") < 100 || col("min_x") > 130, 1L)
              .otherwise(0L))
          .withColumn("skip_xy",
            when(col("max_x") < 100 || col("min_x") > 130 ||
              col("max_y") < 200 || col("min_y") > 230, 1L)
              .otherwise(0L))
          .groupBy("layout")
          .agg(count(lit(1)).as("n_shards"),
            sum("skip_x").as("n_skip_x"),
            sum("skip_xy").as("n_skip_xy"))
          .select(col("layout"), col("n_shards"), col("n_skip_x"),
            col("n_skip_xy"),
            (expr("(n_skip_xy * 10000 + n_shards div 2) div n_shards")
              .cast("double") / 10000.0).as("skip_rate_xy"))
          .orderBy("layout")
      }, {
        val zexpr = (0 until 10).map(i =>
          s"(((x >> $i) & 1) << ${2 * i}) + " +
            s"(((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
        s"""WITH base AS (
              SELECT l_orderkey, l_partkey % 1024 AS x,
                     l_suppkey % 1024 AS y
              FROM lineitem),
            bz AS (SELECT l_orderkey, x, y, $zexpr AS zval FROM base),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bz),
            hist AS (SELECT zval, COUNT(*) AS c FROM bz GROUP BY 1),
            sm AS (SELECT zval,
                          ((SUM(c) OVER (ORDER BY zval) - 1) * 64)
                            // (SELECT n FROM tot) AS shard
                   FROM hist),
            layouts AS (
              SELECT 'zorder' AS layout, sm.shard, x, y
              FROM bz JOIN sm ON sm.zval = bz.zval
              UNION ALL
              SELECT 'hash', l_orderkey % 64, x, y FROM bz),
            st AS (
              SELECT layout, shard, MIN(x) AS min_x, MAX(x) AS max_x,
                     MIN(y) AS min_y, MAX(y) AS max_y
              FROM layouts GROUP BY 1, 2),
            fl AS (
              SELECT layout,
                     CASE WHEN max_x < 100 OR min_x > 130 THEN 1
                          ELSE 0 END AS skip_x,
                     CASE WHEN max_x < 100 OR min_x > 130
                            OR max_y < 200 OR min_y > 230 THEN 1
                          ELSE 0 END AS skip_xy
              FROM st)
            SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_shards,
                   CAST(SUM(skip_x) AS BIGINT) AS n_skip_x,
                   CAST(SUM(skip_xy) AS BIGINT) AS n_skip_xy,
                   CAST((SUM(skip_xy) * 10000 + COUNT(*) // 2)
                     // COUNT(*) AS DOUBLE) / 10000.0 AS skip_rate_xy
            FROM fl GROUP BY 1 ORDER BY layout"""
      }),

    // PARTIAL AUTOCORRELATION (lags 1–3) of the daily revenue series —
    // the AR-order pick next to time_autocorr's raw ρ_k: PACF removes
    // the shorter-lag pass-through, so an AR(1) series shows ρ_2 > 0
    // but PACF_2 ≈ 0 — the cutoff lag IS the model order
    // (Box–Jenkins). ρ_k comes from the identical exact decimal
    // moments as time_autocorr (one calendar-bounded lag window, one
    // agg); the Durbin–Levinson recursion to depth 3 is closed-form
    // doubles spelled identically in both engines, so no estimator
    // state diverges. Bounded end-to-end: days → 3 moment rows → 1
    // pivot row → 3 output rows.
    Q("time_pacf",
      (s, d) => {
        val rho = lagMoments(s, d)
          .select(col("k"), lagCorr.as("rho"))
        rho.groupBy()
          .agg(max(when(col("k") === 1, col("rho"))).as("r1"),
            max(when(col("k") === 2, col("rho"))).as("r2"),
            max(when(col("k") === 3, col("rho"))).as("r3"))
          .withColumn("pacf2", (col("r2") - col("r1") * col("r1")) /
            (lit(1.0) - col("r1") * col("r1")))
          .withColumn("phi21", col("r1") * (lit(1.0) - col("r2")) /
            (lit(1.0) - col("r1") * col("r1")))
          .withColumn("pacf3",
            (col("r3") - col("phi21") * col("r2") -
              col("pacf2") * col("r1")) /
              (lit(1.0) - col("phi21") * col("r1") -
                col("pacf2") * col("r2")))
          .selectExpr(
            "stack(3, 1, r1, r1, 2, r2, pacf2, 3, r3, pacf3) " +
              "AS (k, rho, pacf)")
          .select(col("k"), round(col("rho"), 6).as("autocorr"),
            round(col("pacf"), 6).as("pacf"))
          .orderBy("k")
      },
      s"""WITH $DailyRevXCte,
         $LagPairsCte,
         $LagMomentsCte,
         rho AS (
           SELECT k,
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                       (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    AS rho
           FROM m),
         pv AS (
           SELECT MAX(CASE WHEN k = 1 THEN rho END) AS r1,
                  MAX(CASE WHEN k = 2 THEN rho END) AS r2,
                  MAX(CASE WHEN k = 3 THEN rho END) AS r3
           FROM rho),
         dl AS (
           SELECT r1, r2, r3,
                  (r2 - r1 * r1) / (CAST(1.0 AS DOUBLE) - r1 * r1) AS pacf2,
                  r1 * (CAST(1.0 AS DOUBLE) - r2) / (CAST(1.0 AS DOUBLE) - r1 * r1) AS phi21
           FROM pv),
         fin AS (
           SELECT r1, r2, r3, pacf2,
                  (r3 - phi21 * r2 - pacf2 * r1) /
                  (CAST(1.0 AS DOUBLE) - phi21 * r1 - pacf2 * r2) AS pacf3
           FROM dl)
         SELECT 1 AS k, ROUND(r1, 6) AS autocorr, ROUND(r1, 6) AS pacf
         FROM fin
         UNION ALL
         SELECT 2, ROUND(r2, 6), ROUND(pacf2, 6) FROM fin
         UNION ALL
         SELECT 3, ROUND(r3, 6), ROUND(pacf3, 6) FROM fin
         ORDER BY k"""),

    // BIPARTITE PROJECTION of the part↔supplier incidence onto
    // weighted supplier–supplier "co-supply" edges — the
    // network-building primitive behind every co-occurrence graph in
    // the repo (graph_triangles' co-order projection, done here as a
    // declared top-k relation): weight(s1, s2) = #parts both supply.
    // The quadratic blow-up is bounded the standard way: work is
    // Σ_p deg(p)² over DISTINCT (part, supplier) incidences, and
    // parts with deg(p) > 16 are EXCLUDED by a declared degree screen
    // (a part supplied by everyone carries no pair signal — same
    // df-cap rationale as the dedup prefix filter). Top-20 pairs via
    // TakeOrdered, never a global sort.
    Q("graph_bipartite_projection",
      (s, d) => {
        val inc = lineitem(s, d)
          .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .distinct()
        val deg = inc.groupBy("pk").agg(count(lit(1)).as("dp"))
        val kept = inc.join(deg.filter(col("dp").between(2, 16)), Seq("pk"))
        val pairs = kept.as("a").join(kept.as("b"),
            col("a.pk") === col("b.pk") && col("a.sk") < col("b.sk"))
          .groupBy(col("a.sk").as("s1"), col("b.sk").as("s2"))
          .agg(count(lit(1)).as("weight"))
        pairs.orderBy(desc("weight"), col("s1"), col("s2")).limit(20)
      },
      """WITH inc AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
           FROM lineitem),
         deg AS (
           SELECT pk, COUNT(*) AS dp FROM inc GROUP BY 1),
         kept AS (
           SELECT i.pk, i.sk FROM inc i
           JOIN deg d ON d.pk = i.pk AND d.dp BETWEEN 2 AND 16),
         pairs AS (
           SELECT a.sk AS s1, b.sk AS s2,
                  CAST(COUNT(*) AS BIGINT) AS weight
           FROM kept a JOIN kept b
             ON a.pk = b.pk AND a.sk < b.sk
           GROUP BY 1, 2)
         SELECT s1, s2, weight FROM pairs
         ORDER BY weight DESC, s1, s2 LIMIT 20"""),

    // MANN–KENDALL TREND TEST on the daily revenue series — the
    // nonparametric companion to time_theilsen_trend's slope (same
    // quadratic-in-the-CALENDAR discipline: the pair self-join is over
    // days, never rows): S = Σ_{i<j} sign(x_j − x_i) on exact decimal
    // revenues, the tie-corrected variance
    // (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18 from exact BIGINT
    // numerators, and the continuity-corrected Z = (S − sign(S)) /
    // sqrt(Var). S and both variance numerators never see a float;
    // the single division by 18.0 and the sqrt are spelled identically
    // in both engines.
    Q("time_mann_kendall",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        // day-grain series is tiny; eagerly checkpoint it so the
        // four consumers (both pair-join sides, n, ties) read the
        // materialized relation instead of re-scanning orders — at
        // 100 TB a 4× scan of the fact table is the real cost here
        // (the Dedup.keepListFor localCheckpoint precedent)
        val daily = dailyRevX(s, d)
          .localCheckpoint(true)
        val sStat = daily.as("a").join(daily.as("b"),
            col("a.day") < col("b.day"))
          .agg(sum(signum(col("b.x") - col("a.x")).cast("bigint"))
            .as("s_stat"))
        val nDays = daily.agg(count(lit(1)).as("n"))
        val ties = daily.groupBy("x").agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
            .as("tie_num"))
        sStat.crossJoin(nDays).crossJoin(ties)
          .withColumn("var_num",
            expr("n * (n - 1) * (2 * n + 5) - tie_num"))
          .select(col("n").as("n_days"), col("s_stat"),
            (col("var_num").cast("double") / lit(18.0)).as("var_s"),
            round((col("s_stat") - signum(col("s_stat")).cast("bigint"))
              .cast("double") /
              sqrt(col("var_num").cast("double") / lit(18.0)), 6)
              .as("z_score"),
            signum(col("s_stat")).cast("int").as("trend_sign"))
      },
      s"""WITH $DailyRevXCte,
         s AS (
           SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                WHEN b.x < a.x THEN -1
                                ELSE 0 END) AS BIGINT) AS s_stat
           FROM daily a JOIN daily b ON a.day < b.day),
         nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
         ties AS (
           SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
             AS BIGINT) AS tie_num
           FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
                 FROM daily GROUP BY x)),
         v AS (
           SELECT n, s_stat, tie_num,
                  n * (n - 1) * (2 * n + 5) - tie_num AS var_num
           FROM s CROSS JOIN nd CROSS JOIN ties)
         SELECT n AS n_days, s_stat,
                CAST(var_num AS DOUBLE) / 18.0 AS var_s,
                ROUND(CAST(s_stat - CASE WHEN s_stat > 0 THEN 1
                                         WHEN s_stat < 0 THEN -1
                                         ELSE 0 END AS DOUBLE) /
                      sqrt(CAST(var_num AS DOUBLE) / 18.0), 6)
                  AS z_score,
                CAST(CASE WHEN s_stat > 0 THEN 1
                          WHEN s_stat < 0 THEN -1 ELSE 0 END
                  AS INTEGER) AS trend_sign
         FROM v"""),

    // MAXIMUM DRAWDOWN of the cumulative daily revenue curve — the
    // worst peak-to-trough slide, THE risk number for any cumulative
    // series (here: how far below its best day the running total ever
    // fell... for a revenue series the interesting variant is the
    // demeaned curve, so the cumulative is of (revenue − global daily
    // mean) in exact cents — a flat business has drawdowns, a growing
    // one a flat curve). Every window runs over the calendar-bounded
    // day grain; the trough pick is a 1-row TakeOrdered; drawdown
    // percentage of peak is a 1e-4-unit integer division. All cents
    // BIGINT until the display division.
    Q("time_max_drawdown",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("bigint").as("cents"))
        val tot = daily.agg(count(lit(1)).as("nd"),
          sum("cents").as("tc"))
        val w = Window.orderBy("day")
        val curve = daily.crossJoin(broadcast(tot))
          // demean in exact integers: day value − (total div n) keeps
          // everything BIGINT; the constant remainder skews all days
          // equally and cancels in peak−trough differences
          .select(col("day"),
            (col("cents") - expr("tc div nd")).as("dv"))
          .withColumn("cum", sum("dv").over(w))
          .withColumn("peak", max("cum").over(w))
          .withColumn("dd", col("peak") - col("cum"))
        curve.orderBy(desc("dd"), col("day")).limit(1)
          .select(col("day").as("trough_day"),
            (col("dd").cast("double") / 100.0).as("max_drawdown"),
            (col("peak").cast("double") / 100.0).as("peak_cum"),
            when(col("peak") > 0,
              // dd is demeaned-cents scale (corpus-month) — the 1e6
              // scale product rides DECIMAL(38,0)
              (expr("""(CAST(dd AS DECIMAL(38,0)) * 1000000
                       + peak div 2) div peak""")
                .cast("double") / 10000.0)).otherwise(lit(null))
              .as("drawdown_pct"))
      },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                        CAST(SUM(cents) AS BIGINT) AS tc
                 FROM daily),
         curve AS (
           SELECT day, cents - (SELECT tc // nd FROM tot) AS dv
           FROM daily),
         cumed AS (
           SELECT day,
                  CAST(SUM(dv) OVER (ORDER BY day) AS BIGINT) AS cum
           FROM curve),
         peaked AS (
           SELECT day, cum,
                  CAST(MAX(cum) OVER (ORDER BY day) AS BIGINT) AS peak
           FROM cumed),
         dd AS (
           SELECT day, peak, peak - cum AS dd FROM peaked)
         SELECT day AS trough_day,
                CAST(dd AS DOUBLE) / 100.0 AS max_drawdown,
                CAST(peak AS DOUBLE) / 100.0 AS peak_cum,
                CASE WHEN peak > 0 THEN
                  CAST((CAST(dd AS HUGEINT) * 1000000 + peak // 2)
                       // peak AS DOUBLE)
                    / 10000.0
                END AS drawdown_pct
         FROM dd ORDER BY dd DESC, day LIMIT 1"""),

    // DEGREE-INEQUALITY GINI of the supplier workload — how unevenly
    // parts are spread across suppliers (degree = distinct parts
    // supplied). EXACT Gini without any global row sort: distinct
    // degree VALUES form a small histogram, the rank mass of a value
    // with count c after cumulative count F is c·F + c(c+1)/2, so
    // G = (2·Σranks·x − (n+1)·Σx) / (n·Σx) assembles from BIGINTs
    // with ONE cumulative window over the degree-value histogram
    // (the rfm drill-down discipline). Sign-safe 1e-6-unit division.
    Q("graph_degree_gini",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val deg = lineitem(s, d)
          .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
          .distinct()
          .groupBy("sk").agg(count(lit(1)).as("v"))
        val hist = deg.groupBy("v").agg(count(lit(1)).as("c"))
        val w = Window.orderBy("v")
        val ranked = hist
          .withColumn("cum", sum("c").over(w))
          .select(col("v"), col("c"),
            (col("cum") - col("c")).as("f"))
          // DOUBLED rank mass c·(2f+c+1) = 2·(c·f + c(c+1)/2):
          // division-free so the whole sum rides DECIMAL(38,0) —
          // raw LONG v·c·f is corpus² (overflow at ~1e9 suppliers)
          .select(
            (col("v").cast(DecimalType(38, 0)) * col("c") *
              (lit(2) * col("f") + col("c") + 1)).as("rank_mass2"),
            (col("v") * col("c")).as("x_mass"), col("c"))
        ranked.agg(sum("c").as("n"), sum("x_mass").as("sx"),
            sum("rank_mass2").as("srm2"))
          .select(col("n").as("n_suppliers"),
            expr("sx div n").as("mean_degree"),
            (expr("""((srm2 - CAST(n + 1 AS DECIMAL(38,0)) * sx)
                        * 1000000
                      + (CAST(n AS DECIMAL(38,0)) * sx) div 2)
                     div (CAST(n AS DECIMAL(38,0)) * sx)""")
              .cast("double") / 1.0e6).as("gini"))
      },
      """WITH deg AS (
           SELECT l_suppkey AS sk,
                  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS v
           FROM lineitem GROUP BY 1),
         hist AS (
           SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY 1),
         ranked AS (
           SELECT v, c,
                  CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) - c AS f
           FROM hist),
         mass AS (
           SELECT CAST(v AS HUGEINT) * c * (2 * f + c + 1)
                    AS rank_mass2,
                  v * c AS x_mass, c
           FROM ranked),
         agg AS (
           SELECT CAST(SUM(c) AS BIGINT) AS n,
                  CAST(SUM(x_mass) AS BIGINT) AS sx,
                  SUM(rank_mass2) AS srm2
           FROM mass)
         SELECT n AS n_suppliers, sx // n AS mean_degree,
                CAST(((srm2 - CAST(n + 1 AS HUGEINT) * sx) * 1000000
                      + (CAST(n AS HUGEINT) * sx) // 2)
                     // (CAST(n AS HUGEINT) * sx) AS DOUBLE) / 1e6
                  AS gini
         FROM agg"""),

    // FEATURE PROPAGATION over the part↔supplier bipartite graph —
    // two rounds of neighborhood averaging (the message-passing
    // primitive under every GNN feature pipeline and label-spreading
    // heuristic): supplier spend → part = mean of its suppliers →
    // supplier' = mean of its parts. Propagating THROUGH the
    // bipartite incidence needs no pair materialization at all — each
    // round is one equi-join + one keyed mean on the DISTINCT
    // (part, supplier) edges, so the cost is |edges| per round where
    // any projected-graph form pays Σdeg² (the
    // graph_bipartite_projection trade, sidestepped). Integer 1e-0
    // cent means via positive-operand div; top-20 TakeOrdered.
    Q("graph_feature_propagation",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val li = lineitem(s, d)
        val edges = li
          .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .distinct()
        val x0 = li.groupBy(col("l_suppkey").as("sk"))
          .agg((sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            * 100).cast("bigint").as("x"))
        val parts = edges.join(x0, Seq("sk"))
          .groupBy("pk")
          .agg(expr("sum(x) div count(1)").as("xp"))
        val x1 = edges.join(parts, Seq("pk"))
          .groupBy("sk")
          .agg(expr("sum(xp) div count(1)").as("x1"))
        x1.join(x0, Seq("sk"))
          .select(col("sk").as("suppkey"),
            (col("x").cast("double") / 100.0).as("spend"),
            (col("x1").cast("double") / 100.0).as("smoothed_spend"))
          .orderBy(desc("x1"), col("sk")).limit(20)
      },
      """WITH edges AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
           FROM lineitem),
         x0 AS (
           SELECT l_suppkey AS sk,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    * 100 AS BIGINT) AS x
           FROM lineitem GROUP BY 1),
         parts AS (
           SELECT pk, CAST(SUM(x) // COUNT(*) AS BIGINT) AS xp
           FROM edges JOIN x0 USING (sk) GROUP BY 1),
         x1 AS (
           SELECT sk, CAST(SUM(xp) // COUNT(*) AS BIGINT) AS x1
           FROM edges JOIN parts USING (pk) GROUP BY 1)
         SELECT sk AS suppkey,
                CAST(x AS DOUBLE) / 100.0 AS spend,
                CAST(x1 AS DOUBLE) / 100.0 AS smoothed_spend
         FROM x1 JOIN x0 USING (sk)
         ORDER BY x1 DESC, sk LIMIT 20"""),

    // WAPE / BIAS SCORECARD of the seasonal-naive lag-7 forecast per
    // order priority — the %-scale error metrics a forecast review
    // actually reads (time_backtest_naive reports MAE, which can't be
    // compared across priorities of different volume): WAPE =
    // Σ|err|/Σactual and signed bias, both exact integer cent sums
    // with 1e-6-unit divisions — the bias numerator sign-split
    // because Spark div truncates while DuckDB // floors on
    // negatives. Lag windows run per priority over the
    // calendar-bounded day grain.
    Q("time_wape",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"),
            col("o_orderdate").cast("date").as("day"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("bigint").as("y"))
        val w = Window.partitionBy("prio").orderBy("day")
        val scored = daily
          .withColumn("f", lag(col("y"), 7).over(w))
          .filter(col("f").isNotNull)
          .select(col("prio"), col("y"), col("f"),
            abs(col("y") - col("f")).as("ae"),
            (col("y") - col("f")).as("e"))
        scored.groupBy("prio")
          .agg(count(lit(1)).as("n_days"),
            sum("y").as("sy"), sum("ae").as("sae"), sum("e").as("se"))
          .select(col("prio"), col("n_days"),
            // sae/sy are per-priority corpus cents — 1e6 scale
            // products ride DECIMAL(38,0)
            (expr("""(CAST(sae AS DECIMAL(38,0)) * 1000000
                     + sy div 2) div sy""")
              .cast("double") / 1.0e6).as("wape"),
            (when(col("se") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("""(CAST(abs(se) AS DECIMAL(38,0)) * 1000000
                      + sy div 2) div sy"""))
              .cast("double").divide(lit(1.0e6)).as("bias_pct"))
          .orderBy("prio")
      },
      """WITH daily AS (
           SELECT o_orderpriority AS prio,
                  CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         scored AS (
           SELECT prio, y,
                  LAG(y, 7) OVER (PARTITION BY prio ORDER BY day) AS f
           FROM daily QUALIFY f IS NOT NULL),
         agg AS (
           SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_days,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(ABS(y - f)) AS BIGINT) AS sae,
                  CAST(SUM(y - f) AS BIGINT) AS se
           FROM scored GROUP BY 1)
         SELECT prio, n_days,
                CAST((CAST(sae AS HUGEINT) * 1000000 + sy // 2) // sy
                  AS DOUBLE) / 1e6
                  AS wape,
                CAST((CASE WHEN se < 0 THEN -1 ELSE 1 END) *
                  ((CAST(ABS(se) AS HUGEINT) * 1000000 + sy // 2) // sy)
                  AS DOUBLE)
                  / 1e6 AS bias_pct
         FROM agg ORDER BY prio"""),

    // ROLLING CORRELATION (trailing-7-day Pearson r between daily
    // revenue and daily traffic) — the co-movement monitor behind
    // "did spend decouple from visits this week". All five frame sums
    // are exact BIGINTs (value in centi-units keeps v² ≤ ~1e17 — a
    // 1e-4-unit scale overflows BIGINT in sxx at sf0.1); the closed
    // form touches doubles only in the final expression, identical on
    // both engines. One day-keyed aggregate + one window over the
    // calendar-bounded (≤ #days) daily series — never a row-level sort.
    // NULL until the frame holds a full 7 days.
    Q("time_rolling_corr",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(col("ts").cast("date").as("dy"))
          .agg(
            expr("CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)")
              .as("v"),
            count(lit(1)).as("n_ev"))
        val w = Window.orderBy("dy").rowsBetween(-6, 0)
        daily
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum("v").over(w))
          .withColumn("sy", sum("n_ev").over(w))
          .withColumn("sxx", sum(col("v") * col("v")).over(w))
          .withColumn("syy", sum(col("n_ev") * col("n_ev")).over(w))
          .withColumn("sxy", sum(col("v") * col("n_ev")).over(w))
          .select(col("dy"), col("n").as("n_days"),
            expr("""CASE WHEN n = 7 AND (n*sxx - sx*sx) > 0
                         AND (n*syy - sy*sy) > 0 THEN
                      ROUND((n*CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
                            (sqrt(n*CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
                             sqrt(n*CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))),
                            6) + 0.0D
                    END""").as("roll_corr"))
          .orderBy("dy")
      },
      """WITH d AS (SELECT CAST(ts AS DATE) AS dy,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n_ev
           FROM events GROUP BY 1),
         f AS (SELECT dy, count(*) OVER w AS n,
                 sum(v) OVER w AS sx, sum(n_ev) OVER w AS sy,
                 sum(v*v) OVER w AS sxx, sum(n_ev*n_ev) OVER w AS syy,
                 sum(v*n_ev) OVER w AS sxy
               FROM d WINDOW w AS (ORDER BY dy
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT dy, CAST(n AS BIGINT) AS n_days,
           CASE WHEN n = 7 AND (n*sxx - sx*sx) > 0
                    AND (n*syy - sy*sy) > 0 THEN
             ROUND((n*CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
                   (sqrt(n*CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
                    sqrt(n*CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))),
                   6) + 0.0
           END AS roll_corr
         FROM f ORDER BY dy"""),

    // ADDITIVE SEASONAL DECOMPOSITION (trend = centered 7-day MA,
    // seasonal = day-of-week mean of the detrended series, residual =
    // the rest) with a 3×mean-|residual| anomaly flag — the classic
    // STL-lite monitor for a daily KPI. Everything is exact integer
    // arithmetic in 1e-4 dollar units: the MA is an integer division
    // by the constant 7, the seasonal mean splits sign before its
    // rounded division (Spark div truncates, DuckDB // floors — they
    // differ on negatives), and the anomaly test is the
    // cross-multiplied |r|·n > 3·Σ|r| so no float threshold exists.
    // All windows run over the ≤#days daily relation.
    Q("time_decompose_additive",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(col("ts").cast("date").as("dy"))
          .agg(expr("CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("cents"))
          .withColumn("dow", expr("CAST(weekday(dy) + 1 AS INT)"))
        val w7 = Window.orderBy("dy").rowsBetween(-3, 3)
        val det = daily
          .withColumn("n7", count(lit(1)).over(w7))
          .withColumn("s7", sum("cents").over(w7))
          // corpus-day cents sums ride DECIMAL(38,0) through every
          // scale product (oracle side is HUGEINT via DuckDB SUM)
          .withColumn("trend4",
            expr("""CASE WHEN n7 = 7 THEN
                    (CAST(s7 AS DECIMAL(38,0)) * 100 + 3) div 7 END"""))
          .withColumn("det4", expr("cents * 100 - trend4"))
        val seas = det.filter(col("det4").isNotNull)
          .groupBy("dow")
          .agg(sum(col("det4").cast(DecimalType(38, 0))).as("sd"),
            count("det4").as("nd"))
          .select(col("dow"),
            expr("""CASE WHEN sd < 0 THEN -((-sd + nd div 2) div nd)
                         ELSE (sd + nd div 2) div nd END""").as("seas4"))
        val j = det.join(broadcast(seas), Seq("dow"))
          .withColumn("resid4", expr("det4 - seas4"))
        val mad = j.agg(
          sum(abs(col("resid4")).cast(DecimalType(38, 0))).as("sar"),
          count(col("resid4")).as("nr"))
        j.crossJoin(broadcast(mad))
          .select(col("dy"), col("dow"),
            expr("cents / 100.0D").as("revenue"),
            expr("trend4 / 10000.0D").as("trend"),
            expr("seas4 / 10000.0D").as("seasonal"),
            expr("resid4 / 10000.0D").as("residual"),
            expr("""CASE WHEN resid4 IS NOT NULL
                    THEN CAST(abs(resid4) AS DECIMAL(38,0)) * nr
                         > 3 * sar END""")
              .as("is_anomaly"))
          .orderBy("dy")
      },
      """WITH d AS (SELECT CAST(ts AS DATE) AS dy,
             isodow(CAST(ts AS DATE)) AS dow,
             CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT) AS cents
           FROM events GROUP BY 1, 2),
         tr AS (SELECT dy, dow, cents,
             CASE WHEN count(*) OVER w = 7 THEN
               (sum(cents) OVER w * 100 + 3) // 7 END AS trend4
           FROM d WINDOW w AS (ORDER BY dy
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         det AS (SELECT *, cents*100 - trend4 AS det4 FROM tr),
         seas AS (SELECT dow,
             sum(det4) AS sd,
             CAST(count(det4) AS BIGINT) AS nd
           FROM det WHERE det4 IS NOT NULL GROUP BY dow),
         sm AS (SELECT dow, CASE WHEN sd < 0 THEN -((-sd + nd // 2) // nd)
                                 ELSE (sd + nd // 2) // nd END AS seas4
                FROM seas),
         j AS (SELECT dy, t.dow, cents, trend4, det4, seas4,
                 det4 - seas4 AS resid4
               FROM det t JOIN sm ON t.dow = sm.dow),
         md AS (SELECT sum(abs(resid4)) AS sar,
                       CAST(count(resid4) AS BIGINT) AS nr FROM j)
         SELECT dy, CAST(dow AS INT) AS dow,
           cents / 100.0 AS revenue,
           trend4 / 10000.0 AS trend,
           seas4 / 10000.0 AS seasonal,
           resid4 / 10000.0 AS residual,
           CASE WHEN resid4 IS NOT NULL
             THEN abs(resid4) * nr > 3 * sar END AS is_anomaly
         FROM j CROSS JOIN md ORDER BY dy"""),

    // XmR CONTROL CHART (individuals + moving range) — the SPC
    // monitor: center = mean, limits = x̄ ± 2.66·M̄R where M̄R is the
    // mean absolute day-over-day move. Everything in exact integer
    // hundredth-of-a-cent units — the 2.66 constant is the integer
    // 266/100 with explicit half-up rounding, so a point exactly ON
    // a limit is classified identically by both engines. The lag
    // runs over the calendar-bounded daily series; the global stats
    // are one 1-row aggregate broadcast back.
    Q("time_control_chart",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(col("ts").cast("date").as("dy"))
          .agg(expr("CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("c"))
        val withMr = daily
          .withColumn("mr",
            abs(col("c") - lag("c", 1).over(Window.orderBy("dy"))))
        val g = withMr.agg(
          count(lit(1)).as("n"), sum("c").as("sc"),
          count(col("mr")).as("nm"), sum("mr").as("sm"))
        withMr.crossJoin(broadcast(g))
          // sc/sm are corpus cents sums; 266·mr2 is daily-mean scale
          // × 266 — every scale product rides DECIMAL(38,0)
          .withColumn("xbar2",
            expr("(CAST(sc AS DECIMAL(38,0)) * 100 + n div 2) div n"))
          .withColumn("mr2",
            expr("(CAST(sm AS DECIMAL(38,0)) * 100 + nm div 2) div nm"))
          .withColumn("ucl2",
            expr("""xbar2 + (266 * CAST(mr2 AS DECIMAL(38,0)) + 50)
                    div 100"""))
          .withColumn("lcl2",
            expr("""xbar2 - (266 * CAST(mr2 AS DECIMAL(38,0)) + 50)
                    div 100"""))
          .select(col("dy"),
            expr("c / 100.0D").as("revenue"),
            expr("xbar2 / 10000.0D").as("center"),
            expr("ucl2 / 10000.0D").as("ucl"),
            expr("lcl2 / 10000.0D").as("lcl"),
            expr("c * 100 > ucl2 OR c * 100 < lcl2").as("violation"))
          .orderBy("dy")
      },
      """WITH d AS (SELECT CAST(ts AS DATE) AS dy,
             CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT) AS c
           FROM events GROUP BY 1),
         m AS (SELECT dy, c,
             abs(c - lag(c, 1) OVER (ORDER BY dy)) AS mr FROM d),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(c) AS BIGINT) AS sc,
                      CAST(count(mr) AS BIGINT) AS nm,
                      CAST(sum(mr) AS BIGINT) AS sm FROM m),
         k AS (SELECT dy, c,
                 (CAST(sc AS HUGEINT) * 100 + n // 2) // n AS xbar2,
                 (CAST(sm AS HUGEINT) * 100 + nm // 2) // nm AS mr2
               FROM m CROSS JOIN g),
         l AS (SELECT dy, c, xbar2,
                 xbar2 + (266 * CAST(mr2 AS HUGEINT) + 50) // 100
                   AS ucl2,
                 xbar2 - (266 * CAST(mr2 AS HUGEINT) + 50) // 100
                   AS lcl2
               FROM k)
         SELECT dy, c / 100.0 AS revenue,
                xbar2 / 10000.0 AS center,
                ucl2 / 10000.0 AS ucl,
                lcl2 / 10000.0 AS lcl,
                c * 100 > ucl2 OR c * 100 < lcl2 AS violation
         FROM l ORDER BY dy"""),

    // YEAR-OVER-YEAR GROWTH per month — the month-grain self-join on
    // (year−1, month): each month compares to the same month last
    // year, which a lag-12 window gets wrong whenever a month is
    // missing. Growth is a SIGN-SPLIT 1e-4-unit integer division
    // (negative growth: Spark div truncates, DuckDB // floors).
    // Month-grain relation (≤84 rows) — the join is broadcast-tiny.
    Q("time_yoy_growth",
      (s, d) => {
        val m = orders(s, d)
          .groupBy(year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"))
          .agg(expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("cents"))
        val prev = m.select((col("y") + 1).as("y"), col("m"),
          col("cents").as("prev_cents"))
        m.join(broadcast(prev), Seq("y", "m"), "left")
          .select(col("y"), col("m"),
            expr("cents / 100.0D").as("revenue"),
            expr("prev_cents / 100.0D").as("prev_revenue"),
            expr("""CASE WHEN prev_cents IS NOT NULL THEN
                      CAST((CASE WHEN cents - prev_cents < 0 THEN -1
                             ELSE 1 END) *
                        ((CAST(abs(cents - prev_cents) AS DECIMAL(38,0))
                            * 10000
                          + prev_cents div 2) div prev_cents) AS DOUBLE)
                        / 1e4
                    END""").as("yoy_growth"))
          .orderBy("y", "m")
      },
      """WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS y,
             CAST(month(o_orderdate) AS INT) AS m,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)
               AS cents
           FROM orders GROUP BY 1, 2)
         SELECT a.y, a.m, a.cents / 100.0 AS revenue,
                b.cents / 100.0 AS prev_revenue,
                CASE WHEN b.cents IS NOT NULL THEN
                  CAST((CASE WHEN a.cents - b.cents < 0 THEN -1
                         ELSE 1 END) *
                    ((CAST(abs(a.cents - b.cents) AS HUGEINT) * 10000
                      + b.cents // 2)
                     // b.cents) AS DOUBLE) / 1e4
                END AS yoy_growth
         FROM m a LEFT JOIN m b ON b.y = a.y - 1 AND b.m = a.m
         ORDER BY a.y, a.m"""),

    // 2-HOP EGO-NETWORK SIZE for the top-10 hubs of the co-supply
    // graph — the blast-radius number behind "if this supplier fails,
    // how much of the network is within two introductions". Edges come
    // from the SAME persisted co-occurrence artifact the triangle
    // family reads (built once per dataset); hubs are a TakeOrdered
    // top-10, so the two hop joins expand only 10 frontiers, never
    // all-pairs. Reach = distinct nodes within ≤2 hops, hub excluded.
    Q("graph_ego_2hop",
      (s, d) => {
        val und = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")), s"${d}_cosupply")
          .filter(col("w") >= 25).select("a", "b")
        val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
        val deg = sym.groupBy("a").agg(count(lit(1)).as("degree"))
        val hubs = deg.orderBy(desc("degree"), asc("a")).limit(10)
          .select(col("a").as("hub"), col("degree"))
        val hop1 = hubs.join(sym, col("hub") === col("a"))
          .select(col("hub"), col("degree"), col("b").as("n1"))
        val hop2 = hop1.join(
            sym.select(col("a").as("n1"), col("b").as("n2")), Seq("n1"))
          .select(col("hub"), col("n2").as("reach"))
        hop1.select(col("hub"), col("n1").as("reach"))
          .unionByName(hop2)
          .filter(col("reach") =!= col("hub"))
          .distinct()
          .groupBy("hub")
          .agg(count(lit(1)).as("ego2_size"))
          .join(broadcast(hubs), Seq("hub"))
          .select("hub", "degree", "ego2_size")
          .orderBy(desc("degree"), asc("hub"))
      },
      """WITH li AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
           FROM lineitem),
         und AS (
           SELECT a.sk AS a, b.sk AS b
           FROM li a JOIN li b ON a.pk = b.pk AND a.sk < b.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 25),
         sym AS (SELECT a, b FROM und
                 UNION ALL SELECT b AS a, a AS b FROM und),
         deg AS (SELECT a, CAST(count(*) AS BIGINT) AS degree
                 FROM sym GROUP BY a),
         hubs AS (SELECT a AS hub, degree FROM deg
                  ORDER BY degree DESC, a LIMIT 10),
         hop1 AS (SELECT hub, degree, b AS n1 FROM hubs
                  JOIN sym ON hub = sym.a),
         reach AS (
           SELECT hub, n1 AS r FROM hop1
           UNION
           SELECT hop1.hub, s2.b AS r FROM hop1
           JOIN sym s2 ON s2.a = hop1.n1),
         ego AS (SELECT hub, CAST(count(DISTINCT r) AS BIGINT)
                   AS ego2_size
                 FROM reach WHERE r <> hub GROUP BY hub)
         SELECT h.hub, h.degree, e.ego2_size
         FROM hubs h JOIN ego e ON h.hub = e.hub
         ORDER BY h.degree DESC, h.hub"""),

    // MEAN-CROSSING RATE — how often the daily series oscillates
    // through its own mean: the cheap stationarity/oscillation
    // screen (a trending series crosses rarely; noise crosses
    // ~every other step). Sides are exact integer comparisons
    // against the 1e-2-unit mean (no float threshold), crossings a
    // lag over the calendar-bounded daily relation; rate in exact
    // 1e-4 units.
    Q("time_mean_crossings",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(col("ts").cast("date").as("dy"))
          .agg(expr("CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("c"))
        val g = daily.agg(count(lit(1)).as("n"), sum("c").as("sc"))
        val sided = daily.crossJoin(broadcast(g))
          .withColumn("side",
            expr("CASE WHEN c * n > sc THEN 1 ELSE -1 END"))
          .withColumn("prev_side",
            lag("side", 1).over(Window.orderBy("dy")))
        sided.agg(first("n").as("n_days"),
          sum(when(col("prev_side").isNotNull &&
            col("side") =!= col("prev_side"), 1L).otherwise(0L))
            .as("n_crossings"))
          .select(col("n_days"), col("n_crossings"),
            expr("""(n_crossings * 10000 + (n_days - 1) div 2)
                    div (n_days - 1) / 10000.0D""").as("crossing_rate"))
      },
      """WITH d AS (SELECT CAST(ts AS DATE) AS dy,
             CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT) AS c
           FROM events GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(c) AS BIGINT) AS sc FROM d),
         sided AS (SELECT dy,
             CASE WHEN c * n > sc THEN 1 ELSE -1 END AS side, n
           FROM d CROSS JOIN g),
         lagd AS (SELECT n, side,
             lag(side, 1) OVER (ORDER BY dy) AS prev_side FROM sided)
         SELECT min(n) AS n_days,
                CAST(sum(CASE WHEN prev_side IS NOT NULL
                  AND side <> prev_side THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_crossings,
                (sum(CASE WHEN prev_side IS NOT NULL
                   AND side <> prev_side THEN 1 ELSE 0 END) * 10000
                 + (min(n) - 1) // 2) // (min(n) - 1) / 10000.0
                  AS crossing_rate
         FROM lagd"""),

    // MULTI-HORIZON NAIVE BACKTEST — MAE of the lag-h naive forecast
    // for h = 1, 3, 7 in ONE pass: the daily series joins itself on
    // (dy = dy − h) per horizon via three lag columns over the
    // calendar-bounded daily relation, never three scans. Errors are
    // |Δcents| exact integers; MAEs exact 1e-4-unit divisions. The
    // horizon curve is the "how fast does the naive baseline decay"
    // table every forecasting project reads first.
    Q("time_backtest_horizons",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("dy")
        val daily = events(s, d)
          .groupBy(col("ts").cast("date").as("dy"))
          .agg(expr("CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("c"))
        val lagged = daily
          .withColumn("l1", lag("c", 1).over(w))
          .withColumn("l3", lag("c", 3).over(w))
          .withColumn("l7", lag("c", 7).over(w))
        def mae(lc: String) = expr(
          s"""CASE WHEN sum(CASE WHEN $lc IS NOT NULL THEN 1 ELSE 0 END)
              > 0 THEN
             (sum(CASE WHEN $lc IS NOT NULL THEN abs(c - $lc)
                ELSE 0L END) * 100
              + sum(CASE WHEN $lc IS NOT NULL THEN 1L ELSE 0L END)
                div 2)
             div sum(CASE WHEN $lc IS NOT NULL THEN 1L ELSE 0L END)
             / 10000.0D END""")
        lagged.agg(count(lit(1)).as("n_days"),
          mae("l1").as("mae_h1"), mae("l3").as("mae_h3"),
          mae("l7").as("mae_h7"))
      },
      """WITH d AS (SELECT CAST(ts AS DATE) AS dy,
             CAST(sum(CAST(value AS DECIMAL(18,2))*100) AS BIGINT) AS c
           FROM events GROUP BY 1),
         l AS (SELECT dy, c,
             lag(c, 1) OVER (ORDER BY dy) AS l1,
             lag(c, 3) OVER (ORDER BY dy) AS l3,
             lag(c, 7) OVER (ORDER BY dy) AS l7
           FROM d)
         SELECT CAST(count(*) AS BIGINT) AS n_days,
           CASE WHEN sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) > 0
             THEN (sum(CASE WHEN l1 IS NOT NULL THEN abs(c - l1)
                   ELSE 0 END) * 100
                 + sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) // 2)
                // sum(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
                / 10000.0 END AS mae_h1,
           CASE WHEN sum(CASE WHEN l3 IS NOT NULL THEN 1 ELSE 0 END) > 0
             THEN (sum(CASE WHEN l3 IS NOT NULL THEN abs(c - l3)
                   ELSE 0 END) * 100
                 + sum(CASE WHEN l3 IS NOT NULL THEN 1 ELSE 0 END) // 2)
                // sum(CASE WHEN l3 IS NOT NULL THEN 1 ELSE 0 END)
                / 10000.0 END AS mae_h3,
           CASE WHEN sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END) > 0
             THEN (sum(CASE WHEN l7 IS NOT NULL THEN abs(c - l7)
                   ELSE 0 END) * 100
                 + sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END) // 2)
                // sum(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
                / 10000.0 END AS mae_h7
         FROM l"""),

    // LJUNG–BOX PORTMANTEAU TEST — "is the daily revenue series white
    // noise?" Q = n(n+2)·Σ_{k≤3} r_k²/(n−k) ~ χ²(3), the residual-
    // diagnostics companion to time_autocorr (which reports the r_k;
    // this tests them jointly). ACF uses the FULL-series mean and
    // variance (not pairwise corr): r_k = (Σx_t·x_{t−k} − x̄·(Σ_t>k x_t
    // + Σ_t>k x_{t−k}) + (n−k)·x̄²) / (Σx² − n·x̄²) — every sum an
    // exact decimal over the CALENDAR-BOUNDED daily relation, cast to
    // double once into the textually-identical formula. One lag
    // window over days, all three lags in one pass.
    Q("time_ljung_box",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = dailyRevX(s, d)
        val glob = daily.agg(count(lit(1)).as("n"),
          sum(col("x")).as("s"),
          sum((col("x") * col("x")).cast(DecimalType(38, 4))).as("sxx"))
        val lagsums = lagPairs(daily)
          .groupBy("k")
          .agg(sum((col("x") * col("y")).cast(DecimalType(38, 4)))
            .as("sxy"),
            sum(col("x")).as("spx"), sum(col("y")).as("spy"),
            count(lit(1)).as("np"))
        val rk = lagsums.crossJoin(broadcast(glob))
          .select(col("k"),
            ((col("sxy").cast("double") -
              (col("s").cast("double") / col("n")) *
                (col("spx").cast("double") + col("spy")) +
              col("np").cast("double") *
                (col("s").cast("double") / col("n")) *
                (col("s").cast("double") / col("n"))) /
              (col("sxx").cast("double") -
                col("n").cast("double") *
                  (col("s").cast("double") / col("n")) *
                  (col("s").cast("double") / col("n")))).as("r"),
            col("n"))
        rk.agg(
            max(col("n").cast("long")).as("n_days"),
            round(max(when(col("k") === 1, col("r"))), 6).as("r1"),
            round(max(when(col("k") === 2, col("r"))), 6).as("r2"),
            round(max(when(col("k") === 3, col("r"))), 6).as("r3"),
            round(max(col("n").cast("double")) *
              (max(col("n").cast("double")) + 2) *
              sum(col("r") * col("r") /
                (col("n").cast("double") - col("k"))), 4).as("q_lb"))
          .withColumn("reject_white_noise_05", col("q_lb") > 7.815)
      },
      s"""WITH $DailyRevXCte,
         gm AS (SELECT COUNT(*) AS n, SUM(x) AS s,
                       SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx
                FROM daily),
         $LagPairsCte,
         lagsums AS (
           SELECT k, SUM(CAST(x * y AS DECIMAL(38,4))) AS sxy,
                  SUM(x) AS spx, SUM(y) AS spy, COUNT(*) AS np
           FROM pairs GROUP BY k),
         rk AS (
           SELECT k,
                  (CAST(sxy AS DOUBLE)
                   - (CAST(s AS DOUBLE) / n)
                     * (CAST(spx AS DOUBLE) + CAST(spy AS DOUBLE))
                   + CAST(np AS DOUBLE) * (CAST(s AS DOUBLE) / n)
                     * (CAST(s AS DOUBLE) / n))
                  / (CAST(sxx AS DOUBLE)
                     - CAST(n AS DOUBLE) * (CAST(s AS DOUBLE) / n)
                       * (CAST(s AS DOUBLE) / n)) AS r,
                  n FROM lagsums, gm)
         SELECT CAST(MAX(n) AS BIGINT) AS n_days,
                ROUND(MAX(CASE WHEN k = 1 THEN r END), 6) AS r1,
                ROUND(MAX(CASE WHEN k = 2 THEN r END), 6) AS r2,
                ROUND(MAX(CASE WHEN k = 3 THEN r END), 6) AS r3,
                ROUND(MAX(CAST(n AS DOUBLE)) * (MAX(CAST(n AS DOUBLE)) + 2)
                  * SUM(r * r / (CAST(n AS DOUBLE) - k)), 4) AS q_lb,
                (ROUND(MAX(CAST(n AS DOUBLE)) * (MAX(CAST(n AS DOUBLE)) + 2)
                  * SUM(r * r / (CAST(n AS DOUBLE) - k)), 4) > 7.815)
                  AS reject_white_noise_05
         FROM rk"""),

    // GRANGER-STYLE F TEST — does yesterday's ORDER COUNT explain
    // today's REVENUE beyond yesterday's revenue? Restricted model
    // x_t ~ x_{t−1} vs unrestricted x_t ~ x_{t−1} + z_{t−1};
    // F = (RSS_r − RSS_u)(n−3)/RSS_u with both RSS in closed form
    // from exact decimal moments (the ml_ols_multi Cramer machinery)
    // over the CALENDAR-BOUNDED lagged daily series. One lag window
    // over days, one aggregate, identical formula text both engines.
    Q("time_granger_f",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("rev"),
            count(lit(1)).cast(DecimalType(18, 0)).as("cnt"))
        val w = Window.orderBy("day")
        val lagged = daily
          .select(col("rev").as("y"),
            lag(col("rev"), 1).over(w).as("x"),
            lag(col("cnt"), 1).over(w).as("z"))
          .filter(col("x").isNotNull)
        lagged.agg(
            count(lit(1)).as("n"),
            expr("CAST(sum(y) AS DOUBLE)").as("sy"),
            expr("CAST(sum(x) AS DOUBLE)").as("sx"),
            expr("CAST(sum(z) AS DOUBLE)").as("sz"),
            expr("CAST(sum(CAST(x*x AS DECIMAL(38,4))) AS DOUBLE)")
              .as("sxx"),
            expr("CAST(sum(CAST(z*z AS DECIMAL(38,0))) AS DOUBLE)")
              .as("szz"),
            expr("CAST(sum(CAST(x*z AS DECIMAL(38,2))) AS DOUBLE)")
              .as("sxz"),
            expr("CAST(sum(CAST(x*y AS DECIMAL(38,4))) AS DOUBLE)")
              .as("sxy"),
            expr("CAST(sum(CAST(z*y AS DECIMAL(38,2))) AS DOUBLE)")
              .as("szy"),
            expr("CAST(sum(CAST(y*y AS DECIMAL(38,4))) AS DOUBLE)")
              .as("syy"))
          .selectExpr("n", s"$GrangerF + 0.0D AS f_stat")
          .withColumn("granger_05", col("f_stat") > 3.8415)
      },
      s"""WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
                  CAST(COUNT(*) AS DECIMAL(18,0)) AS cnt
           FROM orders GROUP BY 1),
         lagged AS (
           SELECT rev AS y,
                  lag(rev, 1) OVER (ORDER BY day) AS x,
                  lag(cnt, 1) OVER (ORDER BY day) AS z
           FROM daily),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(y) AS DOUBLE) AS sy,
                  CAST(SUM(x) AS DOUBLE) AS sx,
                  CAST(SUM(z) AS DOUBLE) AS sz,
                  CAST(SUM(CAST(x*x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
                  CAST(SUM(CAST(z*z AS DECIMAL(38,0))) AS DOUBLE) AS szz,
                  CAST(SUM(CAST(x*z AS DECIMAL(38,2))) AS DOUBLE) AS sxz,
                  CAST(SUM(CAST(x*y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
                  CAST(SUM(CAST(z*y AS DECIMAL(38,2))) AS DOUBLE) AS szy,
                  CAST(SUM(CAST(y*y AS DECIMAL(38,4))) AS DOUBLE) AS syy
           FROM lagged WHERE x IS NOT NULL)
         SELECT n,
                $GrangerF + 0.0 AS f_stat,
                ($GrangerF + 0.0 > 3.8415)
                  AS granger_05
         FROM m"""),

    // WALD–WOLFOWITZ RUNS TEST — is the daily revenue series randomly
    // ordered around its median, or does it trend/cluster? Median =
    // exact k-th smallest of the CALENDAR-BOUNDED daily relation (the
    // rfm drill-down precedent is unnecessary at day grain — the
    // relation is grain-bounded, so a rank pick over it is fine);
    // runs counted by one lag window over days; z from the exact
    // integer (n1, n2, R) triple. Values equal to the median are
    // dropped (the standard treatment).
    Q("time_runs_test",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("rev"))
        val wv = Window.orderBy("rev", "day")
        val n = daily.agg(count(lit(1)).as("n"))
        val med = daily.withColumn("rn", row_number().over(wv))
          .crossJoin(broadcast(n))
          .filter(col("rn") === expr("(n + 1) div 2"))
          .select(col("rev").as("median"))
        val signs = daily.crossJoin(broadcast(med))
          .filter(col("rev") =!= col("median"))
          .select(col("day"), (col("rev") > col("median")).as("hi"))
        val wd = Window.orderBy("day")
        signs
          .withColumn("prev", lag(col("hi"), 1).over(wd))
          .agg(
            sum(when(col("hi"), 1L).otherwise(0L)).as("n1"),
            sum(when(!col("hi"), 1L).otherwise(0L)).as("n2"),
            (sum(when(col("prev").isNull ||
              col("prev") =!= col("hi"), 1L).otherwise(0L))).as("runs"))
          .selectExpr("n1", "n2", "runs",
            """ROUND((runs - (2.0D * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0D * n1 * n2 * (2.0D * n1 * n2 - n1 - n2)
                   / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0D))), 4)
               + 0.0D AS z""")
      },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1),
         med AS (
           SELECT rev AS median FROM (
             SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, day) AS rn
             FROM daily)
           WHERE rn = ((SELECT COUNT(*) FROM daily) + 1) // 2),
         signs AS (
           SELECT day, rev > median AS hi
           FROM daily, med WHERE rev <> median),
         runs AS (
           SELECT hi, lag(hi) OVER (ORDER BY day) AS prev FROM signs),
         m AS (SELECT
             SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN prev IS NULL OR prev <> hi
               THEN 1 ELSE 0 END) AS runs
           FROM runs)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(runs AS BIGINT) AS runs,
                ROUND((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                  / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 4)
                + 0.0 AS z
         FROM m"""),

    // KPSS LEVEL-STATIONARITY statistic (lag-0 variant) — the
    // complement of the trend screens: η = n⁻²·Σ S_t² / σ̂² where S_t
    // is the running sum of deviations from the mean and σ̂² = Σe²/n.
    // S_t = cumsum(x) − t·x̄ needs only ONE cumulative window over the
    // calendar-bounded daily series plus the exact global moments;
    // every double comes from the same decimal sums on both engines.
    // η > 0.463 rejects level stationarity at 5%.
    Q("time_kpss",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("x"))
        val gm = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum((col("x") * col("x")).cast(DecimalType(38, 4))).as("sxx"))
        val w = Window.orderBy("day")
        daily
          .withColumn("cum", sum(col("x")).over(w))
          .withColumn("t", row_number().over(w))
          .crossJoin(broadcast(gm))
          .select(
            ((col("cum").cast("double") -
              col("t") * (col("s").cast("double") / col("n"))) *
              (col("cum").cast("double") -
                col("t") * (col("s").cast("double") / col("n"))))
              .as("st2"),
            col("n"), col("s"), col("sxx"))
          .groupBy("n", "s", "sxx")
          .agg(sum(col("st2")).as("sst2"))
          .select(col("n").cast("long").as("n_days"),
            round((col("sst2") /
              (col("n").cast("double") * col("n"))) /
              ((col("sxx").cast("double") -
                col("s").cast("double") * col("s") / col("n")) /
                col("n")), 6).as("kpss_eta"))
          .withColumn("reject_stationary_05", col("kpss_eta") > 0.463)
      },
      s"""WITH $DailyRevXCte,
         gm AS (SELECT COUNT(*) AS n, SUM(x) AS s,
                       SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx
                FROM daily),
         cumul AS (
           SELECT SUM(x) OVER (ORDER BY day) AS cum,
                  ROW_NUMBER() OVER (ORDER BY day) AS t
           FROM daily),
         terms AS (
           SELECT (CAST(cum AS DOUBLE)
                    - t * (CAST(s AS DOUBLE) / n))
                * (CAST(cum AS DOUBLE)
                    - t * (CAST(s AS DOUBLE) / n)) AS st2,
                  n, s, sxx
           FROM cumul, gm)
         SELECT CAST(MIN(n) AS BIGINT) AS n_days,
                ROUND((SUM(st2) / (CAST(MIN(n) AS DOUBLE) * MIN(n)))
                  / ((CAST(MIN(sxx) AS DOUBLE)
                      - CAST(MIN(s) AS DOUBLE) * MIN(s) / MIN(n))
                     / MIN(n)), 6) AS kpss_eta,
                (ROUND((SUM(st2) / (CAST(MIN(n) AS DOUBLE) * MIN(n)))
                  / ((CAST(MIN(sxx) AS DOUBLE)
                      - CAST(MIN(s) AS DOUBLE) * MIN(s) / MIN(n))
                     / MIN(n)), 6) > 0.463) AS reject_stationary_05
         FROM terms"""),

    // RICH-CLUB COEFFICIENT φ(k) — do high-degree suppliers link to
    // each other more than chance? For each threshold k: the hub set
    // N_k = {deg > k}, E_k = edges inside it, φ = 2E_k/(N_k(N_k−1)).
    // Degrees join onto the edge ENDPOINTS (node-sized relation, two
    // keyed joins), thresholds explode via stack into one aggregate —
    // never a per-k pass over the graph. φ in exact half-up integer
    // 1e-6 units (a rational of counts can tie at a ROUND boundary).
    Q("graph_rich_club",
      (s, d) => {
        val e = graft.engine.ops.Graph.coOccurrenceEdgesFor(
            lineitem(s, d).select(col("l_partkey").as("pk"),
              col("l_suppkey").as("sk")), s"${d}_cosupply")
          .filter(col("w") >= 25)
        val deg = e.select(col("a").as("n"))
          .unionAll(e.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val ks = Seq(1, 2, 4, 8)
        val hubs = deg.select(col("n"), col("deg"),
          explode(array(ks.map(lit(_)): _*)).as("k"))
          .filter(col("deg") > col("k"))
        val nk = hubs.groupBy("k").agg(count(lit(1)).as("n_nodes"))
        val ek = e
          .join(hubs.select(col("n").as("a"), col("k")), Seq("a"))
          .join(hubs.select(col("n").as("b"), col("k")), Seq("b", "k"))
          .groupBy("k").agg(count(lit(1)).as("n_edges"))
        nk.join(ek, Seq("k"), "left")
          .select(col("k"), col("n_nodes"),
            coalesce(col("n_edges"), lit(0L)).as("n_edges"),
            expr("""CASE WHEN n_nodes > 1 THEN
                      (2 * coalesce(n_edges, 0) * 2000000
                       + n_nodes * (n_nodes - 1))
                      div (2 * n_nodes * (n_nodes - 1)) / 1000000.0D
                    END""").as("phi"))
          .orderBy("k")
      },
      """WITH sp AS (
           SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
           FROM lineitem),
         e AS (
           SELECT x.sk AS a, y.sk AS b
           FROM sp x JOIN sp y ON x.pk = y.pk AND x.sk < y.sk
           GROUP BY 1, 2 HAVING COUNT(*) >= 25),
         deg AS (
           SELECT n, COUNT(*) AS deg FROM (
             SELECT a AS n FROM e UNION ALL SELECT b FROM e)
           GROUP BY n),
         hubs AS (
           SELECT n, k FROM deg,
             (VALUES (1), (2), (4), (8)) AS t(k)
           WHERE deg > k),
         nk AS (SELECT k, COUNT(*) AS n_nodes FROM hubs GROUP BY 1),
         ek AS (
           SELECT ha.k, COUNT(*) AS n_edges
           FROM e JOIN hubs ha ON e.a = ha.n
                JOIN hubs hb ON e.b = hb.n AND ha.k = hb.k
           GROUP BY 1)
         SELECT nk.k, CAST(n_nodes AS BIGINT) AS n_nodes,
                CAST(COALESCE(n_edges, 0) AS BIGINT) AS n_edges,
                CASE WHEN n_nodes > 1 THEN
                  (2 * COALESCE(n_edges, 0) * 2000000
                   + n_nodes * (n_nodes - 1))
                  // (2 * n_nodes * (n_nodes - 1)) / 1000000.0
                END AS phi
         FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY nk.k"""),

    // SEASONAL MANN–KENDALL — the trend test that survives
    // seasonality: the MK S statistic runs WITHIN each month-of-year
    // season (same-month year pairs only) and the per-season S and
    // variances sum. The (month, year) aggregate is grain-bounded
    // (≤ 12 × years rows), so the pair join is domain², never
    // corpus²; z uses the standard continuity correction.
    Q("time_seasonal_mk",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val my = orders(s, d)
          .groupBy(month(col("o_orderdate")).as("m"),
            year(col("o_orderdate")).as("y"))
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("rev"))
        val a = my.select(col("m"), col("y").as("y1"),
          col("rev").as("r1"))
        val b = my.select(col("m"), col("y").as("y2"),
          col("rev").as("r2"))
        val pairs = a.join(b, Seq("m")).filter(col("y2") > col("y1"))
          .select(col("m"),
            signum((col("r2") - col("r1")).cast("double")).cast("long")
              .as("sgn"))
        val perSeason = my.groupBy("m").agg(count(lit(1)).as("nm"))
        val sTot = pairs.agg(sum(col("sgn")).as("s_total"))
        val varTot = perSeason
          .agg(sum(expr("nm * (nm - 1) * (2 * nm + 5)")).as("v18"))
          .select((col("v18").cast("double") / 18.0).as("var_s"))
        sTot.crossJoin(varTot)
          .select(col("s_total"), round(col("var_s"), 4).as("var_s"),
            round(
              when(col("s_total") > 0,
                (col("s_total") - 1).cast("double") / sqrt(col("var_s")))
              .when(col("s_total") < 0,
                (col("s_total") + 1).cast("double") / sqrt(col("var_s")))
              .otherwise(lit(0.0)), 4).as("z"))
          .withColumn("trend_05", abs(col("z")) > 1.96)
      },
      """WITH my AS (
           SELECT month(o_orderdate) AS m, year(o_orderdate) AS y,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
           FROM orders GROUP BY 1, 2),
         pairs AS (
           SELECT a.m,
                  CAST(sign(CAST(b.rev - a.rev AS DOUBLE)) AS BIGINT)
                    AS sgn
           FROM my a JOIN my b ON a.m = b.m AND b.y > a.y),
         st AS (SELECT SUM(sgn) AS s_total FROM pairs),
         vt AS (SELECT CAST(SUM(nm * (nm - 1) * (2 * nm + 5)) AS DOUBLE)
                    / 18.0 AS var_s
                FROM (SELECT COUNT(*) AS nm FROM my GROUP BY m)),
         z AS (
           SELECT CAST(s_total AS BIGINT) AS s_total,
                  ROUND(var_s, 4) AS var_s,
                  ROUND(CASE WHEN s_total > 0
                      THEN CAST(s_total - 1 AS DOUBLE) / sqrt(var_s)
                    WHEN s_total < 0
                      THEN CAST(s_total + 1 AS DOUBLE) / sqrt(var_s)
                    ELSE 0.0 END, 4) AS z
           FROM st, vt)
         SELECT s_total, var_s, z, (abs(z) > 1.96) AS trend_05
         FROM z"""),

    // AUGMENTED DICKEY–FULLER (one lag) unit-root test on the daily
    // revenue series — the stationarity test with the OPPOSITE null
    // to time_kpss (ADF H0: unit root; KPSS H0: stationary — run
    // both, read the quadrant). Δy_t regressed on y_{t−1} and Δy_{t−1}
    // by the ml_ols_multi closed form: exact DECIMAL(38,0) cent
    // moments off the calendar-bounded day relation, centered normal
    // equations and the t-statistic evaluated as the IDENTICAL double
    // expression on both engines. Lags run over the day grain
    // (census: calendar-grain series).
    Q("time_adf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        val ser = daily
          .withColumn("ylag", lag("y", 1).over(w))
          .withColumn("dy", col("y") - col("ylag"))
          .withColumn("dylag", lag("dy", 1).over(w))
          .filter(col("dylag").isNotNull)
        val xd = col("ylag").cast(DecimalType(38, 0))
        val zd = col("dylag").cast(DecimalType(38, 0))
        val rd = col("dy").cast(DecimalType(38, 0))
        ser.agg(
            count(lit(1)).as("n"),
            sum("ylag").as("sx"), sum("dylag").as("sz"),
            sum("dy").as("sr"),
            sum(xd * col("ylag")).as("sxx"),
            sum(zd * col("dylag")).as("szz"),
            sum(rd * col("dy")).as("srr"),
            sum(xd * col("dylag")).as("sxz"),
            sum(xd * col("dy")).as("sxr"),
            sum(zd * col("dy")).as("szr"))
          .selectExpr("n",
            "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n AS cxx",
            "CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*sz/n AS czz",
            "CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)*sr/n AS crr",
            "CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)*sz/n AS cxz",
            "CAST(sxr AS DOUBLE) - CAST(sx AS DOUBLE)*sr/n AS cxr",
            "CAST(szr AS DOUBLE) - CAST(sz AS DOUBLE)*sr/n AS czr")
          .selectExpr("n", "cxx", "czz", "crr", "cxr", "czr",
            "cxx*czz - cxz*cxz AS det",
            "(czz*cxr - cxz*czr) / (cxx*czz - cxz*cxz) AS rho",
            "(cxx*czr - cxz*cxr) / (cxx*czz - cxz*cxz) AS phi")
          .selectExpr("n AS n_obs",
            "ROUND(rho, 6) + 0.0D AS rho",
            """ROUND(rho / sqrt(((crr - rho*cxr - phi*czr) / (n - 3))
                 * czz / det), 4) + 0.0D AS adf_t""",
            """rho / sqrt(((crr - rho*cxr - phi*czr) / (n - 3))
                 * czz / det) < -2.86D AS stationary_05""")
      },
      s"""WITH $DailyCentsCte,
         ser0 AS (
           SELECT day, y,
                  LAG(y, 1) OVER (ORDER BY day) AS ylag
           FROM daily),
         ser1 AS (
           SELECT day, y, ylag, y - ylag AS dy,
                  LAG(y - ylag, 1) OVER (ORDER BY day) AS dylag
           FROM ser0),
         ser AS (SELECT ylag, dy, dylag FROM ser1
                 WHERE dylag IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(ylag) AS BIGINT) AS sx,
                 CAST(SUM(dylag) AS BIGINT) AS sz,
                 CAST(SUM(dy) AS BIGINT) AS sr,
                 SUM(CAST(ylag AS HUGEINT) * ylag) AS sxx,
                 SUM(CAST(dylag AS HUGEINT) * dylag) AS szz,
                 SUM(CAST(dy AS HUGEINT) * dy) AS srr,
                 SUM(CAST(ylag AS HUGEINT) * dylag) AS sxz,
                 SUM(CAST(ylag AS HUGEINT) * dy) AS sxr,
                 SUM(CAST(dylag AS HUGEINT) * dy) AS szr
               FROM ser),
         c AS (SELECT n,
                 CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx/n AS cxx,
                 CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)*sz/n AS czz,
                 CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)*sr/n AS crr,
                 CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE)*sz/n AS cxz,
                 CAST(sxr AS DOUBLE) - CAST(sx AS DOUBLE)*sr/n AS cxr,
                 CAST(szr AS DOUBLE) - CAST(sz AS DOUBLE)*sr/n AS czr
               FROM m),
         f AS (SELECT n, cxx, czz, crr, cxr, czr,
                 cxx*czz - cxz*cxz AS det,
                 (czz*cxr - cxz*czr) / (cxx*czz - cxz*cxz) AS rho,
                 (cxx*czr - cxz*cxr) / (cxx*czz - cxz*cxz) AS phi
               FROM c)
         SELECT n AS n_obs,
                ROUND(rho, 6) + 0.0 AS rho,
                ROUND(rho / sqrt(((crr - rho*cxr - phi*czr) / (n - 3))
                  * czz / det), 4) + 0.0 AS adf_t,
                rho / sqrt(((crr - rho*cxr - phi*czr) / (n - 3))
                  * czz / det) < -2.86 AS stationary_05
         FROM f"""),

    // PERMUTATION ENTROPY (Bandt–Pompe, m=3) of the daily revenue
    // series — the model-free complexity gauge next to
    // time_runs_test/time_hurst_rs: classify every consecutive
    // day-triple into one of 6 ordinal patterns (ties resolved to the
    // earlier day, the standard convention) with exact integer
    // comparisons, then H = −Σ p·ln p / ln 6. The 6 pattern counts
    // are PIVOTED into one row so the entropy expression is a FIXED
    // left-to-right sum of named terms — no engine-ordered float
    // accumulation (the trap every other entropy key dodges with
    // per-term rounding). Windows run over the day grain.
    Q("time_permutation_entropy",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("c"))
        val w = Window.orderBy("day")
        val tri = daily
          .withColumn("b", lag("c", 1).over(w))
          .withColumn("a", lag("c", 2).over(w))
          .filter(col("a").isNotNull)
        val pat = tri.select(expr(
          """CASE WHEN a <= b AND b <= c THEN 0
                  WHEN a <= b AND a <= c THEN 1
                  WHEN a <= b THEN 2
                  WHEN a <= c THEN 3
                  WHEN b <= c THEN 4
                  ELSE 5 END""").as("p"))
        pat.agg(
            count(lit(1)).as("n"),
            sum(when(col("p") === 0, 1L).otherwise(0L)).as("c0"),
            sum(when(col("p") === 1, 1L).otherwise(0L)).as("c1"),
            sum(when(col("p") === 2, 1L).otherwise(0L)).as("c2"),
            sum(when(col("p") === 3, 1L).otherwise(0L)).as("c3"),
            sum(when(col("p") === 4, 1L).otherwise(0L)).as("c4"),
            sum(when(col("p") === 5, 1L).otherwise(0L)).as("c5"))
          .selectExpr("n", "c0", "c1", "c2", "c3", "c4", "c5",
            """ROUND(-(
                 CASE WHEN c0 > 0 THEN (CAST(c0 AS DOUBLE)/n)
                   * ln(CAST(c0 AS DOUBLE)/n) ELSE 0.0D END
               + CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE)/n)
                   * ln(CAST(c1 AS DOUBLE)/n) ELSE 0.0D END
               + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE)/n)
                   * ln(CAST(c2 AS DOUBLE)/n) ELSE 0.0D END
               + CASE WHEN c3 > 0 THEN (CAST(c3 AS DOUBLE)/n)
                   * ln(CAST(c3 AS DOUBLE)/n) ELSE 0.0D END
               + CASE WHEN c4 > 0 THEN (CAST(c4 AS DOUBLE)/n)
                   * ln(CAST(c4 AS DOUBLE)/n) ELSE 0.0D END
               + CASE WHEN c5 > 0 THEN (CAST(c5 AS DOUBLE)/n)
                   * ln(CAST(c5 AS DOUBLE)/n) ELSE 0.0D END
               ) / ln(6.0D), 6) + 0.0D AS perm_entropy""")
      },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))*100)
                    AS BIGINT) AS c
           FROM orders GROUP BY 1),
         tri AS (
           SELECT c,
                  LAG(c, 1) OVER (ORDER BY day) AS b,
                  LAG(c, 2) OVER (ORDER BY day) AS a
           FROM daily),
         pat AS (
           SELECT CASE WHEN a <= b AND b <= c THEN 0
                       WHEN a <= b AND a <= c THEN 1
                       WHEN a <= b THEN 2
                       WHEN a <= c THEN 3
                       WHEN b <= c THEN 4
                       ELSE 5 END AS p
           FROM tri WHERE a IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c0,
             CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
             CAST(SUM(CASE WHEN p = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2,
             CAST(SUM(CASE WHEN p = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS c3,
             CAST(SUM(CASE WHEN p = 4 THEN 1 ELSE 0 END) AS BIGINT)
               AS c4,
             CAST(SUM(CASE WHEN p = 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS c5
           FROM pat)
         SELECT n, c0, c1, c2, c3, c4, c5,
                ROUND(-(
                  CASE WHEN c0 > 0 THEN (CAST(c0 AS DOUBLE)/n)
                    * ln(CAST(c0 AS DOUBLE)/n) ELSE 0.0 END
                + CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE)/n)
                    * ln(CAST(c1 AS DOUBLE)/n) ELSE 0.0 END
                + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE)/n)
                    * ln(CAST(c2 AS DOUBLE)/n) ELSE 0.0 END
                + CASE WHEN c3 > 0 THEN (CAST(c3 AS DOUBLE)/n)
                    * ln(CAST(c3 AS DOUBLE)/n) ELSE 0.0 END
                + CASE WHEN c4 > 0 THEN (CAST(c4 AS DOUBLE)/n)
                    * ln(CAST(c4 AS DOUBLE)/n) ELSE 0.0 END
                + CASE WHEN c5 > 0 THEN (CAST(c5 AS DOUBLE)/n)
                    * ln(CAST(c5 AS DOUBLE)/n) ELSE 0.0 END
                ) / ln(6.0), 6) + 0.0 AS perm_entropy
         FROM m"""),

    // THEIL'S U2 — "does the lag-7 forecast beat the naive
    // tomorrow-equals-today rule": U2 = sqrt(Σ(y−ŷ₇)² / Σ(y−y₋₁)²),
    // <1 means the seasonal forecast adds information. Complements
    // time_backtest_naive's MAE with the standard relative-accuracy
    // statistic. Both squared-error sums are exact DECIMAL(38,0)/
    // HUGEINT integers over the calendar-bounded daily series
    // (common t ≥ 8 rows so numerator and denominator cover the SAME
    // days); the only float is one division + sqrt.
    Q("time_theil_u2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        val ser = daily
          .withColumn("f7", lag("y", 7).over(w))
          .withColumn("f1", lag("y", 1).over(w))
          .filter(col("f7").isNotNull)
        ser.agg(count(lit(1)).as("n_days"),
            sum((col("y") - col("f7")).cast(DecimalType(38, 0)) *
              (col("y") - col("f7"))).as("sse7"),
            sum((col("y") - col("f1")).cast(DecimalType(38, 0)) *
              (col("y") - col("f1"))).as("sse1"))
          .select(col("n_days"),
            (round(expr("sqrt(CAST(sse7 AS DOUBLE) / n_days)"), 2)
              + lit(0.0)).as("rmse_lag7_cents"),
            (round(expr("sqrt(CAST(sse1 AS DOUBLE) / n_days)"), 2)
              + lit(0.0)).as("rmse_naive_cents"),
            (round(expr(
              "sqrt(CAST(sse7 AS DOUBLE) / CAST(sse1 AS DOUBLE))"), 6)
              + lit(0.0)).as("theil_u2"),
            expr("CAST(sse7 AS DOUBLE) < CAST(sse1 AS DOUBLE)")
              .as("beats_naive"))
      },
      s"""WITH $DailyCentsCte,
         ser AS (
           SELECT y,
                  LAG(y, 7) OVER (ORDER BY day) AS f7,
                  LAG(y, 1) OVER (ORDER BY day) AS f1
           FROM daily),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                  SUM(CAST(y - f7 AS HUGEINT) * (y - f7)) AS sse7,
                  SUM(CAST(y - f1 AS HUGEINT) * (y - f1)) AS sse1
           FROM ser WHERE f7 IS NOT NULL)
         SELECT n_days,
                ROUND(sqrt(CAST(sse7 AS DOUBLE) / n_days), 2) + 0.0
                  AS rmse_lag7_cents,
                ROUND(sqrt(CAST(sse1 AS DOUBLE) / n_days), 2) + 0.0
                  AS rmse_naive_cents,
                ROUND(sqrt(CAST(sse7 AS DOUBLE) / CAST(sse1 AS DOUBLE)),
                  6) + 0.0 AS theil_u2,
                CAST(sse7 AS DOUBLE) < CAST(sse1 AS DOUBLE)
                  AS beats_naive
         FROM m"""),

    // 14-DAY RSI of the daily-revenue series — the bounded momentum
    // oscillator (simple-average variant; Wilder's recursive smoothing
    // would make every day depend on the whole history): trailing
    // gain/loss sums are EXACT BIGINT cents under a ROWS BETWEEN 13
    // PRECEDING window over the calendar-bounded daily grain, so
    // RSI = 100·G/(G+L) uses the half-up integer idiom (operand-
    // widened — G·2e6 can pass BIGINT at corpus daily volumes) and a
    // flat 14-day window (G+L = 0) is NULL on both engines. Only full
    // windows (rn ≥ 14) are emitted.
    Q("time_rsi",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        val w14 = Window.orderBy("day").rowsBetween(-13, 0)
        daily.withColumn("delta", col("y") - lag("y", 1).over(w))
          .filter(col("delta").isNotNull)
          .withColumn("rn", row_number().over(w))
          .withColumn("gsum", sum(greatest(col("delta"), lit(0L))).over(w14))
          .withColumn("lsum", sum(greatest(-col("delta"), lit(0L))).over(w14))
          .filter(col("rn") >= 14)
          .select(col("day"), col("y"),
            expr("""CASE WHEN gsum + lsum = 0 THEN NULL ELSE
                      (CAST(gsum AS DECIMAL(38,0)) * 2000000
                       + (gsum + lsum)) div (2 * (gsum + lsum))
                      / 10000.0D END""").as("rsi14"))
          .orderBy("day")
      },
      s"""WITH $DailyCentsCte,
         dd AS (SELECT day, y,
                  y - LAG(y, 1) OVER (ORDER BY day) AS delta
                FROM daily),
         f AS (SELECT * FROM dd WHERE delta IS NOT NULL),
         r AS (SELECT day, y,
                 ROW_NUMBER() OVER (ORDER BY day) AS rn,
                 SUM(GREATEST(delta, 0)) OVER (ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS gsum,
                 SUM(GREATEST(-delta, 0)) OVER (ORDER BY day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS lsum
               FROM f)
         SELECT day, y,
                CASE WHEN gsum + lsum = 0 THEN NULL ELSE
                  (CAST(gsum AS HUGEINT) * 2000000 + (gsum + lsum))
                  // (2 * (gsum + lsum)) / 10000.0 END AS rsi14
         FROM r WHERE rn >= 14 ORDER BY day"""),

    // LO–MACKINLAY VARIANCE RATIO (q=5, on first differences of the
    // daily series): VR ≈ 1 under a random walk, < 1 mean-reverting,
    // > 1 trending — the unit-root complement to time_adf/time_kpss
    // that measures HOW FAR from a random walk, not just whether. The
    // q-period difference telescopes to y_t − y_{t−5}, so both
    // variance terms are closed forms over exact BIGINT/DECIMAL(38,0)
    // cent moments computed on the SAME rows (t ≥ 6); VR and the
    // mean-reversion flag compare identical doubles (vnum vs vden) —
    // no rounded intermediate feeds a decision. Two lags + one
    // aggregate over the calendar-bounded grain; one row travels.
    Q("time_variance_ratio",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        daily.withColumn("d1", col("y") - lag("y", 1).over(w))
          .withColumn("d5", col("y") - lag("y", 5).over(w))
          .filter(col("d5").isNotNull)
          .agg(count(lit(1)).as("n_days"),
            sum("d1").as("sd"),
            sum(col("d1").cast(DecimalType(38, 0)) * col("d1")).as("sdd"),
            sum("d5").as("se5"),
            sum(col("d5").cast(DecimalType(38, 0)) * col("d5")).as("see"))
          .withColumn("vnum",
            expr("""CAST(see AS DOUBLE) * n_days
                    - CAST(se5 AS DOUBLE) * CAST(se5 AS DOUBLE)"""))
          .withColumn("vden",
            expr("""5.0D * (CAST(sdd AS DOUBLE) * n_days
                    - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))"""))
          .select(col("n_days"),
            expr("""CASE WHEN vden = 0.0D THEN NULL ELSE
                      ROUND(vnum / vden, 6) + 0.0D END""").as("vr5"),
            expr("""CASE WHEN vden = 0.0D THEN NULL ELSE
                      vnum < vden END""").as("mean_reverting"))
      },
      s"""WITH $DailyCentsCte,
         ser AS (SELECT y,
                   y - LAG(y, 1) OVER (ORDER BY day) AS d1,
                   y - LAG(y, 5) OVER (ORDER BY day) AS d5
                 FROM daily),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(d1) AS BIGINT) AS sd,
                 SUM(CAST(d1 AS HUGEINT) * d1) AS sdd,
                 CAST(SUM(d5) AS BIGINT) AS se5,
                 SUM(CAST(d5 AS HUGEINT) * d5) AS see
               FROM ser WHERE d5 IS NOT NULL),
         v AS (SELECT n_days,
                 CAST(see AS DOUBLE) * n_days
                   - CAST(se5 AS DOUBLE) * CAST(se5 AS DOUBLE) AS vnum,
                 5.0 * (CAST(sdd AS DOUBLE) * n_days
                   - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) AS vden
               FROM m)
         SELECT n_days,
                CASE WHEN vden = 0.0 THEN NULL ELSE
                  ROUND(vnum / vden, 6) + 0.0 END AS vr5,
                CASE WHEN vden = 0.0 THEN NULL ELSE
                  vnum < vden END AS mean_reverting
         FROM v"""),

    // TRUNCATED KATZ CENTRALITY (α = 1/2, 3 hops) over the same
    // undirected supplier↔part graph as graph_pagerank — link-mass
    // influence WITHOUT float iteration: walk counts W_l(v) =
    // Σ_{u→v} W_{l−1}(u) are EXACT integers (operand-widened — W₃ is
    // degree³-scale), and α = 1/2 makes the damped sum an exact
    // dyadic rational: katz = (4·W₁ + 2·W₂ + W₃)/8, one exponent
    // shift of a correctly-rounded integer→double cast on both
    // engines — no per-node float accumulation whose order an engine
    // picks (the pagerank-family parity risk this formulation
    // removes). Three hash joins on node ids, each shuffling on the
    // join key only.
    Q("graph_katz_centrality",
      (s, d) => {
        val e0 = lineitem(s, d)
          .select((col("l_suppkey").cast("bigint") * 2).as("a"),
            (col("l_partkey").cast("bigint") * 2 + 1).as("b"))
          .distinct()
        // (r14 note: a tracked cache of this edge relation was A/B'd —
        // ReuseExchange already dedups the distinct's exchanges, so the
        // cache only added a materialization barrier and measured
        // consistently SLOWER; left uncached.)
        // (r15 note: an eager localCheckpoint of this edge relation —
        // the eigenvector/hits/closeness win — was A/B'd here too and
        // measured consistently SLOWER (0.98/0.89/0.90 uncheckpointed
        // vs 1.27/1.13/1.19 s over 3 reversed-order alternations, flat
        // control): only 2 hop joins ride the subtree, so the
        // materialization barrier outweighs the plan truncation. Left
        // lazy.)
        val edges = e0.select(col("a").as("src"), col("b").as("dst"))
          .union(e0.select(col("b").as("src"), col("a").as("dst")))
        val w1 = edges.groupBy(col("dst").as("node"))
          .agg(count(lit(1)).cast(DecimalType(38, 0)).as("w1d"))
        def hop(prev: DataFrame, wcol: String, out: String) =
          edges.alias("e")
            .join(prev.alias("p"), col("e.src") === col("p.node"))
            .groupBy(col("e.dst").as("node"))
            .agg(sum(col(s"p.$wcol")).as(out))
        val w2 = hop(w1, "w1d", "w2d")
        val w3 = hop(w2, "w2d", "w3d")
        w1.join(w2, Seq("node"), "left").join(w3, Seq("node"), "left")
          .select(col("node"), col("w1d").cast("long").as("walks1"),
            expr("""CAST(4 * w1d
                      + 2 * coalesce(w2d, CAST(0 AS DECIMAL(38,0)))
                      + coalesce(w3d, CAST(0 AS DECIMAL(38,0)))
                    AS DOUBLE) / 8.0D""").as("katz"))
          .orderBy("node")
      },
      s"""WITH $BipartiteEdgesCte,
         w1 AS (SELECT dst AS node, CAST(COUNT(*) AS HUGEINT) AS w
                FROM edges GROUP BY 1),
         w2 AS (SELECT e.dst AS node, SUM(p.w) AS w
                FROM edges e JOIN w1 p ON p.node = e.src GROUP BY 1),
         w3 AS (SELECT e.dst AS node, SUM(p.w) AS w
                FROM edges e JOIN w2 p ON p.node = e.src GROUP BY 1)
         SELECT w1.node AS node, CAST(w1.w AS BIGINT) AS walks1,
                CAST(4 * w1.w + 2 * COALESCE(w2.w, 0)
                     + COALESCE(w3.w, 0) AS DOUBLE) / 8.0 AS katz
         FROM w1
           LEFT JOIN w2 ON w2.node = w1.node
           LEFT JOIN w3 ON w3.node = w1.node
         ORDER BY w1.node"""),

    // MASE — mean ABSOLUTE scaled error of the weekly seasonal-naive
    // forecast, the M4-competition headline metric and the absolute-
    // error twin of time_theil_u2's squared form (robust where one
    // outlier day dominates an SSE): both |error| sums are exact
    // operand-widened BIGINT cents over the SAME calendar-bounded
    // rows (t ≥ 8), so MASE = Σ|y−ŷ₇| / Σ|y−y₋₁| and both MAEs land
    // via the half-up integer idiom — no float in any path. A
    // constant series (denominator 0) is NULL on both engines.
    Q("time_mase",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        daily.withColumn("f7", lag("y", 7).over(w))
          .withColumn("f1", lag("y", 1).over(w))
          .filter(col("f7").isNotNull)
          .agg(count(lit(1)).as("n_days"),
            sum(abs(col("y") - col("f7")).cast(DecimalType(38, 0)))
              .as("sae7"),
            sum(abs(col("y") - col("f1")).cast(DecimalType(38, 0)))
              .as("sae1"))
          .select(col("n_days"),
            expr("""(sae7 * 200 + n_days) div (2 * n_days) / 100.0D""")
              .as("mae_lag7_cents"),
            expr("""(sae1 * 200 + n_days) div (2 * n_days) / 100.0D""")
              .as("mae_naive_cents"),
            expr("""CASE WHEN sae1 = 0 THEN NULL ELSE
                      (sae7 * 2000000 + sae1) div (2 * sae1)
                      / 1000000.0D END""").as("mase"),
            expr("""CASE WHEN sae1 = 0 THEN NULL ELSE
                      sae7 < sae1 END""").as("beats_naive"))
      },
      s"""WITH $DailyCentsCte,
         ser AS (SELECT y,
                   LAG(y, 7) OVER (ORDER BY day) AS f7,
                   LAG(y, 1) OVER (ORDER BY day) AS f1
                 FROM daily),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 SUM(CAST(abs(y - f7) AS HUGEINT)) AS sae7,
                 SUM(CAST(abs(y - f1) AS HUGEINT)) AS sae1
               FROM ser WHERE f7 IS NOT NULL)
         SELECT n_days,
                (sae7 * 200 + n_days) // (2 * n_days) / 100.0
                  AS mae_lag7_cents,
                (sae1 * 200 + n_days) // (2 * n_days) / 100.0
                  AS mae_naive_cents,
                CASE WHEN sae1 = 0 THEN NULL ELSE
                  (sae7 * 2000000 + sae1) // (2 * sae1)
                  / 1000000.0 END AS mase,
                CASE WHEN sae1 = 0 THEN NULL ELSE
                  sae7 < sae1 END AS beats_naive
         FROM m"""),

    // PETTITT CHANGE-POINT TEST — the rank-based (outlier-robust)
    // single-change detector next to time_changepoint's mean-split
    // and time_cusum's drift chart: U_t = Σ_{i≤t} (2·midrank_i −
    // (n+1)) is an EXACT integer cumulative (doubled midranks off the
    // value-rank window keep ties integral — the ml_auc_roc trick),
    // K = max|U_t| with the EARLIEST day as tie-break, and only the
    // final approximate p-value 2·exp(−6K²/(n³+n²)) touches a float —
    // one exp of identical exact-integer-derived doubles. Two windows
    // over the calendar-bounded daily grain + a TakeOrdered(1).
    Q("time_pettitt",
      (s, d) => {
        val daily = dailyCents(s, d)
        val tot = daily.agg(count(lit(1)).as("n"))
        val wv = Window.orderBy("y")
        val wt = Window.partitionBy("y")
        val wd = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("r2",
            lit(2) * rank().over(wv) + count(lit(1)).over(wt) - 1)
          .crossJoin(broadcast(tot))
          .withColumn("s", col("r2") - (col("n") + 1))
          .withColumn("u", sum("s").over(wd))
          .withColumn("rn", row_number().over(Window.orderBy("day")))
          .filter(col("rn") < col("n"))
          .orderBy(abs(col("u")).desc, col("day").asc)
          .limit(1)
          .select(col("n").as("n_days"), col("day").as("change_day"),
            abs(col("u")).as("k_stat"),
            expr("""ROUND(2.0D * exp(-6.0D * CAST(abs(u) AS DOUBLE)
                      * CAST(abs(u) AS DOUBLE)
                      / (CAST(n AS DOUBLE)*n*n + CAST(n AS DOUBLE)*n)),
                    6) + 0.0D""").as("p_value"))
      },
      s"""WITH $DailyCentsCte,
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
         r AS (SELECT day, y,
                 2 * RANK() OVER (ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY y) - 1 AS r2
               FROM daily),
         u AS (SELECT day, r2 - (n + 1) AS s, n,
                 SUM(r2 - (n + 1)) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS uu,
                 ROW_NUMBER() OVER (ORDER BY day) AS rn
               FROM r CROSS JOIN tot)
         SELECT n AS n_days, day AS change_day,
                CAST(abs(uu) AS BIGINT) AS k_stat,
                ROUND(2.0 * exp(-6.0 * CAST(abs(uu) AS DOUBLE)
                  * CAST(abs(uu) AS DOUBLE)
                  / (CAST(n AS DOUBLE)*n*n + CAST(n AS DOUBLE)*n)), 6)
                  + 0.0 AS p_value
         FROM u WHERE rn < n
         ORDER BY abs(uu) DESC, day ASC LIMIT 1"""),

    // AVERAGE NEIGHBOR DEGREE BY DEGREE CLASS — knn(k), the
    // FUNCTIONAL form of degree mixing that graph_assortativity
    // collapses to one coefficient (a falling knn(k) curve is
    // disassortative hub-periphery structure even when r ≈ 0): every
    // node of degree k has Σ neighbor degrees from ONE edges⋈degrees
    // join, so knn(k) = Σ sumdeg / (k·N_k) is an exact operand-
    // widened rational landing via the half-up idiom at 4 dp. One
    // hash join + two aggregates, all shuffling on node/degree keys;
    // the output is ≤ |distinct degrees| rows (O(√E)).
    Q("graph_avg_neighbor_degree",
      (s, d) => {
        val e0 = lineitem(s, d)
          .select((col("l_suppkey").cast("bigint") * 2).as("a"),
            (col("l_partkey").cast("bigint") * 2 + 1).as("b"))
          .distinct()
        // (r14 note: a tracked cache of this edge relation was A/B'd —
        // ReuseExchange already dedups the distinct's exchanges, so the
        // cache only added a materialization barrier and measured
        // consistently SLOWER; left uncached.)
        // (r15 note: an eager localCheckpoint of this edge relation —
        // the eigenvector/hits/closeness win — was A/B'd here too and
        // measured FLAT (1.41/1.47/1.27 uncheckpointed vs
        // 1.45/1.31/1.32 s over 3 reversed-order alternations, flat
        // control): one deg join + two aggregates is too shallow for
        // the materialization to pay. Left lazy.)
        val edges = e0.select(col("a").as("src"), col("b").as("dst"))
          .union(e0.select(col("b").as("src"), col("a").as("dst")))
        val deg = edges.groupBy(col("dst").as("node"))
          .agg(count(lit(1)).as("degv"))
        val per = edges.alias("e")
          .join(deg.alias("p"), col("e.src") === col("p.node"))
          .groupBy(col("e.dst").as("node"))
          .agg(sum(col("p.degv")).as("sumdeg"),
            count(lit(1)).as("degv"))
        per.groupBy(col("degv").as("degree"))
          .agg(count(lit(1)).as("n_nodes"),
            sum(col("sumdeg").cast(DecimalType(38, 0))).as("sd"))
          .select(col("degree"), col("n_nodes"),
            expr("""(2 * sd * 10000 + degree * n_nodes)
                    div (2 * CAST(degree AS DECIMAL(38,0)) * n_nodes)
                    / 10000.0D""").as("avg_neighbor_degree"))
          .orderBy("degree")
      },
      s"""WITH $BipartiteEdgesCte,
         deg AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS degv
                 FROM edges GROUP BY 1),
         per AS (SELECT e.dst AS node,
                   CAST(SUM(p.degv) AS HUGEINT) AS sumdeg,
                   CAST(COUNT(*) AS BIGINT) AS degv
                 FROM edges e JOIN deg p ON p.node = e.src GROUP BY 1)
         SELECT degv AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                (2 * SUM(sumdeg) * 10000
                 + degv * COUNT(*))
                // (2 * CAST(degv AS HUGEINT) * COUNT(*))
                / 10000.0 AS avg_neighbor_degree
         FROM per GROUP BY degv ORDER BY degree"""),

    // MULTIPLICATIVE day-of-week SEASONAL INDEX — the classical
    // ratio-to-moving-average decomposition (index 1.12 = "Fridays
    // run 12% above trend"), the multiplicative twin of
    // time_decompose_additive's level-subtraction. The daily series
    // is GAP-FILLED onto the min..max calendar spine first (a day
    // with no orders has TRUE revenue 0, and without the spine a
    // 7-ROW window on a gapped series spans repeated weekdays — the
    // review finding this rewrite closes), so every interior ROWS
    // ±3 window is a genuine 7-calendar-day week. Each day's ratio
    // to its centered 7-day MA is an exact half-up integer in 1e-6
    // units (7y/Σ₇ — the MA division never happens in float), and
    // the per-dow index is the half-up mean of those integer ratios
    // — order-free BIGINT sums end to end; an all-zero week (msum=0)
    // is NULL on both engines. ISO weekday keys (Spark weekday()+1 ≡
    // DuckDB isodow) pin the dow encoding across engines. One
    // broadcast spine join + one window pass over the calendar grain
    // + one 7-row rollup.
    Q("time_seasonal_index_mult",
      (s, d) => {
        val daily = dailyCents(s, d)
        val spine = daily.agg(min("day").as("lo"), max("day").as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 1 day)"))
            .as("day"))
        val full = spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("y"), lit(0L)).as("y"))
        val w7 = Window.orderBy("day").rowsBetween(-3, 3)
        full
          .withColumn("msum", sum("y").over(w7))
          .withColumn("mcnt", count(lit(1)).over(w7))
          .filter(col("mcnt") === 7)
          .withColumn("ratio6",
            expr("""CASE WHEN msum = 0 THEN NULL ELSE
                      (14 * CAST(y AS DECIMAL(38,0)) * 1000000 + msum)
                      div (2 * msum) END"""))
          .groupBy((weekday(col("day")) + 1).as("dow"))
          .agg(count(col("ratio6")).as("n_days"),
            sum(col("ratio6").cast(DecimalType(38, 0))).as("sr"))
          .select(col("dow"), col("n_days"),
            expr("""CASE WHEN n_days = 0 THEN NULL ELSE
                      (2 * sr + n_days) div (2 * n_days) / 1000000.0D
                    END""").as("seasonal_index"))
          .orderBy("dow")
      },
      s"""WITH $DailyCentsCte,
         b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
         spine AS (SELECT CAST(unnest(generate_series(lo, hi,
                     INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         fl AS (SELECT s.day AS day, COALESCE(d.y, 0) AS y
                FROM spine s LEFT JOIN daily d ON d.day = s.day),
         r AS (SELECT day, y,
                 SUM(y) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS msum,
                 COUNT(*) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS mcnt
               FROM fl),
         f AS (SELECT isodow(day) AS dow,
                 CASE WHEN msum = 0 THEN NULL ELSE
                   (14 * CAST(y AS HUGEINT) * 1000000 + msum)
                   // (2 * msum) END AS ratio6
               FROM r WHERE mcnt = 7),
         g AS (SELECT dow, CAST(COUNT(ratio6) AS BIGINT) AS n_days,
                 SUM(CAST(ratio6 AS HUGEINT)) AS sr
               FROM f GROUP BY 1)
         SELECT dow, n_days,
                CASE WHEN n_days = 0 THEN NULL ELSE
                  (2 * sr + n_days) // (2 * n_days) / 1000000.0
                END AS seasonal_index
         FROM g ORDER BY dow"""),

    // AR(1) HALF-LIFE — mean-reversion SPEED of the daily series
    // (how many days until a shock decays halfway), the actionable
    // number behind time_variance_ratio's "mean-reverting" verdict
    // and the short-memory complement to time_hurst_rs: φ is the
    // lag-1 OLS slope from exact DECIMAL(38,0) cent moments over the
    // (y₋₁, y) pairs (the ADF/VIF closed-form discipline), and
    // half-life = ln2/(−ln φ) touches libm twice on identical
    // doubles. Non-stationary or anti-persistent fits (φ ∉ (0,1))
    // and a degenerate spread (den ≤ 0) are NULL on both engines.
    // One lag window over the calendar grain + one aggregate.
    Q("time_ar1_halflife",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        daily.withColumn("x", lag("y", 1).over(w))
          .filter(col("x").isNotNull)
          .agg(count(lit(1)).as("n"),
            sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
            sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"))
          .withColumn("den",
            expr("""n * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"""))
          .withColumn("phi",
            expr("""CASE WHEN n < 2 OR den <= 0.0D THEN NULL ELSE
                    (n * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / den
                    END"""))
          .select(col("n").as("n_pairs"),
            expr("ROUND(phi, 6) + 0.0D").as("phi"),
            expr("""CASE WHEN phi IS NULL OR phi <= 0.0D
                         OR phi >= 1.0D THEN NULL ELSE
                    ROUND(ln(2.0D) / (-ln(phi)), 4) + 0.0D
                    END""").as("halflife_days"))
      },
      s"""WITH $DailyCentsCte,
         p AS (SELECT y, LAG(y, 1) OVER (ORDER BY day) AS x
               FROM daily),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx
               FROM p WHERE x IS NOT NULL),
         f AS (SELECT n,
                 CASE WHEN n < 2 OR n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
                   THEN NULL ELSE
                   (n * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 END AS phi
               FROM m)
         SELECT n AS n_pairs,
                ROUND(phi, 6) + 0.0 AS phi,
                CASE WHEN phi IS NULL OR phi <= 0.0 OR phi >= 1.0
                  THEN NULL ELSE
                  ROUND(ln(2.0) / (-ln(phi)), 4) + 0.0
                END AS halflife_days
         FROM f"""),

    // DURBIN–WATSON — the classic lag-1 serial-correlation statistic
    // on the mean-centered daily-revenue series (the regression-
    // residual check behind any OLS on this grain; centering only —
    // Δ of the centered series equals Δ of the raw one, so the
    // numerator needs no residual materialization at all). DW =
    // n·Σ(Δy)² / (n·Σy² − (Σy)²) entirely from exact operand-cast
    // DECIMAL(38,0) cent moments in ONE pass (the lag contributes
    // zero on the first day); the positive/negative-autocorrelation
    // verdict cross-multiplies the EXACT integers against the 1.5 /
    // 2.5 rule-of-thumb bounds — never a rounded DW. One lag window
    // over the calendar grain.
    Q("time_durbin_watson",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        daily.withColumn("f1", lag("y", 1).over(w))
          .agg(count(lit(1)).as("n"),
            sum("y").as("sy"),
            sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"),
            sum(when(col("f1").isNotNull,
              (col("y") - col("f1")).cast(DecimalType(38, 0))
                * (col("y") - col("f1"))).otherwise(lit(0)
              .cast(DecimalType(38, 0)))).as("sdd"))
          .withColumn("den",
            expr("CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
          .withColumn("num", expr("CAST(n AS DECIMAL(38,0)) * sdd"))
          .select(col("n").as("n_days"),
            expr("""CASE WHEN n < 2 OR den <= 0 THEN NULL ELSE
                    ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4)
                    + 0.0D END""").as("dw"),
            expr("""CASE WHEN n < 2 OR den <= 0 THEN NULL
                    WHEN num * 2 < den * 3 THEN 'positive'
                    WHEN num * 2 > den * 5 THEN 'negative'
                    ELSE 'none' END""").as("autocorrelation"))
      },
      s"""WITH $DailyCentsCte,
         ser AS (SELECT y, LAG(y, 1) OVER (ORDER BY day) AS f1
                 FROM daily),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 SUM(CAST(y AS HUGEINT) * y) AS syy,
                 SUM(CASE WHEN f1 IS NOT NULL THEN
                   CAST(y - f1 AS HUGEINT) * (y - f1)
                   ELSE CAST(0 AS HUGEINT) END) AS sdd
               FROM ser),
         f AS (SELECT n,
                 CAST(n AS HUGEINT) * syy
                   - CAST(sy AS HUGEINT) * sy AS den,
                 CAST(n AS HUGEINT) * sdd AS num
               FROM m)
         SELECT n AS n_days,
                CASE WHEN n < 2 OR den <= 0 THEN NULL ELSE
                  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4)
                  + 0.0 END AS dw,
                CASE WHEN n < 2 OR den <= 0 THEN NULL
                  WHEN num * 2 < den * 3 THEN 'positive'
                  WHEN num * 2 > den * 5 THEN 'negative'
                  ELSE 'none' END AS autocorrelation
         FROM f"""),

    // sMAPE — the symmetric percentage-error companion to time_mase /
    // time_wape on the same weekly-seasonal-naive backtest: each
    // day's 2|y−f|/(y+f) lands as a HALF-UP 1e-6-unit integer (the
    // per-term rational is the documented ROUND(double) trap — both
    // engines stay in integer arithmetic), the term sum is an
    // order-free BIGINT, and the final percent is one more half-up.
    // Lag-7 and the naive lag-1 side by side — the seasonal forecast
    // must beat naive on sMAPE too, not just MASE. One lag window
    // over the calendar grain.
    Q("time_smape",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w = Window.orderBy("day")
        daily.withColumn("f7", lag("y", 7).over(w))
          .withColumn("f1", lag("y", 1).over(w))
          .filter(col("f7").isNotNull)
          .withColumn("t7",
            expr("""CASE WHEN y + f7 = 0 THEN 0 ELSE
                    (4 * CAST(abs(y - f7) AS DECIMAL(38,0)) * 1000000
                     + (y + f7)) div (2 * (y + f7)) END"""))
          .withColumn("t1",
            expr("""CASE WHEN y + f1 = 0 THEN 0 ELSE
                    (4 * CAST(abs(y - f1) AS DECIMAL(38,0)) * 1000000
                     + (y + f1)) div (2 * (y + f1)) END"""))
          .agg(count(lit(1)).as("n_days"),
            sum("t7").as("s7"), sum("t1").as("s1"))
          .select(col("n_days"),
            expr("""(2 * CAST(s7 AS DECIMAL(38,0)) + n_days)
                    div (2 * n_days) / 10000.0D""").as("smape_lag7_pct"),
            expr("""(2 * CAST(s1 AS DECIMAL(38,0)) + n_days)
                    div (2 * n_days) / 10000.0D""").as("smape_naive_pct"),
            expr("s7 < s1").as("beats_naive"))
      },
      s"""WITH $DailyCentsCte,
         ser AS (SELECT y,
                   LAG(y, 7) OVER (ORDER BY day) AS f7,
                   LAG(y, 1) OVER (ORDER BY day) AS f1
                 FROM daily),
         terms AS (
           SELECT
             CASE WHEN y + f7 = 0 THEN 0 ELSE
               CAST((4 * CAST(abs(y - f7) AS HUGEINT) * 1000000
                     + (y + f7)) // (2 * (y + f7)) AS BIGINT) END AS t7,
             CASE WHEN y + f1 = 0 THEN 0 ELSE
               CAST((4 * CAST(abs(y - f1) AS HUGEINT) * 1000000
                     + (y + f1)) // (2 * (y + f1)) AS BIGINT) END AS t1
           FROM ser WHERE f7 IS NOT NULL),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(t7) AS BIGINT) AS s7,
                 CAST(SUM(t1) AS BIGINT) AS s1
               FROM terms)
         SELECT n_days,
                (2 * CAST(s7 AS HUGEINT) + n_days) // (2 * n_days)
                  / 10000.0 AS smape_lag7_pct,
                (2 * CAST(s1 AS HUGEINT) + n_days) // (2 * n_days)
                  / 10000.0 AS smape_naive_pct,
                s7 < s1 AS beats_naive
         FROM m"""),

    // STOCHASTIC OSCILLATOR %K/%D — where today sits inside the
    // trailing 14-day range (the range-position momentum lens next to
    // time_rsi's gain/loss ratio): %K = 100·(y−min₁₄)/(max₁₄−min₁₄)
    // as a HALF-UP 1e-4-percent integer (the numerator is
    // operand-cast — cents×1e6 overflows LONG at ~1e13 daily cents),
    // %D = the half-up mean of three trailing %K integers (null
    // propagates through partial windows on both engines). Three ROWS
    // windows over the calendar grain; output is day-grain bounded.
    Q("time_stochastic_k",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w14 = Window.orderBy("day").rowsBetween(-13, 0)
        daily
          .withColumn("mn", min("y").over(w14))
          .withColumn("mx", max("y").over(w14))
          .withColumn("cnt", count(lit(1)).over(w14))
          .withColumn("k4",
            expr("""CASE WHEN cnt < 14 OR mx = mn THEN NULL ELSE
                    (2 * CAST(y - mn AS DECIMAL(38,0)) * 1000000
                     + (mx - mn)) div (2 * (mx - mn)) END"""))
          .withColumn("d4",
            expr("""(2 * (k4 + lag(k4, 1) OVER (ORDER BY day)
                          + lag(k4, 2) OVER (ORDER BY day)) + 3)
                    div 6"""))
          .filter(col("k4").isNotNull)
          .select(col("day"),
            expr("CAST(k4 AS DOUBLE) / 10000.0D").as("k_pct"),
            expr("CAST(d4 AS DOUBLE) / 10000.0D").as("d_pct"))
          .orderBy("day")
      },
      s"""WITH $DailyCentsCte,
         r AS (
           SELECT day, y,
                  MIN(y) OVER w AS mn, MAX(y) OVER w AS mx,
                  COUNT(*) OVER w AS cnt
           FROM daily
           WINDOW w AS (ORDER BY day
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         k AS (
           SELECT day,
                  CASE WHEN cnt < 14 OR mx = mn THEN NULL ELSE
                    (2 * CAST(y - mn AS HUGEINT) * 1000000
                     + (mx - mn)) // (2 * (mx - mn)) END AS k4
           FROM r),
         kd AS (
           SELECT day, k4,
                  (2 * (k4 + LAG(k4, 1) OVER (ORDER BY day)
                        + LAG(k4, 2) OVER (ORDER BY day)) + 3) // 6
                    AS d4
           FROM k)
         SELECT day, CAST(k4 AS DOUBLE) / 10000.0 AS k_pct,
                CAST(d4 AS DOUBLE) / 10000.0 AS d_pct
         FROM kd WHERE k4 IS NOT NULL ORDER BY day"""),

    // NELSON–AALEN — the cumulative-HAZARD twin of time_survival_km's
    // product-limit curve (the additive estimator variance analysis
    // and hazard-ratio models actually consume): same
    // first-click→first-purchase risk sets, per-day d/n terms pinned
    // to DECIMAL(18,12) BEFORE the cumulative sum (the KM lnterm
    // idiom — order-free, engine-identical), H(t) cumulative, and
    // exp(−H) alongside as the NA-based survival approximation the
    // KM curve cross-checks. One day-grain window chain.
    Q("event_nelson_aalen",
      (s, d) => {
        val users = firstClickBuy(s, d)
          .select(col("user_id"),
            when(col("dp").isNotNull && col("dp") >= col("d0"),
              col("dp") - col("d0")).as("t_event"))
        val tot = users.agg(count(lit(1)).as("n_total"))
        val byDay = users.filter(col("t_event").isNotNull)
          .groupBy(col("t_event").as("t"))
          .agg(count(lit(1)).as("d_events"))
        val wc = Window.orderBy("t")
        byDay.crossJoin(broadcast(tot))
          .withColumn("prior",
            coalesce(sum(col("d_events"))
              .over(wc.rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .withColumn("n_risk", col("n_total") - col("prior"))
          .withColumn("hterm",
            expr("""CAST(CAST(d_events AS DOUBLE) / n_risk
                    AS DECIMAL(18,12))"""))
          .withColumn("hcum",
            sum(col("hterm"))
              .over(wc.rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("t").as("day"), col("n_risk"), col("d_events"),
            expr("ROUND(CAST(hcum AS DOUBLE), 6)").as("cum_hazard"),
            expr("ROUND(exp(-CAST(hcum AS DOUBLE)), 6)")
              .as("na_survival"))
          .orderBy("day")
      },
      s"""WITH $FirstClickBuyCte,
         users AS (
           SELECT fc.user_id,
                  CASE WHEN dp IS NOT NULL AND dp >= d0
                    THEN dp - d0 END AS t_event
           FROM fc LEFT JOIN fb ON fb.user_id = fc.user_id),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM users),
         byday AS (
           SELECT t_event AS t, CAST(COUNT(*) AS BIGINT) AS d_events
           FROM users WHERE t_event IS NOT NULL GROUP BY 1),
         r AS (
           SELECT t, d_events, n_total,
                  CAST(n_total - COALESCE(SUM(d_events) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n_risk
           FROM byday CROSS JOIN tot),
         h AS (
           SELECT t, n_risk, d_events,
                  SUM(CAST(CAST(d_events AS DOUBLE) / n_risk
                    AS DECIMAL(18,12))) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS hcum
           FROM r)
         SELECT t AS day, n_risk, d_events,
                ROUND(CAST(hcum AS DOUBLE), 6) AS cum_hazard,
                ROUND(exp(-CAST(hcum AS DOUBLE)), 6) AS na_survival
         FROM h ORDER BY day"""),

    // LOG-RANK TEST — the two-sample survival comparison the KM /
    // Nelson–Aalen curves beg for (do even- and odd-id users convert
    // at the same hazard?): per-day hypergeometric expectation
    // E₁ = d·n₁/n and variance d·n₁·n₀(n−d)/(n²(n−1)) over the SHARED
    // risk sets, each term quantized to DECIMAL(24,12) BEFORE the
    // cross-day sums (order-free — the NA idiom), χ² = (ΣO−E)²/ΣV
    // from the two decimal sums. Same event-day grain window chain as
    // the survival siblings.
    Q("event_logrank",
      (s, d) => {
        val users = firstClickBuy(s, d)
          .select((col("user_id") % 2).as("arm"),
            when(col("dp").isNotNull && col("dp") >= col("d0"),
              col("dp") - col("d0")).as("t_event"))
        val tot = users.agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("na1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na0"))
        val byDay = users.filter(col("t_event").isNotNull)
          .groupBy(col("t_event").as("t"))
          .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("d1"),
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("d0e"))
        val wc = Window.orderBy("t")
        byDay.crossJoin(broadcast(tot))
          .withColumn("p1", coalesce(sum(col("d1"))
            .over(wc.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn("p0", coalesce(sum(col("d0e"))
            .over(wc.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn("n1", col("na1") - col("p1"))
          .withColumn("n0", col("na0") - col("p0"))
          .withColumn("nn", col("n1") + col("n0"))
          .withColumn("dd", col("d1") + col("d0e"))
          .withColumn("oe",
            expr("""CAST(d1 - CAST(dd AS DOUBLE) * n1 / nn
                    AS DECIMAL(24,12))"""))
          .withColumn("vv",
            expr("""CASE WHEN nn < 2 THEN CAST(0 AS DECIMAL(24,12))
                    ELSE CAST(CAST(dd AS DOUBLE) * n1 * n0 * (nn - dd)
                         / (CAST(nn AS DOUBLE) * nn * (nn - 1))
                         AS DECIMAL(24,12)) END"""))
          .agg(max("na1").as("n_treat"), max("na0").as("n_ctrl"),
            sum("d1").as("observed_treat"),
            sum(expr("CAST(CAST(dd AS DOUBLE) * n1 / nn" +
              " AS DECIMAL(24,12))")).as("e1"),
            sum("oe").as("oes"), sum("vv").as("vs"))
          .select(col("n_treat"), col("n_ctrl"), col("observed_treat"),
            expr("ROUND(CAST(e1 AS DOUBLE), 4) + 0.0D")
              .as("expected_treat"),
            expr("""CASE WHEN CAST(vs AS DOUBLE) <= 0.0D THEN NULL
                    ELSE ROUND(CAST(oes AS DOUBLE) * CAST(oes AS DOUBLE)
                         / CAST(vs AS DOUBLE), 4) + 0.0D END""")
              .as("chi2"),
            expr(s"""CASE WHEN CAST(vs AS DOUBLE) <= 0.0D THEN NULL
                    ELSE CAST(oes AS DOUBLE) * CAST(oes AS DOUBLE)
                         / CAST(vs AS DOUBLE)
                         > ${StatCrit.Chi2_95_Df1}D END""")
              .as("significant"))
      },
      s"""WITH $FirstClickBuyCte,
         users AS (
           SELECT fc.user_id % 2 AS arm,
                  CASE WHEN dp IS NOT NULL AND dp >= d0
                    THEN dp - d0 END AS t_event
           FROM fc LEFT JOIN fb ON fb.user_id = fc.user_id),
         tot AS (
           SELECT
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS na1,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na0
           FROM users),
         byday AS (
           SELECT t_event AS t,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS d0e
           FROM users WHERE t_event IS NOT NULL GROUP BY 1),
         r AS (
           SELECT t, d1, d0e, na1, na0,
                  CAST(na1 - COALESCE(SUM(d1) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n1,
                  CAST(na0 - COALESCE(SUM(d0e) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS n0
           FROM byday CROSS JOIN tot),
         terms AS (
           SELECT na1, na0, d1,
                  CAST(CAST(d1 + d0e AS DOUBLE) * n1 / (n1 + n0)
                    AS DECIMAL(24,12)) AS e1t,
                  CAST(d1 - CAST(d1 + d0e AS DOUBLE) * n1 / (n1 + n0)
                    AS DECIMAL(24,12)) AS oe,
                  CASE WHEN n1 + n0 < 2 THEN CAST(0 AS DECIMAL(24,12))
                  ELSE CAST(CAST(d1 + d0e AS DOUBLE) * n1 * n0
                       * (n1 + n0 - d1 - d0e)
                       / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0)
                          * (n1 + n0 - 1))
                       AS DECIMAL(24,12)) END AS vv
           FROM r),
         m AS (
           SELECT MAX(na1) AS n_treat, MAX(na0) AS n_ctrl,
                  CAST(SUM(d1) AS BIGINT) AS observed_treat,
                  SUM(e1t) AS e1, SUM(oe) AS oes, SUM(vv) AS vs
           FROM terms)
         SELECT n_treat, n_ctrl, observed_treat,
                ROUND(CAST(e1 AS DOUBLE), 4) + 0.0 AS expected_treat,
                CASE WHEN CAST(vs AS DOUBLE) <= 0.0 THEN NULL
                ELSE ROUND(CAST(oes AS DOUBLE) * CAST(oes AS DOUBLE)
                     / CAST(vs AS DOUBLE), 4) + 0.0 END AS chi2,
                CASE WHEN CAST(vs AS DOUBLE) <= 0.0 THEN NULL
                ELSE CAST(oes AS DOUBLE) * CAST(oes AS DOUBLE)
                     / CAST(vs AS DOUBLE) > """ +
        s"${StatCrit.Chi2_95_Df1} END AS significant FROM m"),

    // BOLLINGER BANDS — 20-day mean ± 2σ envelope with EXACT breach
    // flags: the band comparison y ≷ ma ± 2σ is cross-multiplied into
    // pure integers ((ny−S)²(n−1) ≷ 4n(nQ−S²)) so a day's
    // above/below/inside verdict can never flip on a rounding
    // boundary; the %B position is the only double (identical
    // expression per engine, rounded once). One ROWS window over the
    // calendar grain; output is day-grain bounded.
    Q("time_bollinger",
      (s, d) => {
        val daily = dailyCents(s, d)
        val w20 = Window.orderBy("day").rowsBetween(-19, 0)
        daily
          .withColumn("n", count(lit(1)).over(w20))
          .withColumn("ss", sum("y").over(w20))
          .withColumn("qq",
            sum(col("y").cast(DecimalType(38, 0)) * col("y")).over(w20))
          .filter(col("n") === 20)
          .withColumn("dev",
            expr("CAST(20 * CAST(y AS DECIMAL(38,0)) - ss AS DECIMAL(38,0))"))
          .withColumn("spread",
            expr("""80 * (20 * qq - CAST(ss AS DECIMAL(38,0)) * ss)"""))
          .select(col("day"),
            expr("""CAST((2 * CAST(ss AS DECIMAL(38,0)) + 20)
                    div 40 AS BIGINT)""").as("ma_cents"),
            expr("""CASE
                    WHEN dev > 0 AND dev * dev * 19 > spread
                      THEN 'above'
                    WHEN dev < 0 AND dev * dev * 19 > spread
                      THEN 'below'
                    ELSE 'inside' END""").as("band"),
            expr("""CASE WHEN spread <= 0 THEN NULL ELSE
                    ROUND(CAST(dev AS DOUBLE)
                          / (2.0D * sqrt(CAST(spread AS DOUBLE)
                                         / 19.0D)) + 0.5D, 4)
                    + 0.0D END""").as("pct_b"))
          .orderBy("day")
      },
      s"""WITH $DailyCentsCte,
         r AS (
           SELECT day, y,
                  COUNT(*) OVER w AS n,
                  SUM(y) OVER w AS ss,
                  SUM(CAST(y AS HUGEINT) * y) OVER w AS qq
           FROM daily
           WINDOW w AS (ORDER BY day
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         f AS (
           SELECT day, y, ss, qq,
                  20 * CAST(y AS HUGEINT) - ss AS dev,
                  80 * (20 * qq - CAST(ss AS HUGEINT) * ss) AS spread
           FROM r WHERE n = 20)
         SELECT day,
                CAST((2 * CAST(ss AS HUGEINT) + 20) // 40 AS BIGINT)
                  AS ma_cents,
                CASE
                  WHEN dev > 0 AND dev * dev * 19 > spread THEN 'above'
                  WHEN dev < 0 AND dev * dev * 19 > spread THEN 'below'
                  ELSE 'inside' END AS band,
                CASE WHEN spread <= 0 THEN NULL ELSE
                  ROUND(CAST(dev AS DOUBLE)
                        / (2.0 * sqrt(CAST(spread AS DOUBLE) / 19.0))
                        + 0.5, 4) + 0.0 END AS pct_b
         FROM f ORDER BY day"""),

    // EIGENVECTOR CENTRALITY — the pure adjacency-spectrum influence
    // score next to pagerank (damped) / hits (bipartite-split) / katz
    // (truncated): three power-iteration rounds over the
    // supplier↔part graph ENTIRELY in integer units — x⁰ = 1 per
    // node, x_v ← Σ x_u over in-edges (operand-cast, UNNORMALIZED:
    // x ≤ deg³ fits DECIMAL(38,0) to deg ≈ 2·10⁸), then ONE final
    // rescale to 10¹² units by positive-operand integer division
    // (floor of positives is identical in both engines, no float
    // iteration drift). Output = top-20 via TakeOrdered; every
    // iteration is one key-partitioned join+aggregate, the bipartite
    // edge relation shuffles once per round.
    Q("graph_eigenvector_centrality",
      (s, d) => {
        val e0 = lineitem(s, d)
          .select((col("l_suppkey").cast("bigint") * 2).as("a"),
            (col("l_partkey").cast("bigint") * 2 + 1).as("b"))
          .distinct()
        // (r14 note: a tracked cache of this edge relation was A/B'd —
        // ReuseExchange already dedups the distinct's exchanges, so the
        // cache only added a materialization barrier and measured
        // consistently SLOWER; left uncached.)
        // r15 (verdict item 1): eager localCheckpoint instead — unlike
        // a cache it TRUNCATES the logical plan, so the 3 iterate
        // joins + the final total/rescale no longer carry (and AQE no
        // longer replans) the scan+distinct subtree every round; the
        // sim_search_mmr lesson.
        // localCheckpoint keeps the blocks executor-local: cheaper than a
        // reliable checkpoint() but lost on executor failure, which then
        // fails the query instead of recomputing the lineage.
        val edges = e0.select(col("a").as("src"), col("b").as("dst"))
          .union(e0.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint(true)
        // iterate UNNORMALIZED (x ≤ deg³ fits DECIMAL(38,0) to
        // deg ≈ 2·10⁸) and normalize ONCE at the end: a per-round
        // Σy reference would double the plan every iteration (the
        // Graph.pageRank lesson) — measured 6.5 s → the pagerank
        // shape after this change
        var x = edges.select(col("src").as("node")).distinct()
          .withColumn("xv", lit(1L).cast(DecimalType(38, 0)))
        for (_ <- 1 to 3) {
          x = edges
            .join(x, col("src") === col("node"))
            .groupBy(col("dst").as("node"))
            .agg(sum("xv").as("xv"))
        }
        val tot = x.agg(sum("xv").as("xtot"))
        x.crossJoin(tot)
          .select(col("node"),
            // Guard the 1e12 rescale's DECIMAL(38,0) headroom: the
            // multiply needs xv < 1e26 (xv·1e12 must stay ≤ 1e38−1,
            // the 38-digit cap — xv = 1e26 exactly already overflows).
            // Spark's non-ANSI DECIMAL overflow yields NULL silently
            // while DuckDB's HUGEINT (~1.7e38) still holds, so outside
            // the deg≈2e8 envelope the engines would diverge SILENTLY —
            // raise_error makes the breach loud instead (r10 ADVICE).
            expr("""CASE WHEN xv >= CAST(
                      '100000000000000000000000000' AS DECIMAL(38,0))
                    THEN CAST(raise_error(
                      'eigenvector iterate exceeds 1e12-rescale ' ||
                      'headroom — normalize before scaling')
                      AS BIGINT)
                    ELSE CAST(xv * 1000000000000 div xtot AS BIGINT)
                    END""").as("centrality_e12"))
          .orderBy(desc("centrality_e12"), col("node")).limit(20)
      }, {
        val iters = (1 to 3).map { i =>
          s"""x$i AS (
               SELECT e.dst AS node, SUM(x.xv) AS xv
               FROM edges e JOIN x${i - 1} x ON x.node = e.src
               GROUP BY 1)"""
        }.mkString(",\n")
        s"""WITH $BipartiteEdgesCte,
            x0 AS (
              SELECT DISTINCT src AS node, CAST(1 AS HUGEINT) AS xv
              FROM edges),
            $iters
            SELECT node,
                   CAST(xv * 1000000000000
                        // (SELECT SUM(xv) FROM x3) AS BIGINT)
                     AS centrality_e12
            FROM x3
            ORDER BY centrality_e12 DESC, node LIMIT 20"""
      }),
  )
}
