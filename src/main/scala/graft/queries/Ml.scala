package graft.queries

import graft.Tables._
import graft.queries.Fragments._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-pipeline / advanced-analytics batch (SURVEY.md §2
  * [ADDED r5], third batch): mergeable-sketch two-phase aggregation,
  * deterministic negative sampling, unigram-LM document quality scoring,
  * interval merge/coverage (gaps-and-islands), Adamic-Adar link
  * prediction on the co-order graph, rolling window statistics from
  * exact sums, and rank-distribution windows.
  *
  * Parity rules as elsewhere (SURVEY §7.4 R3/R4): integer/decimal math
  * wherever the value crosses the oracle hash, doubles only through
  * identical closed-form expressions rounded identically in both
  * engines, md5 as the only cross-engine hash, every output totally
  * ordered.
  */
object Ml {

  val qs: Seq[Q] = Seq(

    // Two-phase MERGEABLE sketch aggregation — the canonical 100 TB
    // distinct-count shape: build per-(nation, segment) HLL sketches
    // (Spark's DataSketches HllSketch, lgK=14), then MERGE the sketch
    // bytes per nation with hll_union_agg and estimate. At scale the
    // partial sketches are built map-side per file split and only
    // ~16 KB of sketch bytes per group cross the wire — never raw ids;
    // re-aggregating a day→month→year hierarchy reuses the same stored
    // partials instead of rescanning the corpus. The oracle pins the
    // EXACT distinct (c_custkey is the PK, so Σ per-segment exacts is
    // the per-nation exact) and the sketch estimate is asserted within
    // 5% — same bound pattern as agg_approx_distinct.
    Q("agg_sketch_merge",
      (s, d) => {
        val perSeg = customer(s, d)
          .groupBy(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("seg"))
          .agg(expr("hll_sketch_agg(c_custkey, 14)").as("sk"),
            count(lit(1)).as("exact_seg"))
        perSeg.groupBy("nation")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
              .as("approx"),
            sum(col("exact_seg")).as("exact_customers"))
          .select(col("nation"), col("exact_customers"),
            (abs(col("approx") - col("exact_customers")) <=
              col("exact_customers").cast("double") * 0.05)
              .as("within_tol"))
          .orderBy("nation")
      },
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
                COUNT(DISTINCT c_custkey) AS exact_customers,
                TRUE AS within_tol
         FROM customer GROUP BY 1 ORDER BY nation"""),

    // Deterministic negative sampling — the recommender / contrastive-
    // training staple: for every customer, k=3 parts they have NEVER
    // ordered, drawn from the 50 most-ordered parts, ranked by an
    // md5-derived per-(user,part) score so the sample is reproducible
    // run-to-run and engine-to-engine (no rand()). Shape at 100 TB:
    // the candidate catalog is a broadcast literal (top-N popular
    // items), the positives anti-join is semi-filtered to catalog
    // items first (tiny), and the only wide exchange is the per-user
    // rank window on c_custkey.
    Q("sample_negative",
      (s, d) => {
        val li = lineitem(s, d)
        val topParts = li.groupBy(col("l_partkey").as("pk"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), col("pk")).limit(50)
          .select("pk")
        val positives = li
          .join(broadcast(topParts), li("l_partkey") === topParts("pk"))
          .join(orders(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_custkey")), "l_orderkey")
          .select(col("o_custkey").as("c"), col("pk")).distinct()
        val cand = customer(s, d).select(col("c_custkey").as("c"))
          .crossJoin(broadcast(topParts))
          .join(positives, Seq("c", "pk"), "left_anti")
          .withColumn("score",
            md5(concat_ws("#", col("c"), col("pk"))))
        val w = Window.partitionBy("c").orderBy(col("score"), col("pk"))
        cand.withColumn("neg_rank", row_number().over(w))
          .filter(col("neg_rank") <= 3)
          .select(col("c").as("c_custkey"), col("neg_rank"),
            col("pk").as("p_partkey"))
          .orderBy("c_custkey", "neg_rank")
      },
      """WITH topp AS (
           SELECT l_partkey AS pk, COUNT(*) AS cnt FROM lineitem
           GROUP BY 1 ORDER BY cnt DESC, pk LIMIT 50),
         pos AS (
           SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS pk
           FROM lineitem l
           JOIN topp t ON l.l_partkey = t.pk
           JOIN orders o ON l.l_orderkey = o.o_orderkey),
         cand AS (
           SELECT cu.c_custkey AS c, t.pk,
                  md5(CAST(cu.c_custkey AS VARCHAR) || '#' ||
                      CAST(t.pk AS VARCHAR)) AS score
           FROM customer cu CROSS JOIN topp t
           WHERE NOT EXISTS (SELECT 1 FROM pos
                             WHERE pos.c = cu.c_custkey AND pos.pk = t.pk)),
         r AS (
           SELECT c, pk, ROW_NUMBER() OVER (PARTITION BY c
                    ORDER BY score, pk) AS neg_rank
           FROM cand)
         SELECT c AS c_custkey, neg_rank, pk AS p_partkey
         FROM r WHERE neg_rank <= 3
         ORDER BY c_custkey, neg_rank"""),

    // Unigram corpus language-model score per document — the CCNet-
    // style quality filter: score(doc) = mean over tokens of
    // log(corpus_count(w) / corpus_total), higher = more "typical"
    // text. Every token is by construction in the corpus vocabulary,
    // so no smoothing term is needed and the probabilities are exact
    // rationals; the only doubles are the identical LN expressions
    // rounded at 6dp (the text_idf_score precedent). Shape: one token
    // exchange to build the count table, one broadcast of the (tiny)
    // scalar total, one doc_id aggregate.
    Q("text_lm_score",
      (s, d) => {
        val tok = documents(s, d).select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
        val total = tok.agg(count(lit(1)).cast("double").as("t"))
        tok.join(cnt, "w").crossJoin(broadcast(total))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(avg(log(col("c") / col("t"))), 6).as("lm_score"))
          .orderBy("doc_id")
      },
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
         total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM tok)
         SELECT doc_id, COUNT(*) AS n_tokens,
                ROUND(AVG(LN(c / t)), 6) AS lm_score
         FROM tok JOIN cnt USING (w) CROSS JOIN total
         GROUP BY doc_id ORDER BY doc_id"""),

    // Merge overlapping intervals per user (gaps-and-islands over real
    // intervals, not just adjacent days): each event claims
    // [t, t+300 s); overlapping/touching claims fuse into islands;
    // emit per-user island count and total covered seconds. A new
    // island starts exactly where the running max of previous ends
    // stays below the next start — all integer epoch-second
    // arithmetic, bit-exact in both engines. ONE user_id exchange:
    // the running-max window, the island cumsum, and both group-bys
    // cluster on user_id.
    Q("interval_coverage",
      (s, d) => {
        eventIslands(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(col("ien") - col("ist")).as("covered_s"))
          .orderBy("user_id")
      },
      s"""WITH $IslandsCte
         SELECT user_id, COUNT(*) AS n_islands,
                CAST(SUM(ien - ist) AS BIGINT) AS covered_s
         FROM isl GROUP BY 1 ORDER BY user_id"""),

    // INTERVAL GAPS — interval_coverage's complement: per user, the
    // idle stretches BETWEEN merged activity islands (the "user went
    // dark for N minutes" relation feeding churn/session analyses).
    // Same max-running-end island construction, one extra partitioned
    // lead; all arithmetic exact integer seconds, user-partitioned
    // windows only.
    Q("interval_gaps",
      (s, d) => {
        val islands = eventIslands(s, d)
        val wg = Window.partitionBy("user_id").orderBy("ist")
        islands
          .withColumn("next_ist", lead(col("ist"), 1).over(wg))
          .filter(col("next_ist").isNotNull)
          .select(col("user_id"), (col("next_ist") - col("ien")).as("gap_s"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"),
            sum(col("gap_s")).as("idle_s"),
            max(col("gap_s")).as("max_gap_s"))
          .orderBy("user_id")
      },
      s"""WITH $IslandsCte,
         gaps AS (
           SELECT user_id,
                  LEAD(ist, 1) OVER (PARTITION BY user_id ORDER BY ist)
                    - ien AS gap_s
           FROM isl)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                CAST(SUM(gap_s) AS BIGINT) AS idle_s,
                CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
         FROM gaps WHERE gap_s IS NOT NULL
         GROUP BY user_id ORDER BY user_id"""),

    // Adamic-Adar link prediction on the co-order (part-part) graph:
    // the common "neighbor" between two parts is an order containing
    // both, down-weighted by how big that basket is —
    // AA(a,b) = Σ_orders 1/LN(basket_size). Pair fan-out is bounded by
    // basket size squared exactly like market_basket (TPC-H baskets
    // ≤7; a production corpus caps basket size the same way the dedup
    // buckets are capped). The per-order weight is attached BEFORE the
    // pair join (map-side), so the pair exchange carries (ok, pk, w)
    // only; the Σ is an exact DECIMAL(18,9) sum, making the float
    // addition order irrelevant to the hash.
    Q("graph_adamic_adar",
      (s, d) => {
        // Baskets roll up ONCE on the order key (collect_set is bounded
        // by basket size, ≤7 here — a production corpus caps it like
        // the dedup buckets); the a<b pair stream is then generated
        // MAP-SIDE from each basket array with its weight already
        // attached, so the whole query is one ok-exchange plus one
        // pair-key exchange — no self-join, no basket-size join-back.
        val baskets = lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .groupBy("ok")
          .agg(sort_array(collect_set(col("pk"))).as("ps"))
          .filter(size(col("ps")) >= 2)
          .withColumn("w",
            (lit(1.0) / log(size(col("ps")).cast("double")))
              .cast(DecimalType(18, 9)))
        baskets
          .select(col("w"), explode(expr(
            """flatten(transform(sequence(1, size(ps) - 1),
                 i -> transform(sequence(0, i - 1),
                   j -> struct(ps[j] AS part_a, ps[i] AS part_b))))"""))
            .as("p"))
          .groupBy(col("p.part_a").as("part_a"),
            col("p.part_b").as("part_b"))
          .agg(count(lit(1)).as("common"), sum(col("w")).as("aa_dec"))
          .filter(col("common") >= 2)
          .select(col("part_a"), col("part_b"), col("common"),
            round(col("aa_dec").cast("double"), 6).as("aa_score"))
          .orderBy(desc("aa_dec"), col("part_a"), col("part_b"))
          .limit(100)
      },
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         sz AS (
           SELECT ok, COUNT(*) AS bs,
                  CAST(1.0 / LN(CAST(COUNT(*) AS DOUBLE))
                       AS DECIMAL(18,9)) AS w
           FROM li GROUP BY ok HAVING COUNT(*) >= 2),
         pairs AS (
           SELECT a.pk AS part_a, b.pk AS part_b,
                  COUNT(*) AS common, SUM(sz.w) AS aa_dec
           FROM li a
           JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           JOIN sz ON sz.ok = a.ok
           GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         SELECT part_a, part_b, common,
                ROUND(CAST(aa_dec AS DOUBLE), 6) AS aa_score
         FROM pairs
         ORDER BY aa_dec DESC, part_a, part_b LIMIT 100"""),

    // Neighborhood-Jaccard link prediction on the same co-order graph —
    // adamic_adar's set-overlap sibling: J(a,b) = |N(a)∩N(b)| /
    // |N(a)∪N(b)| where N(p) is the set of orders containing part p.
    // The intersection count rides the SAME map-side basket-pair
    // stream (bounded fan-out, no self-join); the union denominator is
    // da + db − common via two equi-joins against the part-degree
    // relation (|parts|-sized — tiny next to the pair stream, and
    // broadcastable at any realistic catalog size). The ranking key is
    // an exact integer-ratio comparison (common/denominator ordered as
    // DECIMAL division to micro-precision), top-100 via TakeOrdered.
    Q("graph_jaccard",
      (s, d) => {
        val li = lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val deg = li.groupBy("pk").agg(count(lit(1)).as("deg"))
        val pairs = li.groupBy("ok")
          .agg(sort_array(collect_set(col("pk"))).as("ps"))
          .filter(size(col("ps")) >= 2)
          .select(explode(expr(
            """flatten(transform(sequence(1, size(ps) - 1),
                 i -> transform(sequence(0, i - 1),
                   j -> struct(ps[j] AS part_a, ps[i] AS part_b))))"""))
            .as("p"))
          .groupBy(col("p.part_a").as("part_a"),
            col("p.part_b").as("part_b"))
          .agg(count(lit(1)).as("common"))
          .filter(col("common") >= 2)
        pairs
          .join(broadcast(deg.withColumnRenamed("pk", "part_a")
            .withColumnRenamed("deg", "da")), Seq("part_a"))
          .join(broadcast(deg.withColumnRenamed("pk", "part_b")
            .withColumnRenamed("deg", "db")), Seq("part_b"))
          .withColumn("uni", col("da") + col("db") - col("common"))
          // double division of two BIGINTs is correctly-rounded IEEE —
          // identical in both engines (decimal division scale rules are
          // not); ties in the sort break on the part keys
          .withColumn("jd", col("common").cast("double") / col("uni"))
          .select(col("part_a"), col("part_b"), col("common"),
            col("uni").as("union_n"),
            round(col("jd").cast("double"), 6).as("jaccard"))
          .orderBy(desc("jd"), col("part_a"), col("part_b"))
          .limit(100)
          .drop("jd")
      },
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         deg AS (
           SELECT pk, COUNT(*) AS deg FROM li GROUP BY pk),
         pairs AS (
           SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS common
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         j AS (
           SELECT part_a, part_b, common,
                  da.deg + db.deg - common AS union_n,
                  CAST(common AS DOUBLE) /
                    (da.deg + db.deg - common) AS jd
           FROM pairs
           JOIN deg da ON da.pk = part_a
           JOIN deg db ON db.pk = part_b)
         SELECT part_a, part_b, common,
                CAST(union_n AS BIGINT) AS union_n,
                ROUND(CAST(jd AS DOUBLE), 6) AS jaccard
         FROM j
         ORDER BY jd DESC, part_a, part_b LIMIT 100"""),

    // CLUSTER-PURITY evaluation — the label-agreement audit run after
    // any embedding clustering: assign every vector to its nearest
    // per-label centroid, then report per centroid how many assigned
    // vectors carry that true label. Centroid MEANS are exact-decimal
    // (order-free); each distance is then a SEQUENTIAL per-row double
    // fold over the broadcast centroid array — fixed IEEE order,
    // bit-identical in both engines, no 64× explode join. |labels|
    // broadcast rows against the un-exploded embedding stream; the
    // argmin is a per-vector bounded window. The standard eval for
    // vec_centroids / vec_kmeans outputs.
    Q("vec_cluster_purity",
      (s, d) => {
        val d2 = graft.engine.ml.Centroids
          .distToCentroids(embeddings(s, d))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("d2"), col("clabel"))
        d2.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .groupBy("clabel")
          .agg(count(lit(1)).as("n_assigned"),
            sum(when(col("label") === col("clabel"), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("clabel").as("cluster"), col("n_assigned"),
            col("n_correct"),
            (expr("(n_correct * 1000000L + n_assigned div 2) " +
              "div n_assigned").cast("double") / 10000.0)
              .as("purity_pct"))
          .orderBy("cluster")
      },
      s"""WITH $EmbDimsCte,
         $CentroidCte,
         $CentroidD2Cte,
         assigned AS (
           SELECT vec_id, label, clabel,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY d2, clabel) AS rk
           FROM d2),
         agg AS (
           SELECT clabel, COUNT(*) AS n_assigned,
                  SUM(CASE WHEN label = clabel THEN 1 ELSE 0 END)
                    AS n_correct
           FROM assigned WHERE rk = 1 GROUP BY 1)
         SELECT clabel AS cluster,
                CAST(n_assigned AS BIGINT) AS n_assigned,
                CAST(n_correct AS BIGINT) AS n_correct,
                CAST((n_correct * 1000000 + n_assigned // 2)
                     // n_assigned AS DOUBLE) / 10000.0 AS purity_pct
         FROM agg ORDER BY cluster"""),

    // JOHNSON–LINDENSTRAUSS DISTORTION audit for vec_project's seeded
    // Rademacher projection: for every probe pair, the squared-
    // distance ratio ‖f(a)−f(b)‖²/‖a−b‖² — the empirical ε the JL
    // lemma bounds. Original distances are exact decimal sums;
    // projected components reuse vec_project's md5-sign formula, with
    // per-component products decimal-pinned before the 8-term sum so
    // both engines hash the identical ratio. 45 probe pairs — the
    // audit relation is bounded; at 100 TB the probe set stays
    // k-sized while the projection itself remains map-side.
    Q("vec_jl_distortion",
      (s, d) => {
        import s.implicits._
        val dOut = 8
        val probes = graft.engine.ml.Similarity.probes(embeddings(s, d))
        val dims = probes
          .select(col("probe_id"), posexplode(col("probe_emb"))
            .as(Seq("p", "x")))
          .select(col("probe_id"), col("p").as("i"),
            col("x").cast("double").as("v"))
        val jDf = (0 until dOut).toDF("j")
        val sign = when(
          conv(substring(md5(concat_ws("_", col("i"), col("j"))), 1, 1),
            16, 10).cast("int") % 2 === 0, 1.0).otherwise(-1.0)
        val proj = dims.crossJoin(broadcast(jDf))
          .select(col("probe_id"), col("j"),
            (col("v") * sign).cast(DecimalType(18, 9)).as("term"))
          .groupBy("probe_id", "j")
          .agg((sum(col("term")).cast("double") /
            sqrt(lit(dOut.toDouble))).as("comp"))
        val origD = dims.as("a").join(dims.as("b"),
            col("a.i") === col("b.i") &&
              col("a.probe_id") < col("b.probe_id"))
          .select(col("a.probe_id").as("pa"), col("b.probe_id").as("pb"),
            ((col("a.v") - col("b.v")) * (col("a.v") - col("b.v")))
              .cast(DecimalType(24, 12)).as("sq"))
          .groupBy("pa", "pb").agg(sum(col("sq")).as("d2_orig"))
        val projD = proj.as("a").join(proj.as("b"),
            col("a.j") === col("b.j") &&
              col("a.probe_id") < col("b.probe_id"))
          .select(col("a.probe_id").as("pa"), col("b.probe_id").as("pb"),
            ((col("a.comp") - col("b.comp")) *
              (col("a.comp") - col("b.comp")))
              .cast(DecimalType(24, 12)).as("sq"))
          .groupBy("pa", "pb").agg(sum(col("sq")).as("d2_proj"))
        origD.join(projD, Seq("pa", "pb"))
          .select(col("pa"), col("pb"),
            round(col("d2_orig").cast("double"), 6).as("d2_orig"),
            round(col("d2_proj").cast("double"), 6).as("d2_proj"),
            round(col("d2_proj").cast("double") /
              col("d2_orig").cast("double"), 4).as("ratio"))
          .orderBy("pa", "pb")
      },
      """WITH probe_ids AS (
           SELECT MIN(vec_id) AS probe_id FROM embeddings GROUP BY label),
         p AS (SELECT e.vec_id AS probe_id, e.embedding AS emb
               FROM embeddings e JOIN probe_ids ON e.vec_id = probe_id),
         dims AS (
           SELECT probe_id, u.i, CAST(emb[u.i] AS DOUBLE) AS v
           FROM p, UNNEST(range(1, 65)) AS u(i)),
         proj AS (
           SELECT probe_id, jj.j,
                  CAST(SUM(CAST(v *
                    (CASE WHEN CAST(('0x' || substring(md5(
                       CAST(dims.i - 1 AS VARCHAR) || '_' ||
                       CAST(jj.j AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                     THEN 1.0 ELSE -1.0 END) AS DECIMAL(18,9)))
                    AS DOUBLE) / sqrt(8.0) AS comp
           FROM dims, UNNEST(range(0, 8)) AS jj(j)
           GROUP BY 1, 2),
         od AS (
           SELECT a.probe_id AS pa, b.probe_id AS pb,
                  SUM(CAST((a.v - b.v) * (a.v - b.v) AS DECIMAL(24,12)))
                    AS d2_orig
           FROM dims a JOIN dims b
             ON a.i = b.i AND a.probe_id < b.probe_id
           GROUP BY 1, 2),
         pd AS (
           SELECT a.probe_id AS pa, b.probe_id AS pb,
                  SUM(CAST((a.comp - b.comp) * (a.comp - b.comp)
                    AS DECIMAL(24,12))) AS d2_proj
           FROM proj a JOIN proj b
             ON a.j = b.j AND a.probe_id < b.probe_id
           GROUP BY 1, 2)
         SELECT pa, pb,
                ROUND(CAST(d2_orig AS DOUBLE), 6) AS d2_orig,
                ROUND(CAST(d2_proj AS DOUBLE), 6) AS d2_proj,
                ROUND(CAST(d2_proj AS DOUBLE) /
                      CAST(d2_orig AS DOUBLE), 4) AS ratio
         FROM od JOIN pd USING (pa, pb)
         ORDER BY pa, pb"""),

    // DETERMINISTIC RANDOM WALKS on the co-order graph — the corpus
    // generator behind DeepWalk/node2vec embeddings, made
    // oracle-checkable: each step picks neighbor index
    // md5(seed:step) % degree over the SORTED adjacency list, so both
    // engines replay the identical walk. Adjacency is one edge-keyed
    // aggregate (list bounded by co-order degree — capped in
    // production exactly like the dedup buckets); the walk itself is
    // 3 joins of a 10-row frontier against the adjacency — at 100 TB
    // the frontier stays walk-count-sized while adjacency shuffles
    // once. Seeds are the 10 smallest connected nodes (TakeOrdered).
    Q("graph_random_walks",
      (s, d) => {
        // fit-once persisted co-order projection (the artifact family
        // graph_kcore/triangles read) — the walk query itself starts
        // at the adjacency aggregate, not the 6M-pair emission
        val e = graft.engine.ops.Graph.coOccurrenceEdgesFor(
          lineitem(s, d).select(col("l_orderkey").as("pk"),
            col("l_partkey").as("sk")), s"${d}_coorder")
        val und = e.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
        // tracked cache (r14): the adjacency aggregate feeds the seeds
        // scan + all 3 walk steps; uncached, the collect_set re-ran per
        // step (3×1.4 s stages in the r14 profile — the whole key's
        // cost). Node-count-sized, runner-released.
        val adj = graft.engine.ml.Dedup.cacheTracked(
          und.groupBy("src")
            .agg(sort_array(collect_set(col("dst"))).as("nbrs")))
        val seeds = adj.select(col("src")).orderBy("src").limit(10)
          .select(col("src").as("walk_id"), col("src").as("node"))
        def step(frontier: DataFrame, k: Int): DataFrame =
          frontier.join(adj, frontier("node") === adj("src"))
            .select(col("walk_id"),
              // conv→BIGINT first: 8 hex chars exceed INT range
              expr(s"""element_at(nbrs, cast(
                cast(conv(substring(md5(concat(cast(walk_id AS string),
                  ':', '$k')), 1, 8), 16, 10) AS bigint) % size(nbrs)
                + 1 AS int))""").as("node"))
        val w1 = step(seeds, 1)
        val w2 = step(w1, 2)
        val w3 = step(w2, 3)
        seeds.select(col("walk_id"), lit(0).as("step"), col("node"))
          .unionByName(w1.select(col("walk_id"), lit(1).as("step"),
            col("node")))
          .unionByName(w2.select(col("walk_id"), lit(2).as("step"),
            col("node")))
          .unionByName(w3.select(col("walk_id"), lit(3).as("step"),
            col("node")))
          .orderBy("walk_id", "step")
      },
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         und AS (
           SELECT DISTINCT a.pk AS src, b.pk AS dst
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         adj AS (
           SELECT src, list(dst ORDER BY dst) AS nbrs
           FROM und GROUP BY src),
         seeds AS (
           SELECT src AS walk_id, src AS node
           FROM adj ORDER BY src LIMIT 10),
         s1 AS (
           SELECT walk_id, nbrs[CAST(CAST(('0x' || substring(md5(
                    CAST(walk_id AS VARCHAR) || ':1'), 1, 8)) AS BIGINT)
                    % len(nbrs) AS INTEGER) + 1] AS node
           FROM seeds JOIN adj ON node = src),
         s2 AS (
           SELECT walk_id, nbrs[CAST(CAST(('0x' || substring(md5(
                    CAST(walk_id AS VARCHAR) || ':2'), 1, 8)) AS BIGINT)
                    % len(nbrs) AS INTEGER) + 1] AS node
           FROM s1 JOIN adj ON node = src),
         s3 AS (
           SELECT walk_id, nbrs[CAST(CAST(('0x' || substring(md5(
                    CAST(walk_id AS VARCHAR) || ':3'), 1, 8)) AS BIGINT)
                    % len(nbrs) AS INTEGER) + 1] AS node
           FROM s2 JOIN adj ON node = src)
         SELECT walk_id, 0 AS step, node FROM seeds
         UNION ALL SELECT walk_id, 1, node FROM s1
         UNION ALL SELECT walk_id, 2, node FROM s2
         UNION ALL SELECT walk_id, 3, node FROM s3
         ORDER BY walk_id, step"""),

    // GRID-PRUNED k-NN — join_spatial_grid's top-k sibling: nearest 3
    // suppliers per customer, candidates limited to the 3×3 grid ring
    // (the declared semantics are ring-bounded kNN — customers with a
    // sparse ring report fewer than 3, exactly what a production
    // grid/ball-tree index returns before an expanding re-probe).
    // Same md5-synthesized coordinates, one (gx,gy) equi-join, a
    // per-customer bounded rank window on exact integer distances.
    // No cartesian at any scale.
    Q("join_spatial_knn",
      (s, d) => {
        val cand = gridNeighbours(s, d, 1000L)
        val w = Window.partitionBy("c_custkey")
          .orderBy(col("dist2"), col("s_suppkey"))
        cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("c_custkey"), col("rk").cast("int").as("rk"),
            col("s_suppkey"), col("dist2"))
          .orderBy("c_custkey", "rk")
      },
      s"""WITH $SpatialCoordsCte,
         cand AS (
           SELECT c_custkey, s_suppkey,
                  (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
           FROM cust JOIN supp
             ON cx // 1000 BETWEEN sx // 1000 - 1 AND sx // 1000 + 1
            AND cy // 1000 BETWEEN sy // 1000 - 1 AND sy // 1000 + 1),
         ranked AS (
           SELECT c_custkey, s_suppkey, dist2,
                  ROW_NUMBER() OVER (PARTITION BY c_custkey
                    ORDER BY dist2, s_suppkey) AS rk
           FROM cand)
         SELECT c_custkey, CAST(rk AS INT) AS rk, s_suppkey, dist2
         FROM ranked WHERE rk <= 3 ORDER BY c_custkey, rk"""),

    // TOP PRINCIPAL COMPONENT by two POWER-ITERATION rounds over the
    // exact-pinned covariance — the fixed-depth, oracle-checkable form
    // of PCA (a converged eigensolver is engine-private state; two
    // deterministic rounds from the all-ones start are hash-exact
    // data). Covariance cells come from ONE (i,j)-keyed aggregate of
    // the per-vector dim pairs (E[x_i x_j] − μ_i μ_j on exact decimal
    // sums, pinned to DECIMAL(18,12)); each matvec is a 64×64-cell
    // join against the broadcast 64-row vector with per-term products
    // decimal-pinned (order-free Σ), max-normalized between rounds in
    // identical double arithmetic. At 100 TB only the moment
    // aggregate touches data — the iteration runs on the 4096-cell
    // relation.
    Q("vec_pca_top_component",
      (s, d) => {
        val dims = embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("p", "x")))
          .select(col("vec_id"), (col("p") + 1).as("i"),
            col("x").cast("double").as("v"))
        val n = dims.select(col("vec_id")).distinct()
          .agg(count(lit(1)).as("n"))
        val mu = dims.groupBy("i")
          .agg(sum(col("v").cast(DecimalType(20, 10))).as("sv"))
        val prods = dims.as("a").join(dims.as("b"), Seq("vec_id"))
          .select(col("a.i").as("i"), col("b.i").as("j"),
            (col("a.v") * col("b.v")).cast(DecimalType(24, 12))
              .as("xy"))
          .groupBy("i", "j").agg(sum(col("xy")).as("sxy"))
        val cov = prods
          .join(broadcast(mu.select(col("i"), col("sv").as("svi"))),
            Seq("i"))
          .join(broadcast(mu.select(col("i").as("j"),
            col("sv").as("svj"))), Seq("j"))
          .crossJoin(broadcast(n))
          .select(col("i"), col("j"),
            expr("""CAST(CAST(sxy AS DOUBLE) / n -
                    (CAST(svi AS DOUBLE) / n) *
                    (CAST(svj AS DOUBLE) / n) AS DECIMAL(18,12))""")
              .as("c"))
        def matvec(v: DataFrame): DataFrame = {
          // no rounding cast on the product: the full-scale decimal
          // sum is exact, and the value leaves decimal land only via
          // the CAST-to-double below (identical in both engines)
          val r = cov.join(broadcast(v), Seq("j"))
            .select(col("i"), (col("c") * col("vv")).as("term"))
            .groupBy("i").agg(sum(col("term")).as("w"))
          val m = r.agg(max(abs(col("w"))).as("m"))
          r.crossJoin(broadcast(m))
            .select(col("i").as("j"),
              expr("CAST(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) " +
                "AS DECIMAL(18,12))").as("vv"))
        }
        val v0 = s.range(1, 65).select(col("id").cast("int").as("j"),
          lit(BigDecimal(1)).cast(DecimalType(18, 12)).as("vv"))
        val v2 = matvec(matvec(v0))
        v2.select(col("j").as("dim"),
            round(col("vv").cast("double"), 6).as("loading"))
          .orderBy("dim")
      },
      """WITH dims AS (
           SELECT vec_id, u.i, CAST(embedding[u.i] AS DOUBLE) AS v
           FROM embeddings, UNNEST(range(1, 65)) AS u(i)),
         nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM dims),
         mu AS (
           SELECT i, SUM(CAST(v AS DECIMAL(20,10))) AS sv
           FROM dims GROUP BY 1),
         prods AS (
           SELECT a.i, b.i AS j,
                  SUM(CAST(a.v * b.v AS DECIMAL(24,12))) AS sxy
           FROM dims a JOIN dims b USING (vec_id)
           GROUP BY 1, 2),
         cov AS (
           SELECT p.i, p.j,
                  CAST(CAST(sxy AS DOUBLE) / n -
                       (CAST(ma.sv AS DOUBLE) / n) *
                       (CAST(mb.sv AS DOUBLE) / n) AS DECIMAL(18,12))
                    AS c
           FROM prods p
           JOIN mu ma ON ma.i = p.i
           JOIN mu mb ON mb.i = p.j
           CROSS JOIN nn),
         v0 AS (
           SELECT CAST(k AS INTEGER) AS j,
                  CAST(1 AS DECIMAL(18,12)) AS vv
           FROM unnest(range(1, 65)) AS t(k)),
         r1 AS (
           SELECT cov.i, SUM(c * vv) AS w
           FROM cov JOIN v0 USING (j) GROUP BY 1),
         m1 AS (SELECT MAX(ABS(w)) AS m FROM r1),
         v1 AS (
           SELECT i AS j,
                  CAST(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                    AS DECIMAL(18,12)) AS vv
           FROM r1, m1),
         r2 AS (
           SELECT cov.i, SUM(c * vv) AS w
           FROM cov JOIN v1 USING (j) GROUP BY 1),
         m2 AS (SELECT MAX(ABS(w)) AS m FROM r2),
         v2 AS (
           SELECT i AS j,
                  CAST(CAST(w AS DOUBLE) / CAST(m AS DOUBLE)
                    AS DECIMAL(18,12)) AS vv
           FROM r2, m2)
         SELECT j AS dim, ROUND(CAST(vv AS DOUBLE), 6) AS loading
         FROM v2 ORDER BY dim"""),

    // Rolling 7-row mean/stddev per user — the feature-engineering
    // window. The rolling Σx and Σx² are EXACT decimal sums over the
    // row frame (value quantized to DECIMAL(12,4) once, map-side), so
    // partitioning and frame-slide order cannot move the hash; the
    // mean/std are then identical closed-form double expressions on
    // those exact sums (sample std, greatest(...,0) guards the ~0
    // variance cancellation). ONE user_id sort-exchange carries all
    // three frame aggregates.
    Q("win_rolling_stats",
      (s, d) => {
        val ev = events(s, d).select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t"),
          col("value").cast(DecimalType(12, 4)).as("v"))
          .withColumn("v2", (col("v") * col("v")).cast(DecimalType(24, 8)))
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
          .rowsBetween(-6, 0)
        val rolled = ev
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum(col("v")).over(w))
          .withColumn("sx2", sum(col("v2")).over(w))
        rolled.select(col("event_id"), col("user_id"), col("n").as("roll_n"),
          round(col("sx").cast("double") / col("n"), 4).as("roll_mean"),
          when(col("n") > 1,
            round(sqrt(greatest(
              (col("n") * col("sx2").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) /
                (col("n") * (col("n") - 1)), lit(0.0))), 4))
            .as("roll_std"))
          .orderBy("event_id")
      },
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(ts) AS t,
                  CAST(value AS DECIMAL(12,4)) AS v,
                  CAST(CAST(value AS DECIMAL(12,4)) *
                       CAST(value AS DECIMAL(12,4)) AS DECIMAL(24,8)) AS v2
           FROM events),
         r AS (
           SELECT event_id, user_id,
                  COUNT(*) OVER fr AS n,
                  SUM(v) OVER fr AS sx,
                  SUM(v2) OVER fr AS sx2
           FROM ev
           WINDOW fr AS (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, n AS roll_n,
                ROUND(CAST(sx AS DOUBLE) / n, 4) AS roll_mean,
                CASE WHEN n > 1 THEN
                  ROUND(SQRT(GREATEST(
                    (n * CAST(sx2 AS DOUBLE) -
                     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                    (n * (n - 1)), 0.0)), 4)
                END AS roll_std
         FROM r ORDER BY event_id"""),

    // Rank-distribution window surface: percent_rank + cume_dist of
    // each customer's balance within their market segment. Both
    // functions are tie-aware (equal balances share a value), so the
    // output is deterministic under any partitioning; the values are
    // exact small-integer ratios evaluated by the identical double
    // division in both engines. One segment sort-exchange.
    Q("win_distribution",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
        customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_mktsegment,
                ROUND(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal), 6) AS pct_rank,
                ROUND(CUME_DIST() OVER (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal), 6) AS cume
         FROM customer ORDER BY c_custkey"""),

    // Grid-bucketed spatial neighbor join — the standard no-cross-join
    // shape for "all pairs within radius r": points land in r-sized
    // cells, the SMALL side (suppliers) is replicated into its 3×3
    // neighbor stencil map-side (×9 of the small side only), the join
    // is a plain equi-join on the cell key, and the exact L2 refine
    // runs on the candidates — candidate count is bounded by cell
    // occupancy, never |A|×|B|. Coordinates are md5-derived integers
    // in [0,10000)² (deterministic, engine-portable — the testdata has
    // no geo columns), so every distance is exact BIGINT math. The
    // oracle is the plain quadratic inequality join — the bucketing is
    // invisible to semantics (join_interval_overlap precedent).
    Q("join_spatial_grid",
      (s, d) => {
        val r = 150L
        gridNeighbours(s, d, r)
          .filter(col("dist2") <= r * r)
          .select(col("c_custkey"), col("s_suppkey"), col("dist2"))
          .orderBy("c_custkey", "s_suppkey")
      },
      s"""WITH $SpatialCoordsCte
         SELECT c_custkey, s_suppkey,
                (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
         FROM cust CROSS JOIN supp
         WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 22500
         ORDER BY c_custkey, s_suppkey"""),

    // Asymmetric CONTAINMENT dedup — the subset-duplicate detector
    // (doc A largely contained in doc B scores high even when Jaccard
    // is low; the RealNews/C4 incremental-crawl case that dedup_ngram's
    // symmetric Jaccard misses). Candidates are blocked by a shared
    // 10-word chunk fingerprint (the text_boilerplate device) — never
    // all pairs; the exact 5-gram intersection then runs only on
    // candidates, as a gram-key join bounded by |pairs|·grams/doc.
    // All counts are integers; the one ratio is rounded identically.
    Q("dedup_containment",
      (s, d) => {
        val docs = documents(s, d)
        val words = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
        val chunks = words.select(col("doc_id"),
          explode(expr(
            """CASE WHEN size(w) < 10 THEN array()
               ELSE transform(sequence(0, size(w) div 10 - 1),
                 i -> md5(array_join(slice(w, i * 10 + 1, 10), ' ')))
               END""")).as("ch"))
          .distinct()
        // hot-chunk cap (the dedup bucket-cap device): a chunk shared
        // by >20 docs is boilerplate chrome, not duplication evidence —
        // without the cap one template chunk makes C(df,2) candidates.
        val blockable = chunks.groupBy("ch")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= 20)
          .select("ch")
        val blocked = chunks.join(blockable, "ch")
        val pairs = blocked.as("a")
          .join(blocked.as("b"), Seq("ch"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
        // grams are only needed for docs that appear in a candidate
        // pair — semi-filter BEFORE the 5-gram explode so the corpus-
        // wide shingle distinct never materializes (at 100 TB the
        // candidate set is a vanishing fraction of the corpus).
        val candDocs = pairs.select(col("da").as("doc_id"))
          .union(pairs.select(col("db").as("doc_id"))).distinct()
        val grams = words.join(candDocs, Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            explode(expr(
              """CASE WHEN size(w) < 5 THEN array()
                 ELSE transform(sequence(1, size(w) - 4),
                   i -> array_join(slice(w, i, 5), ' '))
                 END""")).as("g"))
          .distinct()
        val nA = grams.groupBy(col("doc_id").as("da"))
          .agg(count(lit(1)).as("n_a"))
        val inter = pairs
          .join(grams.select(col("doc_id").as("da"), col("g")), "da")
          .join(grams.select(col("doc_id").as("db"), col("g")),
            Seq("db", "g"))
          .groupBy("da", "db").agg(count(lit(1)).as("n_common"))
        inter.join(nA, "da")
          .select(col("da"), col("db"), col("n_common"), col("n_a"),
            round(col("n_common") / col("n_a").cast("double"), 6)
              .as("containment"))
          .filter(col("containment") >= 0.5)
          .orderBy("da", "db")
      },
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         chunks AS (
           SELECT DISTINCT doc_id,
                  md5(array_to_string(w[i * 10 + 1 : i * 10 + 10], ' '))
                    AS ch
           FROM w,
                LATERAL unnest(range(0,
                  CAST(floor(len(w) / 10) AS BIGINT))) AS t(i)),
         blockable AS (
           SELECT ch FROM chunks GROUP BY ch
           HAVING COUNT(*) >= 2 AND COUNT(*) <= 20),
         blocked AS (SELECT c.doc_id, c.ch FROM chunks c
                     JOIN blockable USING (ch)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM blocked a JOIN blocked b
             ON a.ch = b.ch AND a.doc_id < b.doc_id),
         grams AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(w) - 3),
                    i -> array_to_string(w[i : i + 4], ' '))) AS g
           FROM w),
         na AS (SELECT doc_id AS da, COUNT(*) AS n_a FROM grams GROUP BY 1),
         inter AS (
           SELECT p.da, p.db, COUNT(*) AS n_common
           FROM pairs p
           JOIN grams ga ON ga.doc_id = p.da
           JOIN grams gb ON gb.doc_id = p.db AND gb.g = ga.g
           GROUP BY 1, 2)
         SELECT i.da, i.db, n_common, n_a,
                ROUND(n_common / CAST(n_a AS DOUBLE), 6) AS containment
         FROM inter i JOIN na USING (da)
         WHERE ROUND(n_common / CAST(n_a AS DOUBLE), 6) >= 0.5
         ORDER BY da, db"""),

    // PMI-ranked bigram collocations — the corpus phrase-mining staple
    // (vocab_build's unigram counterpart): PMI(a,b) =
    // LN((c_ab/B) / ((c_a/T)(c_b/T))), c_ab ≥ 5, top-50. Bigram
    // generation is map-side from each doc's token array (1-based
    // element_at mirrors the oracle's 1-based lists exactly); the
    // unigram and bigram count relations are two key-partitioned
    // aggregates; the two scalar totals broadcast. All counts exact
    // integers; PMI is the identical LN closed form rounded 6dp, with
    // the (a,b) tie-break making the top-50 deterministic.
    Q("text_pmi",
      (s, d) => {
        val words = documents(s, d)
          .select(split(col("text"), " ").as("w"))
        val uni = words.select(explode(col("w")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val bi = words.select(explode(expr(
            """CASE WHEN size(w) < 2 THEN array()
               ELSE transform(sequence(1, size(w) - 1),
                 i -> struct(element_at(w, i) AS a,
                             element_at(w, i + 1) AS b))
               END""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= 5)
        val totT = uni.agg(sum(col("c")).cast("double").as("t_tot"))
        val totB = words
          .agg(sum(greatest(size(col("w")) - 1, lit(0)))
            .cast("double").as("b_tot"))
        bi.join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
          .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
          .crossJoin(broadcast(totT)).crossJoin(broadcast(totB))
          .select(col("a"), col("b"), col("c_ab"),
            round(log((col("c_ab") / col("b_tot")) /
              ((col("c_a") / col("t_tot")) * (col("c_b") / col("t_tot")))),
              6).as("pmi"))
          .orderBy(desc("pmi"), col("a"), col("b"))
          .limit(50)
      },
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
         uni AS (
           SELECT t, COUNT(*) AS c FROM (
             SELECT unnest(w) AS t FROM w) GROUP BY 1),
         bi AS (
           SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM (
             SELECT unnest(list_transform(range(1, len(w)),
               i -> {'a': w[i], 'b': w[i + 1]})) AS p
             FROM w) GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         tt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t_tot FROM uni),
         tb AS (SELECT CAST(SUM(GREATEST(len(w) - 1, 0)) AS DOUBLE)
                  AS b_tot FROM w)
         SELECT a, b, c_ab,
                ROUND(LN((c_ab / b_tot) /
                  ((ua.c / t_tot) * (ub.c / t_tot))), 6) AS pmi
         FROM bi
         JOIN uni ua ON bi.a = ua.t
         JOIN uni ub ON bi.b = ub.t
         CROSS JOIN tt CROSS JOIN tb
         ORDER BY pmi DESC, a, b LIMIT 50"""),

    // Hour-of-day × ISO-weekday activity heatmap with each cell's
    // share of total traffic — the seasonality profile behind every
    // ops dashboard. Spark's weekday() (0=Mon) + 1 equals DuckDB's
    // isodow exactly (dayofweek disagrees between engines — 1=Sun vs
    // 0=Sun — so it is deliberately avoided). One tiny aggregate +
    // broadcast total; all counts exact, one rounded ratio.
    Q("time_seasonality",
      (s, d) => {
        val cells = events(s, d)
          .groupBy((weekday(col("ts")) + 1).as("dow"),
            hour(col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        val tot = cells.agg(sum(col("n")).cast("double").as("t"))
        cells.crossJoin(broadcast(tot))
          .select(col("dow"), col("hr"), col("n"),
            round(col("n") / col("t"), 6).as("share"))
          .orderBy("dow", "hr")
      },
      """WITH cells AS (
           SELECT isodow(ts) AS dow, CAST(hour(ts) AS INT) AS hr,
                  COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cells)
         SELECT dow, hr, n, ROUND(n / t, 6) AS share
         FROM cells CROSS JOIN tot ORDER BY dow, hr"""),

    // ANALYZE-style optimizer-statistics collection — the CBO food
    // every warehouse engine maintains: per-column row count, null
    // count, exact NDV, min/max. The scalable many-column shape: stack
    // the profiled columns to long (col, val) form MAP-SIDE (one scan,
    // no Expand-through-the-shuffle like a multi-countDistinct
    // aggregate — measured 10.7 s that way vs ~1 s this way at sf0.1)
    // and compute every statistic through ONE (col, val) exchange whose
    // partial agg collapses duplicates before the wire; the per-column
    // rollup then runs on the tiny distinct-value relation. Integer
    // columns are lpad'ed so the string min/max IS numeric order;
    // doubles are excluded (the engines format them differently).
    Q("maintain_stats",
      (s, d) => {
        val long = lineitem(s, d).selectExpr(
          """stack(5,
               'l_orderkey',   lpad(cast(l_orderkey AS string), 12, '0'),
               'l_suppkey',    lpad(cast(l_suppkey AS string), 12, '0'),
               'l_linenumber', lpad(cast(l_linenumber AS string), 12, '0'),
               'l_returnflag', l_returnflag,
               'l_linestatus', l_linestatus)
             AS (col_name, val)""")
        long.groupBy("col_name", "val").agg(count(lit(1)).as("cnt"))
          .groupBy("col_name")
          .agg(sum(col("cnt")).as("n_rows"),
            sum(when(col("val").isNull, col("cnt")).otherwise(0L))
              .as("n_nulls"),
            count(when(col("val").isNotNull, 1)).as("ndv"),
            min(col("val")).as("min_v"), max(col("val")).as("max_v"))
          .orderBy("col_name")
      },
      """WITH long AS (
           SELECT 'l_orderkey' AS col_name,
                  lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS val
           FROM lineitem
           UNION ALL
           SELECT 'l_suppkey', lpad(CAST(l_suppkey AS VARCHAR), 12, '0')
           FROM lineitem
           UNION ALL
           SELECT 'l_linenumber',
                  lpad(CAST(l_linenumber AS VARCHAR), 12, '0')
           FROM lineitem
           UNION ALL
           SELECT 'l_returnflag', l_returnflag FROM lineitem
           UNION ALL
           SELECT 'l_linestatus', l_linestatus FROM lineitem),
         g AS (
           SELECT col_name, val, COUNT(*) AS cnt
           FROM long GROUP BY 1, 2)
         SELECT col_name,
                CAST(SUM(cnt) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN val IS NULL THEN cnt ELSE 0 END)
                  AS BIGINT) AS n_nulls,
                COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS ndv,
                MIN(val) AS min_v, MAX(val) AS max_v
         FROM g GROUP BY 1 ORDER BY col_name"""),

    // Per-label embedding centroid + top-3 farthest members — the
    // cluster-quality / embedding-outlier screen. The centroid is an
    // EXACT per-(label, dim) decimal mean (float→double casts are
    // exact, the decimal Σ is order-invariant); each member's distance
    // then sums (v − c)² as exact decimals too, so the ranking key is
    // bit-stable under any partitioning. Two key-partitioned
    // aggregates ((label, dim) then vec) + one label window; at scale
    // Seeded random projection (Johnson–Lindenstrauss): 64-dim
    // embeddings down to 8 components via a Rademacher (±1) matrix
    // whose signs derive from md5(i_j) parity — a PSEUDO-RANDOM matrix
    // both engines can regenerate from the seed formula alone, which
    // is what makes dimensionality reduction exactly-oracle-checkable
    // (a Gaussian matrix from a library RNG would be engine-private
    // state). Per-term decimal pinning makes the 64-term sums
    // order-free; the one float divide (1/sqrt(8), correctly-rounded
    // sqrt) runs on identical inputs. Shape: posexplode + partial-agg
    // — map-side expansion, one (vec_id, j) exchange; at 100 TB the
    // fused form is a custom Expression, the relational form here
    // keeps every intermediate auditable.
    Q("vec_project",
      (s, d) => {
        import s.implicits._
        val dOut = 8
        val jDf = (0 until dOut).toDF("j")
        val sign = when(
          conv(substring(md5(concat_ws("_", col("i"), col("j"))), 1, 1),
            16, 10).cast("int") % 2 === 0, 1.0).otherwise(-1.0)
        embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
          .crossJoin(broadcast(jDf))
          .select(col("vec_id"), col("j"),
            (col("x").cast("double") * sign)
              .cast(DecimalType(18, 9)).as("term"))
          .groupBy("vec_id", "j")
          .agg(round(sum(col("term")).cast("double") /
            sqrt(lit(dOut.toDouble)), 6).as("comp"))
          .orderBy("vec_id", "j")
      },
      """SELECT vec_id, j,
                ROUND(CAST(SUM(term) AS DOUBLE) / sqrt(8.0), 6) AS comp
         FROM (
           SELECT vec_id, jj.j,
                  CAST(CAST(embedding[u.i] AS DOUBLE) *
                    (CASE WHEN CAST(('0x' || substring(md5(
                       CAST(u.i - 1 AS VARCHAR) || '_' ||
                       CAST(jj.j AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                     THEN 1.0 ELSE -1.0 END) AS DECIMAL(18,9)) AS term
           FROM embeddings,
                UNNEST(range(1, 65)) AS u(i),
                UNNEST(range(0, 8)) AS jj(j))
         GROUP BY vec_id, j
         ORDER BY vec_id, j"""),

    // PRODUCT QUANTIZATION (Jégou et al., the FAISS `PQ8` shape): the
    // 64-dim embedding splits into 8 orthogonal 8-dim subspaces, each
    // quantized independently against a 16-codeword codebook → an
    // 8-byte code replacing 256 bytes of floats (32× compression, vs
    // vec_quantize's 4× int8). Codebooks here are md5-rank-seeded
    // sample vectors (both engines regenerate them from the seed
    // formula — a k-means codebook would be engine-private state; at
    // 100 TB the seeds become a bounded fit-once artifact exactly like
    // the IVF quantizer). Every per-subspace distance sums identical
    // IEEE (v−c)² doubles as exact DECIMAL(24,12) — the argmin key is
    // bit-stable under any partitioning, ties break on code id — so
    // codes AND reconstruction error are hash-compared data. Shape:
    // map-side dim explode, codebook broadcast against the stream, one
    // (vec, subspace, code) partial-agg exchange, rank window, pivot —
    // no all-pairs anything.
    Q("vec_pq",
      (s, d) => {
        import graft.engine.expr.VecExact
        // r14 rewrite (guide §1.2 step 1, §2.4): the r13 plan exploded
        // every vector 64× , broadcast-joined 16 codes onto the dim
        // stream (1024 rows per input row), aggregated them back and
        // ran a (vec,j) window — two exchanges + a window over a
        // k·d-times-blown relation. The codebook is 16×64 doubles,
        // BOUNDED BY CONSTRUCTION, so collect it once (the
        // sample_coreset / Bpe.mergeTable device) and evaluate the
        // identical exact-decimal subspace argmins per row with array
        // HOFs: zero exchanges, zero windows, one TakeOrdered(16) seed
        // job + one map-side pass + the final vec_id sort. Oracle
        // parity: every d2 is the same exact DECIMAL sum of identical
        // IEEE (v−c)² terms; the (d2, code_id) argmin tie-break is the
        // same lexicographic order the old window used.
        val seedRows = embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            md5(col("vec_id").cast("string")).as("h"))
          .orderBy(col("h"), col("vec_id")).limit(16)
          .collect()
        val codebook: Seq[Seq[Double]] = seedRows.toSeq.map(
          _.getSeq[Float](1).map(_.toDouble).toSeq)
        val emb = col("embedding")
        // codebook.indices (not a literal 0 until 16): a corpus with
        // fewer than 16 vectors yields a shorter seed pick, and the old
        // window form degraded gracefully to fewer codes (r14 ADVICE).
        val bests = (0 until 8).map { j =>
          array_min(array(codebook.indices.map { c =>
            struct(
              VecExact.l2decimalSlice(emb, codebook(c), j * 8, 8).as("d2"),
              lit(c.toLong).as("code"))
          }: _*)).as(s"b$j")
        }
        // spreadForCompute: the per-row HOF fold is the whole cost and
        // a single-file scan would serialize it on one task; no-op at
        // corpus scale where splits ≥ cores.
        graft.engine.ops.Scale.spreadForCompute(embeddings(s, d))
          .select(col("vec_id") +: bests: _*)
          .select(col("vec_id") +:
            (0 until 8).map(j => col(s"b$j.code").as(s"c$j")) :+
            round((0 until 8).map(j => col(s"b$j.d2"))
              .reduce(_ + _).cast("double"), 6).as("recon_err"): _*)
          .orderBy("vec_id")
      },
      """WITH dims AS (
           SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
         seeds AS (
           SELECT vec_id, rn - 1 AS code_id FROM (
             SELECT vec_id, ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
             FROM embeddings)
           WHERE rn <= 16),
         cb AS (
           SELECT code_id, i, v AS cv
           FROM seeds JOIN dims USING (vec_id)),
         dist AS (
           SELECT d.vec_id, CAST(floor((d.i - 1) / 8.0) AS INT) AS j,
                  c.code_id,
                  SUM(CAST((d.v - c.cv) * (d.v - c.cv)
                      AS DECIMAL(24,12))) AS d2
           FROM dims d JOIN cb c ON d.i = c.i
           GROUP BY 1, 2, 3),
         best AS (
           SELECT vec_id, j, code_id, d2,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, j
                    ORDER BY d2, code_id) AS rn
           FROM dist)
         SELECT vec_id,
                MAX(CASE WHEN j = 0 THEN code_id END) AS c0,
                MAX(CASE WHEN j = 1 THEN code_id END) AS c1,
                MAX(CASE WHEN j = 2 THEN code_id END) AS c2,
                MAX(CASE WHEN j = 3 THEN code_id END) AS c3,
                MAX(CASE WHEN j = 4 THEN code_id END) AS c4,
                MAX(CASE WHEN j = 5 THEN code_id END) AS c5,
                MAX(CASE WHEN j = 6 THEN code_id END) AS c6,
                MAX(CASE WHEN j = 7 THEN code_id END) AS c7,
                ROUND(CAST(SUM(d2) AS DOUBLE), 6) AS recon_err
         FROM best WHERE rn = 1
         GROUP BY vec_id ORDER BY vec_id"""),

    // ZIPF EXPONENT of the word-frequency distribution — the corpus
    // healthiness number (natural language sits near slope −1 in
    // log-log rank/frequency space; a synthetic or template-heavy
    // corpus deviates hard): one-variable OLS slope over
    // (ln rank, ln freq) of the top-100 words, every moment an exact
    // decimal sum of identically-computed logs, the slope one Cramer
    // closed form (the quality_train discipline at 1 variable). One
    // word-count exchange + a 100-row window.
    Q("text_zipf_slope",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // top-100 words by orderBy+limit (TakeOrderedAndProject off the
        // word-count exchange — per-partition heaps, 100-row merge);
        // the rank that becomes the regression x runs over the 100-row
        // result only, never the vocab-sized relation
        val w = Window.orderBy(desc("c"), col("t"))
        val ranked = documents(s, d)
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("t")).limit(100)
          .withColumn("rk", row_number().over(w))
          .select(
            log(col("rk").cast("double"))
              .cast(DecimalType(18, 12)).as("x"),
            log(col("c").cast("double"))
              .cast(DecimalType(18, 12)).as("y"))
        ranked.agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum((col("x") * col("y")).cast(DecimalType(24, 12)))
              .as("sxy"),
            sum((col("x") * col("x")).cast(DecimalType(24, 12)))
              .as("sxx"))
          .select(col("n"),
            // closed form on DOUBLES cast from the exact decimal
            // moments (decimal×decimal would overflow precision 38 and
            // each engine truncates differently; identical doubles
            // through an identical formula cannot)
            round((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")),
              4).as("zipf_slope"))
      },
      """WITH ranked AS (
           SELECT CAST(ln(CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*)
                    DESC, t) AS DOUBLE)) AS DECIMAL(18,12)) AS x,
                  CAST(ln(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,12))
                    AS y,
                  ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rk
           FROM (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents)
           GROUP BY t),
         top100 AS (SELECT x, y FROM ranked WHERE rk <= 100),
         m AS (
           SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                  SUM(CAST(x * y AS DECIMAL(24,12))) AS sxy,
                  SUM(CAST(x * x AS DECIMAL(24,12))) AS sxx
           FROM top100)
         SELECT n,
                ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
                  AS zipf_slope
         FROM m"""),

    // BIGRAM-LM document scoring — the sequence-aware upgrade of
    // text_lm_score's unigram model (CCNet-style quality filters use
    // exactly this: mean log p(w_i | w_{i-1}) under the corpus bigram
    // distribution, add-half smoothed so unseen continuations don't
    // blow up). Every probability is a ratio of exact integer counts
    // (bigram count, left-unigram count, vocab size), each ln pinned
    // to DECIMAL(18,9) so the per-doc mean is order-free. Shape: one
    // bigram-key exchange for corpus counts, map-side per-doc bigram
    // stream joined against them (Zipf skew on the bigram key is
    // AQE's problem, same as text_idf_score), one doc_id aggregate.
    Q("text_bigram_lm",
      (s, d) => {
        val words = documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val docBi = words.select(col("doc_id"), explode(expr(
            """CASE WHEN size(w) < 2 THEN array()
               ELSE transform(sequence(1, size(w) - 1),
                 i -> struct(element_at(w, i) AS a,
                             element_at(w, i + 1) AS b))
               END""")).as("p"))
          .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
        val biC = docBi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
        val uniC = words
          .select(explode(col("w")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c_t"))
        val vocab = uniC.agg(count(lit(1)).as("v"))
        docBi.join(biC, Seq("a", "b"))
          .join(uniC.select(col("t").as("a"), col("c_t").as("c_a")),
            Seq("a"))
          .crossJoin(broadcast(vocab))
          .withColumn("lp",
            log((col("c_ab") + 0.5) / (col("c_a") + lit(0.5) * col("v")))
              .cast(DecimalType(18, 9)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("lp")).cast("double") / count(lit(1)), 6)
              .as("lm_score"))
          .orderBy("doc_id")
      },
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         doc_bi AS (
           SELECT doc_id, p.a AS a, p.b AS b FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(w)),
               i -> {'a': w[i], 'b': w[i + 1]})) AS p
             FROM w)),
         bic AS (
           SELECT a, b, COUNT(*) AS c_ab FROM doc_bi GROUP BY 1, 2),
         unic AS (
           SELECT t, COUNT(*) AS c_t FROM (
             SELECT unnest(w) AS t FROM w) GROUP BY 1),
         vocab AS (SELECT COUNT(*) AS v FROM unic)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                ROUND(CAST(SUM(CAST(
                    ln(CAST(c_ab + 0.5 AS DOUBLE) /
                       CAST(c_a + 0.5 * v AS DOUBLE))
                    AS DECIMAL(18,9)))
                  AS DOUBLE) / COUNT(*), 6) AS lm_score
         FROM doc_bi
         JOIN bic USING (a, b)
         JOIN (SELECT t AS a, c_t AS c_a FROM unic) ua USING (a)
         CROSS JOIN vocab
         GROUP BY doc_id ORDER BY doc_id"""),

    // DISTRIBUTED LLOYD'S K-MEANS, exactly replayable: k=8 clusters,
    // md5-rank-seeded initial centroids, TWO synchronous rounds of
    // assign-then-recompute (fixed depth keeps the plan static — the
    // graph_pagerank convention; production iterates with a
    // convergence check). Assignment distances sum identical IEEE
    // (v−c)² doubles as exact DECIMAL(24,12) (argmin bit-stable, ties
    // → lowest cluster); new centroids are exact decimal means. Per
    // round: one broadcast of 8×64 centroid dims against the map-side
    // dim stream, one (vec, cluster) partial-agg exchange, one
    // (cluster, dim) mean exchange — the canonical distributed k-means
    // shape (centroids never leave the cluster as driver state; the
    // oracle replays both rounds as chained CTEs). Declared relation:
    // per-cluster membership + within-cluster inertia after round 2 —
    // the quality curve a mixture/IVF consumer reads.
    Q("vec_kmeans",
      (s, d) => {
        import graft.engine.expr.VecExact
        // r14 rewrite (guide §1.2 step 1, §2.4 — the vec_pq device):
        // each Lloyd assign round was a 64× explode + 8-centroid
        // broadcast join + decimal agg + vec_id window; both rounds now
        // evaluate the identical exact-decimal argmin per row with
        // array HOFs against centroid literals. Centroids are k·d =
        // 8×64 doubles, BOUNDED BY CONSTRUCTION — collecting them per
        // round is the standard distributed-k-means shape (Spark MLlib
        // collects+broadcasts centers every iteration); the round-1
        // means are still computed DISTRIBUTED (one (c,i) aggregate)
        // and only the 512-row result lands on the driver. Oracle
        // parity: same IEEE (v−c)² terms, same exact decimal sums, same
        // (d2, c) tie-break, same DECIMAL(20,10) mean expression.
        val emb = col("embedding")
        // centroids keyed by their ACTUAL cluster id (a cluster emptied
        // by a round must keep absent, exactly like the old cent
        // relation — positional ids would silently renumber)
        def assignExpr(cents: Seq[(Long, Seq[Double])]) =
          array_min(array(cents.map { case (c, cv) =>
            struct(VecExact.l2decimal(emb, cv).as("d2"),
              lit(c).as("c"))
          }: _*))
        // seed pick: TakeOrdered(8) by (md5, vec_id), vectors collected
        // with the ids (code order = the old seed-numbering window)
        val cent0: Seq[(Long, Seq[Double])] = embeddings(s, d)
          .select(col("vec_id"), col("embedding"),
            md5(col("vec_id").cast("string")).as("h"))
          .orderBy(col("h"), col("vec_id")).limit(8)
          .collect().toSeq.zipWithIndex.map { case (r, i) =>
            (i.toLong, r.getSeq[Float](1).map(_.toDouble).toSeq) }
        val embs = graft.engine.ops.Scale.spreadForCompute(embeddings(s, d))
          .select(col("vec_id"), col("embedding"))
        // round 1 assign → distributed exact-decimal means per (c, i)
        val a1 = embs.select(col("vec_id"), emb,
          assignExpr(cent0).getField("c").as("c"))
        val cent1Rows = a1
          .select(col("c"), posexplode(col("embedding")).as(Seq("p", "x")))
          .groupBy(col("c"), (col("p") + 1).as("i"))
          .agg((sum(col("x").cast("double").cast(DecimalType(20, 10)))
            .cast("double") / count(lit(1))).as("cv"))
          .collect()
        val cent1: Seq[(Long, Seq[Double])] = cent1Rows.toSeq
          .groupBy(_.getLong(0))
          .toSeq.sortBy(_._1)
          .map { case (c, rs) =>
            (c, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq) }
        // round 2 assign off the collected means, then the declared
        // per-cluster membership + inertia aggregate
        val b2 = assignExpr(cent1)
        embs.select(b2.getField("c").as("c"), b2.getField("d2").as("d2"))
          .groupBy("c")
          .agg(count(lit(1)).as("n_members"),
            round(sum(col("d2")).cast("double"), 4).as("inertia"))
          .orderBy("c")
      }, {
        def assignCte(r: Int, centSrc: String) =
          s"""d$r AS (
               SELECT vec_id, c, d2 FROM (
                 SELECT a.vec_id, cc.c,
                        SUM(CAST((a.v - cc.cv) * (a.v - cc.cv)
                            AS DECIMAL(24,12))) AS d2,
                        ROW_NUMBER() OVER (PARTITION BY a.vec_id
                          ORDER BY SUM(CAST((a.v - cc.cv) * (a.v - cc.cv)
                            AS DECIMAL(24,12))), cc.c) AS rn
                 FROM dims a JOIN $centSrc cc ON cc.i = a.i
                 GROUP BY a.vec_id, cc.c)
               WHERE rn = 1)"""
        s"""WITH dims AS (
              SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
            seeds AS (
              SELECT vec_id, rn - 1 AS c FROM (
                SELECT vec_id, ROW_NUMBER() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                FROM embeddings)
              WHERE rn <= 8),
            cent0 AS (
              SELECT c, i, v AS cv FROM seeds JOIN dims USING (vec_id)),
            ${assignCte(1, "cent0")},
            cent1 AS (
              SELECT c, i,
                     CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                       / COUNT(*) AS cv
              FROM d1 JOIN dims USING (vec_id) GROUP BY 1, 2),
            ${assignCte(2, "cent1")}
            SELECT c, COUNT(*) AS n_members,
                   ROUND(CAST(SUM(d2) AS DOUBLE), 4) AS inertia
            FROM d2 GROUP BY c ORDER BY c"""
      }),

    // K-CENTER GREEDY CORESET (farthest-point sampling, the 2-approx
    // of Gonzalez '85 — the data-selection primitive behind coverage-
    // maximizing training subsets): seed at the lowest vec_id, then 5
    // rounds of "add the point farthest from the selected set", each
    // emitted with its selection radius (the coverage bound after that
    // round — the sequence is the coreset's quality curve). Distances
    // are exact DECIMAL(24,12) per-dim sums (vec_centroids device) ⇒
    // the argmax is bit-stable under any partitioning, vec_id breaks
    // ties. The selected set is a BOUNDED driver fit (k+1 = 6 one-row
    // collects — the Bpe.mergeTable device): each round is one
    // broadcast of ≤6×64 selected dims against the map-side dim
    // stream + a 1-row TakeOrdered, so at 100 TB the cost is k scans,
    // never a quadratic pair set. Oracle replays every round as
    // chained CTEs over the same decimal arithmetic.
    Q("sample_coreset",
      (s, d) => {
        import s.implicits._
        import graft.engine.expr.VecExact
        val rounds = 5
        // r14 rewrite (guide §1.2 step 1, §2.4 — the vec_pq device):
        // each greedy round was explode + ≤6-point broadcast join + two
        // aggregates; the selected set is ≤6 vectors BOUNDED BY
        // CONSTRUCTION, so carry their arrays on the driver (they were
        // already one-row collects) and evaluate dmin per row with
        // exact-decimal HOF folds — each round is ONE TakeOrdered(1)
        // job, zero exchanges. Oracle parity: identical IEEE (v−s)²
        // terms, exact decimal sums, least() over exact decimals = the
        // old MIN, same (radius DESC, vec_id) pick order.
        val embs = graft.engine.ops.Scale.spreadForCompute(embeddings(s, d))
          .select(col("vec_id"), col("embedding"))
        val seed = embs.orderBy("vec_id").limit(1).collect()(0)
        var selVecs = Vector(seed.getSeq[Float](1).map(_.toDouble).toSeq)
        val picks = scala.collection.mutable.ArrayBuffer[
          (Int, Long, Option[Double])]((0, seed.getLong(0), None))
        for (r <- 1 to rounds) {
          val dcols = selVecs.map(sv =>
            VecExact.l2decimal(col("embedding"), sv))
          val dmin = if (dcols.size == 1) dcols.head else least(dcols: _*)
          val pick = embs
            .select(col("vec_id"), col("embedding"),
              round(dmin.cast("double"), 6).as("radius"))
            .orderBy(desc("radius"), col("vec_id")).limit(1)
            .collect()(0)
          selVecs :+= pick.getSeq[Float](1).map(_.toDouble).toSeq
          picks += ((r, pick.getLong(0), Some(pick.getDouble(2))))
        }
        picks.toSeq.toDF("round", "vec_id", "radius").orderBy("round")
      }, {
        val roundCtes = (1 to 5).map { r =>
          s"""d$r AS (
               SELECT vec_id, MIN(d2) AS dmin FROM (
                 SELECT a.vec_id AS vec_id, s.s_id,
                        SUM(CAST((a.v - b.v) * (a.v - b.v)
                            AS DECIMAL(24,12))) AS d2
                 FROM dims a
                 CROSS JOIN sel${r - 1} s
                 JOIN dims b ON b.vec_id = s.s_id AND b.i = a.i
                 GROUP BY 1, 2)
               GROUP BY vec_id),
             p$r AS (SELECT vec_id, ROUND(CAST(dmin AS DOUBLE), 6)
                       AS radius
                     FROM d$r ORDER BY radius DESC, vec_id LIMIT 1),
             sel$r AS (SELECT s_id FROM sel${r - 1}
                       UNION ALL SELECT vec_id FROM p$r)"""
        }.mkString(",\n")
        val outRows = (1 to 5).map { r =>
          s"SELECT $r AS round, vec_id, radius FROM p$r"
        }.mkString("\nUNION ALL ")
        s"""WITH dims AS (
              SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
            sel0 AS (SELECT MIN(vec_id) AS s_id FROM embeddings),
            $roundCtes
            SELECT round, vec_id, radius FROM (
              SELECT 0 AS round, s_id AS vec_id,
                     CAST(NULL AS DOUBLE) AS radius
              FROM sel0
              UNION ALL $outRows)
            ORDER BY round"""
      }),

    // both cluster on the label family and the 64× dim explode is
    // map-side.
    Q("vec_centroids",
      (s, d) => {
        val dims = embeddings(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("p", "v")))
          .select(col("vec_id"), col("label"), (col("p") + 1).as("i"),
            col("v").cast("double").as("v"))
        val cent = dims.groupBy("label", "i")
          .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
            count(lit(1))).as("c"))
        val dist = dims.join(cent, Seq("label", "i"))
          .withColumn("sq",
            ((col("v") - col("c")) * (col("v") - col("c")))
              .cast(DecimalType(24, 12)))
          .groupBy("vec_id", "label")
          .agg(sum(col("sq")).as("d2"))
        val w = Window.partitionBy("label")
          .orderBy(desc("d2"), col("vec_id"))
        dist.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("label"), col("rk"), col("vec_id"),
            round(sqrt(col("d2").cast("double")), 4).as("dist"))
          .orderBy("label", "rk")
      },
      """WITH dims AS (
           SELECT vec_id, label, i,
                  CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
         cent AS (
           SELECT label, i,
                  CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                    / COUNT(*) AS c
           FROM dims GROUP BY 1, 2),
         dist AS (
           SELECT vec_id, d.label,
                  SUM(CAST((v - c) * (v - c) AS DECIMAL(24,12))) AS d2
           FROM dims d JOIN cent USING (label, i)
           GROUP BY 1, 2),
         r AS (
           SELECT label, vec_id, d2,
                  ROW_NUMBER() OVER (PARTITION BY label
                    ORDER BY d2 DESC, vec_id) AS rk
           FROM dist)
         SELECT label, rk, vec_id,
                ROUND(SQRT(CAST(d2 AS DOUBLE)), 4) AS dist
         FROM r WHERE rk <= 3 ORDER BY label, rk"""),

    // MATCH_RECOGNIZE-style sequence-pattern match over per-user event
    // timelines: encode each user's ordered events as a compact symbol
    // string (first letter of the type — collision-free on this domain:
    // click/error/purchase/signup/view), then run the pattern as a
    // regex ("a view, then eventually a click, then eventually a
    // purchase"). ONE user_id sort-exchange builds the sequence
    // (string_agg/array_join over the ordered window); the regex runs
    // on the tiny per-user strings. The encode-then-regex shape is how
    // sequence mining survives scale — the pattern engine never sees
    // raw rows, only |users| bounded symbol strings.
    Q("seq_pattern",
      (s, d) => {
        val seqs = events(s, d)
          .groupBy("user_id")
          .agg(concat_ws("",
            array_sort(collect_list(struct(
              unix_micros(col("ts")).as("t"), col("event_id"),
              substring(col("event_type"), 1, 1).as("sym"))))
              .getField("sym")).as("seq"))
        seqs.select(col("user_id"), length(col("seq")).as("n_events"),
            col("seq").rlike("v.*c.*p").as("matched"))
          .orderBy("user_id")
      },
      """WITH seqs AS (
           SELECT user_id,
                  string_agg(substring(event_type, 1, 1), ''
                    ORDER BY epoch_us(ts), event_id) AS seq
           FROM events GROUP BY user_id)
         SELECT user_id, CAST(length(seq) AS INT) AS n_events,
                regexp_matches(seq, 'v.*c.*p') AS matched
         FROM seqs ORDER BY user_id"""),

    // Equi-DEPTH histogram of order totals — the other histogram CBOs
    // keep (profile_histogram is equi-width): 10 buckets of equal row
    // count, each reporting its row span and value bounds. The ntile
    // assignment is tie-aware over a deterministic (value, key) order;
    // bounds are exact decimals so the bucket edges hash identically.
    Q("profile_equidepth",
      (s, d) => orders(s, d)
        .select(col("o_orderkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("v"))
        .withColumn("bucket",
          ntile(10).over(Window.orderBy(col("v"), col("o_orderkey"))))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(col("v")).cast("double").as("lo"),
          max(col("v")).cast("double").as("hi"))
        .orderBy("bucket"),
      """WITH t AS (
           SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v
           FROM orders),
         b AS (
           SELECT v, NTILE(10) OVER (ORDER BY v, o_orderkey) AS bucket
           FROM t)
         SELECT bucket, COUNT(*) AS n,
                CAST(MIN(v) AS DOUBLE) AS lo,
                CAST(MAX(v) AS DOUBLE) AS hi
         FROM b GROUP BY 1 ORDER BY bucket"""),

    // profile_equidepth's 100 TB path: the exact NTILE form above
    // funnels every row through one sort task — correct, and kept as
    // the oracle-checked twin — while THIS is how the histogram is
    // actually built at scale: one approx_percentile sketch aggregate
    // (Greenwald-Khanna partials merge map-side, no sort, no window),
    // the 9 boundaries broadcast, bucket assignment is a map-side fold
    // against the broadcast array, and one bucket-key aggregate ends
    // it. Approximate boundaries mean approximate depths, so the
    // DECLARED relation is the scale-invariant audit every equi-depth
    // builder reports — per-bucket depth within ±25% of n/10 and full
    // row coverage — not the boundary values (Round8Spec bounds the
    // drift against the exact form much tighter at test SFs).
    Q("profile_equidepth_approx",
      (s, d) => {
        val t = orders(s, d).select(
          col("o_totalprice").cast(DecimalType(18, 2)).as("v"))
        val fit = t.agg(
          expr("""approx_percentile(v,
                    array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D),
                    10000)""").as("bs"),
          count(lit(1)).as("total"))
        val counts = t.crossJoin(broadcast(fit))
          .select(
            expr("1 + aggregate(bs, 0, (acc, b) -> acc + if(v > b, 1, 0))")
              .cast("int").as("bucket"),
            col("total"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), first(col("total")).as("total"))
        val cover = counts.agg(sum(col("n")).as("covered"),
          first(col("total")).as("total"))
        val spine = s.range(1, 11)
          .select(col("id").cast("int").as("bucket"))
        spine.join(counts.drop("total"), Seq("bucket"), "left")
          .crossJoin(broadcast(cover))
          .select(col("bucket"),
            (abs(coalesce(col("n"), lit(0L)).cast("double") -
              col("total").cast("double") / 10.0) <=
              col("total").cast("double") / 10.0 * 0.25).as("ok_depth"),
            (col("covered") === col("total")).as("ok_cover"))
          .orderBy("bucket")
      },
      """SELECT CAST(i AS INT) AS bucket, true AS ok_depth,
                true AS ok_cover
         FROM range(1, 11) AS t(i) ORDER BY bucket"""),

    // Foreign-key candidate discovery (Metanome-style inclusion
    // profiling): for each declared candidate pair, the inclusion
    // coefficient |distinct(child) ∩ distinct(parent)| / |distinct
    // (child)| — 1.0 marks a real FK, near-0 rules one out (the
    // deliberately-wrong l_suppkey→c_custkey pair pins the negative
    // case). Each pair is two pre-shrunk distinct sets joined on the
    // key family — at 100 TB the distinct projections collapse
    // map-side first, so the join sees NDV-sized inputs, never rows.
    Q("profile_fk_candidates",
      (s, d) => {
        // ONE declarative plan, no driver actions: the tagged child and
        // parent key sets union into two long relations whose distincts
        // collapse map-side, then a single (candidate, k) join + two
        // tiny aggregates produce every pair's coefficient together —
        // the same jobs-fused shape maintain_stats uses for columns.
        def tagged(tag: String, df: DataFrame, c: String): DataFrame =
          df.select(lit(tag).as("candidate"), col(c).as("k")).distinct()
        val child =
          tagged("lineitem.l_orderkey->orders.o_orderkey",
            lineitem(s, d), "l_orderkey")
          .unionByName(tagged("orders.o_custkey->customer.c_custkey",
            orders(s, d), "o_custkey"))
          .unionByName(tagged("lineitem.l_suppkey->customer.c_custkey",
            lineitem(s, d), "l_suppkey"))
        val parent =
          tagged("lineitem.l_orderkey->orders.o_orderkey",
            orders(s, d), "o_orderkey")
          .unionByName(tagged("orders.o_custkey->customer.c_custkey",
            customer(s, d), "c_custkey"))
          .unionByName(tagged("lineitem.l_suppkey->customer.c_custkey",
            customer(s, d), "c_custkey"))
        val ndv = child.groupBy("candidate")
          .agg(count(lit(1)).as("child_ndv"))
        val contained = child.join(parent, Seq("candidate", "k"))
          .groupBy("candidate").agg(count(lit(1)).as("contained"))
        ndv.join(contained, Seq("candidate"), "left")
          .select(col("candidate"), col("child_ndv"),
            coalesce(col("contained"), lit(0L)).as("contained"),
            round(coalesce(col("contained"), lit(0L)) /
              col("child_ndv").cast("double"), 6).as("inclusion"))
          .orderBy("candidate")
      },
      """SELECT candidate, child_ndv, contained,
                ROUND(contained / CAST(child_ndv AS DOUBLE), 6)
                  AS inclusion
         FROM (
           SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS candidate,
                  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
                    AS child_ndv,
                  (SELECT COUNT(*) FROM
                    (SELECT DISTINCT l_orderkey FROM lineitem) c
                    JOIN (SELECT DISTINCT o_orderkey FROM orders) p
                      ON c.l_orderkey = p.o_orderkey) AS contained
           UNION ALL
           SELECT 'orders.o_custkey->customer.c_custkey',
                  (SELECT COUNT(DISTINCT o_custkey) FROM orders),
                  (SELECT COUNT(*) FROM
                    (SELECT DISTINCT o_custkey FROM orders) c
                    JOIN (SELECT DISTINCT c_custkey FROM customer) p
                      ON c.o_custkey = p.c_custkey)
           UNION ALL
           SELECT 'lineitem.l_suppkey->customer.c_custkey',
                  (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
                  (SELECT COUNT(*) FROM
                    (SELECT DISTINCT l_suppkey FROM lineitem) c
                    JOIN (SELECT DISTINCT c_custkey FROM customer) p
                      ON c.l_suppkey = p.c_custkey))
         ORDER BY candidate"""),

    // PER-DIMENSION STANDARDIZATION FIT — the (mean, std) table a
    // feature-normalization pipeline persists at ingest and applies
    // map-side forever after (vec_norm_stats profiles whole-vector
    // norms; this is the per-dim z-score fit). One dim explode + one
    // 64-key partial-agg exchange — dimension-bounded output at any
    // corpus size. Moments are exact decimals; mean/std come off the
    // agg_corr closed form on doubles cast once, population form
    // (n divisor), rounded at 8.
    Q("vec_standardize",
      (s, d) => {
        val dims = embeddings(s, d)
          .select(posexplode(col("embedding")).as(Seq("p", "x")))
          .select((col("p") + 1).as("i"), col("x").cast("double").as("v"))
        dims.groupBy("i")
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast(DecimalType(24, 12))).as("sv"),
            sum((col("v") * col("v")).cast(DecimalType(30, 12)))
              .as("svv"))
          .select(col("i"), col("n"),
            round(col("sv").cast("double") / col("n").cast("double"), 8)
              .as("mean_r"),
            round(sqrt((col("n").cast("double") *
              col("svv").cast("double") -
              col("sv").cast("double") * col("sv").cast("double")) /
              (col("n").cast("double") * col("n").cast("double"))), 8)
              .as("std_r"))
          .orderBy("i")
      },
      """WITH dims AS (
           SELECT i, CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
         m AS (
           SELECT i, COUNT(*) AS n,
                  SUM(CAST(v AS DECIMAL(24,12))) AS sv,
                  SUM(CAST(v * v AS DECIMAL(30,12))) AS svv
           FROM dims GROUP BY i)
         SELECT CAST(i AS INT) AS i, CAST(n AS BIGINT) AS n,
                ROUND(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 8)
                  AS mean_r,
                ROUND(sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) -
                            CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) /
                           (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 8)
                  AS std_r
         FROM m ORDER BY i"""),

    // LABEL-MARGIN SCREEN — the mislabel detector the embedding-QA
    // family lacked: for every vector, squared distance to its OWN
    // label centroid vs the closest OTHER centroid; margin < 0 means
    // the vector sits in another label's territory (a confusable /
    // mislabeled training example — SemDeDup-adjacent curation
    // signal). Where vec_centroids ranks within-label outliers, this
    // ranks BETWEEN-label confusion. Parity: centroids are exact
    // per-dim decimal sums cast to double once (vec_centroids
    // precedent); each d² is an exact DECIMAL(24,12) sum of
    // bit-identical squared gaps, so the own-vs-other comparison and
    // the margin are decimal-exact — no float min, no order
    // sensitivity. Per-label aggregate output; the |labels|×64
    // centroid relation broadcasts, distances are one map-side join
    // + (vec,label)-keyed partial agg at any scale.
    Q("vec_label_margin",
      (s, d) => {
        val dims = embeddings(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("p", "v")))
          .select(col("vec_id"), col("label"), (col("p") + 1).as("i"),
            col("v").cast("double").as("v"))
        val cent = dims.groupBy(col("label").as("clabel"), col("i"))
          .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
            count(lit(1))).as("c"))
        val d2 = dims.join(broadcast(cent), Seq("i"))
          .withColumn("sq",
            ((col("v") - col("c")) * (col("v") - col("c")))
              .cast(DecimalType(24, 12)))
          .groupBy("vec_id", "label", "clabel")
          .agg(sum(col("sq")).as("d2"))
        val own = d2.filter(col("label") === col("clabel"))
          .select(col("vec_id"), col("label"), col("d2").as("d_own"))
        val other = d2.filter(col("label") =!= col("clabel"))
          .groupBy("vec_id").agg(min(col("d2")).as("d_other"))
        own.join(other, Seq("vec_id"))
          .withColumn("margin", col("d_other") - col("d_own"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("margin") < 0, 1L).otherwise(0L))
              .as("n_confusable"),
            round(sum("margin").cast("double") / count(lit(1)), 6)
              .as("avg_margin"))
          .orderBy("label")
      },
      s"""WITH $EmbDimsCte,
         cent AS (
           SELECT label AS clabel, i,
                  CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) /
                    COUNT(*) AS c
           FROM dims GROUP BY 1, 2),
         d2 AS (
           SELECT vec_id, label, clabel,
                  SUM(CAST((v - c) * (v - c) AS DECIMAL(24,12))) AS d2
           FROM dims JOIN cent USING (i) GROUP BY 1, 2, 3),
         own AS (SELECT vec_id, label, d2 AS d_own FROM d2
                 WHERE label = clabel),
         oth AS (SELECT vec_id, MIN(d2) AS d_other FROM d2
                 WHERE label <> clabel GROUP BY 1),
         m AS (SELECT o.label, ot.d_other - o.d_own AS margin
               FROM own o JOIN oth ot USING (vec_id))
         SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_confusable,
                ROUND(CAST(SUM(margin) AS DOUBLE) / COUNT(*), 6)
                  AS avg_margin
         FROM m GROUP BY 1 ORDER BY label"""),

    // INTERVAL CONCURRENCY (sweep line) — "how many lineitems are in
    // the open order→ship window on any given day": the interval-
    // STABBING count that coverage/gaps don't answer, i.e. the queue-
    // depth / open-WIP metric of a fulfillment pipeline. Classic
    // event-sweep: +1 at o_orderdate, −1 the day after l_shipdate,
    // cumulative sum over the day-grain delta relation (calendar-
    // bounded window — the zval-histogram discipline), then a
    // month-keyed rollup of peak / average depth. All integer counts;
    // the monthly average is a 1e-4-unit integer division and the
    // peak day is the rank-1 (depth desc, day) row per month — every
    // window either calendar-sized or month-partitioned.
    Q("interval_concurrency",
      (s, d) => {
        val iv = lineitem(s, d)
          .join(orders(s, d).select(col("o_orderkey"),
            col("o_orderdate").cast("date").as("od")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("od"), col("l_shipdate").cast("date").as("sd"))
        val deltas = iv.select(col("od").as("day"), lit(1L).as("delta"))
          .unionByName(iv.select(date_add(col("sd"), 1).as("day"),
            lit(-1L).as("delta")))
          .groupBy("day").agg(sum("delta").as("dsum"))
        val w = Window.orderBy("day")
        val daily = deltas.withColumn("conc", sum("dsum").over(w))
          .select(col("day"), col("conc"))
        val wm = Window.partitionBy("month")
          .orderBy(desc("conc"), col("day"))
        daily
          .withColumn("month", date_format(col("day"), "yyyy-MM"))
          .withColumn("rk", row_number().over(wm))
          .groupBy("month")
          .agg(count(lit(1)).as("n_delta_days"),
            max("conc").as("max_concurrency"),
            min(when(col("rk") === 1, col("day"))).as("peak_day"),
            sum("conc").as("sc"))
          .select(col("month"), col("n_delta_days"),
            col("max_concurrency"), col("peak_day"),
            (expr("(sc * 10000 + n_delta_days div 2) div n_delta_days")
              .cast("double") / 10000.0).as("avg_concurrency"))
          .orderBy("month")
      },
      """WITH iv AS (
           SELECT CAST(o.o_orderdate AS DATE) AS od,
                  CAST(l.l_shipdate AS DATE) AS sd
           FROM lineitem l JOIN orders o
             ON l.l_orderkey = o.o_orderkey),
         deltas AS (
           SELECT day, CAST(SUM(delta) AS BIGINT) AS dsum FROM (
             SELECT od AS day, 1 AS delta FROM iv
             UNION ALL
             SELECT CAST(sd + INTERVAL 1 DAY AS DATE), -1 FROM iv)
             GROUP BY 1),
         daily AS (
           SELECT CAST(day AS DATE) AS day,
                  SUM(dsum) OVER (ORDER BY day) AS conc
           FROM deltas),
         ranked AS (
           SELECT strftime(day, '%Y-%m') AS month, day, conc,
                  ROW_NUMBER() OVER (PARTITION BY strftime(day, '%Y-%m')
                    ORDER BY conc DESC, day) AS rk
           FROM daily)
         SELECT month, CAST(COUNT(*) AS BIGINT) AS n_delta_days,
                CAST(MAX(conc) AS BIGINT) AS max_concurrency,
                MIN(CASE WHEN rk = 1 THEN day END) AS peak_day,
                CAST((SUM(conc) * 10000 + COUNT(*) // 2) // COUNT(*)
                  AS DOUBLE) / 10000.0 AS avg_concurrency
         FROM ranked GROUP BY 1 ORDER BY month"""),

    // RESIDUAL QUANTIZATION ERROR — the two-stage coding audit behind
    // every modern vector index (IVF-PQ/RQ): stage 0 reconstructs a
    // vector as its label centroid alone, stage 1 adds an int8-coded
    // residual (the vec_quantize scale rule applied to the residual).
    // Per-label MSEs for both stages quantify what the residual stage
    // buys. Centroids are the exact-decimal per-dim means assembled
    // into ordered arrays and BROADCAST against the un-exploded
    // embedding stream (the vec_cluster_purity device — never a 64×
    // explode join); all per-vector work is sequential plain-double
    // HOF folds (fixed IEEE order), per-vector sums are
    // decimal-pinned before the engine-ordered label aggregate.
    Q("vec_residual_error",
      (s, d) => {
        val dims = embeddings(s, d)
          .select(col("label"),
            posexplode(col("embedding")).as(Seq("p", "v")))
          .select(col("label"), (col("p") + 1).as("i"),
            col("v").cast("double").as("v"))
        val cvecs = dims.groupBy(col("label").as("clabel"), col("i"))
          .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
            count(lit(1))).as("c"))
          .groupBy("clabel")
          .agg(expr("transform(sort_array(collect_list(struct(i, c))), " +
            "s -> s.c)").as("cvec"))
        val r0 = embeddings(s, d)
          .join(broadcast(cvecs), col("label") === col("clabel"))
          .select(col("vec_id"), col("label"),
            col("embedding"), col("cvec"),
            expr("""aggregate(zip_with(embedding, cvec,
                      (x, y) -> (cast(x AS double) - y) *
                                (cast(x AS double) - y)),
                    0.0D, (a, v) -> a + v)""").as("sse0"),
            expr("""aggregate(zip_with(embedding, cvec,
                      (x, y) -> abs(cast(x AS double) - y)),
                    0.0D, (a, v) -> greatest(a, v)) / 127.0""")
              .as("rscale"))
        val r1 = r0.select(col("label"),
          col("sse0").cast(DecimalType(24, 12)).as("sse0d"),
          expr("""aggregate(zip_with(embedding, cvec,
                    (x, y) -> pow((cast(x AS double) - y) -
                      round((cast(x AS double) - y) /
                        nullif(rscale, CAST(0.0 AS DOUBLE))) * rscale,
                      2)),
                  0.0D, (a, v) -> a + v)""")
            .cast(DecimalType(24, 12)).as("sse1d"))
        r1.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            round(sum("sse0d").cast("double") /
              (count(lit(1)) * lit(64)), 12).as("mse_stage0"),
            round(sum("sse1d").cast("double") /
              (count(lit(1)) * lit(64)), 12).as("mse_stage1"))
          .orderBy("label")
      },
      s"""WITH dims AS (
           SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
         $CentroidCte,
         r0 AS (
           SELECT e.vec_id, e.label, e.embedding, cv.cvec,
                  list_reduce(list_transform(range(1, 65),
                    i -> (CAST(e.embedding[i] AS DOUBLE) - cv.cvec[i]) *
                         (CAST(e.embedding[i] AS DOUBLE) - cv.cvec[i])),
                    (x, y) -> x + y) AS sse0,
                  list_reduce(list_transform(range(1, 65),
                    i -> abs(CAST(e.embedding[i] AS DOUBLE)
                             - cv.cvec[i])),
                    (x, y) -> greatest(x, y)) / 127.0 AS rscale
           FROM embeddings e JOIN cvecs cv ON cv.clabel = e.label),
         r1 AS (
           SELECT label,
                  CAST(sse0 AS DECIMAL(24,12)) AS sse0d,
                  CAST(list_reduce(list_transform(range(1, 65),
                    i -> pow((CAST(embedding[i] AS DOUBLE) - cvec[i]) -
                             round((CAST(embedding[i] AS DOUBLE)
                                    - cvec[i]) /
                               nullif(rscale, 0.0)) * rscale, 2)),
                    (x, y) -> x + y) AS DECIMAL(24,12)) AS sse1d
           FROM r0)
         SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                ROUND(CAST(SUM(sse0d) AS DOUBLE) / (COUNT(*) * 64),
                  12) AS mse_stage0,
                ROUND(CAST(SUM(sse1d) AS DOUBLE) / (COUNT(*) * 64),
                  12) AS mse_stage1
         FROM r1 GROUP BY label ORDER BY label"""),

    // FEATURE ASSEMBLY — the feature-store verb: one wide per-entity
    // relation a churn/LTV model trains on, every column an exact
    // integer so the "feature parity" between the offline store and
    // the serving path is provable (the whole point of declaring it):
    // volume (n_events, active_days), tempo (span, mean gap — an
    // exact integer division, no per-row gap window needed: span and
    // count determine it), recency vs the corpus watermark, and the
    // purchase rate in 1e-4 units. ONE user-keyed aggregate + a
    // broadcast watermark — no windows at all.
    Q("ml_feature_assembly",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("t"),
          col("ts").cast("date").as("dt"))
        val wm = ev.agg(max("dt").as("maxd"))
        ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            countDistinct("event_type").as("n_types"),
            countDistinct("dt").as("active_days"),
            min("t").as("t0"), max("t").as("t1"), max("dt").as("lastd"),
            sum(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("n_purchases"))
          .crossJoin(broadcast(wm))
          .select(col("user_id"), col("n_events"), col("n_types"),
            col("active_days"),
            expr("(t1 - t0) div 1000000").as("span_s"),
            when(col("n_events") > 1,
              expr("((t1 - t0) div 1000000) div (n_events - 1)"))
              .otherwise(lit(0L)).as("mean_gap_s"),
            datediff(col("maxd"), col("lastd")).cast("long")
              .as("recency_days"),
            (expr("(n_purchases * 1000000 + n_events div 2) " +
              "div n_events").cast("double") / 10000.0)
              .as("purchase_rate_pct"))
          .orderBy("user_id")
      },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t,
                  CAST(ts AS DATE) AS dt
           FROM events),
         wm AS (SELECT MAX(dt) AS maxd FROM ev),
         agg AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
                  CAST(COUNT(DISTINCT dt) AS BIGINT) AS active_days,
                  MIN(t) AS t0, MAX(t) AS t1, MAX(dt) AS lastd,
                  CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
           FROM ev GROUP BY 1)
         SELECT user_id, n_events, n_types, active_days,
                (t1 - t0) // 1000000 AS span_s,
                CASE WHEN n_events > 1
                     THEN ((t1 - t0) // 1000000) // (n_events - 1)
                     ELSE 0 END AS mean_gap_s,
                CAST(date_diff('day', lastd, (SELECT maxd FROM wm))
                  AS BIGINT) AS recency_days,
                CAST((n_purchases * 1000000 + n_events // 2)
                     // n_events AS DOUBLE) / 10000.0
                  AS purchase_rate_pct
         FROM agg ORDER BY user_id"""),

    // SEASONAL STRENGTH — variance share explained by day-of-week:
    // 1 − SS_resid/SS_total over the daily revenue series, the single
    // number that says whether time_seasonality's per-dow table
    // matters (≈0: no weekly structure; →1: the weekday predicts the
    // day). Squared-cents sums exceed BIGINT at ~10^3 days, so both
    // engines pin x² and S_g² to DECIMAL(38,0) (exact), the ≤7
    // per-dow S²/n terms to DECIMAL(38,6) (order-free sum), and the
    // final ratio is ROUND(…, 6) + 0.0 — the strength can land on an
    // exact 0 and −0.0 ≠ 0.0 to the comparator.
    Q("time_seasonal_strength",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val daily = orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("bigint").as("x"))
          .withColumn("dow", dayofweek(col("day")).cast("int"))
        val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
        val dow = daily.groupBy("dow")
          .agg(count(lit(1)).as("ng"), sum("x").as("sg"))
          .select((expr("CAST(CAST(sg AS DECIMAL(38,0)) * sg " +
            "AS DOUBLE)") / col("ng")).cast(DecimalType(38, 6))
            .as("term"))
          .agg(sum("term").as("fit"))
        // the SS magnitudes themselves are NOT declared: at ~1e17 the
        // DECIMAL(38)→DOUBLE casts are rounded differently by the two
        // engines (observed 1-ulp skew at sf0.001), so only the
        // dimensionless ratio — where the skew cancels to sub-1e-6 —
        // survives a ROUND(6) hash-compare
        tot.crossJoin(dow)
          .select(col("n").as("n_days"),
            (round(lit(1.0) -
              expr("(CAST(sxx AS DOUBLE) - CAST(fit AS DOUBLE))") /
              expr("(CAST(sxx AS DOUBLE) - " +
                "CAST(CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) / n)"),
              6) + lit(0.0)).as("seasonal_strength"))
      },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
           FROM orders GROUP BY 1),
         dd AS (
           SELECT CAST(dayofweek(day) AS INTEGER) AS dow, x
           FROM daily),
         tot AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
           FROM dd),
         dow AS (
           SELECT SUM(CAST(
                    CAST(CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE) / ng
                    AS DECIMAL(38,6))) AS fit
           FROM (SELECT dow, CAST(COUNT(*) AS BIGINT) AS ng,
                        CAST(SUM(x) AS BIGINT) AS sg
                 FROM dd GROUP BY 1))
         SELECT n AS n_days,
                ROUND(1.0 - (CAST(sxx AS DOUBLE) - CAST(fit AS DOUBLE))
                  / (CAST(sxx AS DOUBLE) -
                     CAST(CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) / n),
                  6) + 0.0 AS seasonal_strength
         FROM tot CROSS JOIN dow"""),

    // ROC AUC via the Mann–Whitney rank statistic (scorer = n_chars,
    // label = lang·en): AUC = (Σ midranks(pos) − n₊(n₊+1)/2)/(n₊n₋),
    // with TIED scores getting average ranks. Computed entirely on the
    // score-value HISTOGRAM — midranks in doubled units (2·mr = 2·cum_
    // before + c + 1) stay integral, and the final AUC is an exact
    // integer division in 1e-6 units (tie-proof). One histogram
    // aggregate + one cumulative window over the ≤|distinct scores|
    // domain — never a row-level global rank, the profile_equidepth
    // drill-down lesson applied to model evaluation.
    Q("ml_auc_roc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = documents(s, d)
          .groupBy(col("n_chars").as("sc"))
          .agg(count(lit(1)).as("c"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"))
        val w = Window.orderBy("sc").rowsBetween(Window.unboundedPreceding, -1)
        // doubled-midrank × count products and n₊n₋ in DECIMAL(38,0):
        // raw LONG (2·cb+c+1)·cp and np·nn are corpus² — they overflow
        // at ~3e9 docs, exactly the scale the histogram form targets
        h.withColumn("cb", coalesce(sum("c").over(w), lit(0L)))
          .agg(sum("cp").as("np"),
            (sum("c") - sum("cp")).as("nn"),
            sum((lit(2) * col("cb") + col("c") + 1)
              .cast(DecimalType(38, 0)) * col("cp")).as("r2"))
          .select(col("np").as("n_pos"), col("nn").as("n_neg"),
            expr("""((r2 - CAST(np AS DECIMAL(38,0))*(np+1)) * 1000000
                     + (2 * CAST(np AS DECIMAL(38,0)) * nn) div 2)
                    div (2 * CAST(np AS DECIMAL(38,0)) * nn)
                    / 1000000.0D""").as("auc"))
      },
      """WITH h AS (SELECT n_chars AS sc, count(*) AS c,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp
             FROM documents GROUP BY 1),
         cum AS (SELECT sc, c, cp,
             coalesce(sum(c) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
           FROM h),
         agg AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
                        CAST(sum(c) - sum(cp) AS BIGINT) AS nn,
                        sum((2*cb + c + 1) * CAST(cp AS HUGEINT)) AS r2
                 FROM cum)
         SELECT np AS n_pos, nn AS n_neg,
                ((r2 - CAST(np AS HUGEINT)*(np+1)) * 1000000
                  + (2 * CAST(np AS HUGEINT) * nn) // 2)
                  // (2 * CAST(np AS HUGEINT) * nn) / 1000000.0 AS auc
         FROM agg"""),

    // TWO-FEATURE OLS (normal equations, closed form) — extends
    // agg_regression past one regressor: ŷ = b0 + bx·quantity +
    // bz·discount over lineitem, solved by Cramer on the centered 2×2
    // moment matrix. Per-row cross products are double products pinned
    // ONCE to decimal (chained decimal×decimal precision rules differ
    // across engines — the dq_cross_table_recon lesson), summed
    // exactly, cast to double once; both engines then run the
    // IDENTICAL closed-form expression on identical doubles. One
    // partial-agg exchange, no windows, no iteration.
    Q("ml_ols_multi",
      (s, d) => lineitem(s, d)
        .agg(
          count(lit(1)).as("n"),
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)")
            .as("sx"),
          expr("CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)")
            .as("sz"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)")
            .as("sy"),
          expr("CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))" +
            " AS DOUBLE)").as("sxx"),
          expr("CAST(sum(CAST(l_discount * l_discount AS DECIMAL(28,8)))" +
            " AS DOUBLE)").as("szz"),
          expr("CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(28,6)))" +
            " AS DOUBLE)").as("sxz"),
          expr("CAST(sum(CAST(l_quantity * l_extendedprice" +
            " AS DECIMAL(28,4))) AS DOUBLE)").as("sxy"),
          expr("CAST(sum(CAST(l_discount * l_extendedprice" +
            " AS DECIMAL(28,4))) AS DOUBLE)").as("szy"),
          expr("CAST(sum(CAST(l_extendedprice * l_extendedprice" +
            " AS DECIMAL(32,4))) AS DOUBLE)").as("syy"))
        .selectExpr(
          "n",
          """ROUND(((szz - sz*sz/n)*(sxy - sx*sy/n)
                    - (sxz - sx*sz/n)*(szy - sz*sy/n)) /
                   ((sxx - sx*sx/n)*(szz - sz*sz/n)
                    - (sxz - sx*sz/n)*(sxz - sx*sz/n)), 6) + 0.0D AS b_qty""",
          """ROUND(((sxx - sx*sx/n)*(szy - sz*sy/n)
                    - (sxz - sx*sz/n)*(sxy - sx*sy/n)) /
                   ((sxx - sx*sx/n)*(szz - sz*sz/n)
                    - (sxz - sx*sz/n)*(sxz - sx*sz/n)), 6) + 0.0D AS b_disc""",
          """ROUND(sy/n
               - (((szz - sz*sz/n)*(sxy - sx*sy/n)
                   - (sxz - sx*sz/n)*(szy - sz*sy/n)) /
                  ((sxx - sx*sx/n)*(szz - sz*sz/n)
                   - (sxz - sx*sz/n)*(sxz - sx*sz/n))) * (sx/n)
               - (((sxx - sx*sx/n)*(szy - sz*sy/n)
                   - (sxz - sx*sz/n)*(sxy - sx*sy/n)) /
                  ((sxx - sx*sx/n)*(szz - sz*sz/n)
                   - (sxz - sx*sz/n)*(sxz - sx*sz/n))) * (sz/n), 4)
             + 0.0D AS intercept""",
          """ROUND((((szz - sz*sz/n)*(sxy - sx*sy/n)
                     - (sxz - sx*sz/n)*(szy - sz*sy/n)) /
                    ((sxx - sx*sx/n)*(szz - sz*sz/n)
                     - (sxz - sx*sz/n)*(sxz - sx*sz/n)) * (sxy - sx*sy/n)
                   + ((sxx - sx*sx/n)*(szy - sz*sy/n)
                      - (sxz - sx*sz/n)*(sxy - sx*sy/n)) /
                     ((sxx - sx*sx/n)*(szz - sz*sz/n)
                      - (sxz - sx*sz/n)*(sxz - sx*sz/n)) * (szy - sz*sy/n))
                  / (syy - sy*sy/n), 6) + 0.0D AS r2"""),
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sz,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
             AS DOUBLE) AS sxx,
           CAST(sum(CAST(l_discount * l_discount AS DECIMAL(28,8)))
             AS DOUBLE) AS szz,
           CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(28,6)))
             AS DOUBLE) AS sxz,
           CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4)))
             AS DOUBLE) AS sxy,
           CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(28,4)))
             AS DOUBLE) AS szy,
           CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(32,4)))
             AS DOUBLE) AS syy
           FROM lineitem)
         SELECT n,
           ROUND(((szz - sz*sz/n)*(sxy - sx*sy/n)
                  - (sxz - sx*sz/n)*(szy - sz*sy/n)) /
                 ((sxx - sx*sx/n)*(szz - sz*sz/n)
                  - (sxz - sx*sz/n)*(sxz - sx*sz/n)), 6) + 0.0 AS b_qty,
           ROUND(((sxx - sx*sx/n)*(szy - sz*sy/n)
                  - (sxz - sx*sz/n)*(sxy - sx*sy/n)) /
                 ((sxx - sx*sx/n)*(szz - sz*sz/n)
                  - (sxz - sx*sz/n)*(sxz - sx*sz/n)), 6) + 0.0 AS b_disc,
           ROUND(sy/n
             - (((szz - sz*sz/n)*(sxy - sx*sy/n)
                 - (sxz - sx*sz/n)*(szy - sz*sy/n)) /
                ((sxx - sx*sx/n)*(szz - sz*sz/n)
                 - (sxz - sx*sz/n)*(sxz - sx*sz/n))) * (sx/n)
             - (((sxx - sx*sx/n)*(szy - sz*sy/n)
                 - (sxz - sx*sz/n)*(sxy - sx*sy/n)) /
                ((sxx - sx*sx/n)*(szz - sz*sz/n)
                 - (sxz - sx*sz/n)*(sxz - sx*sz/n))) * (sz/n), 4)
             + 0.0 AS intercept,
           ROUND((((szz - sz*sz/n)*(sxy - sx*sy/n)
                   - (sxz - sx*sz/n)*(szy - sz*sy/n)) /
                  ((sxx - sx*sx/n)*(szz - sz*sz/n)
                   - (sxz - sx*sz/n)*(sxz - sx*sz/n)) * (sxy - sx*sy/n)
                 + ((sxx - sx*sx/n)*(szy - sz*sy/n)
                    - (sxz - sx*sz/n)*(sxy - sx*sy/n)) /
                   ((sxx - sx*sx/n)*(szz - sz*sz/n)
                    - (sxz - sx*sz/n)*(sxz - sx*sz/n)) * (szy - sz*sy/n))
                / (syy - sy*sy/n), 6) + 0.0 AS r2
         FROM m"""),

    // DECILE LIFT / GAINS TABLE for a scorer (score = n_chars, target =
    // lang·en) — the campaign-targeting complement of ml_auc_roc. Rows
    // get an EXACT global rank with no global sort: descending
    // cumulative counts over the score-value histogram give each score
    // block's offset, a window partitioned BY SCORE breaks ties on
    // doc_id inside the block (the rfm_segmentation drill-down shape),
    // rank = offset + within-block position. Decile, lift and
    // cumulative gain are then pure integer arithmetic (1e-4 units).
    Q("ml_lift_table",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val rows = documents(s, d).select(col("doc_id"),
          col("n_chars").as("sc"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        val cum = rows.groupBy("sc").agg(count(lit(1)).as("c"))
          .withColumn("cb", coalesce(
            sum("c").over(Window.orderBy(desc("sc"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("sc", "cb")
        val tot = rows.agg(count(lit(1)).as("n"), sum("y").as("p"))
        val ranked = rows.join(cum, Seq("sc"))
          .withColumn("grank",
            col("cb") + row_number().over(
              Window.partitionBy("sc").orderBy("doc_id")))
        ranked.crossJoin(broadcast(tot))
          .withColumn("decile",
            expr("CAST(((grank - 1) * 10) div n + 1 AS INT)"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_d"), sum("y").as("pos_d"),
            first("n").as("n"), first("p").as("p"))
          // pos_d·n and n_d·p are corpus² products — DECIMAL(38,0)
          // operand casts, not raw LONG (overflow at ~3e9 rows)
          .withColumn("lift",
            expr("""(CAST(pos_d AS DECIMAL(38,0)) * n * 10000
                     + (CAST(n_d AS DECIMAL(38,0)) * p) div 2)
                    div (CAST(n_d AS DECIMAL(38,0)) * p) / 10000.0D"""))
          .withColumn("cum_pos", sum("pos_d").over(
            Window.orderBy("decile")
              .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cum_gain",
            expr("(cum_pos * 10000 + p div 2) div p / 10000.0D"))
          .select("decile", "n_d", "pos_d", "lift", "cum_gain")
          .orderBy("decile")
      },
      """WITH rows_ AS (SELECT doc_id, n_chars AS sc,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         h AS (SELECT sc, count(*) AS c FROM rows_ GROUP BY sc),
         cum AS (SELECT sc, coalesce(sum(c) OVER (ORDER BY sc DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cb FROM h),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(y) AS BIGINT) AS p FROM rows_),
         rk AS (SELECT r.doc_id, r.y,
             cb + ROW_NUMBER() OVER (PARTITION BY r.sc ORDER BY r.doc_id)
               AS grank
           FROM rows_ r JOIN cum ON r.sc = cum.sc),
         agg AS (SELECT CAST(((grank - 1) * 10) // n + 1 AS INT)
                   AS decile,
                 CAST(count(*) AS BIGINT) AS n_d,
                 CAST(sum(y) AS BIGINT) AS pos_d
           FROM rk CROSS JOIN tot GROUP BY 1)
         SELECT decile, n_d, pos_d,
           (CAST(pos_d AS HUGEINT) * n * 10000
             + (CAST(n_d AS HUGEINT) * p) // 2)
             // (CAST(n_d AS HUGEINT) * p) / 10000.0
             AS lift,
           (sum(pos_d) OVER (ORDER BY decile) * 10000 + p // 2) // p
             / 10000.0 AS cum_gain
         FROM agg CROSS JOIN tot ORDER BY decile"""),

    // COHEN'S KAPPA between two cheap binary raters (doc length above
    // corpus mean vs letter density above corpus mean) — the
    // inter-rater agreement check run before trusting an ensemble of
    // screens. κ = (N·Σagree − Σ marginal products)/(N² − Σ marginal
    // products): every term is an exact BIGINT, the final ratio is a
    // SIGN-SPLIT 1e-4-unit integer division (κ is negative when
    // raters disagree more than chance — Spark div truncates, DuckDB
    // // floors, so the sign must come off first). Density votes are
    // cross-multiplications; no float exists anywhere.
    Q("quality_kappa",
      (s, d) => {
        val per = documents(s, d).select(col("doc_id"), col("n_chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[A-Za-z]", "")))
            .cast("long").as("letters"),
          length(col("text")).cast("long").as("tl"))
        val g = per.agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"), sum("letters").as("sum_letters"),
          sum("tl").as("sum_tl"))
        per.crossJoin(broadcast(g))
          .select(
            // rating comparisons in DECIMAL(38,0): letters·sum_tl is
            // per-doc length × CORPUS total chars — overflows LONG at
            // ~1e4 docs of 1e5 chars, far below any real corpus
            expr("""CASE WHEN CAST(n_chars AS DECIMAL(38,0)) * n
                         > sum_chars THEN 1 ELSE 0 END""").as("ra"),
            expr("""CASE WHEN CAST(letters AS DECIMAL(38,0)) * sum_tl
                         > CAST(tl AS DECIMAL(38,0)) * sum_letters
                    THEN 1 ELSE 0 END""").as("rb"),
            col("n"))
          .agg(
            sum(expr("CASE WHEN ra = 1 AND rb = 1 THEN 1L ELSE 0L END"))
              .as("n11"),
            sum(expr("CASE WHEN ra = 1 AND rb = 0 THEN 1L ELSE 0L END"))
              .as("n10"),
            sum(expr("CASE WHEN ra = 0 AND rb = 1 THEN 1L ELSE 0L END"))
              .as("n01"),
            sum(expr("CASE WHEN ra = 0 AND rb = 0 THEN 1L ELSE 0L END"))
              .as("n00"),
            first("n").as("n"))
          // n²-scale products in DECIMAL(38,0): raw LONG
          // abs(po−pe)·1e4 overflows at ~9.6e8 docs
          .withColumn("nn", expr("CAST(n AS DECIMAL(38,0)) * n"))
          .withColumn("pe",
            expr("""CAST(n11+n10 AS DECIMAL(38,0)) * (n11+n01)
                    + CAST(n01+n00 AS DECIMAL(38,0)) * (n10+n00)"""))
          .withColumn("po", expr("CAST(n11+n00 AS DECIMAL(38,0)) * n"))
          .select(col("n11"), col("n10"), col("n01"), col("n00"),
            expr("""CASE WHEN nn - pe = 0 THEN NULL ELSE
                      CAST((CASE WHEN po - pe < 0 THEN -1 ELSE 1 END) *
                        ((abs(po - pe) * 10000 + (nn - pe) div 2)
                         div (nn - pe)) AS DOUBLE) / 1e4
                    END""").as("kappa"))
      },
      """WITH per AS (SELECT doc_id, n_chars,
             length(text) - length(regexp_replace(text,'[A-Za-z]','','g'))
               AS letters,
             length(text) AS tl
           FROM documents),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                      CAST(sum(letters) AS BIGINT) AS sum_letters,
                      CAST(sum(tl) AS BIGINT) AS sum_tl FROM per),
         r AS (SELECT
             CASE WHEN CAST(n_chars AS HUGEINT) * n > sum_chars
               THEN 1 ELSE 0 END AS ra,
             CASE WHEN CAST(letters AS HUGEINT) * sum_tl
                  > CAST(tl AS HUGEINT) * sum_letters
               THEN 1 ELSE 0 END AS rb, n
           FROM per CROSS JOIN g),
         cmat AS (SELECT
             CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n11,
             CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n10,
             CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n01,
             CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n00,
             min(n) AS n
           FROM r),
         wide AS (SELECT n11, n10, n01, n00,
             CAST(n AS HUGEINT) * n AS nn,
             CAST(n11+n10 AS HUGEINT) * (n11+n01)
               + CAST(n01+n00 AS HUGEINT) * (n10+n00) AS pe,
             CAST(n11+n00 AS HUGEINT) * n AS po
           FROM cmat)
         SELECT n11, n10, n01, n00,
           CASE WHEN nn - pe = 0 THEN NULL ELSE
             CAST((CASE WHEN po - pe < 0 THEN -1 ELSE 1 END) *
               ((abs(po - pe) * 10000 + (nn - pe) // 2)
                // (nn - pe)) AS DOUBLE) / 1e4
           END AS kappa
         FROM wide"""),

    // WEIGHT-OF-EVIDENCE / INFORMATION VALUE — the credit-scoring
    // binning audit: per fixed price band, WOE = ln(share_pos /
    // share_neg) and IV = Σ(share_pos − share_neg)·WOE. The ln's
    // argument is a DOUBLE ratio of exact integer counts — identical
    // on both engines — and each WOE term is ROUNDed at 1e-6 before
    // the (≤5-term) IV sum, the text_js_divergence precedent for
    // keeping a libm call out of the comparison margin. Empty-side
    // bins yield NULL WOE and drop out of IV.
    Q("ml_woe_iv",
      (s, d) => {
        val b = orders(s, d).select(
          expr("""least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) div 10000000, 4L)""").as("band"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("y"))
          .groupBy("band")
          .agg(count(lit(1)).as("n"), sum("y").as("pos"))
          .withColumn("neg", col("n") - col("pos"))
        val t = b.agg(sum("pos").as("tp"), sum("neg").as("tn"))
        val woed = b.crossJoin(broadcast(t))
          .withColumn("woe",
            expr("""CASE WHEN pos > 0 AND neg > 0 THEN
                      ROUND(ln((CAST(pos AS DOUBLE) * CAST(tn AS DOUBLE))
                           / (CAST(neg AS DOUBLE) * CAST(tp AS DOUBLE))),
                        6) + 0.0D END"""))
        val iv = woed.agg(sum(
          expr("""CASE WHEN woe IS NOT NULL THEN
                    (CAST(pos AS DOUBLE)/tp - CAST(neg AS DOUBLE)/tn)
                    * woe END""")).as("iv_raw"))
        woed.crossJoin(broadcast(iv))
          .select(col("band"), col("n"), col("pos"), col("neg"),
            col("woe"),
            expr("ROUND(iv_raw, 6) + 0.0D").as("iv"))
          .orderBy("band")
      },
      """WITH b AS (SELECT least(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                 * 100 AS BIGINT) // 10000000, 4) AS band,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
               ELSE 0 END) AS BIGINT) AS pos
           FROM orders GROUP BY 1),
         bb AS (SELECT band, n, pos, n - pos AS neg FROM b),
         t AS (SELECT CAST(sum(pos) AS BIGINT) AS tp,
                      CAST(sum(neg) AS BIGINT) AS tn FROM bb),
         woed AS (SELECT band, n, pos, neg,
             CASE WHEN pos > 0 AND neg > 0 THEN
               ROUND(ln((CAST(pos AS DOUBLE) * CAST(tn AS DOUBLE))
                    / (CAST(neg AS DOUBLE) * CAST(tp AS DOUBLE))), 6)
                 + 0.0 END AS woe
           FROM bb CROSS JOIN t),
         iv AS (SELECT sum(CASE WHEN woe IS NOT NULL THEN
                  (CAST(pos AS DOUBLE)/tp - CAST(neg AS DOUBLE)/tn) * woe
                END) AS iv_raw
                FROM woed CROSS JOIN t)
         SELECT band, n, pos, neg, woe, ROUND(iv_raw, 6) + 0.0 AS iv
         FROM woed CROSS JOIN iv ORDER BY band"""),

    // KOLMOGOROV–SMIRNOV SCORER SEPARATION — max |CDF₊ − CDF₋| of the
    // score (n_chars) between classes (lang·en vs rest): the
    // credit-scoring companion of ml_woe_iv/ml_auc_roc. Computed
    // entirely on the score histogram: both CDFs are cumulative
    // windows over the bounded distinct-score domain, the max of the
    // CROSS-MULTIPLIED |cum₊·N₋ − cum₋·N₊| stays exact BIGINT, and
    // only the final KS divides (1e-6 units). The argmax score is
    // tie-broken to the smallest score via min().
    Q("ml_ks_statistic",
      (s, d) => {
        // cum·n cross-products and n₊n₋ in DECIMAL(38,0) — raw LONG
        // overflows at ~3e9 docs per class
        val gaps = scoreCumTot(s, d)
          .withColumn("gap",
            abs(col("cum_p").cast(DecimalType(38, 0)) * col("nn") -
              col("cum_n").cast(DecimalType(38, 0)) * col("np")))
        val best = gaps.agg(max("gap").as("max_gap"))
        gaps.crossJoin(broadcast(best))
          .filter(col("gap") === col("max_gap"))
          .groupBy()
          .agg(min("sc").as("ks_at_score"),
            first("np").as("n_pos"), first("nn").as("n_neg"),
            first(expr("""(max_gap * 1000000
                           + (CAST(np AS DECIMAL(38,0)) * nn) div 2)
                          div (CAST(np AS DECIMAL(38,0)) * nn)"""))
              .as("ks6"))
          .select(col("ks_at_score"), col("n_pos"), col("n_neg"),
            expr("ks6 / 1000000.0D").as("ks"))
      },
      s"""WITH $ScoreCumCte,
         gaps AS (SELECT sc,
             abs(CAST(cum_p AS HUGEINT) * nn
                 - CAST(cum_n AS HUGEINT) * np) AS gap, np, nn
           FROM cum CROSS JOIN tot),
         best AS (SELECT max(gap) AS max_gap FROM gaps)
         SELECT min(sc) AS ks_at_score,
                min(np) AS n_pos, min(nn) AS n_neg,
                min((max_gap * 1000000
                     + (CAST(np AS HUGEINT) * nn) // 2)
                    // (CAST(np AS HUGEINT) * nn))
                  / 1000000.0 AS ks
         FROM gaps CROSS JOIN best WHERE gap = max_gap"""),

    // COST-SENSITIVE THRESHOLD PICK — with FP costing 1 and FN
    // costing 5 (the usual asymmetric screen), the optimal cutoff
    // minimizes total cost = FP·1 + FN·5 over candidate thresholds
    // ("keep docs with score > t"). FP/FN at every distinct score
    // come from the same cumulative histogram the KS key uses; cost
    // is exact BIGINT, argmin tie-broken to the smallest threshold.
    // Declared relation = the chosen threshold + its confusion
    // corner + the cost at both degenerate policies for contrast.
    Q("ml_cost_threshold",
      (s, d) => {
        // policy "positive iff score > sc": FN = cum_p, FP = nn - cum_n
        val costs = scoreCumTot(s, d)
          .withColumn("cost",
            (col("nn") - col("cum_n")) * 1L + col("cum_p") * 5L)
        val best = costs.agg(min("cost").as("best_cost"))
        costs.crossJoin(broadcast(best))
          .filter(col("cost") === col("best_cost"))
          .groupBy()
          .agg(min("sc").as("threshold"), first("best_cost").as("cost"),
            first("np").as("n_pos"), first("nn").as("n_neg"),
            first(col("np") * 5L).as("cost_reject_all"),
            first(col("nn") * 1L).as("cost_accept_all"))
      },
      s"""WITH $ScoreCumCte,
         costs AS (SELECT sc,
             (nn - cum_n) * 1 + cum_p * 5 AS cost, np, nn
           FROM cum CROSS JOIN tot),
         best AS (SELECT min(cost) AS best_cost FROM costs)
         SELECT min(sc) AS threshold,
                CAST(min(best_cost) AS BIGINT) AS cost,
                min(np) AS n_pos, min(nn) AS n_neg,
                CAST(min(np * 5) AS BIGINT) AS cost_reject_all,
                CAST(min(nn * 1) AS BIGINT) AS cost_accept_all
         FROM costs CROSS JOIN best WHERE cost = best_cost"""),

    // PR-AUC / AVERAGE PRECISION — the imbalanced-class companion of
    // ml_auc_roc: AP = Σ ΔR·P over score-DESCENDING steps, one step
    // per distinct score block. Recall deltas and precisions are
    // exact rationals from the descending cumulative histogram; each
    // ΔR·P term is a double of exact integers pinned to
    // DECIMAL(18,12) before the order-insensitive sum (the
    // js_divergence convention), so the ≤|distinct scores| terms add
    // identically on both engines.
    Q("ml_pr_auc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = documents(s, d)
          .groupBy(col("n_chars").as("sc"))
          .agg(count(lit(1)).as("c"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"))
        val w = Window.orderBy(desc("sc"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = h
          .withColumn("cum_c", sum("c").over(w))
          .withColumn("cum_p", sum("cp").over(w))
        val tot = cum.agg(max("cum_p").as("np"), max("cum_c").as("n"))
        cum.crossJoin(broadcast(tot))
          .filter(col("cp") > 0)
          .withColumn("term", expr(
            """CAST((CAST(cp AS DOUBLE) / np)
                 * (CAST(cum_p AS DOUBLE) / CAST(cum_c AS DOUBLE))
               AS DECIMAL(18,12))"""))
          .agg(first("np").as("n_pos"), first("n").as("n_rows"),
            expr("ROUND(CAST(sum(term) AS DOUBLE), 6) + 0.0D")
              .as("pr_auc"))
      },
      """WITH h AS (SELECT n_chars AS sc, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS cp
           FROM documents GROUP BY 1),
         cum AS (SELECT sc, c, cp,
             sum(c) OVER (ORDER BY sc DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum_c,
             sum(cp) OVER (ORDER BY sc DESC ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum_p
           FROM h),
         tot AS (SELECT CAST(max(cum_p) AS BIGINT) AS np,
                        CAST(max(cum_c) AS BIGINT) AS n FROM cum),
         terms AS (SELECT
             CAST((CAST(cp AS DOUBLE) / np)
               * (CAST(cum_p AS DOUBLE) / CAST(cum_c AS DOUBLE))
               AS DECIMAL(18,12)) AS term, np, n
           FROM cum CROSS JOIN tot WHERE cp > 0)
         SELECT min(np) AS n_pos, min(n) AS n_rows,
                ROUND(CAST(sum(term) AS DOUBLE), 6) + 0.0 AS pr_auc
         FROM terms"""),

    // MIN-MAX FEATURE SCALING per group — the [0,1] normalization a
    // feature store applies before distance-based models, with the
    // fit (per-segment min/max) and transform phases explicit. Range
    // and position are exact integer cents; the scaled value is an
    // exact 1e-6-unit integer division (degenerate zero-range groups
    // ⇒ deterministic NULL on both engines). Fit = one keyed
    // aggregate broadcast back; transform = map-side.
    Q("ml_minmax_scale",
      (s, d) => {
        val c = customer(s, d).select(col("c_custkey"),
          col("c_mktsegment").as("seg"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT)")
            .as("cents"))
        val fit = c.groupBy("seg")
          .agg(min("cents").as("lo"), max("cents").as("hi"))
        c.join(broadcast(fit), Seq("seg"))
          .select(col("c_custkey"), col("seg"),
            expr("cents / 100.0D").as("balance"),
            expr("""CASE WHEN hi > lo THEN
                      ((cents - lo) * 1000000 + (hi - lo) div 2)
                        div (hi - lo) / 1000000.0D
                    END""").as("scaled"))
          .orderBy("c_custkey")
      },
      """WITH c AS (SELECT c_custkey, c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2))*100 AS BIGINT)
               AS cents
           FROM customer),
         fit AS (SELECT seg, CAST(min(cents) AS BIGINT) AS lo,
                        CAST(max(cents) AS BIGINT) AS hi
                 FROM c GROUP BY 1)
         SELECT c_custkey, c.seg, cents / 100.0 AS balance,
                CASE WHEN hi > lo THEN
                  ((cents - lo) * 1000000 + (hi - lo) // 2)
                    // (hi - lo) / 1000000.0
                END AS scaled
         FROM c JOIN fit ON c.seg = fit.seg
         ORDER BY c_custkey"""),

    // SPEARMAN RANK CORRELATION per group, WITHOUT a global rank
    // window: ranks come from the per-group VALUE HISTOGRAM — doubled
    // midrank 2·r(v) = 2·|{<v}| + |{=v}| + 1 stays integral (ties give
    // half-ranks), and Pearson on ranks is scale-invariant so the
    // doubling cancels. The cumulative window runs over the DISTINCT-
    // VALUE histogram partitioned by group (quantity: 50 values;
    // price: cents of a bounded price domain — value-domain-bounded,
    // never corpus-sized), then the rank map joins back on the value
    // key. This is how a rank statistic survives 100 TB: the only
    // ordered structure is domain-sized. corr() is rounded to 6 like
    // agg_corr (centered-moment ratio; last-ulp absorbed).
    Q("ml_spearman_corr",
      (s, d) => {
        val base = lineitem(s, d).select(col("l_returnflag").as("g"),
          col("l_quantity").cast(DecimalType(18, 2)).as("x"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("y"))
        // (r14 note: a two-level blocked cumulative sum was A/B'd here to
        // lift the |g|=3 window-task ceiling — the extra block
        // aggregate + prefix join measured SLOWER at this scale
        // (2.3 vs 3.1 s, stable control); the plain window stays.)
        // (r15 note: verdict item 5's "both rank maps in one pass" —
        // stack (x, y) into (dim, v), one corpus aggregate, one
        // (g, dim)-partitioned window, filter per dim — was built and
        // A/B'd: FLAT (2.40/2.50/2.81 two-pass vs 2.60/2.47/2.47 s
        // stacked over 3 alternations, flat control). The saved scan
        // was never the cost (37 ms in the profile); the stack doubles
        // the rows into the partial aggregate and the two broadcast
        // builds then serialize on the one shared exchange. The
        // remaining cost is the 3-task cumulative window + the ~200k-
        // row rank-map broadcast build — the honest rank computation.
        // Kept two-pass.)
        def rankMap(c: String): DataFrame = {
          val h = base.groupBy(col("g"), col(c))
            .agg(count(lit(1)).as("cnt"))
          val w = Window.partitionBy("g").orderBy(c)
          h.withColumn("cum", sum(col("cnt")).over(w))
            .select(col("g"), col(c),
              (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1)
                .as(s"r_$c"))
        }
        base.join(rankMap("x"), Seq("g", "x"))
          .join(rankMap("y"), Seq("g", "y"))
          .groupBy("g")
          .agg(count(lit(1)).as("n"),
            round(corr(col("r_x"), col("r_y")), 6).as("spearman_rho"))
          .orderBy("g")
          .select(col("g").as("l_returnflag"), col("n"),
            col("spearman_rho"))
      },
      """WITH base AS (
           SELECT l_returnflag AS g,
                  CAST(l_quantity AS DECIMAL(18,2)) AS x,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS y
           FROM lineitem),
         hx AS (SELECT g, x, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
         rx AS (SELECT g, x,
                  2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY x) - cnt)
                    + cnt + 1 AS r_x
                FROM hx),
         hy AS (SELECT g, y, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
         ry AS (SELECT g, y,
                  2 * (SUM(cnt) OVER (PARTITION BY g ORDER BY y) - cnt)
                    + cnt + 1 AS r_y
                FROM hy)
         SELECT g AS l_returnflag, COUNT(*) AS n,
                ROUND(corr(r_x, r_y), 6) AS spearman_rho
         FROM base JOIN rx USING (g, x) JOIN ry USING (g, y)
         GROUP BY 1 ORDER BY 1"""),

    // KENDALL'S TAU-B from the 2D CONTINGENCY TABLE, never from pairs:
    // over two bounded-domain columns (quantity: 50 values, discount:
    // 11) the (x, y) contingency has ≤ |X|·|Y| cells, and concordant /
    // discordant / tie counts are exact integer sums over the cell
    // SELF-JOIN (≤ cells² rows — domain², not corpus²). The naive
    // definition enumerates n(n-1)/2 corpus pairs; this form touches
    // the corpus once for the contingency aggregate. Counts ride in
    // DECIMAL(38,0) (pair counts overflow BIGINT past ~4e9 rows);
    // tau's final ratio is double from identical exact operands.
    Q("ml_kendall_tau",
      (s, d) => {
        val cells = lineitem(s, d)
          .groupBy(col("l_quantity").cast("long").as("x"),
            col("l_discount").cast(DecimalType(4, 2)).as("y"))
          .agg(count(lit(1)).cast(DecimalType(38, 0)).as("cnt"))
        val a = cells.select(col("x").as("ax"), col("y").as("ay"),
          col("cnt").as("an"))
        val b = cells.select(col("x").as("bx"), col("y").as("by"),
          col("cnt").as("bn"))
        val pairs = a.crossJoin(b)
        val conc = pairs.filter(col("bx") > col("ax") &&
            col("by") > col("ay"))
          .agg(coalesce(sum(col("an") * col("bn")),
            lit(0).cast(DecimalType(38, 0))).as("v"))
          .select(lit("concordant").as("k"), col("v"))
        val disc = pairs.filter(col("bx") > col("ax") &&
            col("by") < col("ay"))
          .agg(coalesce(sum(col("an") * col("bn")),
            lit(0).cast(DecimalType(38, 0))).as("v"))
          .select(lit("discordant").as("k"), col("v"))
        val n = cells.agg(sum(col("cnt")).as("nn"))
        val tx = cells.groupBy("x").agg(sum(col("cnt")).as("rn"))
          .agg(sum(expr("rn * (rn - 1) / 2")).as("t"))
        val ty = cells.groupBy("y").agg(sum(col("cnt")).as("cn"))
          .agg(sum(expr("cn * (cn - 1) / 2")).as("t"))
        conc.unionByName(disc)
          .groupBy().pivot("k", Seq("concordant", "discordant"))
          .agg(first(col("v")))
          .crossJoin(n).crossJoin(tx.select(col("t").as("tie_x")))
          .crossJoin(ty.select(col("t").as("tie_y")))
          .select(
            col("nn").cast("long").as("n"),
            col("concordant").cast("long").as("concordant"),
            col("discordant").cast("long").as("discordant"),
            round((col("concordant").cast("double") -
                col("discordant").cast("double")) /
              sqrt((expr("nn * (nn - 1) / 2").cast("double") -
                  col("tie_x").cast("double")) *
                (expr("nn * (nn - 1) / 2").cast("double") -
                  col("tie_y").cast("double"))), 6).as("tau_b"))
      },
      """WITH cells AS (
           SELECT CAST(l_quantity AS BIGINT) AS x,
                  CAST(l_discount AS DECIMAL(4,2)) AS y,
                  CAST(COUNT(*) AS DECIMAL(38,0)) AS cnt
           FROM lineitem GROUP BY 1, 2),
         cd AS (SELECT
             COALESCE(SUM(CASE WHEN b.x > a.x AND b.y > a.y
               THEN a.cnt * b.cnt END), 0) AS concordant,
             COALESCE(SUM(CASE WHEN b.x > a.x AND b.y < a.y
               THEN a.cnt * b.cnt END), 0) AS discordant
           FROM cells a CROSS JOIN cells b),
         tot AS (SELECT SUM(cnt) AS nn FROM cells),
         tx AS (SELECT SUM(rn * (rn - 1) / 2) AS tie_x FROM
                 (SELECT SUM(cnt) AS rn FROM cells GROUP BY x)),
         ty AS (SELECT SUM(cn * (cn - 1) / 2) AS tie_y FROM
                 (SELECT SUM(cnt) AS cn FROM cells GROUP BY y))
         SELECT CAST(nn AS BIGINT) AS n,
                CAST(concordant AS BIGINT) AS concordant,
                CAST(discordant AS BIGINT) AS discordant,
                ROUND((CAST(concordant AS DOUBLE)
                     - CAST(discordant AS DOUBLE))
                  / sqrt((CAST(nn * (nn - 1) / 2 AS DOUBLE)
                        - CAST(tie_x AS DOUBLE))
                       * (CAST(nn * (nn - 1) / 2 AS DOUBLE)
                        - CAST(tie_y AS DOUBLE))), 6) AS tau_b
         FROM cd, tot, tx, ty"""),

    // McNEMAR'S TEST for comparing two classifiers on PAIRED
    // predictions — the model-promotion gate ("is the challenger
    // actually better, or do they just disagree randomly?"). Two
    // fixed rule models predict order status 'F'; only the
    // DISAGREEMENT cells matter: b = A right & B wrong, c = A wrong &
    // B right; the continuity-corrected statistic is
    // (|b−c|−1)²/(b+c) ~ χ²(1). One aggregate over the corpus —
    // nothing but four conditional counts travels.
    Q("ml_mcnemar",
      (s, d) => orders(s, d)
        .select(
          (col("o_orderstatus") === "F").as("label"),
          (col("o_totalprice") > 150000.0).as("pred_a"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("pred_b"))
        .agg(
          sum(when(col("pred_a") === col("label") &&
            col("pred_b") =!= col("label"), 1L).otherwise(0L)).as("b"),
          sum(when(col("pred_a") =!= col("label") &&
            col("pred_b") === col("label"), 1L).otherwise(0L)).as("c"))
        // chi2 is a RATIONAL of counts — ROUND(double) can tie at the
        // 1e-6 boundary and the engines round ties differently; the
        // exact half-up integer form (2p + q) div (2q) never does
        // operand-widened products (DECIMAL(38,0) / HUGEINT): a raw
        // LONG (|b-c|-1)^2*1e6 overflows at ~2.1e6 disagreements.
        // The continuity correction clamps at zero (max(|b-c|-1, 0))
        // so b = c reports chi2 = 0, not 1/(b+c).
        .select(col("b"), col("c"), (col("b") + col("c")).as("n_disagree"),
          expr("""(2 * CAST(greatest(abs(b - c) - 1, 0L)
                     AS DECIMAL(38,0))
                   * greatest(abs(b - c) - 1, 0L) * 1000000
                   + (b + c)) div (2 * (b + c)) / 1000000.0D""")
            .as("chi2_cc"),
          expr("""CAST(greatest(abs(b - c) - 1, 0L) AS DECIMAL(38,0))
                   * greatest(abs(b - c) - 1, 0L) * 1000
                   > 3841 * (b + c)""").as("significant_05")),
      """WITH p AS (
           SELECT (o_orderstatus = 'F') AS label,
                  (o_totalprice > 150000.0) AS pred_a,
                  (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS pred_b
           FROM orders),
         bc AS (SELECT
             SUM(CASE WHEN pred_a = label AND pred_b <> label
               THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN pred_a <> label AND pred_b = label
               THEN 1 ELSE 0 END) AS c
           FROM p)
         SELECT CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
                CAST(b + c AS BIGINT) AS n_disagree,
                (2 * CAST(greatest(abs(b - c) - 1, 0) AS HUGEINT)
                  * greatest(abs(b - c) - 1, 0) * 1000000
                  + (b + c)) // (2 * (b + c)) / 1000000.0 AS chi2_cc,
                (CAST(greatest(abs(b - c) - 1, 0) AS HUGEINT)
                  * greatest(abs(b - c) - 1, 0) * 1000
                  > 3841 * (b + c)) AS significant_05
         FROM bc"""),

    // MURPHY/BRIER DECOMPOSITION of a probabilistic classifier:
    // reliability (calibration error), resolution (discrimination),
    // uncertainty (base-rate entropy) with Brier = REL − RES + UNC —
    // the standard decomposition quality_calibration's per-bin view
    // rolls up to. Bins come from EXACT integer cent banding (never
    // ROUND(double) as a key — the engines round near-ties
    // differently); per-bin mean scores derive from exact cent sums,
    // so every double on both sides is built from identical integers.
    // One corpus aggregate to ≤10 bins; scalars from the bin relation.
    Q("ml_brier_decomposition",
      (s, d) => {
        val scored = orders(s, d).select(
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)")
            .as("cents"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
          .select(col("cents"), col("y"),
            least(lit(9L), expr("cents div 4000000")).as("bin"))
        val bins = scored.groupBy("bin").agg(
          count(lit(1)).as("nk"),
          sum(col("y")).as("pos"),
          sum(col("cents")).as("sc"))
        val tot = bins.agg(sum(col("nk")).as("n"), sum(col("pos")).as("p"))
        bins.crossJoin(broadcast(tot))
          .select(col("nk"), col("n"),
            // p̄_k capped at 0.95 like the bin rule caps at bin 9
            least(lit(0.95), col("sc").cast("double") /
              (col("nk").cast("double") * 40000000.0)).as("pbar"),
            (col("pos").cast("double") / col("nk")).as("ybar"),
            (col("p").cast("double") / col("n")).as("base"))
          .agg(
            max(col("n").cast("long")).as("n"),
            round(sum(col("nk") * (col("pbar") - col("ybar")) *
              (col("pbar") - col("ybar"))) / max(col("n")), 6)
              .as("reliability"),
            round(sum(col("nk") * (col("ybar") - col("base")) *
              (col("ybar") - col("base"))) / max(col("n")), 6)
              .as("resolution"),
            round(max(col("base") * (lit(1.0) - col("base"))), 6)
              .as("uncertainty"))
      },
      """WITH scored AS (
           SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
                    AS cents,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
                  least(9, CAST(CAST(o_totalprice AS DECIMAL(18,2))*100
                    AS BIGINT) // 4000000) AS bin
           FROM orders),
         bins AS (
           SELECT bin, COUNT(*) AS nk, SUM(y) AS pos, SUM(cents) AS sc
           FROM scored GROUP BY 1),
         tot AS (SELECT SUM(nk) AS n, SUM(pos) AS p FROM bins),
         terms AS (
           SELECT nk, n,
                  least(0.95, CAST(sc AS DOUBLE)
                    / (CAST(nk AS DOUBLE) * 40000000.0)) AS pbar,
                  CAST(pos AS DOUBLE) / nk AS ybar,
                  CAST(p AS DOUBLE) / n AS base
           FROM bins, tot)
         SELECT CAST(MAX(n) AS BIGINT) AS n,
                ROUND(SUM(nk * (pbar - ybar) * (pbar - ybar))
                  / MAX(n), 6) AS reliability,
                ROUND(SUM(nk * (ybar - base) * (ybar - base))
                  / MAX(n), 6) AS resolution,
                ROUND(MAX(base * (1.0 - base)), 6) AS uncertainty
         FROM terms"""),

    // FEATURE-SET PSI SCREEN — dq_drift_psi for EVERY monitored
    // feature in ONE pass: features go long-form via stack (the
    // maintain_stats many-column trick — one exchange, not one scan
    // per feature), buckets count per (feature, bucket, period),
    // add-one smoothing uses each feature's own bucket count, and the
    // per-feature PSI rolls up under a feature-PARTITIONED window
    // (bounded: Σ bucket domains). The drift dashboard's top screen:
    // which features moved, ranked.
    Q("ml_psi_features",
      (s, d) => {
        val cut = lit("1996-07-01").cast("timestamp")
        val long = orders(s, d).select(
          (col("o_orderdate") < cut).as("is_base"),
          expr("""stack(3,
            'price_bin', CAST(CAST(least(floor(o_totalprice / 60000.0),
              9.0) AS INT) AS STRING),
            'priority', o_orderpriority,
            'status', o_orderstatus) AS (feature, bucket)"""))
        val counts = long.groupBy("feature", "bucket")
          .agg(count(when(col("is_base"), 1)).as("n_base"),
            count(when(!col("is_base"), 1)).as("n_comp"))
        val w = Window.partitionBy("feature")
        counts
          .withColumn("nb", count(lit(1)).over(w))
          .withColumn("p", (col("n_base") + 1).cast("double") /
            (sum(col("n_base")).over(w) + col("nb")))
          .withColumn("q", (col("n_comp") + 1).cast("double") /
            (sum(col("n_comp")).over(w) + col("nb")))
          .withColumn("term",
            round((col("p") - col("q")) * log(col("p") / col("q")), 6)
              .cast(DecimalType(12, 6)))
          .groupBy("feature")
          .agg(max(col("nb")).as("n_buckets"),
            round(sum(col("term")).cast("double"), 6).as("psi"))
          .withColumn("drifted_02", col("psi") > 0.2)
          .orderBy(desc("psi"), col("feature"))
      },
      """WITH long AS (
           SELECT o_orderdate < TIMESTAMP '1996-07-01' AS is_base,
                  feature, bucket
           FROM orders,
             LATERAL (VALUES
               ('price_bin', CAST(CAST(least(floor(o_totalprice
                  / 60000.0), 9.0) AS INT) AS VARCHAR)),
               ('priority', o_orderpriority),
               ('status', o_orderstatus)) AS t(feature, bucket)),
         counts AS (
           SELECT feature, bucket,
                  COUNT(CASE WHEN is_base THEN 1 END) AS n_base,
                  COUNT(CASE WHEN NOT is_base THEN 1 END) AS n_comp
           FROM long GROUP BY 1, 2),
         terms AS (
           SELECT feature,
                  COUNT(*) OVER (PARTITION BY feature) AS nb,
                  CAST(ROUND((CAST(n_base + 1 AS DOUBLE)
                      / (SUM(n_base) OVER (PARTITION BY feature)
                         + COUNT(*) OVER (PARTITION BY feature))
                    - CAST(n_comp + 1 AS DOUBLE)
                      / (SUM(n_comp) OVER (PARTITION BY feature)
                         + COUNT(*) OVER (PARTITION BY feature)))
                    * ln((CAST(n_base + 1 AS DOUBLE)
                      / (SUM(n_base) OVER (PARTITION BY feature)
                         + COUNT(*) OVER (PARTITION BY feature)))
                      / (CAST(n_comp + 1 AS DOUBLE)
                      / (SUM(n_comp) OVER (PARTITION BY feature)
                         + COUNT(*) OVER (PARTITION BY feature)))),
                    6) AS DECIMAL(12,6)) AS term
           FROM counts)
         SELECT feature, CAST(MAX(nb) AS BIGINT) AS n_buckets,
                ROUND(CAST(SUM(term) AS DOUBLE), 6) AS psi,
                (ROUND(CAST(SUM(term) AS DOUBLE), 6) > 0.2)
                  AS drifted_02
         FROM terms GROUP BY 1 ORDER BY psi DESC, feature"""),

    // CHI-SQUARED FEATURE SELECTION — every categorical feature
    // screened against the label in ONE long-form pass: stack the
    // features, aggregate the (feature, value, label) contingencies
    // together, derive per-feature chi2 + Cramér's V from feature-
    // PARTITIONED marginal windows (each feature's relation is its
    // value domain — bounded), rank by V. The feature-store
    // pre-training screen; profile_cramers_v is the single-pair form.
    Q("ml_chi2_select",
      (s, d) => {
        val cells = featureCells(s, d)
        val w = Window.partitionBy("feature")
        cells
          .withColumn("ka", count(lit(1)).over(w))
          .withColumn("c1", sum(col("n1")).over(w))
          .withColumn("c0", sum(col("n0")).over(w))
          .withColumn("n", col("c1") + col("c0"))
          .withColumn("term",
            ((col("n1") - col("c1").cast("double") *
                (col("n1") + col("n0")) / col("n")) *
              (col("n1") - col("c1").cast("double") *
                (col("n1") + col("n0")) / col("n")) /
              (col("c1").cast("double") * (col("n1") + col("n0")) /
                col("n"))) +
            ((col("n0") - col("c0").cast("double") *
                (col("n1") + col("n0")) / col("n")) *
              (col("n0") - col("c0").cast("double") *
                (col("n1") + col("n0")) / col("n")) /
              (col("c0").cast("double") * (col("n1") + col("n0")) /
                col("n"))))
          .groupBy("feature")
          .agg(max(col("ka")).as("n_values"),
            ((max(col("ka")) - 1)).as("df"),
            round(sum(col("term")), 4).as("chi2"),
            round(sqrt(sum(col("term")) /
              max(col("n")).cast("double")), 6).as("cramers_v"))
          .orderBy(desc("cramers_v"), col("feature"))
      },
      s"""WITH $FeatureCellsCte,
         m AS (
           SELECT feature, n1, n0,
                  COUNT(*) OVER (PARTITION BY feature) AS ka,
                  SUM(n1) OVER (PARTITION BY feature) AS c1,
                  SUM(n0) OVER (PARTITION BY feature) AS c0
           FROM cells),
         terms AS (
           SELECT feature, ka, c1 + c0 AS n,
                  (n1 - CAST(c1 AS DOUBLE) * (n1 + n0) / (c1 + c0))
                    * (n1 - CAST(c1 AS DOUBLE) * (n1 + n0) / (c1 + c0))
                    / (CAST(c1 AS DOUBLE) * (n1 + n0) / (c1 + c0))
                  + (n0 - CAST(c0 AS DOUBLE) * (n1 + n0) / (c1 + c0))
                    * (n0 - CAST(c0 AS DOUBLE) * (n1 + n0) / (c1 + c0))
                    / (CAST(c0 AS DOUBLE) * (n1 + n0) / (c1 + c0))
                    AS term
           FROM m)
         SELECT feature, CAST(MAX(ka) AS BIGINT) AS n_values,
                CAST(MAX(ka) - 1 AS BIGINT) AS df,
                ROUND(SUM(term), 4) AS chi2,
                ROUND(sqrt(SUM(term) / CAST(MAX(n) AS DOUBLE)), 6)
                  AS cramers_v
         FROM terms GROUP BY 1 ORDER BY cramers_v DESC, feature"""),

    // INFORMATION GAIN + GAIN RATIO per feature — the entropy-based
    // sibling of ml_chi2_select (C4.5's split criterion): IG = H(y) −
    // Σ_v p(v)·H(y|v), split-info = −Σ p(v)·log2 p(v), ratio = IG/SI.
    // Same one-pass long-form contingency; per-feature totals from
    // feature-PARTITIONED windows over the bounded value domains.
    // Entropy terms are doubles from exact integer counts through
    // textually-identical formulas; log2 via ln/ln(2) on both engines.
    Q("ml_info_gain",
      (s, d) => {
        val cells = featureCells(s, d)
        val w = Window.partitionBy("feature")
        def h2(a: org.apache.spark.sql.Column,
            b: org.apache.spark.sql.Column) = {
          // binary entropy of counts (a, b), 0-safe via when guards;
          // ln(x)/ln(2) textually matches the oracle's form
          val n = a + b
          val pa = a.cast("double") / n
          val pb = b.cast("double") / n
          (when(a > 0, -pa * log(pa) / log(lit(2.0))).otherwise(lit(0.0)) +
            when(b > 0, -pb * log(pb) / log(lit(2.0))).otherwise(lit(0.0)))
        }
        cells
          .withColumn("c1", sum(col("n1")).over(w))
          .withColumn("c0", sum(col("n0")).over(w))
          .withColumn("n", col("c1") + col("c0"))
          .withColumn("pv", (col("n1") + col("n0")).cast("double") /
            col("n"))
          .groupBy("feature")
          .agg(
            round(max(h2(col("c1"), col("c0"))) -
              sum(col("pv") * h2(col("n1"), col("n0"))), 6)
              .as("info_gain"),
            round(sum(-col("pv") * log(col("pv")) / log(lit(2.0))), 6)
              .as("split_info"),
            round((max(h2(col("c1"), col("c0"))) -
              sum(col("pv") * h2(col("n1"), col("n0")))) /
              sum(-col("pv") * log(col("pv")) / log(lit(2.0))), 6)
              .as("gain_ratio"))
          .orderBy(desc("gain_ratio"), col("feature"))
      },
      s"""WITH $FeatureCellsCte,
         m AS (
           SELECT feature, n1, n0,
                  SUM(n1) OVER (PARTITION BY feature) AS c1,
                  SUM(n0) OVER (PARTITION BY feature) AS c0
           FROM cells),
         t AS (
           SELECT feature, n1, n0, c1, c0, c1 + c0 AS n,
                  CAST(n1 + n0 AS DOUBLE) / (c1 + c0) AS pv
           FROM m),
         terms AS (
           SELECT feature, pv,
                  (CASE WHEN c1 > 0 THEN
                     -(CAST(c1 AS DOUBLE)/n) * ln(CAST(c1 AS DOUBLE)/n)
                       / ln(2.0) ELSE 0.0 END
                 + CASE WHEN c0 > 0 THEN
                     -(CAST(c0 AS DOUBLE)/n) * ln(CAST(c0 AS DOUBLE)/n)
                       / ln(2.0) ELSE 0.0 END) AS hy,
                  (CASE WHEN n1 > 0 THEN
                     -(CAST(n1 AS DOUBLE)/(n1+n0))
                       * ln(CAST(n1 AS DOUBLE)/(n1+n0)) / ln(2.0)
                     ELSE 0.0 END
                 + CASE WHEN n0 > 0 THEN
                     -(CAST(n0 AS DOUBLE)/(n1+n0))
                       * ln(CAST(n0 AS DOUBLE)/(n1+n0)) / ln(2.0)
                     ELSE 0.0 END) AS hv
           FROM t)
         SELECT feature,
                ROUND(MAX(hy) - SUM(pv * hv), 6) AS info_gain,
                ROUND(SUM(-pv * ln(pv) / ln(2.0)), 6) AS split_info,
                ROUND((MAX(hy) - SUM(pv * hv))
                  / SUM(-pv * ln(pv) / ln(2.0)), 6) AS gain_ratio
         FROM terms GROUP BY 1 ORDER BY gain_ratio DESC, feature"""),

    // MULTICLASS CONFUSION MATRIX + per-class precision/recall/F1 —
    // the 3-class generalization of the binary screens (ml_mcnemar /
    // quality_kappa judge agreement; this judges a single classifier
    // against truth per class). Truth = priority tier, prediction =
    // price band; the confusion relation is ≤|classes|² rows off one
    // corpus aggregate, and every rate is an exact 1e-6-unit integer
    // division (F1 composed from the integer precision/recall units,
    // so no float ratio-of-ratios can tie at the ROUND boundary).
    Q("ml_confusion_multi",
      (s, d) => {
        val t = orders(s, d).select(
          expr("""CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN 'high'
                       WHEN o_orderpriority = '3-MEDIUM' THEN 'med'
                       ELSE 'low' END""").as("truth"),
          expr("""CASE WHEN o_totalprice >= 150000.0 THEN 'high'
                       WHEN o_totalprice >= 60000.0 THEN 'med'
                       ELSE 'low' END""").as("pred"))
        val cm = t.groupBy("truth", "pred").agg(count(lit(1)).as("c"))
        val tp = cm.filter(col("truth") === col("pred"))
          .select(col("truth").as("cls"), col("c").as("tp"))
        val rows = cm.groupBy(col("truth").as("cls"))
          .agg(sum("c").as("support"))
        val cols = cm.groupBy(col("pred").as("cls"))
          .agg(sum("c").as("predicted"))
        rows.join(tp, Seq("cls"), "left")
          .join(cols, Seq("cls"), "left")
          .select(col("cls"), coalesce(col("tp"), lit(0L)).as("tp"),
            col("support"), coalesce(col("predicted"), lit(0L))
              .as("predicted"))
          .withColumn("p6",
            expr("""CASE WHEN predicted = 0 THEN NULL ELSE
                    (CAST(tp AS DECIMAL(38,0)) * 1000000
                     + predicted div 2) div predicted END"""))
          .withColumn("r6",
            expr("""(CAST(tp AS DECIMAL(38,0)) * 1000000
                    + support div 2) div support"""))
          .select(col("cls"), col("tp"),
            (col("support") - col("tp")).as("fn"),
            (col("predicted") - col("tp")).as("fp"),
            col("support"),
            expr("p6 / 1000000.0D").as("precision"),
            expr("r6 / 1000000.0D").as("recall"),
            expr("""CASE WHEN p6 IS NULL OR p6 + r6 = 0 THEN NULL ELSE
                    (2 * CAST(p6 AS DECIMAL(38,0)) * r6
                     + (p6 + r6) div 2) div (p6 + r6) / 1000000.0D
                    END""").as("f1"))
          .orderBy("cls")
      },
      """WITH t AS (
           SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN 'high'
                       WHEN o_orderpriority = '3-MEDIUM' THEN 'med'
                       ELSE 'low' END AS truth,
                  CASE WHEN o_totalprice >= 150000.0 THEN 'high'
                       WHEN o_totalprice >= 60000.0 THEN 'med'
                       ELSE 'low' END AS pred
           FROM orders),
         cm AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS c
                FROM t GROUP BY 1, 2),
         tp AS (SELECT truth AS cls, c AS tp FROM cm
                WHERE truth = pred),
         r AS (SELECT truth AS cls, CAST(SUM(c) AS BIGINT) AS support
               FROM cm GROUP BY 1),
         k AS (SELECT pred AS cls, CAST(SUM(c) AS BIGINT) AS predicted
               FROM cm GROUP BY 1),
         j AS (SELECT r.cls, COALESCE(tp.tp, 0) AS tp, r.support,
                      COALESCE(k.predicted, 0) AS predicted
               FROM r LEFT JOIN tp ON tp.cls = r.cls
                      LEFT JOIN k ON k.cls = r.cls),
         u AS (SELECT cls, tp, support, predicted,
                 CASE WHEN predicted = 0 THEN NULL ELSE
                   (CAST(tp AS HUGEINT) * 1000000 + predicted // 2)
                     // predicted END AS p6,
                 (CAST(tp AS HUGEINT) * 1000000 + support // 2)
                   // support AS r6
               FROM j)
         SELECT cls, tp, support - tp AS fn, predicted - tp AS fp,
                support,
                p6 / 1000000.0 AS precision,
                r6 / 1000000.0 AS recall,
                CASE WHEN p6 IS NULL OR p6 + r6 = 0 THEN NULL ELSE
                  (2 * CAST(p6 AS HUGEINT) * r6 + (p6 + r6) // 2)
                    // (p6 + r6) / 1000000.0
                END AS f1
         FROM u ORDER BY cls"""),

    // VARIANCE INFLATION FACTORS for the 3-feature lineitem design
    // (quantity, discount, tax) — the collinearity screen run before
    // trusting ml_ols_multi's coefficients: VIFᵢ = (1 − r²ⱼₖ)/det(R)
    // with det(R) = 1 − r²₁₂ − r²₁₃ − r²₂₃ + 2·r₁₂r₁₃r₂₃. The three
    // Pearson r's come from decimal-pinned exact moments (the
    // ml_ols_multi discipline — never the engines' own float corr
    // accumulation order), so every double on both sides derives from
    // identical exact integers and the closed form is bit-identical.
    // One corpus aggregate, one row out.
    Q("ml_feature_vif",
      (s, d) => lineitem(s, d)
        .agg(
          count(lit(1)).as("n"),
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)")
            .as("sx"),
          expr("CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)")
            .as("sz"),
          expr("CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE)")
            .as("sw"),
          expr("CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))" +
            " AS DOUBLE)").as("sxx"),
          expr("CAST(sum(CAST(l_discount * l_discount AS DECIMAL(28,8)))" +
            " AS DOUBLE)").as("szz"),
          expr("CAST(sum(CAST(l_tax * l_tax AS DECIMAL(28,8)))" +
            " AS DOUBLE)").as("sww"),
          expr("CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(28,6)))" +
            " AS DOUBLE)").as("sxz"),
          expr("CAST(sum(CAST(l_quantity * l_tax AS DECIMAL(28,6)))" +
            " AS DOUBLE)").as("sxw"),
          expr("CAST(sum(CAST(l_discount * l_tax AS DECIMAL(28,8)))" +
            " AS DOUBLE)").as("szw"))
        .selectExpr("n",
          """(sxz - sx*sz/n) / sqrt((sxx - sx*sx/n)*(szz - sz*sz/n))
             AS r12""",
          """(sxw - sx*sw/n) / sqrt((sxx - sx*sx/n)*(sww - sw*sw/n))
             AS r13""",
          """(szw - sz*sw/n) / sqrt((szz - sz*sz/n)*(sww - sw*sw/n))
             AS r23""")
        .selectExpr("n",
          "ROUND(r12, 6) + 0.0D AS r_qty_disc",
          "ROUND(r13, 6) + 0.0D AS r_qty_tax",
          "ROUND(r23, 6) + 0.0D AS r_disc_tax",
          """ROUND((1.0D - r23*r23) /
               (1.0D - r12*r12 - r13*r13 - r23*r23
                + 2.0D*r12*r13*r23), 4) + 0.0D AS vif_quantity""",
          """ROUND((1.0D - r13*r13) /
               (1.0D - r12*r12 - r13*r13 - r23*r23
                + 2.0D*r12*r13*r23), 4) + 0.0D AS vif_discount""",
          """ROUND((1.0D - r12*r12) /
               (1.0D - r12*r12 - r13*r13 - r23*r23
                + 2.0D*r12*r13*r23), 4) + 0.0D AS vif_tax"""),
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sz,
           CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sw,
           CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
             AS DOUBLE) AS sxx,
           CAST(sum(CAST(l_discount * l_discount AS DECIMAL(28,8)))
             AS DOUBLE) AS szz,
           CAST(sum(CAST(l_tax * l_tax AS DECIMAL(28,8)))
             AS DOUBLE) AS sww,
           CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(28,6)))
             AS DOUBLE) AS sxz,
           CAST(sum(CAST(l_quantity * l_tax AS DECIMAL(28,6)))
             AS DOUBLE) AS sxw,
           CAST(sum(CAST(l_discount * l_tax AS DECIMAL(28,8)))
             AS DOUBLE) AS szw
           FROM lineitem),
         r AS (SELECT n,
           (sxz - sx*sz/n) / sqrt((sxx - sx*sx/n)*(szz - sz*sz/n))
             AS r12,
           (sxw - sx*sw/n) / sqrt((sxx - sx*sx/n)*(sww - sw*sw/n))
             AS r13,
           (szw - sz*sw/n) / sqrt((szz - sz*sz/n)*(sww - sw*sw/n))
             AS r23
           FROM m)
         SELECT n,
           ROUND(r12, 6) + 0.0 AS r_qty_disc,
           ROUND(r13, 6) + 0.0 AS r_qty_tax,
           ROUND(r23, 6) + 0.0 AS r_disc_tax,
           ROUND((1.0 - r23*r23) /
             (1.0 - r12*r12 - r13*r13 - r23*r23
              + 2.0*r12*r13*r23), 4) + 0.0 AS vif_quantity,
           ROUND((1.0 - r13*r13) /
             (1.0 - r12*r12 - r13*r13 - r23*r23
              + 2.0*r12*r13*r23), 4) + 0.0 AS vif_discount,
           ROUND((1.0 - r12*r12) /
             (1.0 - r12*r12 - r13*r13 - r23*r23
              + 2.0*r12*r13*r23), 4) + 0.0 AS vif_tax
         FROM r"""),

    // EXPECTED CALIBRATION ERROR — the one-number calibration summary
    // quality_calibration's per-bin table and ml_brier_decomposition
    // roll up to: ECE = Σ_b (n_b/N)·|acc_b − conf̄_b| over 10 fixed
    // confidence bins. Confidence is an exact 1e-4-unit integer from
    // doc length, so bin keys, per-bin accuracy, mean confidence AND
    // the |acc−conf| terms are ALL integers — the ECE numerator is an
    // order-free BIGINT sum and the only float is the final division.
    Q("ml_expected_calibration_error",
      (s, d) => {
        val scored = documents(s, d).select(
          expr("least(CAST(n_chars AS BIGINT), 2000L) * 10000 div 2000")
            .as("conf4"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        val bins = scored
          .withColumn("bin", expr("least(conf4 div 1000, 9L)"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_b"), sum("pos").as("pos_b"),
            sum("conf4").as("sconf4"))
          .withColumn("acc4",
            expr("""(CAST(pos_b AS DECIMAL(38,0)) * 10000
                    + n_b div 2) div n_b"""))
          .withColumn("conf4m",
            expr("(CAST(sconf4 AS DECIMAL(38,0)) + n_b div 2) div n_b"))
        // exact numerator: n_b·|acc_b − conf̄_b| = |pos_b·1e4 − sconf4|
        // — no per-bin rounded intermediates (acc4/conf4m stay as
        // display columns only)
        val tot = bins.agg(sum("n_b").as("n"),
          sum(expr("""abs(CAST(pos_b AS DECIMAL(38,0)) * 10000
                      - sconf4)""")).as("werr"))
        bins.crossJoin(broadcast(tot))
          .select(col("bin"), col("n_b"),
            expr("acc4 / 10000.0D").as("accuracy"),
            expr("conf4m / 10000.0D").as("mean_confidence"),
            expr("""CAST((CAST(werr AS DECIMAL(38,0)) * 1000000
                          + (CAST(n AS DECIMAL(38,0)) * 10000) div 2)
                         div (CAST(n AS DECIMAL(38,0)) * 10000)
                    AS DOUBLE) / 1000000.0D""").as("ece"))
          .orderBy("bin")
      },
      s"""WITH $ConfidenceBinsCte,
         acc AS (
           SELECT bin, n_b,
                  (CAST(pos_b AS HUGEINT) * 10000 + n_b // 2) // n_b
                    AS acc4,
                  (CAST(sconf4 AS HUGEINT) + n_b // 2) // n_b
                    AS conf4m
           FROM bins),
         tot AS (
           SELECT CAST(SUM(n_b) AS BIGINT) AS n,
                  SUM(abs(CAST(pos_b AS HUGEINT) * 10000 - sconf4))
                    AS werr
           FROM bins)
         SELECT bin, n_b,
                acc4 / 10000.0 AS accuracy,
                conf4m / 10000.0 AS mean_confidence,
                CAST((CAST(werr AS HUGEINT) * 1000000
                      + (CAST(n AS HUGEINT) * 10000) // 2)
                     // (CAST(n AS HUGEINT) * 10000)
                  AS DOUBLE) / 1000000.0 AS ece
         FROM acc CROSS JOIN tot ORDER BY bin"""),

    // COHEN'S KAPPA between the same two rule CLASSIFIERS ml_mcnemar
    // compares — the model-promotion companion question ("how much do
    // the champion and challenger agree beyond chance" next to
    // mcnemar's "is the disagreement one-sided"); quality_kappa is
    // the same statistic pointed at document-quality rater ensembles
    // (the KS/PSI precedent: one statistic, profiling vs model-eval
    // lens). κ = (n·agree − E)/(n² − E), E = Σ row-marginal ×
    // col-marginal — a RATIONAL of the four contingency counts, so
    // both κ and the observed agreement use the exact sign-split
    // half-up integer idiom — no ROUND(double) tie can diverge.
    // Products of corpus-scale counts are operand-widened
    // (DECIMAL(38,0)/HUGEINT, the cccd1ff discipline); den = 0 (a
    // degenerate marginal) yields NULL on both engines. One
    // conditional aggregate; one row travels.
    Q("ml_cohen_kappa",
      (s, d) => orders(s, d)
        .select(
          (col("o_totalprice") > 150000.0).as("ra"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("rb"))
        .agg(
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("p11"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("p10"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("p01"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("p00"))
        .withColumn("n", expr("p11 + p10 + p01 + p00"))
        .withColumn("ee",
          expr("""CAST(p11 + p10 AS DECIMAL(38,0)) * (p11 + p01)
                  + CAST(p01 + p00 AS DECIMAL(38,0)) * (p10 + p00)"""))
        .withColumn("num",
          expr("CAST(n AS DECIMAL(38,0)) * (p11 + p00) - ee"))
        .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * n - ee"))
        .select(col("n"), expr("p11 + p00").as("agree"),
          expr("""(CAST(p11 + p00 AS DECIMAL(38,0)) * 2000000 + n)
                  div (2 * n) / 1000000.0D""").as("po"),
          expr("""CASE WHEN den = 0 THEN NULL ELSE
                    CASE WHEN num < 0 THEN -1 ELSE 1 END *
                    ((2 * abs(num) * 1000000 + den) div (2 * den))
                    / 1000000.0D END""").as("kappa")),
      """WITH p AS (
           SELECT (o_totalprice > 150000.0) AS ra,
                  (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS rb
           FROM orders),
         m AS (SELECT
             CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END)
               AS BIGINT) AS p11,
             CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
               AS BIGINT) AS p10,
             CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
               AS BIGINT) AS p01,
             CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
               AS BIGINT) AS p00
           FROM p),
         k AS (SELECT p11, p10, p01, p00,
             p11 + p10 + p01 + p00 AS n,
             CAST(p11 + p10 AS HUGEINT) * (p11 + p01)
               + CAST(p01 + p00 AS HUGEINT) * (p10 + p00) AS ee
           FROM m),
         kk AS (SELECT n, p11 + p00 AS agree,
             CAST(n AS HUGEINT) * (p11 + p00) - ee AS num,
             CAST(n AS HUGEINT) * n - ee AS den,
             p11, p00
           FROM k)
         SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
                (CAST(agree AS HUGEINT) * 2000000 + n) // (2 * n)
                  / 1000000.0 AS po,
                CASE WHEN den = 0 THEN NULL ELSE
                  CASE WHEN num < 0 THEN -1 ELSE 1 END *
                  ((2 * abs(num) * 1000000 + den) // (2 * den))
                  / 1000000.0 END AS kappa
         FROM kk"""),

    // MATTHEWS CORRELATION COEFFICIENT — the single-number binary-
    // classifier summary that stays honest under class imbalance
    // (unlike accuracy / F1): MCC = (tp·tn − fp·fn) /
    // √((tp+fp)(tp+fn)(tn+fp)(tn+fn)). Numerator and the radicand
    // are EXACT operand-widened integers (DECIMAL(38,0)/HUGEINT —
    // the 4-factor product fits 38 digits to ~1e9 rows), so the only
    // floats are one division + one sqrt of identical values; a zero
    // marginal makes MCC undefined → NULL on both engines. One
    // conditional aggregate; one row travels.
    Q("ml_matthews_corr",
      (s, d) => orders(s, d)
        .select((col("o_orderstatus") === "F").as("label"),
          (col("o_totalprice") > 150000.0).as("pred"))
        .agg(
          sum(when(col("pred") && col("label"), 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") && !col("label"), 1L).otherwise(0L))
            .as("fp"),
          sum(when(!col("pred") && col("label"), 1L).otherwise(0L))
            .as("fn"),
          sum(when(!col("pred") && !col("label"), 1L).otherwise(0L))
            .as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("""CASE WHEN tp + fp = 0 OR tp + fn = 0
                       OR tn + fp = 0 OR tn + fn = 0 THEN NULL ELSE
                    ROUND(CAST(CAST(tp AS DECIMAL(38,0)) * tn
                               - CAST(fp AS DECIMAL(38,0)) * fn
                            AS DOUBLE)
                      / sqrt(CAST(CAST(tp + fp AS DECIMAL(38,0))
                               * (tp + fn) * (tn + fp) * (tn + fn)
                            AS DOUBLE)), 6) + 0.0D END""").as("mcc")),
      """WITH p AS (
           SELECT (o_orderstatus = 'F') AS label,
                  (o_totalprice > 150000.0) AS pred
           FROM orders),
         m AS (SELECT
             CAST(SUM(CASE WHEN pred AND label THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0
               END) AS BIGINT) AS tn
           FROM p)
         SELECT tp, fp, fn, tn,
                CASE WHEN tp + fp = 0 OR tp + fn = 0
                     OR tn + fp = 0 OR tn + fn = 0 THEN NULL ELSE
                  ROUND(CAST(CAST(tp AS HUGEINT) * tn
                             - CAST(fp AS HUGEINT) * fn AS DOUBLE)
                    / sqrt(CAST(CAST(tp + fp AS HUGEINT)
                             * (tp + fn) * (tn + fp) * (tn + fn)
                          AS DOUBLE)), 6) + 0.0 END AS mcc
         FROM m"""),

    // CRAMÉR'S V over CORPUS METADATA (language × source) — "is the
    // language mix a property of the source": the curation-side
    // association screen (a high V means per-source language filters
    // are worth it; V ≈ 0 means one global filter suffices).
    // profile_cramers_v covers the orders pair on OBSERVED cells;
    // this one rebuilds the FULL r×c domain as marginals × marginals
    // (absent (lang, source) cells still contribute (r·c)²/(n·r·c) —
    // dropping them understates χ² exactly when the association is
    // strongest), per-cell terms (n·o − r·c)²/(n·r·c) from exact
    // operand-widened integers, each cast to DECIMAL(26,12) so the
    // χ² sum is ORDER-FREE decimal addition (the KL trick);
    // V = √(χ²/(n·min(r−1,c−1))) with df from the OBSERVED marginals
    // (a collapsed category changes df, not just the grid). Three
    // tiny aggregates + broadcast joins; ≤ |langs|·|sources| rows
    // travel.
    Q("ml_cramers_v",
      (s, d) => {
        // NULL categories are excluded by contract (the non-null-safe
        // domain join would silently orphan a NULL row's observed
        // cells while its marginals still inflated n — review
        // finding); marginals and the total derive from the CELLS
        // relation, so the base table is scanned once.
        val o = documents(s, d).select(col("lang").as("st"),
          col("source").as("pr"))
          .filter(col("st").isNotNull && col("pr").isNotNull)
        val cells = o.groupBy("st", "pr").agg(count(lit(1)).as("o_cnt"))
        val rm = cells.groupBy("st").agg(sum("o_cnt").as("r"))
        val cm = cells.groupBy("pr").agg(sum("o_cnt").as("c"))
        val tot = cells.agg(sum("o_cnt").as("n"))
        rm.crossJoin(broadcast(cm))
          .join(broadcast(cells), Seq("st", "pr"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("dif",
            expr("""CAST(n AS DECIMAL(38,0)) * coalesce(o_cnt, 0L)
                    - CAST(r AS DECIMAL(38,0)) * c"""))
          .withColumn("term",
            expr("""CAST(CAST(dif * dif AS DOUBLE)
                    / CAST(CAST(n AS DECIMAL(38,0)) * r * c AS DOUBLE)
                    AS DECIMAL(26,12))"""))
          .agg(max("n").as("n"), count(lit(1)).as("n_cells"),
            countDistinct(col("st")).as("rd"),
            countDistinct(col("pr")).as("cd"),
            sum("term").as("chi2d"))
          // df = min(r−1, c−1) from the OBSERVED marginals (not a
          // pinned 2): a corpus slice with a collapsed category still
          // reports true Cramér's V; a single-category variable has
          // df = 0 → NULL on both engines
          .select(col("n"), col("n_cells"),
            expr("ROUND(CAST(chi2d AS DOUBLE), 6) + 0.0D").as("chi2"),
            expr("""CASE WHEN least(rd, cd) <= 1 THEN NULL ELSE
                    ROUND(sqrt(CAST(chi2d AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (least(rd, cd) - 1))), 6)
                    + 0.0D END""")
              .as("cramers_v"))
      },
      """WITH o AS (SELECT lang AS st, source AS pr FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL),
         cells AS (SELECT st, pr, CAST(COUNT(*) AS BIGINT) AS o_cnt
           FROM o GROUP BY 1, 2),
         rm AS (SELECT st, CAST(SUM(o_cnt) AS BIGINT) AS r
           FROM cells GROUP BY 1),
         cm AS (SELECT pr, CAST(SUM(o_cnt) AS BIGINT) AS c
           FROM cells GROUP BY 1),
         tot AS (SELECT CAST(SUM(o_cnt) AS BIGINT) AS n FROM cells),
         dom AS (
           SELECT rm.st AS st, cm.pr AS pr, n, r, c,
                  CAST(n AS HUGEINT) * COALESCE(cells.o_cnt, 0)
                    - CAST(rm.r AS HUGEINT) * cm.c AS dif
           FROM rm CROSS JOIN cm
             LEFT JOIN cells ON cells.st = rm.st AND cells.pr = cm.pr
             CROSS JOIN tot),
         t AS (SELECT st, pr, n,
                  CAST(CAST(dif * dif AS DOUBLE)
                    / CAST(CAST(n AS HUGEINT) * r * c AS DOUBLE)
                    AS DECIMAL(26,12)) AS term
               FROM dom)
         SELECT CAST(MAX(n) AS BIGINT) AS n, COUNT(*) AS n_cells,
                ROUND(CAST(SUM(term) AS DOUBLE), 6) + 0.0 AS chi2,
                CASE WHEN least(COUNT(DISTINCT st), COUNT(DISTINCT pr))
                       <= 1 THEN NULL ELSE
                  ROUND(sqrt(CAST(SUM(term) AS DOUBLE)
                    / (CAST(MAX(n) AS DOUBLE)
                       * (least(COUNT(DISTINCT st), COUNT(DISTINCT pr))
                          - 1))), 6) + 0.0 END AS cramers_v
         FROM t"""),

    // SOMERS' D — the tie-aware ordinal association between score and
    // binary label that ml_auc_roc's rank form summarizes as 2·AUC−1
    // ONLY when ties are halved; here concordant / discordant / tied
    // pairs are EXACT integers off the same score-value histogram
    // (c·cum-below products, operand-widened), so D = (C − Dc)/(n₊n₋)
    // lands via the sign-split half-up idiom — D can be negative and
    // no ROUND(double) sits in the path. Same one histogram aggregate
    // + one cumulative window over the ≤|distinct scores| domain as
    // the AUC key — never a row-level global rank.
    Q("ml_somers_d",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = documents(s, d)
          .groupBy(col("n_chars").as("sc"))
          .agg(count(lit(1)).as("c"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"))
          .withColumn("cn", col("c") - col("cp"))
        val w = Window.orderBy("sc")
          .rowsBetween(Window.unboundedPreceding, -1)
        h.withColumn("nb", coalesce(sum("cn").over(w), lit(0L)))
          .agg(sum("cp").as("np"), sum("cn").as("nn"),
            sum(col("cp").cast(DecimalType(38, 0)) * col("nb"))
              .as("conc"),
            sum(col("cp").cast(DecimalType(38, 0)) * col("cn"))
              .as("ties"))
          // disc = pairs with pos below neg = np·nn − conc − ties
          .withColumn("disc",
            expr("CAST(np AS DECIMAL(38,0)) * nn - conc - ties"))
          .select(col("np").as("n_pos"), col("nn").as("n_neg"),
            col("conc").cast("double").as("concordant"),
            col("disc").cast("double").as("discordant"),
            col("ties").cast("double").as("tied_score"),
            expr("""CASE WHEN np = 0 OR nn = 0 THEN NULL ELSE
                      CASE WHEN conc - disc < 0 THEN -1 ELSE 1 END *
                      ((2 * abs(conc - disc) * 1000000
                        + CAST(np AS DECIMAL(38,0)) * nn)
                       div (2 * CAST(np AS DECIMAL(38,0)) * nn))
                      / 1000000.0D END""").as("somers_d"))
      },
      """WITH h AS (SELECT n_chars AS sc, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                 AS BIGINT) AS cp
             FROM documents GROUP BY 1),
         cum AS (SELECT sc, c, cp, c - cp AS cn,
             coalesce(sum(c - cp) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nb
           FROM h),
         agg AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
                        CAST(sum(cn) AS BIGINT) AS nn,
                        sum(CAST(cp AS HUGEINT) * nb) AS conc,
                        sum(CAST(cp AS HUGEINT) * cn) AS ties
                 FROM cum),
         k AS (SELECT np, nn, conc, ties,
                 CAST(np AS HUGEINT) * nn - conc - ties AS disc
               FROM agg)
         SELECT np AS n_pos, nn AS n_neg,
                CAST(conc AS DOUBLE) AS concordant,
                CAST(disc AS DOUBLE) AS discordant,
                CAST(ties AS DOUBLE) AS tied_score,
                CASE WHEN np = 0 OR nn = 0 THEN NULL ELSE
                  CASE WHEN conc - disc < 0 THEN -1 ELSE 1 END *
                  ((2 * abs(conc - disc) * 1000000
                    + CAST(np AS HUGEINT) * nn)
                   // (2 * CAST(np AS HUGEINT) * nn))
                  / 1000000.0 END AS somers_d
         FROM k"""),

    // DAVIES–BOULDIN INDEX — cluster-validity of the label partition
    // in embedding space (are the ground-truth classes actually
    // separated?), the worst-pair-ratio complement to
    // vec_cluster_purity: per-label centroids from exact
    // DECIMAL(20,10) dim sums (the vec_centroids discipline),
    // per-point distances as order-free DECIMAL(24,12)-quantized
    // squares, per-point sqrt quantized BEFORE the per-label mean (a
    // float mean over corpus points is engine-ordered — the KL
    // trick), and the final mean-of-max-ratios runs over the K-row
    // label relation with every term decimal-quantized. One corpus
    // explode + one corpus join; everything after is K×dims-sized.
    Q("vec_davies_bouldin",
      (s, d) => {
        val dims = graft.engine.ml.Centroids.dims(embeddings(s, d))
        val cent = graft.engine.ml.Centroids
          .labelCentroids(embeddings(s, d))
          .withColumnRenamed("clabel", "label")
        val scat = dims.join(cent, Seq("label", "i"))
          .withColumn("sq",
            ((col("v") - col("c")) * (col("v") - col("c")))
              .cast(DecimalType(24, 12)))
          .groupBy("vec_id", "label")
          .agg(sum(col("sq")).as("d2"))
          .withColumn("dist",
            expr("CAST(sqrt(CAST(d2 AS DOUBLE)) AS DECIMAL(24,12))"))
          .groupBy("label")
          .agg((sum("dist").cast("double") / count(lit(1))).as("s"))
        val pairs = cent.as("a")
          .join(cent.as("b"), col("a.i") === col("b.i")
            && col("a.label") =!= col("b.label"))
          .select(col("a.label").as("k"), col("b.label").as("l"),
            expr("""CAST((a.c - b.c) * (a.c - b.c)
                    AS DECIMAL(24,12))""").as("sq"))
          .groupBy("k", "l")
          .agg(expr("sqrt(CAST(sum(sq) AS DOUBLE))").as("m"))
        val r = pairs
          .join(scat.select(col("label").as("k"), col("s").as("sk")),
            Seq("k"))
          .join(scat.select(col("label").as("l"), col("s").as("sl")),
            Seq("l"))
          .withColumn("r", expr("(sk + sl) / m"))
          .groupBy("k")
          .agg(expr("CAST(max(r) AS DECIMAL(24,12))").as("maxr"))
        r.agg(count(lit(1)).as("k_clusters"),
            expr("""ROUND(CAST(sum(maxr) AS DOUBLE) / count(1), 6)
                    + 0.0D""").as("davies_bouldin"))
      },
      """WITH dims AS (
           SELECT vec_id, label, i,
                  CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
         cent AS (
           SELECT label, i,
                  CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                    / COUNT(*) AS c
           FROM dims GROUP BY 1, 2),
         pd AS (
           SELECT vec_id, d.label,
                  SUM(CAST((v - c) * (v - c) AS DECIMAL(24,12))) AS d2
           FROM dims d JOIN cent USING (label, i)
           GROUP BY 1, 2),
         scat AS (
           SELECT label,
                  CAST(SUM(CAST(sqrt(CAST(d2 AS DOUBLE))
                    AS DECIMAL(24,12))) AS DOUBLE) / COUNT(*) AS s
           FROM pd GROUP BY 1),
         pairs AS (
           SELECT a.label AS k, b.label AS l,
                  sqrt(CAST(SUM(CAST((a.c - b.c) * (a.c - b.c)
                    AS DECIMAL(24,12))) AS DOUBLE)) AS m
           FROM cent a JOIN cent b
             ON a.i = b.i AND a.label <> b.label
           GROUP BY 1, 2),
         r AS (
           SELECT k,
                  CAST(MAX((sk.s + sl.s) / m) AS DECIMAL(24,12)) AS maxr
           FROM pairs
           JOIN scat sk ON sk.label = pairs.k
           JOIN scat sl ON sl.label = pairs.l
           GROUP BY 1)
         SELECT CAST(COUNT(*) AS BIGINT) AS k_clusters,
                ROUND(CAST(SUM(maxr) AS DOUBLE) / COUNT(*), 6) + 0.0
                  AS davies_bouldin
         FROM r"""),

    // CALINSKI–HARABASZ — the variance-ratio cluster-validity twin of
    // vec_davies_bouldin: between-cluster scatter over within-cluster
    // scatter, both as ORDER-FREE decimal sums (per-point squared
    // distances and per-(label, dim) centroid gaps each quantized to
    // DECIMAL(24,12) before any aggregate), so the only floats are
    // the final two divisions. Reuses the one corpus explode; the B
    // term is K×dims-sized arithmetic.
    Q("vec_calinski_harabasz",
      (s, d) => {
        val dims = graft.engine.ml.Centroids.dims(embeddings(s, d))
        val cent = dims.groupBy("label", "i")
          .agg(count(lit(1)).as("nl"),
            (sum(col("v").cast(DecimalType(20, 10))).cast("double") /
              count(lit(1))).as("c"))
        val gcent = dims.groupBy("i")
          .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") /
            count(lit(1))).as("gc"))
        val wss = dims.join(cent, Seq("label", "i"))
          .agg(sum(((col("v") - col("c")) * (col("v") - col("c")))
            .cast(DecimalType(24, 12))).as("w"))
        val bss = cent.join(gcent, Seq("i"))
          .withColumn("term",
            expr("CAST(nl * ((c - gc) * (c - gc)) AS DECIMAL(38,12))"))
          .agg(sum("term").as("b"))
        val nk = embeddings(s, d)
          .agg(count(lit(1)).as("n"),
            countDistinct("label").as("k"))
        nk.crossJoin(wss).crossJoin(bss)
          .select(col("n"), col("k"),
            expr("""CASE WHEN k < 2 OR n <= k
                         OR CAST(w AS DOUBLE) <= 0.0D THEN NULL ELSE
                      ROUND((CAST(b AS DOUBLE) / (k - 1))
                            / (CAST(w AS DOUBLE) / (n - k)), 4) + 0.0D
                    END""").as("calinski_harabasz"))
      },
      """WITH dims AS (
           SELECT vec_id, label, i,
                  CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, LATERAL unnest(range(1, 65)) AS t(i)),
         cent AS (
           SELECT label, i, CAST(COUNT(*) AS BIGINT) AS nl,
                  CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                    / COUNT(*) AS c
           FROM dims GROUP BY 1, 2),
         gcent AS (
           SELECT i,
                  CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE)
                    / COUNT(*) AS gc
           FROM dims GROUP BY 1),
         wss AS (
           SELECT SUM(CAST((v - c) * (v - c) AS DECIMAL(24,12))) AS w
           FROM dims d JOIN cent USING (label, i)),
         bss AS (
           SELECT SUM(CAST(nl * ((c - gc) * (c - gc))
                    AS DECIMAL(38,12))) AS b
           FROM cent JOIN gcent USING (i)),
         nk AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(COUNT(DISTINCT label) AS BIGINT) AS k
           FROM embeddings)
         SELECT n, k,
                CASE WHEN k < 2 OR n <= k
                     OR CAST(w AS DOUBLE) <= 0.0 THEN NULL ELSE
                  ROUND((CAST(b AS DOUBLE) / (k - 1))
                        / (CAST(w AS DOUBLE) / (n - k)), 4) + 0.0
                END AS calinski_harabasz
         FROM nk CROSS JOIN wss CROSS JOIN bss"""),

    // LOG LOSS — the proper-scoring-rule companion to ml_auc_roc /
    // ml_brier_decomposition, with an honest TRAIN/TEST split: the
    // per-source P(lang='en') rates are learned on the md5-even half
    // of doc_ids (deterministic hash split — raw doc_id parity is
    // correlated with source in the fixture corpus; Laplace-smoothed
    // so ln never sees 0), evaluated on the md5-odd half.
    // The corpus collapses to per-source (hit, miss) counts first, so
    // the ln terms exist only at #sources grain — each quantized to
    // DECIMAL(24,12) BEFORE the count product and the cross-source
    // sum (both order-free). A constant-predictor baseline from the
    // same split says whether the source feature helps.
    Q("ml_log_loss",
      (s, d) => {
        val base = documents(s, d).select(col("source"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
            16, 10).cast("long") % 2 === 0).as("train"))
        val cells = base.groupBy("source").agg(
          sum(when(col("train"), col("y")).otherwise(0L)).as("k_tr"),
          sum(when(col("train"), 1L).otherwise(0L)).as("n_tr"),
          sum(when(!col("train"), col("y")).otherwise(0L)).as("k_te"),
          sum(when(!col("train"), 1L).otherwise(0L)).as("n_te"))
          .withColumn("p",
            expr("CAST(k_tr + 1 AS DOUBLE) / (n_tr + 2)"))
          .withColumn("t",
            expr("""CAST(k_te * ln(p)
                  + (n_te - k_te) * ln(1.0D - p) AS DECIMAL(38,12))"""))
        val glob = base.agg(
          sum(when(col("train"), col("y")).otherwise(0L)).as("gk"),
          sum(when(col("train"), 1L).otherwise(0L)).as("gn"))
          .withColumn("p0", expr("CAST(gk + 1 AS DOUBLE) / (gn + 2)"))
        cells.agg(
            sum("n_tr").as("n_train"), sum("n_te").as("n_test"),
            sum("k_te").as("k_test"), sum("t").as("tsum"))
          .crossJoin(glob.select("p0"))
          .select(col("n_train"), col("n_test"),
            expr("""CASE WHEN n_test = 0 THEN NULL ELSE
                    ROUND(-CAST(tsum AS DOUBLE) / n_test, 6) + 0.0D
                    END""").as("log_loss"),
            expr("""CASE WHEN n_test = 0 THEN NULL ELSE
                    ROUND(-(k_test * ln(p0)
                        + (n_test - k_test) * ln(1.0D - p0))
                      / n_test, 6) + 0.0D
                    END""").as("log_loss_baseline"))
      },
      """WITH base AS (
           SELECT source,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                  (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                     1, 8)) AS BIGINT) % 2 = 0) AS train
           FROM documents),
         cells AS (
           SELECT source,
             CAST(SUM(CASE WHEN train THEN y ELSE 0 END) AS BIGINT)
               AS k_tr,
             CAST(SUM(CASE WHEN train THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tr,
             CAST(SUM(CASE WHEN NOT train THEN y ELSE 0 END) AS BIGINT)
               AS k_te,
             CAST(SUM(CASE WHEN NOT train THEN 1 ELSE 0 END) AS BIGINT)
               AS n_te
           FROM base GROUP BY 1),
         ct AS (
           SELECT n_tr, n_te, k_te,
                  CAST(k_te * ln(CAST(k_tr + 1 AS DOUBLE) / (n_tr + 2))
                + (n_te - k_te)
                  * ln(1.0 - CAST(k_tr + 1 AS DOUBLE) / (n_tr + 2))
                    AS DECIMAL(38,12)) AS t
           FROM cells),
         gl AS (
           SELECT CAST(SUM(CASE WHEN train THEN y ELSE 0 END) + 1
                    AS DOUBLE)
                  / (SUM(CASE WHEN train THEN 1 ELSE 0 END) + 2) AS p0
           FROM base),
         m AS (
           SELECT CAST(SUM(n_tr) AS BIGINT) AS n_train,
                  CAST(SUM(n_te) AS BIGINT) AS n_test,
                  CAST(SUM(k_te) AS BIGINT) AS k_test,
                  SUM(t) AS tsum
           FROM ct)
         SELECT n_train, n_test,
                CASE WHEN n_test = 0 THEN NULL ELSE
                  ROUND(-CAST(tsum AS DOUBLE) / n_test, 6) + 0.0
                END AS log_loss,
                CASE WHEN n_test = 0 THEN NULL ELSE
                  ROUND(-(k_test * ln(p0)
                      + (n_test - k_test) * ln(1.0 - p0))
                    / n_test, 6) + 0.0
                END AS log_loss_baseline
         FROM m CROSS JOIN gl"""),

    // ADJUSTED RAND INDEX — chance-corrected agreement between the
    // ground-truth labels and the nearest-centroid assignment (the
    // vec_cluster_purity machinery: centroid arrays broadcast against
    // the un-exploded stream, per-row sequential double fold,
    // deterministic (d2, clabel) tie-break): purity says how clean
    // each cluster is, ARI says whether the whole PARTITION beats
    // chance. All pair counts (Σn_ij², marginals) are exact
    // operand-cast integers; ARI evaluates the textbook formula in
    // ONE fixed-order double expression over them — identical IEEE
    // result per engine, no n⁴ decimal overflow.
    Q("ml_adjusted_rand",
      (s, d) => {
        val d2 = graft.engine.ml.Centroids
          .distToCentroids(embeddings(s, d))
        val w = Window.partitionBy("vec_id")
          .orderBy(col("d2"), col("clabel"))
        val assigned = d2.withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("label"), col("clabel"))
        val cells = assigned.groupBy("label", "clabel")
          .agg(count(lit(1)).as("nij"))
        val sij = cells.agg(
          sum(col("nij").cast(DecimalType(38, 0)) * (col("nij") - 1))
            .as("sij"),
          countDistinct("label").as("ka"),
          countDistinct("clabel").as("kb"))
        val sa = cells.groupBy("label")
          .agg(sum("nij").as("ai"))
          .agg(sum(col("ai").cast(DecimalType(38, 0)) * (col("ai") - 1))
            .as("sa"), sum("ai").as("n"))
        val sb = cells.groupBy("clabel")
          .agg(sum("nij").as("bj"))
          .agg(sum(col("bj").cast(DecimalType(38, 0)) * (col("bj") - 1))
            .as("sb"))
        sij.crossJoin(sa).crossJoin(sb)
          .withColumn("t",
            expr("CAST(n AS DECIMAL(38,0)) * (n - 1)"))
          .select(col("n"), col("ka").as("k_true"),
            col("kb").as("k_assigned"),
            expr("""CASE WHEN n < 2
                         OR (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
                            * CAST(t AS DOUBLE)
                            - 2.0D * CAST(sa AS DOUBLE)
                              * CAST(sb AS DOUBLE) = 0.0D THEN NULL
                    ELSE ROUND(
                      2.0D * (CAST(sij AS DOUBLE) * CAST(t AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                      / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
                         * CAST(t AS DOUBLE)
                         - 2.0D * CAST(sa AS DOUBLE)
                           * CAST(sb AS DOUBLE)), 6) + 0.0D
                    END""").as("adjusted_rand"))
      },
      s"""WITH $EmbDimsCte,
         $CentroidCte,
         $CentroidD2Cte,
         assigned AS (
           SELECT vec_id, label, clabel,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY d2, clabel) AS rk
           FROM d2),
         cells AS (
           SELECT label, clabel, CAST(COUNT(*) AS BIGINT) AS nij
           FROM assigned WHERE rk = 1 GROUP BY 1, 2),
         s1 AS (
           SELECT SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS sij,
                  CAST(COUNT(DISTINCT label) AS BIGINT) AS ka,
                  CAST(COUNT(DISTINCT clabel) AS BIGINT) AS kb
           FROM cells),
         s2 AS (
           SELECT SUM(CAST(ai AS HUGEINT) * (ai - 1)) AS sa,
                  CAST(SUM(ai) AS BIGINT) AS n
           FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai
                 FROM cells GROUP BY label)),
         s3 AS (
           SELECT SUM(CAST(bj AS HUGEINT) * (bj - 1)) AS sb
           FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj
                 FROM cells GROUP BY clabel)),
         f AS (
           SELECT n, ka, kb, sij, sa, sb,
                  CAST(n AS HUGEINT) * (n - 1) AS t
           FROM s1 CROSS JOIN s2 CROSS JOIN s3)
         SELECT n, ka AS k_true, kb AS k_assigned,
                CASE WHEN n < 2
                     OR (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
                        * CAST(t AS DOUBLE)
                        - 2.0 * CAST(sa AS DOUBLE)
                          * CAST(sb AS DOUBLE) = 0.0 THEN NULL
                ELSE ROUND(
                  2.0 * (CAST(sij AS DOUBLE) * CAST(t AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                  / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
                     * CAST(t AS DOUBLE)
                     - 2.0 * CAST(sa AS DOUBLE)
                       * CAST(sb AS DOUBLE)), 6) + 0.0
                END AS adjusted_rand
         FROM f"""),

    // UNCERTAINTY COEFFICIENT (Theil's U association) — the
    // NORMALIZED, asymmetric "what fraction of the language mix does
    // knowing the source explain" next to ml_cramers_v's symmetric
    // effect size and profile_mutual_info's raw nats: U(Y|X) =
    // I(X;Y)/H(Y) on the lang × source pair. Every entropy is a
    // decimal sum of DECIMAL(24,12)-quantized p·ln p terms at its own
    // bounded grain (cells / langs / sources — order-free), and the
    // two U's + MI divide identical doubles. NULL categories excluded
    // by contract (the ml_cramers_v lesson); one corpus aggregate.
    Q("ml_uncertainty_coef",
      (s, d) => {
        val base = documents(s, d)
          .filter(col("lang").isNotNull && col("source").isNotNull)
        val tot = base.agg(count(lit(1)).as("n"))
        val hj = base.groupBy("lang", "source")
          .agg(count(lit(1)).as("c")).crossJoin(tot)
          .agg(sum(expr("""CAST((CAST(c AS DOUBLE) / n)
            * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(24,12))"""))
            .as("hj_neg"))
        val hy = base.groupBy("lang")
          .agg(count(lit(1)).as("c")).crossJoin(tot)
          .agg(sum(expr("""CAST((CAST(c AS DOUBLE) / n)
            * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(24,12))"""))
            .as("hy_neg"))
        val hx = base.groupBy("source")
          .agg(count(lit(1)).as("c")).crossJoin(tot)
          .agg(sum(expr("""CAST((CAST(c AS DOUBLE) / n)
            * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(24,12))"""))
            .as("hx_neg"))
        tot.crossJoin(hj).crossJoin(hy).crossJoin(hx)
          .withColumn("mi",
            expr("""CAST(hj_neg AS DOUBLE) - CAST(hy_neg AS DOUBLE)
                    - CAST(hx_neg AS DOUBLE)"""))
          .select(col("n"),
            expr("ROUND(mi, 6) + 0.0D").as("mutual_info_nats"),
            expr("""CASE WHEN hy_neg = 0 THEN NULL ELSE
                    ROUND(mi / -CAST(hy_neg AS DOUBLE), 6) + 0.0D
                    END""").as("u_lang_given_source"),
            expr("""CASE WHEN hx_neg = 0 THEN NULL ELSE
                    ROUND(mi / -CAST(hx_neg AS DOUBLE), 6) + 0.0D
                    END""").as("u_source_given_lang"))
      },
      """WITH base AS (
           SELECT lang, source FROM documents
           WHERE lang IS NOT NULL AND source IS NOT NULL),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
         hj AS (
           SELECT SUM(CAST((CAST(c AS DOUBLE) / n)
                    * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(24,12)))
                    AS hj_neg
           FROM (SELECT COUNT(*) AS c FROM base GROUP BY lang, source)
           CROSS JOIN tot),
         hy AS (
           SELECT SUM(CAST((CAST(c AS DOUBLE) / n)
                    * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(24,12)))
                    AS hy_neg
           FROM (SELECT COUNT(*) AS c FROM base GROUP BY lang)
           CROSS JOIN tot),
         hx AS (
           SELECT SUM(CAST((CAST(c AS DOUBLE) / n)
                    * ln(CAST(c AS DOUBLE) / n) AS DECIMAL(24,12)))
                    AS hx_neg
           FROM (SELECT COUNT(*) AS c FROM base GROUP BY source)
           CROSS JOIN tot),
         f AS (
           SELECT n, hy_neg, hx_neg,
                  CAST(hj_neg AS DOUBLE) - CAST(hy_neg AS DOUBLE)
                  - CAST(hx_neg AS DOUBLE) AS mi
           FROM tot CROSS JOIN hj CROSS JOIN hy CROSS JOIN hx)
         SELECT n, ROUND(mi, 6) + 0.0 AS mutual_info_nats,
                CASE WHEN hy_neg = 0 THEN NULL ELSE
                  ROUND(mi / -CAST(hy_neg AS DOUBLE), 6) + 0.0
                END AS u_lang_given_source,
                CASE WHEN hx_neg = 0 THEN NULL ELSE
                  ROUND(mi / -CAST(hx_neg AS DOUBLE), 6) + 0.0
                END AS u_source_given_lang
         FROM f"""),

    // FLEISS' KAPPA — multi-rater chance-corrected agreement, the
    // m>2 generalization of ml_cohen_kappa: three deterministic text
    // "raters" (length, stopword, token-count rules — identical
    // per-row booleans on both engines) vote pass/fail per document;
    // with m=3 binary raters the per-item agreement collapses to a
    // function of the vote count v ∈ 0..3, so the corpus reduces to
    // exact integer moments (Σw(v), Σv) in ONE pass and κ is a pure
    // rational — sign-split half-up, never ROUND(double). The
    // quality_kappa pairwise view can't see three-way agreement.
    Q("ml_fleiss_kappa",
      (s, d) => documents(s, d)
        .select((
          when(col("n_chars") > 200, 1L).otherwise(0L) +
          when(col("text").contains(" the "), 1L).otherwise(0L) +
          when(length(col("text")) -
            length(regexp_replace(col("text"), " ", "")) + 1 > 30, 1L)
            .otherwise(0L))
          .as("v"))
        .agg(count(lit(1)).as("n"),
          sum(expr("""CASE v WHEN 0L THEN 6L WHEN 1L THEN 2L
                      WHEN 2L THEN 2L ELSE 6L END""")).as("a"),
          sum("v").as("sv"))
        .withColumn("num2",
          expr("""3 * CAST(a AS DECIMAL(38,0)) * n
                  - 2 * CAST(sv AS DECIMAL(38,0)) * sv
                  - 2 * CAST(3 * n - sv AS DECIMAL(38,0))
                    * (3 * n - sv)"""))
        .withColumn("den2",
          expr("""18 * CAST(n AS DECIMAL(38,0)) * n
                  - 2 * CAST(sv AS DECIMAL(38,0)) * sv
                  - 2 * CAST(3 * n - sv AS DECIMAL(38,0))
                    * (3 * n - sv)"""))
        .select(col("n").as("n_docs"),
          expr("""(CAST(a AS DECIMAL(38,0)) * 2000000 + 6 * n)
                  div (12 * n) / 1000000.0D""").as("p_bar"),
          expr("""((2 * (CAST(sv AS DECIMAL(38,0)) * sv
                   + CAST(3 * n - sv AS DECIMAL(38,0)) * (3 * n - sv))
                   * 1000000 + 9 * CAST(n AS DECIMAL(38,0)) * n)
                  div (18 * CAST(n AS DECIMAL(38,0)) * n))
                 / 1000000.0D""").as("p_e"),
          expr("""CASE WHEN den2 = 0 THEN NULL ELSE
                    CASE WHEN num2 < 0 THEN -1 ELSE 1 END *
                    ((2 * abs(num2) * 1000000 + den2) div (2 * den2))
                    / 1000000.0D END""").as("kappa")),
      """WITH v AS (
           SELECT (CASE WHEN n_chars > 200 THEN 1 ELSE 0 END
                 + CASE WHEN text LIKE '% the %' THEN 1 ELSE 0 END
                 + CASE WHEN length(text)
                     - length(replace(text, ' ', '')) + 1 > 30
                   THEN 1 ELSE 0 END) AS v
           FROM documents),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CASE v WHEN 0 THEN 6 WHEN 1 THEN 2
                           WHEN 2 THEN 2 ELSE 6 END) AS BIGINT) AS a,
                  CAST(SUM(v) AS BIGINT) AS sv
           FROM v),
         f AS (
           SELECT n, a, sv,
                  3 * CAST(a AS HUGEINT) * n
                  - 2 * CAST(sv AS HUGEINT) * sv
                  - 2 * CAST(3 * n - sv AS HUGEINT) * (3 * n - sv)
                    AS num2,
                  18 * CAST(n AS HUGEINT) * n
                  - 2 * CAST(sv AS HUGEINT) * sv
                  - 2 * CAST(3 * n - sv AS HUGEINT) * (3 * n - sv)
                    AS den2
           FROM m)
         SELECT n AS n_docs,
                (CAST(a AS HUGEINT) * 2000000 + 6 * n) // (12 * n)
                  / 1000000.0 AS p_bar,
                ((2 * (CAST(sv AS HUGEINT) * sv
                  + CAST(3 * n - sv AS HUGEINT) * (3 * n - sv))
                  * 1000000 + 9 * CAST(n AS HUGEINT) * n)
                 // (18 * CAST(n AS HUGEINT) * n))
                / 1000000.0 AS p_e,
                CASE WHEN den2 = 0 THEN NULL ELSE
                  CASE WHEN num2 < 0 THEN -1 ELSE 1 END *
                  ((2 * abs(num2) * 1000000 + den2) // (2 * den2))
                  / 1000000.0 END AS kappa
         FROM f"""),

    // SIMPLIFIED SILHOUETTE — the per-POINT separation score the
    // validity indexes summarize away (vec_davies_bouldin is a
    // worst-pair number; silhouette says how many individual points
    // sit closer to a foreign centroid): centroid-based s = (b−a) /
    // max(a,b) with a = distance to own centroid, b = nearest foreign
    // centroid, both from the broadcast-centroid sequential fold (no
    // O(n²) pairwise pass — the classic silhouette can't scale, the
    // simplified one is the documented 100 TB form). Per-point s is
    // quantized to DECIMAL(24,12) before the corpus mean (order-free);
    // the misplaced share compares the raw fold doubles exactly.
    Q("vec_silhouette_simplified",
      (s, d) => {
        val d2 = graft.engine.ml.Centroids
          .distToCentroids(embeddings(s, d))
        d2.groupBy("vec_id")
          .agg(
            min(when(col("clabel") === col("label"), col("d2")))
              .as("a2"),
            min(when(col("clabel") =!= col("label"), col("d2")))
              .as("b2"))
          .withColumn("sil",
            expr("""CASE WHEN a2 IS NULL OR b2 IS NULL THEN NULL
                    WHEN greatest(sqrt(a2), sqrt(b2)) = 0.0D
                      THEN CAST(0 AS DECIMAL(24,12))
                    ELSE CAST((sqrt(b2) - sqrt(a2))
                         / greatest(sqrt(a2), sqrt(b2))
                         AS DECIMAL(24,12)) END"""))
          .agg(count(lit(1)).as("n"),
            sum("sil").as("ssil"),
            sum(when(col("b2") < col("a2"), 1L).otherwise(0L))
              .as("misplaced"))
          .select(col("n"),
            expr("""ROUND(CAST(ssil AS DOUBLE) / n, 6) + 0.0D""")
              .as("mean_silhouette"),
            col("misplaced"),
            expr("""(2 * CAST(misplaced AS DECIMAL(38,0)) * 1000000 + n)
                    div (2 * n) / 1000000.0D""").as("misplaced_share"))
      },
      s"""WITH $EmbDimsCte,
         $CentroidCte,
         $CentroidD2Cte,
         ab AS (
           SELECT vec_id,
                  MIN(CASE WHEN clabel = label THEN d2 END) AS a2,
                  MIN(CASE WHEN clabel <> label THEN d2 END) AS b2
           FROM d2 GROUP BY 1),
         sil AS (
           SELECT CASE WHEN a2 IS NULL OR b2 IS NULL THEN NULL
                  WHEN greatest(sqrt(a2), sqrt(b2)) = 0.0
                    THEN CAST(0 AS DECIMAL(24,12))
                  ELSE CAST((sqrt(b2) - sqrt(a2))
                       / greatest(sqrt(a2), sqrt(b2))
                       AS DECIMAL(24,12)) END AS s,
                  CASE WHEN b2 < a2 THEN 1 ELSE 0 END AS mis
           FROM ab),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(s) AS ssil,
                  CAST(SUM(mis) AS BIGINT) AS misplaced
           FROM sil)
         SELECT n,
                ROUND(CAST(ssil AS DOUBLE) / n, 6) + 0.0
                  AS mean_silhouette,
                misplaced,
                (2 * CAST(misplaced AS HUGEINT) * 1000000 + n)
                  // (2 * n) / 1000000.0 AS misplaced_share
         FROM m"""),

    // HOSMER–LEMESHOW — the calibration TEST behind
    // ml_expected_calibration_error's descriptive number (same exact
    // 1e-4-unit confidence, same 10 fixed bins): per-bin
    // (O_b − E_b)²/(E_b(1−E_b/n_b)) collapses to the exact-integer
    // rational (10⁴·pos_b − sconf4)²·n_b / (sconf4·(10⁴·n_b − sconf4))
    // — each term evaluates in DOUBLE from exact operand-cast
    // decimals and is quantized to DECIMAL(24,12) before the 10-bin
    // sum (order-free); degenerate bins (E = 0 or E = n) are excluded
    // by the same predicate on both engines. df = bins − 2.
    Q("ml_hosmer_lemeshow",
      (s, d) => {
        val bins = documents(s, d).select(
            expr("least(CAST(n_chars AS BIGINT), 2000L) * 10000 div 2000")
              .as("conf4"),
            when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
          .withColumn("bin", expr("least(conf4 div 1000, 9L)"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_b"), sum("pos").as("pos_b"),
            sum("conf4").as("sconf4"))
        val terms = bins
          .filter(expr("sconf4 > 0 AND sconf4 < n_b * 10000"))
          .withColumn("dd",
            expr("""CAST(pos_b AS DECIMAL(38,0)) * 10000 - sconf4"""))
          .withColumn("term",
            expr("""CAST(CAST(dd AS DOUBLE) * CAST(dd AS DOUBLE) * n_b
                    / (CAST(sconf4 AS DOUBLE)
                       * (CAST(n_b AS DOUBLE) * 10000 - sconf4))
                    AS DECIMAL(24,12))"""))
        terms.agg(count(lit(1)).as("n_bins"), sum("term").as("hs"))
          .select(col("n_bins"),
            expr("ROUND(CAST(hs AS DOUBLE), 4) + 0.0D").as("hl_chi2"),
            expr(s"""CASE WHEN n_bins <= 2 THEN NULL ELSE
                    CAST(hs AS DOUBLE) > CASE n_bins - 2
                      WHEN 1 THEN ${StatCrit.Chi2_95(1)}D
                      WHEN 2 THEN ${StatCrit.Chi2_95(2)}D
                      WHEN 3 THEN ${StatCrit.Chi2_95(3)}D
                      WHEN 4 THEN ${StatCrit.Chi2_95(4)}D
                      WHEN 5 THEN ${StatCrit.Chi2_95(5)}D
                      WHEN 6 THEN ${StatCrit.Chi2_95(6)}D
                      WHEN 7 THEN ${StatCrit.Chi2_95(7)}D
                      ELSE ${StatCrit.Chi2_95(8)}D END END""")
              .as("significant"))
      },
      s"""WITH $ConfidenceBinsCte,
         terms AS (
           SELECT CAST(CAST(CAST(pos_b AS HUGEINT) * 10000 - sconf4
                    AS DOUBLE)
                  * CAST(CAST(pos_b AS HUGEINT) * 10000 - sconf4
                    AS DOUBLE) * n_b
                  / (CAST(sconf4 AS DOUBLE)
                     * (CAST(n_b AS DOUBLE) * 10000 - sconf4))
                  AS DECIMAL(24,12)) AS term
           FROM bins
           WHERE sconf4 > 0 AND sconf4 < n_b * 10000),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_bins, SUM(term) AS hs
           FROM terms)
         SELECT n_bins,
                ROUND(CAST(hs AS DOUBLE), 4) + 0.0 AS hl_chi2,
                CASE WHEN n_bins <= 2 THEN NULL ELSE
                  CAST(hs AS DOUBLE) > CASE n_bins - 2
""" + (1 to 7).map(df =>
        s"                    WHEN $df THEN ${StatCrit.Chi2_95(df)}")
        .mkString("\n") + s"""
                    ELSE ${StatCrit.Chi2_95(8)} END END AS significant
         FROM m"""),

    // BALANCED ACCURACY / YOUDEN'S J / MARKEDNESS — the
    // prevalence-robust summary panel over the same rule-classifier
    // confusion as ml_cohen_kappa (accuracy lies under imbalance;
    // these four don't): every metric is a pure rational of the four
    // exact cells — balanced accuracy and the two composite indexes
    // land via the half-up idiom (J and markedness sign-split: both
    // can be negative), zero-marginal cells → NULL on both engines.
    // One conditional aggregate; one row travels.
    Q("ml_balanced_accuracy",
      (s, d) => orders(s, d)
        .select(
          (col("o_totalprice") > 150000.0).as("ra"),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("rb"))
        .agg(
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("tn"))
        .withColumn("jnum",
          expr("""CAST(tp AS DECIMAL(38,0)) * tn
                  - CAST(fn AS DECIMAL(38,0)) * fp"""))
        .withColumn("jden",
          expr("CAST(tp + fn AS DECIMAL(38,0)) * (fp + tn)"))
        .withColumn("mden",
          expr("CAST(tp + fp AS DECIMAL(38,0)) * (fn + tn)"))
        .select(col("tp"), col("fn"), col("fp"), col("tn"),
          expr("""CASE WHEN tp + fn = 0 OR fp + tn = 0 THEN NULL ELSE
                  ((CAST(tp AS DECIMAL(38,0)) * (fp + tn)
                    + CAST(tn AS DECIMAL(38,0)) * (tp + fn)) * 1000000
                   + jden) div (2 * jden) / 1000000.0D
                  END""").as("balanced_accuracy"),
          expr("""CASE WHEN jden = 0 THEN NULL ELSE
                    CASE WHEN jnum < 0 THEN -1 ELSE 1 END *
                    ((2 * abs(jnum) * 1000000 + jden) div (2 * jden))
                    / 1000000.0D END""").as("youden_j"),
          expr("""CASE WHEN mden = 0 THEN NULL ELSE
                    CASE WHEN jnum < 0 THEN -1 ELSE 1 END *
                    ((2 * abs(jnum) * 1000000 + mden) div (2 * mden))
                    / 1000000.0D END""").as("markedness")),
      """WITH p AS (
           SELECT (o_totalprice > 150000.0) AS ra,
                  (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS rb
           FROM orders),
         m AS (SELECT
             CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
               AS BIGINT) AS tn
           FROM p),
         f AS (
           SELECT tp, fn, fp, tn,
                  CAST(tp AS HUGEINT) * tn
                    - CAST(fn AS HUGEINT) * fp AS jnum,
                  CAST(tp + fn AS HUGEINT) * (fp + tn) AS jden,
                  CAST(tp + fp AS HUGEINT) * (fn + tn) AS mden
           FROM m)
         SELECT tp, fn, fp, tn,
                CASE WHEN tp + fn = 0 OR fp + tn = 0 THEN NULL ELSE
                  ((CAST(tp AS HUGEINT) * (fp + tn)
                    + CAST(tn AS HUGEINT) * (tp + fn)) * 1000000
                   + jden) // (2 * jden) / 1000000.0
                END AS balanced_accuracy,
                CASE WHEN jden = 0 THEN NULL ELSE
                  CASE WHEN jnum < 0 THEN -1 ELSE 1 END *
                  ((2 * abs(jnum) * 1000000 + jden) // (2 * jden))
                  / 1000000.0 END AS youden_j,
                CASE WHEN mden = 0 THEN NULL ELSE
                  CASE WHEN jnum < 0 THEN -1 ELSE 1 END *
                  ((2 * abs(jnum) * 1000000 + mden) // (2 * mden))
                  / 1000000.0 END AS markedness
         FROM f""")
  )
}
