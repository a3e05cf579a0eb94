package graft.queries

import graft.Tables._
import graft.queries.Fragments._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Behavioral / retail analytics + pipeline-maintenance shapes
  * (SURVEY.md §2 [ADDED r5], second batch): cohort retention, market
  * baskets, Markov event transitions, RFM segmentation, incremental
  * aggregate maintenance, bloom-prefiltered semi joins, row-level
  * snapshot diff (CDC), and A/B conversion stats.
  *
  * Scale notes are per-key below; the common theme is that every key is
  * a bounded number of key-partitioned shuffles over declarative plans
  * (Catalyst picks partial aggregation and broadcast automatically), no
  * driver-side row loops, and every float output is either decimal-exact
  * or a deterministic double expression rounded identically in both
  * engines (SURVEY §7.4 R3/R4).
  */
object Behavior {

  /** Event-type Markov chain pieces shared by event_markov_stationary,
    * event_markov_entropy, and event_markov_convergence: the
    * (u, v, wt, wu) transition relation and EVERY intermediate π of the
    * exact 1e-12-integer-unit power iteration (π'_v = Σ (π_u·w_uv)
    * div W_u — positive-operand integer division, identical in both
    * engines). Returned seq is π_0 (uniform) through π_iters; each π is
    * a |types|-sized relation, so keeping all of them materializes
    * nothing row-scaled. */
  private def markovParts(s: org.apache.spark.sql.SparkSession,
      d: String, iters: Int):
      (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("t"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val edges = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("u"), col("to_type").as("v"))
      .agg(count(lit(1)).as("wt"))
    val rowsum = edges.groupBy("u").agg(sum("wt").as("wu"))
    // eager checkpoint: the transition relation is |types|²-bounded BY
    // CONSTRUCTION (event types are a small closed vocabulary) and is
    // consumed by the collect below plus the entropy caller's join
    val trans = edges.join(rowsum, Seq("u")).localCheckpoint(true)
    // r14 (guide §1.2 step 1): the 8 power-iteration rounds previously
    // ran as nested 5-row join/aggregate plans — a caller tagging all 8
    // rounds paid ~36 AQE jobs of pure scheduling on relations of a few
    // ROWS. The chain state is bounded by construction, so collect the
    // transition matrix once (the countmin-sketch discipline) and run
    // the identical exact-integer recurrence on the driver: Scala Long
    // `*`, `/` (operands positive) and `+` reproduce Spark's non-ANSI
    // long arithmetic bit-for-bit, so every pi_t value is unchanged —
    // the oracle replays the same recurrence and still hash-matches.
    val tRows = trans.select("u", "v", "wt", "wu").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val types = tRows.map(_._1).distinct.sorted.toSeq
    val nt = types.length
    var pi: Map[String, Long] =
      types.map(u => u -> 1000000000000L / nt).toMap
    val pisBuf = scala.collection.mutable.ArrayBuffer(pi)
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[String, Long]
      tRows.foreach { case (u, v, wt, wu) =>
        contrib(v) = contrib.getOrElse(v, 0L) + (pi(u) * wt) / wu
      }
      pi = types.map(u => u -> contrib.getOrElse(u, 0L)).toMap
      pisBuf += pi
    }
    import s.implicits._
    val pis = pisBuf.toSeq.map(m =>
      types.map(u => (u, m(u))).toDF("u", "pi"))
    (trans, pis)
  }

  val qs: Seq[Q] = Seq(

    // Classic cohort-retention triangle: cohort = month of the
    // customer's first order; n_active = distinct customers from that
    // cohort ordering again `offset_m` months later. Two shuffles: one
    // on o_custkey for the first-order month (and the join back — AQE
    // reuses the key), one for the (cohort, offset) distinct-count.
    // At 100 TB the custkey join is the big exchange and it's a plain
    // equi-shuffle; no window, no driver state.
    Q("cohort_retention",
      (s, d) => {
        val o = orders(s, d).select(col("o_custkey"),
          trunc(col("o_orderdate").cast("date"), "MM").as("m"))
        val firstM = o.groupBy("o_custkey").agg(min(col("m")).as("cohort_m"))
        o.join(firstM, "o_custkey")
          .withColumn("offset_m",
            months_between(col("m"), col("cohort_m")).cast("long"))
          .groupBy(col("cohort_m").as("cohort_month"), col("offset_m"))
          .agg(countDistinct(col("o_custkey")).as("n_active"))
          .orderBy("cohort_month", "offset_m")
      },
      """WITH o AS (
           SELECT o_custkey,
                  CAST(date_trunc('month', o_orderdate) AS DATE) AS m
           FROM orders),
         f AS (SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY 1)
         SELECT cohort_m AS cohort_month,
                datediff('month', cohort_m, m) AS offset_m,
                COUNT(DISTINCT o.o_custkey) AS n_active
         FROM o JOIN f USING (o_custkey)
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Market-basket co-occurrence with lift. Baskets = distinct
    // (order, part); the pair stream is a self-equi-join on the order
    // key, so pair fan-out is bounded by per-basket size squared (TPC-H
    // baskets are ≤7 lines; a 100 TB corpus would cap basket size the
    // same way the dedup buckets are capped). Support ≥2 prunes the
    // long tail before the two part-side joins; lift's integer ratio is
    // cast to double identically in both engines. Top-100 under a total
    // order keeps the output bounded and deterministic.
    Q("market_basket",
      (s, d) => {
        // Baskets roll up ONCE on the order key; the a<b pair stream,
        // the per-item counts, and the basket total are all generated
        // from that ONE exchange (three consumers → ReusedExchange,
        // PlanSpec-pinned). Pair generation is map-side from the
        // sorted basket array (bounded ≤7 items here; a production
        // corpus caps basket size like the dedup buckets) — no
        // (ok,pk)-distinct shuffle, no pair self-join.
        val baskets = lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .groupBy("ok")
          .agg(sort_array(collect_set(col("pk"))).as("ps"))
        val pairs = baskets
          .select(explode(expr(
            """CASE WHEN size(ps) < 2 THEN array()
               ELSE flatten(transform(sequence(1, size(ps) - 1),
                 i -> transform(sequence(0, i - 1),
                   j -> struct(ps[j] AS part_a, ps[i] AS part_b))))
               END""")).as("p"))
          .groupBy(col("p.part_a").as("part_a"),
            col("p.part_b").as("part_b"))
          .agg(count(lit(1)).as("pair_cnt"))
          .filter(col("pair_cnt") >= 2)
        val item = baskets.select(explode(col("ps")).as("pk"))
          .groupBy("pk").agg(count(lit(1)).as("cnt"))
        val tot = baskets.agg(count(lit(1)).as("n_orders"))
        pairs
          .join(item.select(col("pk").as("part_a"), col("cnt").as("cnt_a")),
            "part_a")
          .join(item.select(col("pk").as("part_b"), col("cnt").as("cnt_b")),
            "part_b")
          .crossJoin(broadcast(tot))
          .withColumn("lift",
            round((col("pair_cnt") * col("n_orders")).cast("double") /
              (col("cnt_a") * col("cnt_b")).cast("double"), 6))
          .select(col("part_a"), col("part_b"), col("pair_cnt"), col("lift"))
          .orderBy(desc("pair_cnt"), col("part_a"), col("part_b"))
          .limit(100)
      },
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pairs AS (
           SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS pair_cnt
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         item AS (SELECT pk, COUNT(*) AS cnt FROM li GROUP BY 1),
         tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li)
         SELECT part_a, part_b, pair_cnt,
                ROUND(CAST(pair_cnt * n_orders AS DOUBLE) /
                      CAST(ia.cnt * ib.cnt AS DOUBLE), 6) AS lift
         FROM pairs
         JOIN item ia ON pairs.part_a = ia.pk
         JOIN item ib ON pairs.part_b = ib.pk
         CROSS JOIN tot
         ORDER BY pair_cnt DESC, part_a, part_b LIMIT 100"""),

    // First-order Markov transition matrix over the event stream:
    // count + row-normalized probability of event_type -> next
    // event_type per user timeline. ONE user_id sort-shuffle carries the
    // LEAD; the (from, to) aggregate and its row-normalizing window are
    // over the tiny type×type matrix. Ties on ts break by event_id, so
    // the successor is total-order deterministic in both engines.
    Q("event_transitions",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        val wf = Window.partitionBy("from_type")
        ev.withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            round(col("n").cast("double") / sum(col("n")).over(wf), 6))
          .orderBy("from_type", "to_type")
      },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t, event_id
           FROM events),
         tr AS (
           SELECT event_type AS from_type,
                  LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY t, event_id) AS to_type
           FROM ev),
         m AS (
           SELECT from_type, to_type, COUNT(*) AS n FROM tr
           WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
                ROUND(CAST(n AS DOUBLE) /
                      SUM(n) OVER (PARTITION BY from_type), 6) AS p
         FROM m ORDER BY from_type, to_type"""),

    // RFM segmentation: per-customer recency/frequency/monetary, each
    // split at its exact median (k-th smallest, k = (n+1) div 2 — rank
    // arithmetic, no interpolation, so both engines pick the identical
    // raw value; same device as agg_winsorize). Customers get a 3-digit
    // segment (2 = at-or-better-than-median) and the output is the
    // 8-cell segment summary. Each exact median is a two-level
    // HISTOGRAM DRILL-DOWN, not a global rank window over the
    // customer relation (that was one task at 100 TB): pass 1 buckets
    // the dimension (bucket count bounded by range/width), a
    // cumulative window over the BOUNDED bucket histogram locates the
    // k-th value's bucket, and pass 2 ranks ONLY that bucket's rows —
    // a window bounded by bucket occupancy. Same value as the plain
    // global rank (floor preserves order; equal values share a
    // bucket), which is exactly what the oracle replays.
    Q("rfm_segmentation",
      (s, d) => {
        val o = orders(s, d)
        val maxD = o.agg(max(col("o_orderdate").cast("date")).as("max_d"))
        val rfm = o.groupBy("o_custkey").agg(
            max(col("o_orderdate").cast("date")).as("last_d"),
            count(lit(1)).as("frequency"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("monetary"))
          .crossJoin(broadcast(maxD))
          .withColumn("recency",
            datediff(col("max_d"), col("last_d")).cast("long"))
        val cnt = rfm.agg(count(lit(1)).as("n"))
        // all three medians ride ONE stacked histogram exchange and
        // ONE bucket-rank pass, every window PARTITIONED by dim; the
        // pivoted 1-row (r_med, f_med, m_med) result broadcasts
        val stacked = rfm.selectExpr(
          """stack(3,
               'r', floor(CAST(recency AS DOUBLE) / 16.0),
                    CAST(recency AS DOUBLE),
               'f', floor(CAST(frequency AS DOUBLE) / 4.0),
                    CAST(frequency AS DOUBLE),
               'm', floor(monetary / 1024.0), monetary)
             AS (dim, b, v)""")
        val cum = stacked.groupBy("dim", "b")
          .agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c"))
            .over(Window.partitionBy("dim").orderBy("b")))
          .withColumn("before", col("cum") - col("c"))
        val target = cum.crossJoin(broadcast(cnt))
          .filter(col("before") < expr("(n + 1) div 2") &&
            expr("(n + 1) div 2") <= col("cum"))
          .select(col("dim"), col("b"), col("before"))
        val meds = stacked
          .join(broadcast(target), Seq("dim", "b"))
          .withColumn("rn", row_number()
            .over(Window.partitionBy("dim").orderBy("v")))
          .crossJoin(broadcast(cnt))
          .filter(col("rn") === expr("(n + 1) div 2") - col("before"))
          .groupBy()
          .agg(max(when(col("dim") === "r", col("v"))).as("r_med"),
            max(when(col("dim") === "f", col("v"))).as("f_med"),
            max(when(col("dim") === "m", col("v"))).as("m_med"))
        rfm.crossJoin(broadcast(meds))
          .withColumn("segment", concat(
            when(col("recency") <= col("r_med"), lit("2")).otherwise(lit("1")),
            when(col("frequency") >= col("f_med"), lit("2")).otherwise(lit("1")),
            when(col("monetary") >= col("m_med"), lit("2")).otherwise(lit("1"))))
          .groupBy("segment")
          .agg(count(lit(1)).as("n_customers"),
            round(sum(col("recency")).cast("double") / count(lit(1)), 4)
              .as("avg_recency"),
            round(sum(col("frequency")).cast("double") / count(lit(1)), 4)
              .as("avg_frequency"),
            round(sum(col("monetary").cast(DecimalType(18, 2))).cast("double")
              / count(lit(1)), 2).as("avg_monetary"))
          .orderBy("segment")
      },
      """WITH rfm0 AS (
           SELECT o_custkey,
                  MAX(CAST(o_orderdate AS DATE)) AS last_d,
                  COUNT(*) AS frequency,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS monetary
           FROM orders GROUP BY 1),
         mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS max_d FROM orders),
         rfm AS (
           SELECT o_custkey, frequency, monetary,
                  datediff('day', last_d, max_d) AS recency
           FROM rfm0 CROSS JOIN mx),
         n AS (SELECT COUNT(*) AS n FROM rfm),
         rmed AS (SELECT recency AS r_med FROM
           (SELECT recency, ROW_NUMBER() OVER (ORDER BY recency) AS rn
            FROM rfm) CROSS JOIN n WHERE rn = (n + 1) // 2),
         fmed AS (SELECT frequency AS f_med FROM
           (SELECT frequency, ROW_NUMBER() OVER (ORDER BY frequency) AS rn
            FROM rfm) CROSS JOIN n WHERE rn = (n + 1) // 2),
         mmed AS (SELECT monetary AS m_med FROM
           (SELECT monetary, ROW_NUMBER() OVER (ORDER BY monetary) AS rn
            FROM rfm) CROSS JOIN n WHERE rn = (n + 1) // 2)
         SELECT (CASE WHEN recency <= r_med THEN '2' ELSE '1' END ||
                 CASE WHEN frequency >= f_med THEN '2' ELSE '1' END ||
                 CASE WHEN monetary >= m_med THEN '2' ELSE '1' END)
                   AS segment,
                COUNT(*) AS n_customers,
                ROUND(CAST(SUM(recency) AS DOUBLE) / COUNT(*), 4)
                  AS avg_recency,
                ROUND(CAST(SUM(frequency) AS DOUBLE) / COUNT(*), 4)
                  AS avg_frequency,
                ROUND(CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
                      / COUNT(*), 2) AS avg_monetary
         FROM rfm CROSS JOIN rmed CROSS JOIN fmed CROSS JOIN mmed
         GROUP BY 1 ORDER BY 1"""),

    // Incremental aggregate maintenance (materialized-view merge): the
    // daily-revenue state computed on the historical partition is merged
    // with the state of the new-arrivals partition by re-aggregating the
    // UNION of partial states — the mergeable-state contract (decimal
    // sums and counts are associative), proved by hash-matching the
    // oracle's from-scratch recompute. At 100 TB this is the pattern
    // that turns a full-table re-agg into a delta-sized one; the state
    // union is two tiny daily tables.
    Q("agg_incremental",
      (s, d) => {
        val o = orders(s, d).select(
          col("o_orderdate").cast("date").as("day"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
        val split = lit("1997-06-01").cast("date")
        def state(df: DataFrame): DataFrame =
          df.groupBy("day").agg(sum(col("price")).as("rev"),
            count(lit(1)).as("n"))
        state(o.filter(col("day") < split))
          .unionByName(state(o.filter(col("day") >= split)))
          .groupBy("day")
          .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"),
            sum(col("n")).as("n_orders"))
          .orderBy("day")
      },
      """SELECT CAST(o_orderdate AS DATE) AS day,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS revenue,
                COUNT(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // Semi-join reduction via an explicit bloom filter: the high-value
    // order-key set is sketched (distributed build, ~1 MB bitmap on the
    // driver), broadcast, and probed map-side to prefilter lineitem
    // BEFORE its shuffle; the exact left-semi join then removes the
    // false positives, so the result is exact. This is the manual form
    // of Spark's runtime row-level filtering
    // (spark.sql.optimizer.runtime.bloomFilter.enabled) — made explicit
    // so the 100 TB shuffle-volume cut is deterministic, not
    // cost-model-dependent.
    Q("join_bloom_prefilter",
      (s, d) => {
        val hi = orders(s, d).filter(col("o_totalprice") > 400000.0)
          .select("o_orderkey")
        val bf = hi.stat.bloomFilter("o_orderkey", 1L << 20, 0.03)
        // The filter rides the UDF closure (task binary — itself
        // broadcast once per stage and GC-reclaimed with the plan), NOT
        // an explicit sparkContext.broadcast: an explicit broadcast
        // created per invocation and never destroyed accumulates on the
        // driver and executors for the life of the session under a
        // bench loop.
        val probe = udf((k: Long) => bf.mightContainLong(k))
        val li = lineitem(s, d)
        li.filter(probe(col("l_orderkey")))
          .join(hi, col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("l_extendedprice"), 2).as("revenue"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n_rows,
                ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS revenue
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
         GROUP BY 1 ORDER BY 1"""),

    // Row-level snapshot diff (CDC): snapshot B is derived from A by
    // deterministic arithmetic (keys ≡0 mod 97 deleted, ≡0 mod 13
    // repriced by +1000.00 — an exact double add, no rounding — and ≡0
    // mod 101 re-inserted under a negated key), then ONE full-outer
    // join on the key classifies every row as D/I/U. The per-side
    // snapshots never materialize; at 100 TB this is a single pair of
    // key-partitioned exchanges, the standard reconciliation shape
    // (recon_tables is the checksum summary; this is the row-level
    // drill-down).
    Q("table_diff",
      (s, d) => {
        val a = orders(s, d).select(col("o_orderkey").as("k"),
          col("o_totalprice").as("price_a"))
        val bMod = a.filter(col("k") % 97 =!= 0)
          .select(col("k"),
            when(col("k") % 13 === 0, col("price_a") + 1000.0)
              .otherwise(col("price_a")).as("price_b"))
        val bIns = a.filter(col("k") % 101 === 0)
          .select((-col("k")).as("k"), col("price_a").as("price_b"))
        a.join(bMod.unionByName(bIns), Seq("k"), "full_outer")
          .withColumn("change_type",
            when(col("price_b").isNull, "D")
              .when(col("price_a").isNull, "I")
              .when(col("price_a") =!= col("price_b"), "U"))
          .filter(col("change_type").isNotNull)
          .select(col("change_type"), col("k").as("o_orderkey"),
            col("price_a").as("old_price"), col("price_b").as("new_price"))
          .orderBy("change_type", "o_orderkey")
      },
      """WITH a AS (
           SELECT o_orderkey AS k, o_totalprice AS price_a FROM orders),
         b AS (
           SELECT k, CASE WHEN k % 13 = 0 THEN price_a + 1000.0
                          ELSE price_a END AS price_b
           FROM a WHERE k % 97 <> 0
           UNION ALL
           SELECT -k AS k, price_a AS price_b FROM a WHERE k % 101 = 0)
         SELECT CASE WHEN price_b IS NULL THEN 'D'
                     WHEN price_a IS NULL THEN 'I'
                     ELSE 'U' END AS change_type,
                k AS o_orderkey, price_a AS old_price, price_b AS new_price
         FROM a FULL OUTER JOIN b USING (k)
         WHERE price_b IS NULL OR price_a IS NULL OR price_a <> price_b
         ORDER BY change_type, o_orderkey"""),

    // A/B conversion readout: users hash-split into variants by key
    // parity, converted = ever made a high-value purchase (value > 100 —
    // plain "ever purchased" saturates at 100% and degenerates the
    // pooled variance to zero); one user_id aggregate then a
    // single-row fold into rates, lift, and the pooled two-proportion
    // z-score — all-double closed form, identical IEEE arithmetic in
    // both engines, rounded once at the end. Fully distributed: the
    // only data-sized exchange is the per-user aggregate.
    Q("ab_test",
      (s, d) => {
        val pu = events(s, d)
          .select(col("user_id"), col("event_type"), col("value"))
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 100.0, 1L).otherwise(0L)).as("conv"))
          .withColumn("v", col("user_id") % 2)
        pu.agg(
            sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("v") === 0, col("conv")).otherwise(0L)).as("conv_a"),
            sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
            sum(when(col("v") === 1, col("conv")).otherwise(0L)).as("conv_b"))
          .withColumn("rate_a", col("conv_a").cast("double") / col("n_a"))
          .withColumn("rate_b", col("conv_b").cast("double") / col("n_b"))
          .withColumn("p_pool",
            (col("conv_a") + col("conv_b")).cast("double") /
              (col("n_a") + col("n_b")))
          .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
            round(col("rate_a"), 6).as("rate_a"),
            round(col("rate_b"), 6).as("rate_b"),
            round(col("rate_b") / col("rate_a"), 6).as("lift"),
            round((col("rate_b") - col("rate_a")) /
              sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)
              .as("z_score"))
      },
      """WITH pu AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
                           THEN 1 ELSE 0 END) AS conv,
                  user_id % 2 AS v
           FROM events GROUP BY user_id),
         c AS (
           SELECT CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_a,
                  CAST(SUM(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT)
                    AS conv_a,
                  CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_b,
                  CAST(SUM(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT)
                    AS conv_b
           FROM pu),
         r AS (
           SELECT *,
                  CAST(conv_a AS DOUBLE) / n_a AS rate_a0,
                  CAST(conv_b AS DOUBLE) / n_b AS rate_b0,
                  CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
           FROM c)
         SELECT n_a, conv_a, n_b, conv_b,
                ROUND(rate_a0, 6) AS rate_a,
                ROUND(rate_b0, 6) AS rate_b,
                ROUND(rate_b0 / rate_a0, 6) AS lift,
                ROUND((rate_b0 - rate_a0) /
                      SQRT(p_pool * (1.0 - p_pool) *
                           (1.0 / n_a + 1.0 / n_b)), 4) AS z_score
         FROM r"""),

    // Deterministic weighted sampling without replacement (Efraimidis–
    // Spirakis A-ES): key = u^(1/w) with u an md5-derived uniform and
    // w = n_chars, take the top-100 keys. Everything is a map-side
    // expression + TakeOrderedAndProject — no rand() (layout-stable,
    // rerun-stable) and no global sort. The key is ROUNDed to 12
    // decimals before ranking so the one transcendental (pow) can't
    // flip a rank between libm implementations; doc_id breaks ties.
    Q("sample_weighted",
      (s, d) => {
        val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("double") + 1.0) / 4294967296.0
        documents(s, d)
          .withColumn("key",
            round(pow(u, lit(1.0) / col("n_chars")), 12))
          .orderBy(desc("key"), col("doc_id"))
          .limit(100)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("key"))
          .orderBy("doc_id")
      },
      """SELECT doc_id, lang, n_chars, key FROM (
           SELECT doc_id, lang, n_chars,
                  ROUND(POW((CAST(('0x' ||
                      substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 1.0) / 4294967296.0,
                    1.0 / n_chars), 12) AS key
           FROM documents)
         ORDER BY key DESC, doc_id LIMIT 100"""),

    // Keyword extraction: top-3 TF·IDF terms per document. Token
    // explosion is map-side; one (doc, term) aggregate, one term DF
    // aggregate joined back on the term key, then a per-doc top-k
    // window. The score is ROUNDed before ranking (absorbs ln() libm
    // skew — the text_idf_score precedent) and ties break on the term,
    // so the extracted set is engine-invariant.
    Q("text_keywords",
      (s, d) => {
        val docs = documents(s, d)
        val tok = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tok.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        val w = Window.partitionBy("doc_id")
          .orderBy(desc("score"), col("term"))
        tf.join(df, "term")
          .crossJoin(broadcast(total))
          .withColumn("score",
            round(col("tf") * log(col("n_docs") / col("df")), 6))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("score"))
          .orderBy("doc_id", "rk")
      },
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM
                  (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
         total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term,
                  ROUND(tf * LN(n_docs / df), 6) AS score
           FROM tf JOIN df USING (term) CROSS JOIN total),
         ranked AS (
           SELECT doc_id, term, score,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rk
           FROM scored)
         SELECT doc_id, rk, term, score FROM ranked
         WHERE rk <= 3 ORDER BY doc_id, rk"""),

    // M4 time-series downsampling: per hourly bucket keep the first,
    // last, min, and max of the value series — the error-free
    // aggregation for line-chart rendering at any zoom (output scales
    // with buckets, not rows). The first/last row_numbers and the
    // bucket aggregate all cluster on the bucket key, so the whole
    // reduction rides ONE hash exchange; ties on ts break by event_id.
    Q("time_m4_downsample",
      (s, d) => {
        val ev = events(s, d).select(
          (unix_micros(col("ts")) / 3600000000L).cast("long").as("bucket"),
          unix_micros(col("ts")).as("t"), col("value"), col("event_id"))
        val wa = Window.partitionBy("bucket").orderBy(col("t"), col("event_id"))
        val wd = Window.partitionBy("bucket")
          .orderBy(desc("t"), desc("event_id"))
        ev.withColumn("rn_a", row_number().over(wa))
          .withColumn("rn_d", row_number().over(wd))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_points"),
            max(when(col("rn_a") === 1, col("t"))).as("t_first"),
            max(when(col("rn_a") === 1, col("value"))).as("v_first"),
            max(when(col("rn_d") === 1, col("t"))).as("t_last"),
            max(when(col("rn_d") === 1, col("value"))).as("v_last"),
            min(col("value")).as("v_min"), max(col("value")).as("v_max"))
          .orderBy("bucket")
      },
      """WITH ev AS (
           SELECT epoch_us(ts) // 3600000000 AS bucket, epoch_us(ts) AS t,
                  value, event_id
           FROM events),
         r AS (
           SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY bucket
                    ORDER BY t, event_id) AS rn_a,
                  ROW_NUMBER() OVER (PARTITION BY bucket
                    ORDER BY t DESC, event_id DESC) AS rn_d
           FROM ev)
         SELECT bucket, COUNT(*) AS n_points,
                MAX(CASE WHEN rn_a = 1 THEN t END) AS t_first,
                MAX(CASE WHEN rn_a = 1 THEN value END) AS v_first,
                MAX(CASE WHEN rn_d = 1 THEN t END) AS t_last,
                MAX(CASE WHEN rn_d = 1 THEN value END) AS v_last,
                MIN(value) AS v_min, MAX(value) AS v_max
         FROM r GROUP BY bucket ORDER BY bucket"""),

    // k-anonymity audit (k=5) over the quasi-identifier pair
    // (nation, market segment) — the privacy companion to
    // text_pii_mask: any equivalence class smaller than k re-identifies
    // its members and must be generalized or suppressed before release.
    // One aggregate exchange on the QI key; the summary row count is
    // the QI-domain size, not the data size.
    Q("dq_kanonymity",
      (s, d) => customer(s, d)
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5)
        .orderBy("nation", "segment"),
      """SELECT CAST(c_nationkey AS BIGINT) AS nation,
                c_mktsegment AS segment, COUNT(*) AS n,
                (COUNT(*) < 5) AS at_risk
         FROM customer GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Per-user exponentially-weighted moving average of the event value
    // (closed form: EWMA_n = Σ value_i·α^(n−i) / Σ α^(n−i), α = 0.5 —
    // a POWER OF TWO, so every weight and weight·value product is an
    // EXACT IEEE scaling with no libm in sight). The row_number, the
    // window count, and the final aggregate all cluster on user_id —
    // one exchange.
    Q("time_ewma",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("value"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        val wn = Window.partitionBy("user_id")
        ev.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wn))
          .groupBy("user_id")
          .agg(max(col("n")).as("n_events"),
            round(sum(col("value") * pow(lit(0.5), col("n") - col("rn"))) /
              sum(pow(lit(0.5), col("n") - col("rn"))), 6).as("ewma"))
          .orderBy("user_id")
      },
      """WITH ev AS (
           SELECT user_id, value, epoch_us(ts) AS t, event_id FROM events),
         r AS (
           SELECT user_id, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY t, event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY user_id) AS n
           FROM ev)
         SELECT user_id, MAX(n) AS n_events,
                ROUND(SUM(value * POW(0.5, n - rn)) /
                      SUM(POW(0.5, n - rn)), 6) AS ewma
         FROM r GROUP BY user_id ORDER BY user_id"""),

    // Benford first-digit profile of order totals — the classic
    // fraud/data-entry anomaly screen. The leading digit comes from the
    // integer part's STRING head (no log10 on the data path); the
    // expected Benford share is log10(1+1/d) on the 9-row output only,
    // rounded. One tiny aggregate + a broadcast total.
    Q("profile_benford",
      (s, d) => {
        val digits = orders(s, d)
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val total = digits.agg(sum(col("n")).cast("double").as("tot"))
        digits.crossJoin(broadcast(total))
          .select(col("digit"), col("n"),
            round(col("n") / col("tot"), 6).as("obs_share"),
            round(log(10.0,
              lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
              .as("exp_share"))
          .orderBy("digit")
      },
      """WITH d AS (
           SELECT substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS digit, COUNT(*) AS n
           FROM orders GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot FROM d)
         SELECT digit, n, ROUND(n / tot, 6) AS obs_share,
                ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
                  AS exp_share
         FROM d CROSS JOIN t ORDER BY digit"""),

    // D1/D7 retention — the product-analytics staple (daily-grain
    // companion to the monthly cohort_retention): of all users, how
    // many came back exactly 1 / 7 days after their first-seen day.
    // The (user, day) dedup, the min-day aggregate, and the flag join
    // all shuffle on user_id; the result is one row.
    Q("retention_dn",
      (s, d) => {
        val ud = events(s, d)
          .select(col("user_id"),
            (unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
          .distinct()
        val first = ud.groupBy("user_id").agg(min(col("day")).as("d0"))
        ud.join(first, "user_id")
          .groupBy("user_id")
          .agg(max(when(col("day") === col("d0") + 1, 1L).otherwise(0L))
              .as("r1"),
            max(when(col("day") === col("d0") + 7, 1L).otherwise(0L))
              .as("r7"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("r1")).as("d1_retained"),
            sum(col("r7")).as("d7_retained"),
            round(sum(col("r1")).cast("double") / count(lit(1)), 6)
              .as("d1_rate"),
            round(sum(col("r7")).cast("double") / count(lit(1)), 6)
              .as("d7_rate"))
      },
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         f AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY 1),
         flags AS (
           SELECT ud.user_id,
                  MAX(CASE WHEN day = d0 + 1 THEN 1 ELSE 0 END) AS r1,
                  MAX(CASE WHEN day = d0 + 7 THEN 1 ELSE 0 END) AS r7
           FROM ud JOIN f USING (user_id) GROUP BY 1)
         SELECT COUNT(*) AS n_users,
                CAST(SUM(r1) AS BIGINT) AS d1_retained,
                CAST(SUM(r7) AS BIGINT) AS d7_retained,
                ROUND(CAST(SUM(r1) AS DOUBLE) / COUNT(*), 6) AS d1_rate,
                ROUND(CAST(SUM(r7) AS DOUBLE) / COUNT(*), 6) AS d7_rate
         FROM flags"""),

    // Strict-order three-step funnel (signup → click → purchase, each
    // step within 7 days of the previous): per-step minimum times chain
    // through three user-keyed joins — the same exchange key end to
    // end, no windows, counts fold to one row.
    Q("funnel_multistep",
      (s, d) => {
        val week = 7L * 86400000000L
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        val s1 = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(col("t")).as("t1"))
        val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
          .filter(col("t") >= col("t1") && col("t") <= col("t1") + week)
          .groupBy("user_id").agg(min(col("t")).as("t2"))
        val s3 = ev.filter(col("event_type") === "purchase")
          .join(s2, "user_id")
          .filter(col("t") >= col("t2") && col("t") <= col("t2") + week)
          .groupBy("user_id").agg(min(col("t")).as("t3"))
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .agg(count(lit(1)).as("n_signup"),
            count(col("t2")).as("n_click"),
            count(col("t3")).as("n_purchase"),
            round(count(col("t2")).cast("double") / count(lit(1)), 6)
              .as("click_rate"),
            round(count(col("t3")).cast("double") / count(lit(1)), 6)
              .as("purchase_rate"))
      },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         s1 AS (SELECT user_id, MIN(t) AS t1 FROM ev
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, MIN(e.t) AS t2
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.t >= t1
                  AND e.t <= t1 + 604800000000 GROUP BY 1),
         s3 AS (SELECT e.user_id, MIN(e.t) AS t3
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.t >= t2
                  AND e.t <= t2 + 604800000000 GROUP BY 1)
         SELECT COUNT(*) AS n_signup,
                COUNT(t2) AS n_click,
                COUNT(t3) AS n_purchase,
                ROUND(CAST(COUNT(t2) AS DOUBLE) / COUNT(*), 6)
                  AS click_rate,
                ROUND(CAST(COUNT(t3) AS DOUBLE) / COUNT(*), 6)
                  AS purchase_rate
         FROM s1 LEFT JOIN s2 USING (user_id)
                 LEFT JOIN s3 USING (user_id)"""),

    // Pareto concentration (80/20): per return flag, how many parts —
    // taken in descending revenue order — cover 80% of revenue. The
    // running share is a decimal-exact cumulative sum over the
    // per-part aggregate (both engines divide identical decimals cast
    // to identical doubles), so the <0.8 frontier is engine-invariant.
    // One (flag, part) aggregate exchange, one flag-key window.
    Q("pareto_topn",
      (s, d) => {
        val rev = lineitem(s, d)
          .groupBy(col("l_returnflag").as("flag"),
            col("l_partkey").as("pk"))
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .as("rev"))
        val w = Window.partitionBy("flag")
          .orderBy(desc("rev"), col("pk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("flag")
        rev.withColumn("cum", sum(col("rev")).over(w))
          .withColumn("tot", sum(col("rev")).over(wt))
          .groupBy("flag")
          .agg(count(lit(1)).as("n_parts"),
            sum(when((col("cum") - col("rev")).cast("double") /
              col("tot").cast("double") < 0.8, 1L).otherwise(0L))
              .as("n_parts_80"))
          .withColumn("pct_of_parts",
            round(col("n_parts_80").cast("double") / col("n_parts"), 6))
          .orderBy("flag")
      },
      """WITH rev AS (
           SELECT l_returnflag AS flag, l_partkey AS pk,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT flag, rev,
                  SUM(rev) OVER (PARTITION BY flag
                    ORDER BY rev DESC, pk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum,
                  SUM(rev) OVER (PARTITION BY flag) AS tot
           FROM rev)
         SELECT flag, COUNT(*) AS n_parts,
                CAST(SUM(CASE WHEN CAST(cum - rev AS DOUBLE) /
                                   CAST(tot AS DOUBLE) < 0.8
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_parts_80,
                ROUND(CAST(SUM(CASE WHEN CAST(cum - rev AS DOUBLE) /
                                         CAST(tot AS DOUBLE) < 0.8
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) AS pct_of_parts
         FROM c GROUP BY flag ORDER BY flag"""),

    // EVENT-TIME DECAYED SUM (half-life 24 h, discretized per full
    // day) — the recency-weighted engagement score recommenders keep
    // per user: each event contributes v·2^(−⌊Δt/half_life⌋) against
    // the user's LAST event time. time_ewma decays per ROW; this
    // decays per DAY of real elapsed time — the production form, and
    // the discrete exponent is what makes it LIBM-FREE: v / (1 << k)
    // is exact IEEE scaling (continuous pow(2, −Δt/hl) was measured
    // to diverge between engines in the last ulp and flip a rounding
    // at sf0.1 — the discretized form cannot). One user_id window
    // family; the per-term decimals sum order-free.
    Q("time_decay_sum",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
        val ev = events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("t"), col("value"))
        ev.withColumn("t_last", max(col("t")).over(w))
          .withColumn("k",
            floor((col("t_last") - col("t")).cast("double") /
              86400000000L).cast("int"))
          // FIXED-POINT arithmetic end to end: value → exact 1e-4
          // units (decimal cast is engine-exact), halve by INTEGER
          // floor division — bit-identical on any engine, no float
          // rounding anywhere until the one final divide (per-term
          // double ROUND near ties was measured to differ between
          // engines' rounding implementations at sf0.1)
          .withColumn("iv",
            (col("value").cast(org.apache.spark.sql.types
              .DecimalType(18, 4)) * 10000).cast("long"))
          // k ≥ 63 would WRAP shiftleft's shift count (mod 64) — a
          // user whose history spans 63+ half-life days must decay to
          // exactly 0, not a wrapped divisor; and the halving is
          // declared TRUNC-toward-zero division (sign split), because
          // Spark's div truncates while DuckDB's // floors — they
          // diverge on negative values without the split. The shift
          // count is clamped inside every branch so no lane ever
          // evaluates an out-of-range shift.
          .withColumn("term", expr(
            "case when k >= 63 then 0L " +
              "when iv < 0L then " +
              "-(abs(iv) div shiftleft(1L, least(k, 62))) " +
              "else iv div shiftleft(1L, least(k, 62)) end"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("term")).cast("double") / 10000, 4)
              .as("decayed_value"))
          .orderBy("user_id")
      },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS t, value FROM events),
         anchored AS (
           SELECT user_id, t, value,
                  CAST(floor(CAST(MAX(t) OVER (PARTITION BY user_id) - t
                    AS DOUBLE) / 86400000000) AS INT) AS k
           FROM ev),
         terms AS (
           SELECT user_id,
                  CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)
                    AS iv,
                  k
           FROM anchored)
         SELECT user_id, COUNT(*) AS n_events,
                ROUND(CAST(SUM(
                  CASE WHEN k >= 63 THEN 0
                       WHEN iv < 0 THEN
                         -(abs(iv) // (1::BIGINT << least(k, 62)))
                       ELSE iv // (1::BIGINT << least(k, 62)) END)
                  AS DOUBLE) / 10000, 4)
                  AS decayed_value
         FROM terms GROUP BY user_id ORDER BY user_id"""),

    // ORDER-2 PATH MINING — the Sankey-diagram feed event_transitions'
    // order-1 matrix can't give (A→B→C distinguishes "view→click→
    // purchase" from "view→click→error"; the pairwise matrix conflates
    // them): per-user ordered event triples via two LEADs on ONE
    // user_id sort-exchange, top-20 paths by count with a full
    // lexicographic tie-break. At 100 TB: one window family + one
    // tiny path aggregate — paths are bounded by |event types|³, not
    // by rows.
    Q("event_paths3",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
          .orderBy("t", "event_id")
        events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t"), col("event_type"))
          .withColumn("e2", lead(col("event_type"), 1).over(w))
          .withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e3").isNotNull)
          .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
            col("e3").as("step3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("step1"), col("step2"), col("step3"))
          .limit(20)
      },
      """SELECT step1, step2, step3, COUNT(*) AS n FROM (
           SELECT event_type AS step1,
                  LEAD(event_type, 1) OVER w AS step2,
                  LEAD(event_type, 2) OVER w AS step3
           FROM (SELECT user_id, event_id, epoch_us(ts) AS t,
                        event_type FROM events)
           WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
         WHERE step3 IS NOT NULL
         GROUP BY 1, 2, 3
         ORDER BY n DESC, step1, step2, step3
         LIMIT 20"""),

    // MULTI-TOUCH ATTRIBUTION — the marketing-analytics capstone the
    // funnel/transition family leads to: every purchase distributes
    // one unit of conversion credit over the clicks in its trailing
    // 1-hour window, linearly (1/n per touch), and channels are
    // compared on linear vs last-touch credit (the two models whose
    // disagreement IS the attribution debate). Credits are rationals
    // pinned to DECIMAL(12,8) before the channel sum (order-free);
    // the touch join is the plain interval form here — at 100 TB it
    // becomes the join_range_bucketed (user, time-bucket) equi-join,
    // identical output. Channel is derived from the click's payload
    // (props.k mod 5 — construction-time truth both engines replay).
    Q("event_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val touches = clickTouches(s, d)
        val wP = Window.partitionBy("p_id")
        val wLast = Window.partitionBy("p_id")
          .orderBy(desc("c_t"), desc("c_id"))
        touches
          .withColumn("n_touch", count(lit(1)).over(wP))
          .withColumn("is_last",
            (row_number().over(wLast) === 1).cast("long"))
          .withColumn("credit",
            (lit(1.0) / col("n_touch"))
              .cast(org.apache.spark.sql.types.DecimalType(12, 8)))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_touches"),
            round(sum(col("credit")).cast("double"), 4)
              .as("linear_credit"),
            sum(col("is_last")).as("last_touch_credit"))
          .orderBy("channel")
      },
      s"""WITH $ClickPurchaseCte,
         touches AS (
           SELECT p.p_id, c.c_id, c.c_t, c.channel
           FROM purchases p JOIN clicks c USING (user_id)
           WHERE c.c_t < p.p_t AND p.p_t - c.c_t <= 3600000000),
         credited AS (
           SELECT channel,
                  CAST(1.0 AS DOUBLE) /
                    COUNT(*) OVER (PARTITION BY p_id) AS credit_raw,
                  CASE WHEN ROW_NUMBER() OVER (PARTITION BY p_id
                         ORDER BY c_t DESC, c_id DESC) = 1
                       THEN 1 ELSE 0 END AS is_last
           FROM touches)
         SELECT channel, COUNT(*) AS n_touches,
                ROUND(CAST(SUM(CAST(credit_raw AS DECIMAL(12,8)))
                  AS DOUBLE), 4) AS linear_credit,
                CAST(SUM(is_last) AS BIGINT) AS last_touch_credit
         FROM credited GROUP BY channel ORDER BY channel"""),

    // TIME-TO-CONVERT distribution — funnel_conversion counts WHO
    // converts; this measures HOW LONG conversion takes, the latency
    // product teams actually watch: per first-view month cohort, the
    // exact p50/p90/max of first-view → first-purchase delay. The
    // percentile picks are the winsorize device (k = ceil(q·n) ranked
    // row, rank windows PARTITIONED by cohort — never a global sort),
    // and every reported number is an exact integer second (floor
    // division of a nonnegative µs delta — no float rounding
    // anywhere), so the relation hashes identically by construction.
    Q("funnel_latency",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        val firstView = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("t")).as("view_t"))
        val firstPurch = ev.filter(col("event_type") === "purchase")
          .join(firstView, "user_id")
          .filter(col("t") >= col("view_t"))
          .groupBy("user_id").agg(min(col("t")).as("purch_t"))
        val conv = firstView.join(firstPurch, Seq("user_id"))
          .select(col("user_id"),
            trunc(to_date(timestamp_micros(col("view_t"))), "MM")
              .as("cohort_month"),
            (col("purch_t") - col("view_t")).as("delta_us"))
        val w = Window.partitionBy("cohort_month")
          .orderBy("delta_us", "user_id")
        conv
          .withColumn("rk", row_number().over(w))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy("cohort_month")))
          .groupBy("cohort_month")
          .agg(count(lit(1)).as("n_converted"),
            max(when(col("rk") ===
              ceil(col("n") * lit(0.5)).cast("long"),
              expr("delta_us div 1000000"))).as("p50_s"),
            max(when(col("rk") ===
              ceil(col("n") * lit(0.9)).cast("long"),
              expr("delta_us div 1000000"))).as("p90_s"),
            max(expr("delta_us div 1000000")).as("max_s"))
          .orderBy("cohort_month")
      },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
         fv AS (
           SELECT user_id, MIN(t) AS view_t FROM ev
           WHERE event_type = 'view' GROUP BY 1),
         fp AS (
           SELECT e.user_id, MIN(e.t) AS purch_t
           FROM ev e JOIN fv ON e.user_id = fv.user_id
             AND e.t >= fv.view_t
           WHERE e.event_type = 'purchase' GROUP BY 1),
         conv AS (
           SELECT user_id,
                  CAST(date_trunc('month', make_timestamp(view_t))
                    AS DATE) AS cohort_month,
                  purch_t - view_t AS delta_us
           FROM fv JOIN fp USING (user_id)),
         ranked AS (
           SELECT cohort_month, delta_us,
                  ROW_NUMBER() OVER (PARTITION BY cohort_month
                    ORDER BY delta_us, user_id) AS rk,
                  COUNT(*) OVER (PARTITION BY cohort_month) AS n
           FROM conv)
         SELECT cohort_month, COUNT(*) AS n_converted,
                MAX(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN delta_us // 1000000 END) AS p50_s,
                MAX(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN delta_us // 1000000 END) AS p90_s,
                MAX(delta_us // 1000000) AS max_s
         FROM ranked GROUP BY cohort_month ORDER BY cohort_month"""),

    // CUPED variance reduction (Deng et al. 2013 — the standard
    // experimentation upgrade over ab_test's raw z): adjust each
    // arm's post-period metric by the pre-period covariate,
    // θ = cov(pre, post) / var(pre) pooled over all users, adjusted
    // arm mean = mean(post) − θ·(mean(pre_arm) − mean(pre_all)).
    // EVERYTHING reduces to exact decimal moment sums (per-user
    // pre/post totals, their products) — no per-row adjusted values
    // ever materialize — so one user_id exchange + two tiny
    // aggregates carry the whole estimator at any scale; θ and the
    // adjusted means are closed forms on doubles cast once.
    Q("ab_cuped",
      (s, d) => {
        val pu = events(s, d)
          .groupBy("user_id")
          .agg(
            sum(when(col("event_type") === "click",
              col("value").cast(DecimalType(18, 2))).otherwise(lit(0)
              .cast(DecimalType(18, 2)))).as("pre"),
            sum(when(col("event_type") === "purchase",
              col("value").cast(DecimalType(18, 2))).otherwise(lit(0)
              .cast(DecimalType(18, 2)))).as("post"))
          .withColumn("v", col("user_id") % 2)
        val m = pu.agg(
          count(lit(1)).as("n"),
          sum(col("pre")).as("sx"), sum(col("post")).as("sy"),
          sum((col("pre") * col("post")).cast(DecimalType(38, 6)))
            .as("sxy"),
          sum((col("pre") * col("pre")).cast(DecimalType(38, 6)))
            .as("sxx"),
          sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("v") === 0, col("pre"))).as("sx_a"),
          sum(when(col("v") === 0, col("post"))).as("sy_a"),
          sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("v") === 1, col("pre"))).as("sx_b"),
          sum(when(col("v") === 1, col("post"))).as("sy_b"))
        m.select(col("n_a"), col("n_b"),
            (((col("n").cast("double") * col("sxy").cast("double")) -
              (col("sx").cast("double") * col("sy").cast("double"))) /
              ((col("n").cast("double") * col("sxx").cast("double")) -
                (col("sx").cast("double") * col("sx").cast("double"))))
              .as("theta"),
            (col("sx").cast("double") / col("n").cast("double"))
              .as("mu_pre"),
            (col("sy_a").cast("double") / col("n_a").cast("double"))
              .as("mean_a"),
            (col("sy_b").cast("double") / col("n_b").cast("double"))
              .as("mean_b"),
            (col("sx_a").cast("double") / col("n_a").cast("double"))
              .as("pre_a"),
            (col("sx_b").cast("double") / col("n_b").cast("double"))
              .as("pre_b"))
          .select(col("n_a"), col("n_b"),
            round(col("theta"), 6).as("theta_r"),
            round(col("mean_a"), 6).as("mean_post_a"),
            round(col("mean_b"), 6).as("mean_post_b"),
            round(col("mean_a") -
              col("theta") * (col("pre_a") - col("mu_pre")), 6)
              .as("adj_mean_a"),
            round(col("mean_b") -
              col("theta") * (col("pre_b") - col("mu_pre")), 6)
              .as("adj_mean_b"))
      },
      """WITH pu AS (
           SELECT user_id,
                  SUM(CASE WHEN event_type = 'click'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS pre,
                  SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS post,
                  user_id % 2 AS v
           FROM events GROUP BY user_id),
         m AS (
           SELECT COUNT(*) AS n, SUM(pre) AS sx, SUM(post) AS sy,
                  SUM(CAST(pre * post AS DECIMAL(38,6))) AS sxy,
                  SUM(CAST(pre * pre AS DECIMAL(38,6))) AS sxx,
                  SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n_a,
                  SUM(CASE WHEN v = 0 THEN pre END) AS sx_a,
                  SUM(CASE WHEN v = 0 THEN post END) AS sy_a,
                  SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS n_b,
                  SUM(CASE WHEN v = 1 THEN pre END) AS sx_b,
                  SUM(CASE WHEN v = 1 THEN post END) AS sy_b
           FROM pu),
         t AS (
           SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) -
                   (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
                  ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)) -
                   (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS theta,
                  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu_pre,
                  CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
                  CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
                  CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pre_a,
                  CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pre_b
           FROM m)
         SELECT n_a, n_b,
                ROUND(theta, 6) AS theta_r,
                ROUND(mean_a, 6) AS mean_post_a,
                ROUND(mean_b, 6) AS mean_post_b,
                ROUND(mean_a - theta * (pre_a - mu_pre), 6)
                  AS adj_mean_a,
                ROUND(mean_b - theta * (pre_b - mu_pre), 6)
                  AS adj_mean_b
         FROM t"""),

    // DAU/MAU STICKINESS per month — the engagement ratio product
    // dashboards lead with: average daily active users over monthly
    // active users. Two distinct-count exchanges (day-keyed, then
    // month-keyed); the ratio is identical doubles over exact counts.
    Q("event_stickiness",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          col("ts").cast("date").as("day"),
          trunc(col("ts").cast("date"), "MM").as("m"))
        val dau = ev.groupBy("m", "day")
          .agg(countDistinct(col("user_id")).as("dau"))
          .groupBy("m").agg(count(lit(1)).as("n_days"),
            sum(col("dau")).as("dau_sum"))
        val mau = ev.groupBy("m")
          .agg(countDistinct(col("user_id")).as("mau"))
        dau.join(mau, Seq("m"))
          .select(col("m").as("month"), col("n_days"), col("mau"),
            round(col("dau_sum").cast("double") /
              col("n_days").cast("double"), 4).as("avg_dau"),
            round((col("dau_sum").cast("double") /
              col("n_days").cast("double")) /
              col("mau").cast("double"), 6).as("stickiness"))
          .orderBy("month")
      },
      """WITH ev AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  CAST(date_trunc('month', ts) AS DATE) AS m
           FROM events),
         dau AS (
           SELECT m, CAST(COUNT(*) AS BIGINT) AS n_days,
                  CAST(SUM(dau) AS BIGINT) AS dau_sum
           FROM (SELECT m, day, COUNT(DISTINCT user_id) AS dau
                 FROM ev GROUP BY 1, 2)
           GROUP BY m),
         mau AS (
           SELECT m, COUNT(DISTINCT user_id) AS mau FROM ev GROUP BY 1)
         SELECT m AS month, n_days, mau,
                ROUND(CAST(dau_sum AS DOUBLE) /
                      CAST(n_days AS DOUBLE), 4) AS avg_dau,
                ROUND((CAST(dau_sum AS DOUBLE) / CAST(n_days AS DOUBLE))
                      / CAST(mau AS DOUBLE), 6) AS stickiness
         FROM dau JOIN mau USING (m) ORDER BY month"""),

    // BURST DETECTION — the rate-limit/abuse screen: a user's peak
    // events-per-minute, computed as a 60-second RANGE frame count
    // over each user's own event stream (one user_id sort-exchange,
    // the win_range_interval device — never a self-join on time).
    // Declared relation: users whose peak burst hits the threshold,
    // with the peak. Exact integer counts.
    Q("event_burst",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d).select(col("user_id"),
          (unix_micros(col("ts")) / lit(1000000L)).cast("long").as("t"))
        val w = Window.partitionBy("user_id").orderBy("t")
          .rangeBetween(-59L, 0L)
        ev.withColumn("burst", count(lit(1)).over(w))
          .groupBy("user_id")
          .agg(max(col("burst")).as("peak_per_min"),
            count(lit(1)).as("n_events"))
          .filter(col("peak_per_min") >= 2)
          .orderBy("user_id")
      },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
         b AS (
           SELECT user_id,
                  COUNT(*) OVER (PARTITION BY user_id ORDER BY t
                    RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
                    AS burst
           FROM ev)
         SELECT user_id, CAST(MAX(burst) AS BIGINT) AS peak_per_min,
                CAST(COUNT(*) AS BIGINT) AS n_events
         FROM b GROUP BY user_id HAVING MAX(burst) >= 2
         ORDER BY user_id"""),

    // SAMPLE-RATIO-MISMATCH check (the standard pre-readout A/B health
    // gate, Fabijan et al.): units hash-split 50/50 exactly like
    // ab_test, but the EXPOSURE log has a simulated logging bug that
    // drops every 20th variant-A unit — the chi-square goodness-of-fit
    // stat against the intended 1:1 allocation flags it. Counts are one
    // user-keyed aggregate + a single-row fold; chi2 is an all-double
    // closed form on two BIGINTs, rounded once — hash-exact on both
    // engines. At 100 TB the only data-sized exchange is the per-user
    // distinct.
    Q("ab_srm",
      (s, d) => {
        val pu = events(s, d).select(col("user_id")).distinct()
          .withColumn("v", col("user_id") % 2)
          // simulated exposure-logging bug: variant A drops user_id%20==0
          .filter(!(col("v") === 0 && col("user_id") % 20 === 0))
        pu.agg(
            sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"))
          .withColumn("e",
            (col("n_a") + col("n_b")).cast("double") / 2.0)
          .select(col("n_a"), col("n_b"),
            round(((col("n_a") - col("e")) * (col("n_a") - col("e")) +
              (col("n_b") - col("e")) * (col("n_b") - col("e"))) /
              col("e"), 4).as("chi2"),
            (((col("n_a") - col("e")) * (col("n_a") - col("e")) +
              (col("n_b") - col("e")) * (col("n_b") - col("e"))) /
              col("e") > 3.841459).as("srm_detected"))
      },
      """WITH pu AS (
           SELECT DISTINCT user_id, user_id % 2 AS v FROM events),
         kept AS (
           SELECT v FROM pu
           WHERE NOT (v = 0 AND user_id % 20 = 0)),
         c AS (
           SELECT CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_a,
                  CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_b
           FROM kept)
         SELECT n_a, n_b,
                ROUND(((n_a - e) * (n_a - e) + (n_b - e) * (n_b - e)) / e,
                      4) AS chi2,
                ((n_a - e) * (n_a - e) + (n_b - e) * (n_b - e)) / e
                  > 3.841459 AS srm_detected
         FROM (SELECT n_a, n_b,
                      CAST(n_a + n_b AS DOUBLE) / 2.0 AS e FROM c)"""),

    // COHORT LTV curve: customers grouped by first-order month, revenue
    // accumulated by month-offset 0..5 — the lifetime-value readout
    // every growth team runs. Month index is exact integer arithmetic
    // (y*12 + m - 1, no months_between float), revenue an exact
    // DECIMAL(18,2) sum, and the cumulative runs over a per-cohort
    // window whose partition count equals the number of cohort months —
    // bounded and key-partitioned, never global. Cohort sizes join back
    // on the cohort key (broadcastable: one row per month).
    Q("cohort_ltv",
      (s, d) => {
        val o = orders(s, d).select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .as("mi"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
        val first = o.groupBy("o_custkey").agg(min(col("mi")).as("m0"))
        val sizes = first.groupBy("m0")
          .agg(count(lit(1)).as("n_customers"))
        val rev = o.join(first, "o_custkey")
          .withColumn("k", (col("mi") - col("m0")).cast("int"))
          .filter(col("k") <= 5)
          .groupBy("m0", "k")
          .agg(sum(col("p")).as("rev"))
        val wc = Window.partitionBy("m0").orderBy("k")
          .rowsBetween(Window.unboundedPreceding, 0)
        rev.withColumn("cum", sum(col("rev")).over(wc))
          .join(sizes, "m0")
          // ltv at scale 4 via exact integer 1e-4 units (half-up integer
          // division) — a double ROUND of cum/n sits on tie boundaries
          // that Spark (exact BigDecimal) and DuckDB (multiply-based)
          // resolve differently (udf_sql precedent)
          // cohort-cumulative revenue × 1e4 stays DECIMAL(38,0) — a
          // LONG cast overflows past ~$9.2e14 of cohort revenue
          .withColumn("cumu",
            (col("cum") * 10000).cast(DecimalType(38, 0)))
          .withColumn("ltv_e4",
            expr("(cumu + n_customers div 2) div n_customers"))
          .select(
            concat(
              expr("m0 div 12").cast("string"), lit("-"),
              lpad((col("m0") % 12 + 1).cast("string"), 2, "0"))
              .as("cohort_month"),
            col("k"), col("n_customers"),
            round(col("cum").cast("double"), 2).as("cum_rev"),
            (col("ltv_e4").cast("double") / 10000.0).as("ltv"))
          .orderBy("cohort_month", "k")
      },
      """WITH o AS (
           SELECT o_custkey,
                  year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders),
         f AS (
           SELECT o_custkey, MIN(mi) AS m0 FROM o GROUP BY 1),
         sz AS (
           SELECT m0, COUNT(*) AS n_customers FROM f GROUP BY 1),
         rev AS (
           SELECT f.m0, CAST(o.mi - f.m0 AS INTEGER) AS k,
                  SUM(o.p) AS rev
           FROM o JOIN f USING (o_custkey)
           WHERE o.mi - f.m0 <= 5
           GROUP BY 1, 2),
         c AS (
           SELECT m0, k,
                  SUM(rev) OVER (PARTITION BY m0 ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS cum
           FROM rev)
         SELECT CAST(m0 // 12 AS VARCHAR) || '-' ||
                  lpad(CAST(m0 % 12 + 1 AS VARCHAR), 2, '0')
                  AS cohort_month,
                k, CAST(n_customers AS BIGINT) AS n_customers,
                ROUND(CAST(cum AS DOUBLE), 2) AS cum_rev,
                CAST((CAST(cum * 10000 AS HUGEINT) + n_customers // 2)
                       // n_customers AS DOUBLE) / 10000.0 AS ltv
         FROM c JOIN sz USING (m0)
         ORDER BY cohort_month, k"""),

    // AUDIENCE OVERLAP matrix — "users who do X also do Y": Jaccard
    // between the user sets of every event-type pair. The co-presence
    // counts ride ONE self-join of the distinct (user, type) relation
    // keyed on user (fan-out bounded by types-per-user ≤ |types|);
    // per-type audience sizes join back broadcast (|types| rows).
    // Jaccard is a correctly-rounded double ratio of two BIGINTs.
    // At 100 TB: the distinct is the only data-sized exchange.
    Q("event_audience_overlap",
      (s, d) => {
        val ut = events(s, d)
          .select(col("user_id"), col("event_type")).distinct()
        val sizes = ut.groupBy("event_type")
          .agg(count(lit(1)).as("n_users"))
        val pairs = ut.as("a").join(ut.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_both"))
        pairs
          .join(broadcast(sizes.select(col("event_type").as("type_a"),
            col("n_users").as("na"))), Seq("type_a"))
          .join(broadcast(sizes.select(col("event_type").as("type_b"),
            col("n_users").as("nb"))), Seq("type_b"))
          .select(col("type_a"), col("type_b"), col("n_both"),
            round(col("n_both").cast("double") /
              (col("na") + col("nb") - col("n_both")), 6).as("jaccard"))
          .orderBy("type_a", "type_b")
      },
      """WITH ut AS (
           SELECT DISTINCT user_id, event_type FROM events),
         sz AS (
           SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY 1),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(*) AS n_both
           FROM ut a JOIN ut b ON a.user_id = b.user_id
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, CAST(n_both AS BIGINT) AS n_both,
                ROUND(CAST(n_both AS DOUBLE) /
                      (sa.n_users + sb.n_users - n_both), 6) AS jaccard
         FROM p
         JOIN sz sa ON sa.event_type = type_a
         JOIN sz sb ON sb.event_type = type_b
         ORDER BY type_a, type_b"""),

    // POSITION-BASED (U-shaped 40/20/40) ATTRIBUTION — the third
    // standard model next to event_attribution's linear + last-touch:
    // first and last touch in the window get 0.40 each, the middles
    // split 0.20 (n=1 → 1.0, n=2 → 0.5/0.5). Same touch relation and
    // purchase-partitioned windows (bounded by touches-per-purchase);
    // credits quantized to DECIMAL(12,8) once, so the per-channel Σ is
    // order-free and hash-exact. One windowed pass + one channel agg.
    Q("event_attribution_ushape",
      (s, d) => {
        val touches = clickTouches(s, d)
        val wP = Window.partitionBy("p_id")
        val wAsc = wP.orderBy(asc("c_t"), asc("c_id"))
        touches
          .withColumn("n", count(lit(1)).over(wP))
          .withColumn("pos", row_number().over(wAsc))
          .withColumn("credit",
            when(col("n") === 1, lit(1.0))
              .when(col("n") === 2, lit(0.5))
              .when(col("pos") === 1 || col("pos") === col("n"),
                lit(0.4))
              .otherwise(lit(0.2) / (col("n") - 2))
              .cast(DecimalType(12, 8)))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_touches"),
            round(sum(col("credit")).cast("double"), 4)
              .as("ushape_credit"))
          .orderBy("channel")
      },
      s"""WITH $ClickPurchaseCte,
         touches AS (
           SELECT p_id, channel, c_t, c_id
           FROM purchases JOIN clicks USING (user_id)
           WHERE c_t < p_t AND p_t - c_t <= 3600000000),
         pos AS (
           SELECT channel,
                  COUNT(*) OVER (PARTITION BY p_id) AS n,
                  ROW_NUMBER() OVER (PARTITION BY p_id
                    ORDER BY c_t ASC, c_id ASC) AS pos
           FROM touches),
         credits AS (
           SELECT channel,
                  CAST(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                            WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                            WHEN pos = 1 OR pos = n
                              THEN CAST(0.4 AS DOUBLE)
                            ELSE CAST(0.2 AS DOUBLE) / (n - 2) END
                       AS DECIMAL(12,8)) AS credit
           FROM pos)
         SELECT channel, COUNT(*) AS n_touches,
                ROUND(CAST(SUM(credit) AS DOUBLE), 4) AS ushape_credit
         FROM credits GROUP BY 1 ORDER BY channel"""),

    // ENGAGEMENT SPECTRUM — users bucketed by activity volume (the
    // power-user curve every product review starts with): events per
    // user → fixed log-ish buckets → user counts + share of total
    // EVENT volume each bucket drives. Two key-partitioned aggregates
    // (user, then bucket) and a broadcast totals row; shares in exact
    // 1e-4 integer units. The "1% of users drive 40% of events"
    // relation, hash-exact.
    Q("event_engagement_spectrum",
      (s, d) => {
        val pu = events(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("n_ev"))
        val bucketed = pu.withColumn("bucket",
          when(col("n_ev") === 1, "1")
            .when(col("n_ev") <= 5, "2-5")
            .when(col("n_ev") <= 10, "6-10")
            .when(col("n_ev") <= 50, "11-50")
            .otherwise("50+"))
        val agg = bucketed.groupBy("bucket")
          .agg(count(lit(1)).as("n_users"),
            sum(col("n_ev")).as("n_events"))
        val tot = agg.agg(sum(col("n_users")).as("tu"),
          sum(col("n_events")).as("te"))
        agg.crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_users"), col("n_events"),
            (expr("(n_users * 1000000L + tu div 2) div tu")
              .cast("double") / 10000.0).as("user_share_pct"),
            (expr("(n_events * 1000000L + te div 2) div te")
              .cast("double") / 10000.0).as("event_share_pct"))
          .orderBy("bucket")
      },
      """WITH pu AS (
           SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY 1),
         b AS (
           SELECT CASE WHEN n_ev = 1 THEN '1'
                       WHEN n_ev <= 5 THEN '2-5'
                       WHEN n_ev <= 10 THEN '6-10'
                       WHEN n_ev <= 50 THEN '11-50'
                       ELSE '50+' END AS bucket, n_ev
           FROM pu),
         agg AS (
           SELECT bucket, COUNT(*) AS n_users, SUM(n_ev) AS n_events
           FROM b GROUP BY 1),
         t AS (SELECT SUM(n_users) AS tu, SUM(n_events) AS te FROM agg)
         SELECT bucket, CAST(n_users AS BIGINT) AS n_users,
                CAST(n_events AS BIGINT) AS n_events,
                CAST((n_users * 1000000 + tu // 2) // tu AS DOUBLE)
                  / 10000.0 AS user_share_pct,
                CAST((n_events * 1000000 + te // 2) // te AS DOUBLE)
                  / 10000.0 AS event_share_pct
         FROM agg, t ORDER BY bucket"""),

    // POWER-LAW RETENTION FIT — retention_dn's model layer: fit
    // ln(retention_k) = a + b·ln(k) over day offsets 1..30 (the
    // "shifted power law" every growth model starts from; b is the
    // decay exponent). retention_k divides two exact BIGINTs; the OLS
    // runs on ≤30 day-grain points with each ln product pinned to
    // DECIMAL(18,12) (agg_regression discipline), so the closed-form
    // (a, b) are identical doubles. Two user-keyed exchanges (first
    // day, activity days) then calendar-bounded arithmetic.
    Q("retention_powerlaw_fit",
      (s, d) => {
        val ud = events(s, d).select(col("user_id"),
          (unix_micros(col("ts")) / lit(86400000000L)).cast("long")
            .as("day")).distinct()
        val first = ud.groupBy("user_id").agg(min(col("day")).as("d0"))
        val cohort = first.agg(count(lit(1)).as("n_cohort"))
        val ret = ud.join(first, Seq("user_id"))
          .withColumn("k", col("day") - col("d0"))
          .filter(col("k") >= 1 && col("k") <= 30)
          .select(col("k"), col("user_id")).distinct()
          .groupBy("k").agg(count(lit(1)).as("n_active"))
        val pts = ret.crossJoin(broadcast(cohort))
          .select(col("k"),
            expr("ln(CAST(n_active AS DOUBLE) / n_cohort)").as("ly"),
            expr("ln(CAST(k AS DOUBLE))").as("lx"))
          .select(col("k"),
            col("lx").cast(DecimalType(18, 12)).as("lx"),
            col("ly").cast(DecimalType(18, 12)).as("ly"))
        pts.agg(count(lit(1)).as("n_points"),
            sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
            sum((col("lx") * col("lx")).cast(DecimalType(38, 12)))
              .as("sxx"),
            sum((col("lx") * col("ly")).cast(DecimalType(38, 12)))
              .as("sxy"))
          .select(col("n_points"),
            round((col("n_points") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("n_points") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")), 6)
              .as("decay_exponent"),
            round((col("sy").cast("double") -
              ((col("n_points") * col("sxy").cast("double") -
                col("sx").cast("double") * col("sy").cast("double")) /
                (col("n_points") * col("sxx").cast("double") -
                  col("sx").cast("double") * col("sx").cast("double"))) *
                col("sx").cast("double")) / col("n_points"), 6)
              .as("intercept_ln"))
      },
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         f AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY 1),
         cohort AS (SELECT COUNT(*) AS n_cohort FROM f),
         ret AS (
           SELECT k, COUNT(*) AS n_active FROM (
             SELECT DISTINCT ud.user_id, ud.day - f.d0 AS k
             FROM ud JOIN f USING (user_id)
             WHERE ud.day - f.d0 BETWEEN 1 AND 30)
           GROUP BY k),
         pts AS (
           SELECT k,
                  CAST(ln(CAST(k AS DOUBLE)) AS DECIMAL(18,12)) AS lx,
                  CAST(ln(CAST(n_active AS DOUBLE) / n_cohort)
                    AS DECIMAL(18,12)) AS ly
           FROM ret, cohort),
         m AS (
           SELECT COUNT(*) AS n_points,
                  SUM(lx) AS sx, SUM(ly) AS sy,
                  SUM(CAST(lx * lx AS DECIMAL(38,12))) AS sxx,
                  SUM(CAST(lx * ly AS DECIMAL(38,12))) AS sxy
           FROM pts)
         SELECT CAST(n_points AS BIGINT) AS n_points,
                ROUND((n_points * CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                      (n_points * CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                  AS decay_exponent,
                ROUND((CAST(sy AS DOUBLE) -
                       ((n_points * CAST(sxy AS DOUBLE) -
                         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                        (n_points * CAST(sxx AS DOUBLE) -
                         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
                       CAST(sx AS DOUBLE)) / n_points, 6)
                  AS intercept_ln
         FROM m"""),

    // REPURCHASE-CYCLE distribution — per buyer, the average gap (in
    // exact whole seconds) between consecutive purchases, then the
    // cross-buyer quartiles of that per-user metric — the cadence
    // readout behind replenishment and churn-risk models. One
    // user-partitioned lag, one user aggregate (mean gap in exact
    // 1e-4 integer units), one exact-percentile fold over the
    // user-grain relation. No global windows.
    Q("event_repurchase_cycle",
      (s, d) => {
        val p = events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"),
            (unix_micros(col("ts")) / lit(1000000L)).cast("long")
              .as("t"))
        val w = Window.partitionBy("user_id").orderBy("t")
        val gaps = p.withColumn("g", col("t") - lag(col("t"), 1).over(w))
          .filter(col("g").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sg"))
          .withColumn("mean_gap_s",
            expr("(sg * 10000L + n_gaps div 2) div n_gaps")
              .cast("double") / 10000.0)
        gaps.agg(count(lit(1)).as("n_repeat_buyers"),
          round(expr("percentile(mean_gap_s, 0.25)"), 2).as("p25_s"),
          round(expr("percentile(mean_gap_s, 0.5)"), 2).as("median_s"),
          round(expr("percentile(mean_gap_s, 0.75)"), 2).as("p75_s"))
      },
      """WITH p AS (
           SELECT user_id, epoch_us(ts) // 1000000 AS t
           FROM events WHERE event_type = 'purchase'),
         g AS (
           SELECT user_id,
                  t - LAG(t, 1) OVER (PARTITION BY user_id ORDER BY t)
                    AS g
           FROM p),
         pu AS (
           SELECT user_id, COUNT(*) AS n_gaps, SUM(g) AS sg
           FROM g WHERE g IS NOT NULL GROUP BY 1),
         m AS (
           SELECT user_id,
                  CAST((sg * 10000 + n_gaps // 2) // n_gaps AS DOUBLE)
                    / 10000.0 AS mean_gap_s
           FROM pu)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_repeat_buyers,
                ROUND(quantile_cont(mean_gap_s, 0.25), 2) AS p25_s,
                ROUND(quantile_cont(mean_gap_s, 0.5), 2) AS median_s,
                ROUND(quantile_cont(mean_gap_s, 0.75), 2) AS p75_s
         FROM m"""),

    // BANDED LORENZ CURVE + GINI — spend-inequality without the
    // global sort an exact Gini needs (ranking every customer by
    // spend is THE single-partition anti-pattern at scale): customers
    // bucket into exact bit-length spend bands (≤40 — bounded), the
    // Lorenz curve accumulates over the BAND relation, and the Gini
    // is the trapezoid fold over those bounded points. Band-granular
    // by construction and documented as such — the same
    // histogram-drill honesty as rfm_segmentation's medians. All
    // shares in exact integer units; the one double fold runs over
    // ≤40 rows with identical expressions.
    Q("pareto_gini_banded",
      (s, d) => {
        val spend = orders(s, d).groupBy("o_custkey")
          .agg((sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
            .cast("long").as("cents"))
        val bands = spend
          .select(expr("length(bin(greatest(cents, 1))) - 1")
            .cast("int").as("band"), col("cents"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("c"))
        val tot = bands.agg(sum(col("n_cust")).as("tn"),
          sum(col("c")).as("tc"))
        val w = Window.orderBy("band") // ≤40 band rows
        bands.crossJoin(broadcast(tot))
          .withColumn("cum_n",
            sum(col("n_cust")).over(
              w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cum_c",
            sum(col("c")).over(
              w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("pop_x",
            col("cum_n").cast("double") / col("tn"))
          .withColumn("lorenz_y",
            col("cum_c").cast("double") / col("tc"))
          .withColumn("prev_x",
            coalesce(lag(col("pop_x"), 1).over(w), lit(0.0)))
          .withColumn("prev_y",
            coalesce(lag(col("lorenz_y"), 1).over(w), lit(0.0)))
          .withColumn("seg_auc",
            (col("pop_x") - col("prev_x")) *
              (col("lorenz_y") + col("prev_y")) / 2.0)
          .withColumn("gini_banded",
            round(lit(1.0) - lit(2.0) * sum(col("seg_auc")).over(
              w.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)), 4))
          // shares emit UNrounded: each is one correctly-rounded IEEE
          // division of two exact BIGINTs — identical doubles in both
          // engines, and no ROUND means no rational-tie hazard
          .select(col("band"), col("n_cust"),
            col("pop_x").as("pop_share"),
            col("lorenz_y").as("spend_share"),
            col("gini_banded"))
          .orderBy("band")
      },
      """WITH spend AS (
           SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         bands AS (
           SELECT CAST(length(bin(GREATEST(cents, 1))) - 1 AS INTEGER)
                    AS band,
                  COUNT(*) AS n_cust, SUM(cents) AS c
           FROM spend GROUP BY 1),
         t AS (SELECT SUM(n_cust) AS tn, SUM(c) AS tc FROM bands),
         cum AS (
           SELECT band, n_cust,
                  CAST(SUM(n_cust) OVER (ORDER BY band) AS DOUBLE) / tn
                    AS pop_x,
                  CAST(SUM(c) OVER (ORDER BY band) AS DOUBLE) / tc
                    AS lorenz_y
           FROM bands, t),
         seg AS (
           SELECT band, n_cust, pop_x, lorenz_y,
                  (pop_x - COALESCE(LAG(pop_x) OVER (ORDER BY band),
                    0.0)) *
                  (lorenz_y + COALESCE(LAG(lorenz_y)
                    OVER (ORDER BY band), 0.0)) / 2.0 AS seg_auc
           FROM cum),
         g AS (SELECT ROUND(1.0 - 2.0 * SUM(seg_auc), 4)
                 AS gini_banded FROM seg)
         SELECT band, CAST(n_cust AS BIGINT) AS n_cust,
                pop_x AS pop_share,
                lorenz_y AS spend_share,
                gini_banded
         FROM seg, g ORDER BY band"""),

    // WEIGHTED RECIPROCITY of the directed event-transition graph
    // (Squartini et al.): per unordered type pair, how much of the
    // u→v flow is matched by v→u — r = Σ min(w_uv, w_vu) / Σ w_uv
    // over ordered pairs. The asymmetric complement of
    // event_transitions' row-normalized probabilities: high-traffic
    // one-way pairs (view→purchase with no purchase→view) drop
    // reciprocity and flag funnel-like flow. The heavy part is the
    // same per-user lead() pass (user-partitioned window, parallel by
    // construction) into a domain-sized edge aggregate; the pair
    // matching and the global ratio run over the ≤|types|² relation.
    // The ratio is an exact 1e-6-unit integer division (truncation
    // identical across engines on the positive operands), never
    // ROUND(double).
    Q("graph_reciprocity",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        val edges = ev
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull &&
            col("to_type") =!= col("event_type"))
          .groupBy(col("event_type").as("u"), col("to_type").as("v"))
          .agg(count(lit(1)).as("w_uv"))
        val pairs = edges.filter(col("u") < col("v"))
          .select(col("u"), col("v"), col("w_uv"))
          .join(edges.filter(col("u") > col("v"))
            .select(col("v").as("u"), col("u").as("v"),
              col("w_uv").as("w_vu")),
            Seq("u", "v"), "full_outer")
          .select(col("u"), col("v"),
            coalesce(col("w_uv"), lit(0L)).as("w_uv"),
            coalesce(col("w_vu"), lit(0L)).as("w_vu"))
          .withColumn("w_min", least(col("w_uv"), col("w_vu")))
        val tot = pairs
          .agg(sum(col("w_uv") + col("w_vu")).as("w_total"),
            sum(col("w_min") * 2).as("w_recip"))
          .select(
            // w_recip is a corpus-transition-count sum — the 1e6
            // scale product rides DECIMAL(38,0)
            (expr("""(CAST(w_recip AS DECIMAL(38,0)) * 1000000
                     + w_total div 2) div w_total""")
              .cast("double") / 1000000.0).as("reciprocity"))
        pairs.crossJoin(tot).orderBy("u", "v")
      },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t, event_id
           FROM events),
         tr AS (
           SELECT event_type AS u,
                  LEAD(event_type) OVER (PARTITION BY user_id
                    ORDER BY t, event_id) AS v
           FROM ev),
         e AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM tr
               WHERE v IS NOT NULL AND v <> u GROUP BY 1, 2),
         p AS (
           SELECT COALESCE(a.u, b.u) AS u, COALESCE(a.v, b.v) AS v,
                  COALESCE(a.w, 0) AS w_uv, COALESCE(b.w2, 0) AS w_vu
           FROM (SELECT u, v, w FROM e WHERE u < v) a
           FULL OUTER JOIN (SELECT v AS u, u AS v, w AS w2 FROM e
                            WHERE u > v) b
             ON a.u = b.u AND a.v = b.v),
         q AS (SELECT u, v, w_uv, w_vu, LEAST(w_uv, w_vu) AS w_min
               FROM p),
         t AS (SELECT SUM(w_uv + w_vu) AS w_total,
                      SUM(w_min * 2) AS w_recip FROM q)
         SELECT u, v, w_uv, w_vu, w_min,
                CAST((CAST(w_recip AS HUGEINT) * 1000000
                      + w_total // 2) // w_total
                  AS DOUBLE) / 1000000.0 AS reciprocity
         FROM q, t ORDER BY u, v"""),

    // STATIONARY DISTRIBUTION of the event-type Markov chain by 8
    // rounds of fixed-point power iteration — where event_transitions
    // stops at one-step probabilities, this answers "which state does
    // the process spend its time in at equilibrium". Parity-proof
    // arithmetic: π lives in exact 1e-12 integer units and each step
    // is π'_v = Σ_u (π_u·w_uv) div W_u — integer multiply/divide on
    // positive operands, so Spark's div and DuckDB's // agree exactly
    // and no float ever enters the recursion (the small downward
    // drift from truncation is deterministic and identical). The
    // heavy pass is the one per-user lead() window; the iteration
    // runs over the |types|²-bounded transition relation (8 chained
    // domain-sized joins — bounded plan, no driver loop over data).
    Q("event_markov_stationary",
      (s, d) => {
        val (_, pis) = markovParts(s, d, 8)
        val pN = pis.last
        pN.select(col("u").as("event_type"),
            (col("pi").cast("double") / 1.0e12).as("pi_stationary"),
            lit(8).as("n_iter"))
          .orderBy("event_type")
      },
      s"""WITH $MarkovPowerCte
          SELECT u AS event_type,
                 CAST(pi AS DOUBLE) / 1e12 AS pi_stationary,
                 8 AS n_iter
          FROM p8 ORDER BY event_type"""),

    // PER-SERIES RATE ANOMALY — a trailing-window Poisson test per
    // (event_type, day): each day's count against the mean of its own
    // previous 28 observed days, reporting the TOP-3 most anomalous
    // days per series by Poisson z² — the per-series, windowed
    // complement of dq_anomaly's global row-count z (a fixed
    // threshold would emit nothing on this under-dispersed synthetic
    // stream; a top-k worklist is also what an operator actually
    // triages). Parity: the ranking key is the EXACT integer
    // 1e6·z² = (28c − m)²·10⁶ div (28m), so the selected rows cannot
    // drift a ulp between engines; λ and z are integer-unit /
    // closed-form-double emissions. Windows partition by event_type
    // over the day-grain aggregate: bounded, parallel by series.
    Q("event_rate_anomaly",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-28, -1)
        val scored = daily
          .withColumn("m", sum(col("c")).over(w))
          .withColumn("nw", count(col("c")).over(w))
          .filter(col("nw") === 28)
          .withColumn("num", lit(28) * col("c") - col("m"))
          // num² in DECIMAL(38,0): raw LONG overflows at daily-type
          // counts past ~1e8 once scaled by 1e6
          .withColumn("score",
            expr("(CAST(num AS DECIMAL(38,0)) * num * 1000000)" +
              " div (28 * m)"))
        val wr = Window.partitionBy("event_type")
          .orderBy(desc("score"), col("day"))
        scored.withColumn("rk", row_number().over(wr))
          .filter(col("rk") <= 3)
          .select(col("event_type"), col("rk").cast("long").as("rk"),
            col("day"), col("c").as("n_events"),
            (expr("(m * 10000 + 14) div 28").cast("double") / 10000.0)
              .as("baseline_mean"),
            round(col("num").cast("double") /
              sqrt(lit(28.0) * col("m").cast("double")), 4)
              .as("z_score"))
          .orderBy("event_type", "rk")
      },
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         sc AS (
           SELECT event_type, day, c,
                  SUM(c) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING) AS m,
                  COUNT(c) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING) AS nw
           FROM daily),
         f AS (SELECT event_type, day, c, m, 28 * c - m AS num,
                      (CAST(28 * c - m AS HUGEINT) * (28 * c - m)
                        * 1000000)
                        // (28 * m) AS score
               FROM sc WHERE nw = 28),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY score DESC, day) AS rk
               FROM f)
         SELECT event_type, CAST(rk AS BIGINT) AS rk, day,
                c AS n_events,
                CAST((m * 10000 + 14) // 28 AS DOUBLE) / 10000.0
                  AS baseline_mean,
                ROUND(CAST(num AS DOUBLE) /
                      sqrt(28.0 * CAST(m AS DOUBLE)), 4) AS z_score
         FROM r WHERE rk <= 3
         ORDER BY event_type, rk"""),

    // INTER-ARRIVAL BURSTINESS (Goh & Barabási): per user,
    // B = (σ − μ)/(σ + μ) over the gaps between consecutive events —
    // B → −1 periodic, ≈ 0 Poisson, → +1 bursty. The population
    // summary reports p10/p50/p90 of B and the bursty-user share.
    // Parity: per-user moments are exact integers (Σdt as long,
    // Σdt² as DECIMAL(38,0)) and B collapses to
    // (√(nΣdt²−(Σdt)²) − Σdt)/(√·+Σdt) — one closed-form double on
    // exact ints, bit-identical across engines. The quantiles are
    // EXACT rank selections via the two-level histogram drill-down
    // (rfm_segmentation discipline): band = floor(1000·B) bounds the
    // cumulative window at 2001 rows and the in-band rank window at
    // band occupancy — no user-sized single-task window, ever. The
    // oracle replays the same k-th-smallest with a global rank
    // (banding preserves (B, user) order, so values are identical).
    Q("event_interarrival_burstiness",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        val dts = ev.withColumn("dt", col("t") - lag("t", 1).over(w))
          .filter(col("dt").isNotNull)
        val dd = col("dt").cast(DecimalType(19, 0))
        val per = dts.groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum("dt").as("sd"),
            sum(dd * dd).as("sdd"))
          .filter(col("n") >= 5 && col("sd") > 0)
          .withColumn("disc",
            (col("n").cast(DecimalType(19, 0)) * col("sdd") -
              col("sd").cast(DecimalType(19, 0)) *
                col("sd").cast(DecimalType(19, 0))).cast("double"))
          .withColumn("bv",
            (sqrt(col("disc")) - col("sd").cast("double")) /
              (sqrt(col("disc")) + col("sd").cast("double")))
          .select(col("user_id"), col("bv"))
        val tot = per.agg(count(lit(1)).as("nu"),
          sum(when(col("bv") > 0, 1L).otherwise(0L)).as("n_bursty"))
        val ks = tot.select(col("nu"), col("n_bursty"),
            explode(array(
              struct(lit(10).as("q"), expr("(nu + 9) div 10").as("k")),
              struct(lit(50).as("q"), expr("(nu + 1) div 2").as("k")),
              struct(lit(90).as("q"),
                expr("(9 * nu + 9) div 10").as("k")))).as("qk"))
          .select(col("nu"), col("n_bursty"), col("qk.q"), col("qk.k"))
        val banded = per
          .withColumn("band", floor(col("bv") * 1000).cast("long"))
        val hist = banded.groupBy("band").agg(count(lit(1)).as("c"))
        val wb = Window.orderBy("band")
        val cum = hist.withColumn("cum", sum("c").over(wb))
          .withColumn("prev",
            coalesce(lag("cum", 1).over(wb), lit(0L)))
        val target = ks.join(cum,
          col("cum") >= col("k") && col("prev") < col("k"))
        val wIn = Window.partitionBy("band").orderBy("bv", "user_id")
        val rankedIn = banded
          .withColumn("rkb", row_number().over(wIn))
          .select(col("band").as("band2"), col("bv"), col("rkb"))
        target.join(rankedIn,
            col("band") === col("band2") &&
              col("rkb") === (col("k") - col("prev")))
          .select(col("q"), col("nu").as("n_users"), col("n_bursty"),
            col("k"), col("bv").as("b_value"))
          .orderBy("q")
      },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
         dts AS (
           SELECT user_id,
                  t - LAG(t, 1) OVER (PARTITION BY user_id
                    ORDER BY t, event_id) AS dt
           FROM ev),
         per AS (
           SELECT user_id, COUNT(*) AS n,
                  CAST(SUM(dt) AS BIGINT) AS sd,
                  SUM(CAST(dt AS HUGEINT) * dt) AS sdd
           FROM dts WHERE dt IS NOT NULL GROUP BY 1
           HAVING COUNT(*) >= 5 AND SUM(dt) > 0),
         b AS (
           SELECT user_id,
                  (sqrt(CAST(n * sdd - CAST(sd AS HUGEINT) * sd
                     AS DOUBLE)) - CAST(sd AS DOUBLE)) /
                  (sqrt(CAST(n * sdd - CAST(sd AS HUGEINT) * sd
                     AS DOUBLE)) + CAST(sd AS DOUBLE)) AS bv
           FROM per),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu,
                        CAST(SUM(CASE WHEN bv > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_bursty FROM b),
         ks AS (
           SELECT nu, n_bursty, q,
                  CASE q WHEN 10 THEN (nu + 9) // 10
                         WHEN 50 THEN (nu + 1) // 2
                         ELSE (9 * nu + 9) // 10 END AS k
           FROM tot, (SELECT UNNEST([10, 50, 90]) AS q)),
         ranked AS (
           SELECT bv, ROW_NUMBER() OVER (ORDER BY bv, user_id) AS rk
           FROM b)
         SELECT q, nu AS n_users, n_bursty, CAST(k AS BIGINT) AS k,
                bv AS b_value
         FROM ks JOIN ranked ON rk = k ORDER BY q"""),

    // ENTROPY RATE of the event-type Markov chain —
    // H = −Σ_u π_u Σ_v p_uv log2 p_uv, the single number summarizing
    // how predictable the NEXT event is given the current one (0 =
    // deterministic flow, log2|types| = memoryless uniform). Built on
    // the same exact-integer stationary π as event_markov_stationary
    // (shared markovParts); each of the ≤|types|² terms is a closed-
    // form double on exact integer rationals with ln(x)/ln(2) spelled
    // out identically in both engines, cast to DECIMAL(20,15) so the
    // domain-sized sum is order-free, rounded once.
    Q("event_markov_entropy",
      (s, d) => {
        val (trans, pis) = markovParts(s, d, 8)
        val pN = pis.last
        val terms = trans.join(pN, Seq("u"))
          .withColumn("term",
            ((col("pi").cast("double") / 1.0e12) *
              (col("wt").cast("double") / col("wu").cast("double")) *
              (log(col("wu").cast("double") / col("wt").cast("double"))
                / log(lit(2.0))))
              .cast(DecimalType(20, 15)))
        val nS = pN.agg(count(lit(1)).as("n_states"))
        terms.agg(count(lit(1)).as("n_transitions"),
            round(sum("term").cast("double"), 6)
              .as("entropy_rate_bits"))
          .crossJoin(nS)
          .select(col("n_states"), col("n_transitions"),
            col("entropy_rate_bits"),
            round(log(col("n_states").cast("double")) / log(lit(2.0)),
              6).as("max_entropy_bits"))
      },
      s"""WITH $MarkovPowerCte,
          terms AS (
            SELECT CAST(
              (CAST(pi AS DOUBLE) / 1e12) *
              (CAST(wt AS DOUBLE) / CAST(wu AS DOUBLE)) *
              (ln(CAST(wu AS DOUBLE) / CAST(wt AS DOUBLE)) / ln(2.0))
              AS DECIMAL(20,15)) AS term
            FROM t JOIN p8 ON p8.u = t.u),
          ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_states FROM p8)
          SELECT n_states,
                 CAST((SELECT COUNT(*) FROM terms) AS BIGINT)
                   AS n_transitions,
                 ROUND(CAST((SELECT SUM(term) FROM terms) AS DOUBLE),
                   6) AS entropy_rate_bits,
                 ROUND(ln(CAST(n_states AS DOUBLE)) / ln(2.0), 6)
                   AS max_entropy_bits
          FROM ns"""),

    // CONVERGENCE CURVE of the power iteration behind
    // event_markov_stationary: total-variation distance
    // TV_t = ½·Σ_u |π_t(u) − π_8(u)| for every round t = 1..8 — the
    // audit that says how many rounds the fixed 8-round budget
    // actually NEEDED (TV_8 ≡ 0 by construction; the first t with
    // TV_t ≈ 0 is the answer). All π's live in the same exact 1e-12
    // integer units, so |Δ| sums are exact BIGINTs and the halving is
    // one integer shift — no float enters until the final /1e12
    // display division. Every π_t is a |types|-sized relation: the 8
    // tagged frames union to ≤ 8·|types| rows, joined once against
    // π_8 — domain-sized end to end.
    Q("event_markov_convergence",
      (s, d) => {
        val (_, pis) = markovParts(s, d, 8)
        val fin = pis.last.select(col("u"), col("pi").as("pi_fin"))
        val tagged = (1 to 8).map { t =>
          pis(t).select(lit(t).cast("int").as("t"), col("u"), col("pi"))
        }.reduce(_ unionAll _)
        tagged.join(fin, Seq("u"))
          .groupBy("t")
          .agg(count(lit(1)).as("n_states"),
            sum(abs(col("pi") - col("pi_fin"))).as("l1"))
          .select(col("t"), col("n_states"),
            (expr("(l1 div 2)").cast("double") / 1.0e12)
              .as("tv_distance"))
          .orderBy("t")
      }, {
        val tagged = (1 to 8).map { t =>
          s"SELECT $t AS t, u, pi FROM p$t"
        }.mkString("\n              UNION ALL ")
        s"""WITH $MarkovPowerCte,
            tagged AS (
              $tagged)
            SELECT CAST(x.t AS INTEGER) AS t,
                   CAST(COUNT(*) AS BIGINT) AS n_states,
                   CAST((SUM(ABS(x.pi - f.pi)) // 2) AS DOUBLE) / 1e12
                     AS tv_distance
            FROM tagged x JOIN p8 f ON f.u = x.u
            GROUP BY x.t ORDER BY t"""
      }),

    // DWELL TIME per event type — how long does a user sit on each
    // event before the next one? Gap to the user's next event (exact
    // integer µs off the (ts, event_id) total order) attributed to
    // the CURRENT event's type — the engagement-cost view next to
    // win_lag_lead's raw gaps and event_transitions' destinations.
    // Mean is a ROUND-tie-proof integer millisecond division; the
    // dwell share of total is a 1e-6-unit integer ratio. One
    // user-partitioned lead window + one agg.
    Q("event_dwell_time",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        val dw = ev.withColumn("next_t", lead(col("t"), 1).over(w))
          .filter(col("next_t").isNotNull)
          .select(col("event_type"), (col("next_t") - col("t")).as("g"))
        val tot = dw.agg(sum("g").as("total_g"))
        dw.groupBy("event_type")
          .agg(count(lit(1)).as("n_dwells"), sum("g").as("dwell_us"),
            max("g").as("max_us"), min("g").as("min_us"))
          .crossJoin(broadcast(tot))
          .select(col("event_type"), col("n_dwells"),
            expr("(dwell_us div 1000 + n_dwells div 2) div n_dwells")
              .as("mean_ms"),
            col("max_us"), col("min_us"),
            // share ratio at SECOND granularity: µs totals × 1e6
            // overflow BIGINT once the corpus carries ~10^5 user-days
            (expr("((dwell_us div 1000000) * 1000000 + " +
              "(total_g div 1000000) div 2) div (total_g div 1000000)")
              .cast("double") / 1.0e6).as("share_of_total"))
          .orderBy("event_type")
      },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t, event_id
           FROM events),
         dw AS (
           SELECT event_type,
                  LEAD(t) OVER (PARTITION BY user_id
                    ORDER BY t, event_id) - t AS g
           FROM ev QUALIFY g IS NOT NULL),
         tot AS (SELECT CAST(SUM(g) AS BIGINT) AS total_g FROM dw)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_dwells,
                (CAST(SUM(g) AS BIGINT) // 1000 + COUNT(*) // 2)
                  // COUNT(*) AS mean_ms,
                CAST(MAX(g) AS BIGINT) AS max_us,
                CAST(MIN(g) AS BIGINT) AS min_us,
                CAST(((CAST(SUM(g) AS BIGINT) // 1000000) * 1000000
                      + ((SELECT total_g FROM tot) // 1000000) // 2)
                     // ((SELECT total_g FROM tot) // 1000000)
                  AS DOUBLE) / 1e6 AS share_of_total
         FROM dw GROUP BY event_type ORDER BY event_type"""),

    // SPEND-BAND MIGRATION MATRIX — how customers move between spend
    // tiers from the first half of the order history to the second:
    // the churn/upgrade structure a point-in-time RFM snapshot can't
    // show. Halves split at the exact integer midpoint of the date
    // span; tiers are exact bit-length log2 bands of half-spend cents
    // (length(bin(n))−1 — float log2 floors disagree at powers of
    // two), −1 = inactive that half. The matrix is a ≤ bands² count
    // relation with 1e-4-unit integer shares. Plan: one customer×half
    // partial agg + a customer pivot agg + the matrix agg — three
    // key exchanges, no windows.
    Q("cohort_spend_migration",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val o = orders(s, d).select(col("o_custkey").as("c"),
          col("o_orderdate").cast("date").as("dt"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
        val bounds = o.agg(min("dt").as("d0"), max("dt").as("d1"))
          .select(expr("date_add(d0, CAST(datediff(d1, d0) div 2 " +
            "AS int))").as("mid"))
        val half = o.crossJoin(broadcast(bounds))
          .select(col("c"),
            when(col("dt") <= col("mid"), lit(1)).otherwise(lit(2))
              .as("half"), col("p"))
          .groupBy("c", "half")
          .agg((sum("p") * 100).cast("bigint").as("cents"))
          .withColumn("band",
            expr("CAST(length(bin(greatest(cents, 1))) - 1 AS int)"))
        val mig = half.groupBy("c")
          .agg(coalesce(max(when(col("half") === 1, col("band"))),
            lit(-1)).as("band_h1"),
            coalesce(max(when(col("half") === 2, col("band"))),
              lit(-1)).as("band_h2"))
          .groupBy("band_h1", "band_h2")
          .agg(count(lit(1)).as("n_customers"))
        val tot = mig.agg(sum("n_customers").as("total"))
        mig.crossJoin(broadcast(tot))
          .select(col("band_h1"), col("band_h2"), col("n_customers"),
            (expr("(n_customers * 1000000 + total div 2) div total")
              .cast("double") / 10000.0).as("share_pct"))
          .orderBy("band_h1", "band_h2")
      },
      """WITH o AS (
           SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS dt,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM orders),
         bounds AS (
           SELECT MIN(dt) + CAST(date_diff('day', MIN(dt), MAX(dt))
             // 2 AS INTEGER) AS mid
           FROM o),
         half AS (
           SELECT c, CASE WHEN dt <= (SELECT mid FROM bounds)
                          THEN 1 ELSE 2 END AS half, p
           FROM o),
         hs AS (
           SELECT c, half, CAST(SUM(p) * 100 AS BIGINT) AS cents
           FROM half GROUP BY 1, 2),
         banded AS (
           SELECT c, half,
                  CAST(length(bin(GREATEST(cents, 1))) - 1 AS INTEGER)
                    AS band
           FROM hs),
         pv AS (
           SELECT c,
                  COALESCE(MAX(CASE WHEN half = 1 THEN band END), -1)
                    AS band_h1,
                  COALESCE(MAX(CASE WHEN half = 2 THEN band END), -1)
                    AS band_h2
           FROM banded GROUP BY 1),
         mig AS (
           SELECT band_h1, band_h2,
                  CAST(COUNT(*) AS BIGINT) AS n_customers
           FROM pv GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(n_customers) AS BIGINT) AS total
                 FROM mig)
         SELECT band_h1, band_h2, n_customers,
                CAST((n_customers * 1000000
                      + (SELECT total FROM tot) // 2)
                     // (SELECT total FROM tot) AS DOUBLE) / 10000.0
                  AS share_pct
         FROM mig ORDER BY band_h1, band_h2"""),

    // BEHAVIORAL DIVERSITY HISTOGRAM — Simpson index 1 − Σp² of each
    // user's event-type mix (0 = single-type specialist, →0.8 =
    // uniform over 5 types), bucketed into 0.005 bands (the whole
    // population sits in [1−1/k − ε, 1−1/k] on a near-balanced type
    // mix, so coarse 0.1 bands would collapse to one row): the
    // population-shape view of engagement breadth next to
    // event_engagement_spectrum's volume curve. The per-user index is
    // an exact 1e-6-unit integer rational ((n²−Σc²)·1e6 + n² div 2)
    // div n², so the band assignment is an INTEGER division —
    // no float ever touches a band boundary. One user×type partial
    // agg + one user agg + the ≤11-row band agg.
    Q("event_diversity_index",
      (s, d) => {
        val ut = events(s, d)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("c"))
        // operand-widened products: a raw LONG (n²−Σc²)·1e6 overflows
        // at ~3e6 events per user — a plausible bot at corpus scale
        val per = ut.groupBy("user_id")
          .agg(sum("c").as("n"),
            sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("ssq"))
          .select(col("user_id"),
            expr("""((CAST(n AS DECIMAL(38,0)) * n - ssq) * 1000000
                     + (CAST(n AS DECIMAL(38,0)) * n) div 2)
                    div (CAST(n AS DECIMAL(38,0)) * n)""").as("div_u"))
        per.withColumn("band", expr("CAST(div_u div 5000 AS int)"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_users"),
            (min("div_u").cast("double") / 1.0e6).as("min_diversity"),
            (max("div_u").cast("double") / 1.0e6).as("max_diversity"))
          .orderBy("band")
      },
      """WITH ut AS (
           SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         per AS (
           SELECT user_id,
                  ((SUM(c) * SUM(c) - SUM(CAST(c AS HUGEINT) * c))
                     * 1000000
                   + (SUM(c) * SUM(c)) // 2) // (SUM(c) * SUM(c))
                    AS div_u
           FROM ut GROUP BY 1)
         SELECT CAST(div_u // 5000 AS INTEGER) AS band,
                CAST(COUNT(*) AS BIGINT) AS n_users,
                CAST(MIN(div_u) AS DOUBLE) / 1e6 AS min_diversity,
                CAST(MAX(div_u) AS DOUBLE) / 1e6 AS max_diversity
         FROM per GROUP BY 1 ORDER BY band"""),

    // HOUR-OF-DAY LOAD PROFILE per event type — the capacity-planning
    // heatmap (when do purchases vs errors actually happen?): share
    // of each type's volume per hour in 1e-4-unit integer divisions,
    // peak flagged by exact count equality against the type max
    // (ties flag every tied hour — deterministic, no rank pick).
    // One (hour, type) partial agg; the per-type max joins back
    // broadcast-sized.
    Q("event_hourly_profile",
      (s, d) => {
        val hv = events(s, d)
          .select(hour(col("ts")).cast("int").as("hr"),
            col("event_type"))
          .groupBy("hr", "event_type")
          .agg(count(lit(1)).as("n"))
        val byType = hv.groupBy("event_type")
          .agg(sum("n").as("tn"), max("n").as("mx"))
        hv.join(broadcast(byType), Seq("event_type"))
          .select(col("event_type"), col("hr"), col("n"),
            (expr("(n * 1000000 + tn div 2) div tn")
              .cast("double") / 10000.0).as("share_pct"),
            (col("n") === col("mx")).as("is_peak"))
          .orderBy("event_type", "hr")
      },
      """WITH hv AS (
           SELECT CAST(hour(ts) AS INTEGER) AS hr, event_type,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bt AS (
           SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn,
                  CAST(MAX(n) AS BIGINT) AS mx
           FROM hv GROUP BY 1)
         SELECT hv.event_type, hr, n,
                CAST((n * 1000000 + tn // 2) // tn AS DOUBLE)
                  / 10000.0 AS share_pct,
                n = mx AS is_peak
         FROM hv JOIN bt ON bt.event_type = hv.event_type
         ORDER BY hv.event_type, hr"""),

    // WILSON SCORE INTERVALS per experiment arm — the CI that stays
    // inside [0,1] at small n where the naive Wald interval doesn't
    // (the reason every A/B dashboard quotes Wilson): same arms and
    // conversion rule as ab_test, the closed-form
    // (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n) at z=1.96
    // spelled identically in both engines on exact integer counts —
    // deterministic doubles end to end, rounded once.
    Q("ab_wilson_ci",
      (s, d) => {
        val pu = events(s, d)
          .select(col("user_id"), col("event_type"), col("value"))
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 100.0, 1L).otherwise(0L)).as("conv"))
          .withColumn("arm",
            when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")))
        pu.groupBy("arm")
          .agg(count(lit(1)).as("n"), sum("conv").as("k"))
          .withColumn("p", col("k").cast("double") / col("n"))
          .withColumn("z2n", lit(1.96 * 1.96) / col("n"))
          .withColumn("ctr",
            (col("p") + col("z2n") / lit(2.0)) /
              (lit(1.0) + col("z2n")))
          .withColumn("hw",
            lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) /
              col("n") + col("z2n") / (lit(4.0) * col("n"))) /
              (lit(1.0) + col("z2n")))
          .select(col("arm"), col("n").as("n_users"),
            col("k").as("n_converted"),
            round(col("p"), 6).as("rate"),
            round(col("ctr") - col("hw"), 6).as("wilson_lo"),
            round(col("ctr") + col("hw"), 6).as("wilson_hi"))
          .orderBy("arm")
      },
      """WITH pu AS (
           SELECT user_id,
                  MAX(CASE WHEN event_type = 'purchase'
                           AND value > 100.0
                           THEN 1 ELSE 0 END) AS conv,
                  CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
                    AS arm
           FROM events GROUP BY user_id),
         agg AS (
           SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(conv) AS BIGINT) AS k
           FROM pu GROUP BY 1),
         w AS (
           SELECT arm, n, k,
                  CAST(k AS DOUBLE) / n AS p,
                  -- CAST both factors: DuckDB parses bare 1.96 as
                  -- DECIMAL and DECIMAL*DECIMAL is exact 3.8416,
                  -- while Spark's lit(1.96*1.96) is the double
                  -- 3.8415999999999997
                  (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / n
                    AS z2n
           FROM agg),
         c AS (
           SELECT arm, n, k, p, z2n,
                  (p + z2n / 2.0) / (1.0 + z2n) AS ctr,
                  1.96 * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n))
                    / (1.0 + z2n) AS hw
           FROM w)
         SELECT arm, n AS n_users, k AS n_converted,
                ROUND(p, 6) AS rate,
                ROUND(ctr - hw, 6) AS wilson_lo,
                ROUND(ctr + hw, 6) AS wilson_hi
         FROM c ORDER BY arm"""),

    // NEW-USER TRAFFIC SHARE per day — what fraction of each day's
    // events come from users inside their first 24 hours? The
    // growth-vs-retention mix in one series (a rising share means
    // acquisition is carrying volume). Per-user first-event time is
    // one user-keyed aggregate joined back (no window); "new" is an
    // exact integer µs comparison; shares are 1e-4-unit integer
    // divisions on the day grain.
    Q("event_newuser_share",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("t"), col("ts").cast("date").as("day"))
        val first = ev.groupBy("user_id").agg(min("t").as("t0"))
        ev.join(first, Seq("user_id"))
          .withColumn("is_new",
            when(col("t") - col("t0") < 86400000000L, 1L)
              .otherwise(0L))
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum("is_new").as("n_new_user_events"))
          .select(col("day"), col("n_events"), col("n_new_user_events"),
            // per-day event counts × 1e6 widened (overflow at ~9e12
            // events/day raw)
            (expr("""(CAST(n_new_user_events AS DECIMAL(38,0)) * 1000000
                     + n_events div 2) div n_events""")
              .cast("double") / 10000.0)
              .as("new_share_pct"))
          .orderBy("day")
      },
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) AS t, CAST(ts AS DATE) AS day
           FROM events),
         f AS (SELECT user_id, MIN(t) AS t0 FROM ev GROUP BY 1),
         flagged AS (
           SELECT day,
                  CASE WHEN t - t0 < 86400000000 THEN 1 ELSE 0 END
                    AS is_new
           FROM ev JOIN f USING (user_id))
         SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(SUM(is_new) AS BIGINT) AS n_new_user_events,
                CAST((CAST(SUM(is_new) AS HUGEINT) * 1000000
                      + COUNT(*) // 2) // COUNT(*) AS DOUBLE)
                  / 10000.0 AS new_share_pct
         FROM flagged GROUP BY 1 ORDER BY day"""),

    // ATTRIBUTION-WINDOW SENSITIVITY SWEEP — how many purchases a
    // click-attribution model claims under a 15-minute / 1-hour /
    // 6-hour lookback, measured in ONE pass: the pair join runs once
    // at the WIDEST window, the per-purchase best (smallest) gap is
    // one keyed min, and the tighter windows are conditional counts
    // on that gap — never three joins. The spread between the counts
    // is the model-risk number an attribution consumer reads before
    // picking a window.
    Q("event_attribution_window_sweep",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_id"),
          col("event_type"), unix_micros(col("ts")).as("t"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("t").as("c_t"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            col("t").as("p_t"))
        val nPurch = purch.agg(count(lit(1)).as("n_purchases"))
        purch.join(clicks, Seq("user_id"))
          .filter(col("c_t") < col("p_t") &&
            col("p_t") - col("c_t") <= 21600000000L)
          .groupBy("p_id")
          .agg(min(col("p_t") - col("c_t")).as("best_gap"))
          .agg(count(lit(1)).as("n_6h"),
            sum(when(col("best_gap") <= 3600000000L, 1L).otherwise(0L))
              .as("n_1h"),
            sum(when(col("best_gap") <= 900000000L, 1L).otherwise(0L))
              .as("n_15m"))
          .crossJoin(broadcast(nPurch))
          .select("n_6h", "n_1h", "n_15m", "n_purchases")
      },
      """WITH clicks AS (SELECT user_id, epoch_us(ts) AS c_t
           FROM events WHERE event_type = 'click'),
         purch AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_t
           FROM events WHERE event_type = 'purchase'),
         pairs AS (SELECT p_id, min(p_t - c_t) AS best_gap
           FROM purch JOIN clicks USING (user_id)
           WHERE c_t < p_t AND p_t - c_t <= 21600000000
           GROUP BY p_id)
         SELECT CAST(count(*) AS BIGINT) AS n_6h,
                CAST(sum(CASE WHEN best_gap <= 3600000000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_1h,
                CAST(sum(CASE WHEN best_gap <= 900000000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_15m,
                (SELECT CAST(count(*) AS BIGINT) FROM purch)
                  AS n_purchases
         FROM pairs"""),

    // FANO FACTOR (variance-to-mean of daily COUNTS per event type) —
    // the count-process overdispersion test: Poisson traffic has
    // VMR≈1, campaign-driven bursts push it above. Complements
    // event_interarrival_burstiness (which works on GAPS). VMR =
    // (nΣc²−S²)/((n−1)S) is nonnegative by Cauchy–Schwarz, so the
    // 1e-4-unit integer division needs no sign split; the
    // overdispersion flag is the exact cross-multiplied comparison.
    Q("event_fano_factor",
      (s, d) => events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("dy"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        // S² and Σc² are corpus² — operand-cast to DECIMAL(38,0)
        // (raw LONG s·s overflows at ~3e9 events per type)
        .agg(count(lit(1)).as("n"), sum("c").as("s"),
          sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("s2"))
        .select(col("event_type"), col("n"), col("s"),
          expr("""((n*s2 - CAST(s AS DECIMAL(38,0))*s) * 10000
                   + ((n-1)*s) div 2)
                  div ((n-1)*s) / 10000.0D""").as("fano"),
          expr("(n*s2 - CAST(s AS DECIMAL(38,0))*s) > (n-1)*s")
            .as("overdispersed"))
        .orderBy("event_type"),
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dy,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(c) AS BIGINT) AS s,
                      sum(CAST(c AS HUGEINT) * c) AS s2
               FROM d GROUP BY 1)
         SELECT event_type, n, s,
                ((n*s2 - CAST(s AS HUGEINT)*s) * 10000
                  + ((n-1)*s) // 2) // ((n-1)*s)
                  / 10000.0 AS fano,
                (n*s2 - CAST(s AS HUGEINT)*s) > (n-1)*s AS overdispersed
         FROM g ORDER BY event_type"""),

    // REVENUE BRIDGE (MRR waterfall) — the board-deck decomposition:
    // each month's net revenue change split into new / expansion /
    // contraction / churned, reconciling exactly because every cent
    // lands in exactly one bucket. NO dense customer×month grid: the
    // sparse (customer, month) relation FULL-OUTER-joins itself on
    // (k, m = prev_m + 1 month), so absent months surface as the
    // zero side. Exact integer cents throughout; net_change is the
    // identity check Σcur − Σprev.
    Q("revenue_bridge",
      (s, d) => {
        val cm = orders(s, d)
          .groupBy(col("o_custkey").as("k"),
            date_trunc("month", col("o_orderdate")).cast("date").as("m"))
          .agg(expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("c"))
        val prev = cm.select(col("k"),
          add_months(col("m"), 1).as("m"), col("c").as("prev"))
        cm.withColumnRenamed("c", "cur")
          .join(prev, Seq("k", "m"), "full_outer")
          .select(col("m"),
            coalesce(col("cur"), lit(0L)).as("cur"),
            coalesce(col("prev"), lit(0L)).as("prev"))
          .groupBy("m")
          .agg(
            expr("CAST(sum(CASE WHEN prev = 0 THEN cur ELSE 0 END)" +
              " AS BIGINT) / 100.0D").as("new_rev"),
            expr("""CAST(sum(CASE WHEN prev > 0 AND cur > prev
                    THEN cur - prev ELSE 0 END) AS BIGINT) / 100.0D""")
              .as("expansion"),
            expr("""CAST(-sum(CASE WHEN cur > 0 AND cur < prev
                    THEN prev - cur ELSE 0 END) AS BIGINT) / 100.0D""")
              .as("contraction"),
            expr("CAST(-sum(CASE WHEN cur = 0 THEN prev ELSE 0 END)" +
              " AS BIGINT) / 100.0D").as("churned"),
            expr("CAST(sum(cur) - sum(prev) AS BIGINT) / 100.0D")
              .as("net_change"))
          .orderBy("m")
      },
      """WITH cm AS (SELECT o_custkey AS k,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)
               AS c
           FROM orders GROUP BY 1, 2),
         j AS (SELECT coalesce(a.m, CAST(b.m + INTERVAL 1 MONTH AS DATE))
                 AS m,
                 coalesce(a.c, 0) AS cur, coalesce(b.c, 0) AS prev
               FROM cm a FULL JOIN cm b
                 ON a.k = b.k
                AND a.m = CAST(b.m + INTERVAL 1 MONTH AS DATE))
         SELECT m,
           CAST(sum(CASE WHEN prev = 0 THEN cur ELSE 0 END) AS BIGINT)
             / 100.0 AS new_rev,
           CAST(sum(CASE WHEN prev > 0 AND cur > prev THEN cur - prev
             ELSE 0 END) AS BIGINT) / 100.0 AS expansion,
           CAST(-sum(CASE WHEN cur > 0 AND cur < prev THEN prev - cur
             ELSE 0 END) AS BIGINT) / 100.0 AS contraction,
           CAST(-sum(CASE WHEN cur = 0 THEN prev ELSE 0 END) AS BIGINT)
             / 100.0 AS churned,
           CAST(sum(cur) - sum(prev) AS BIGINT) / 100.0 AS net_change
         FROM j GROUP BY m ORDER BY m"""),

    // USER LIFECYCLE STATES (new / retained / resurrected per week) —
    // the growth-accounting classification on weekly PURCHASE
    // activity (purchases are sparse enough to churn; raw events
    // aren't). One distinct (user, week) relation, a per-user lag
    // (key-partitioned window over ≤#weeks rows), first-week via a
    // keyed min — the state logic is pure date arithmetic.
    Q("event_lifecycle_states",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val uw = events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("w"))
          .distinct()
        val fw = uw.groupBy("user_id").agg(min("w").as("first_w"))
        uw.join(fw, Seq("user_id"))
          .withColumn("prev_w",
            lag("w", 1).over(Window.partitionBy("user_id").orderBy("w")))
          .select(col("w"),
            expr("""CASE WHEN w = first_w THEN 'new'
                         WHEN prev_w = date_sub(w, 7) THEN 'retained'
                         ELSE 'resurrected' END""").as("state"))
          .groupBy("w", "state")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("w", "state")
      },
      """WITH uw AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS w
           FROM events WHERE event_type = 'purchase'),
         fw AS (SELECT user_id, min(w) AS first_w FROM uw GROUP BY 1),
         lagd AS (SELECT uw.user_id, w, first_w,
             lag(w) OVER (PARTITION BY uw.user_id ORDER BY w) AS prev_w
           FROM uw JOIN fw ON uw.user_id = fw.user_id),
         st AS (SELECT w,
             CASE WHEN w = first_w THEN 'new'
                  WHEN prev_w = CAST(w - INTERVAL 7 DAY AS DATE)
                    THEN 'retained'
                  ELSE 'resurrected' END AS state
           FROM lagd)
         SELECT w, state, CAST(count(*) AS BIGINT) AS n_users
         FROM st GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ABANDONED-INTENT RATE — clicks with NO purchase by the same
    // user within the next hour, per day: the anti-join twin of the
    // attribution pair join (same time-window predicate, LEFT ANTI
    // instead of INNER). The user_id equi-term keeps the anti join an
    // equi-join with a residual range filter — never a cartesian.
    Q("event_abandoned_clicks",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_id"),
          col("event_type"), unix_micros(col("ts")).as("t"),
          col("ts").cast("date").as("dy"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("c_id"),
            col("t").as("c_t"), col("dy"))
        val purch = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("t").as("p_t"))
        val abandoned = clicks.join(purch,
          clicks("user_id") === purch("user_id") &&
            col("p_t") > col("c_t") &&
            col("p_t") <= col("c_t") + 3600000000L, "left_anti")
        clicks.groupBy("dy").agg(count(lit(1)).as("n_clicks"))
          .join(abandoned.groupBy("dy")
            .agg(count(lit(1)).as("n_abandoned")), Seq("dy"), "left")
          .select(col("dy"), col("n_clicks"),
            coalesce(col("n_abandoned"), lit(0L)).as("n_abandoned"),
            expr("""(coalesce(n_abandoned, 0L) * 10000
                     + n_clicks div 2) div n_clicks / 10000.0D""")
              .as("abandon_rate"))
          .orderBy("dy")
      },
      """WITH clicks AS (SELECT user_id, event_id AS c_id,
             epoch_us(ts) AS c_t, CAST(ts AS DATE) AS dy
           FROM events WHERE event_type = 'click'),
         purch AS (SELECT user_id, epoch_us(ts) AS p_t
           FROM events WHERE event_type = 'purchase'),
         ab AS (SELECT c.dy, count(*) AS n_abandoned
           FROM clicks c
           WHERE NOT EXISTS (SELECT 1 FROM purch p
             WHERE p.user_id = c.user_id AND p.p_t > c.c_t
               AND p.p_t <= c.c_t + 3600000000)
           GROUP BY c.dy),
         cl AS (SELECT dy, CAST(count(*) AS BIGINT) AS n_clicks
                FROM clicks GROUP BY dy)
         SELECT cl.dy, n_clicks,
                CAST(coalesce(n_abandoned, 0) AS BIGINT) AS n_abandoned,
                (coalesce(n_abandoned, 0) * 10000 + n_clicks // 2)
                  // n_clicks / 10000.0 AS abandon_rate
         FROM cl LEFT JOIN ab ON cl.dy = ab.dy
         ORDER BY cl.dy"""),

    // ACTIVITY CONCENTRATION — how much of total traffic the heavy
    // users (>2× mean activity, exact cross-multiplication) account
    // for: the power-user dependency number behind capacity planning
    // and ToS-abuse screens. One user-keyed aggregate, one 1-row
    // broadcast of the global totals, exact 1e-4-unit shares.
    Q("event_activity_concentration",
      (s, d) => {
        val perUser = events(s, d).groupBy("user_id")
          .agg(count(lit(1)).as("c"))
        val g = perUser.agg(count(lit(1)).as("nu"), sum("c").as("ne"))
        perUser.crossJoin(broadcast(g))
          .withColumn("heavy", expr("c * nu > 2 * ne"))
          .agg(first("nu").as("n_users"), first("ne").as("n_events"),
            sum(when(col("heavy"), 1L).otherwise(0L)).as("n_heavy"),
            sum(when(col("heavy"), col("c")).otherwise(0L))
              .as("heavy_events"))
          .select(col("n_users"), col("n_events"), col("n_heavy"),
            expr("(n_heavy * 10000 + n_users div 2) div n_users" +
              " / 10000.0D").as("heavy_user_share"),
            expr("(heavy_events * 10000 + n_events div 2) div n_events" +
              " / 10000.0D").as("heavy_event_share"))
      },
      """WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1),
         g AS (SELECT CAST(count(*) AS BIGINT) AS nu,
                      CAST(sum(c) AS BIGINT) AS ne FROM pu),
         f AS (SELECT c, nu, ne, c * nu > 2 * ne AS heavy
               FROM pu CROSS JOIN g)
         SELECT min(nu) AS n_users, min(ne) AS n_events,
                CAST(sum(CASE WHEN heavy THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_heavy,
                (sum(CASE WHEN heavy THEN 1 ELSE 0 END) * 10000
                 + min(nu) // 2) // min(nu) / 10000.0
                  AS heavy_user_share,
                (sum(CASE WHEN heavy THEN c ELSE 0 END) * 10000
                 + min(ne) // 2) // min(ne) / 10000.0
                  AS heavy_event_share
         FROM f"""),

    // MANN–WHITNEY U (rank-sum) A/B test on the per-user spend metric
    // — the nonparametric twin of ab_test for skewed metrics where
    // the t-test's normality is a lie. Ranks come from the VALUE
    // HISTOGRAM, never a corpus-sized rank window: doubled midrank
    // 2·r(v) = 2·|{<v}| + |{=v}| + 1 over distinct cent totals (value-
    // domain-bounded), tie-corrected σ² from the same histogram
    // (Σ t³−t), everything integral until the final z. At 100 TB the
    // only ordered structure is the distinct-value relation.
    Q("ab_mann_whitney",
      (s, d) => {
        val pu = events(s, d)
          .groupBy("user_id")
          .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)"))
            .as("cents"))
          .select(col("cents"), (col("user_id") % 2).as("arm"))
        val hist = pu.groupBy("cents")
          .agg(count(lit(1)).as("t"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("t1"))
        val w = Window.orderBy("cents")
        val ranked = hist.withColumn("cum", sum(col("t")).over(w))
          .select(col("t"), col("t1"),
            (lit(2) * (col("cum") - col("t")) + col("t") + 1).as("mr2"))
        // rank-sum and tie-cube PRODUCTS in DECIMAL(38,0): the cast
        // must land on an OPERAND, not the finished product — a
        // BIGINT t1·mr2 or t³ would overflow (ANSI throw) before the
        // cast ever ran, at t≈2.1e6 tied values. Oracle mirrors with
        // HUGEINT operand casts (exact 128-bit products).
        ranked.agg(
            sum(col("t") - col("t1")).as("n0"),
            sum(col("t1")).as("n1"),
            sum(col("t1").cast(DecimalType(38, 0)) * col("mr2"))
              .as("r1_2"),
            sum(col("t").cast(DecimalType(38, 0)) * col("t") * col("t")
              - col("t")).as("ties"))
          .select(col("n0"), col("n1"),
            // 2·U1 = 2·R1 − n1(n1+1); U1 printed in half-units (exact).
            // n1(n1+1) needs the same operand widening as the sums:
            // LONG n1·(n1+1) overflows past ~3e9 arm-1 users.
            ((col("r1_2") -
              col("n1").cast(DecimalType(38, 0)) * (col("n1") + 1)) / 2.0)
              .as("u1"),
            round(((col("r1_2") -
                col("n1").cast(DecimalType(38, 0)) * (col("n1") + 1))
                .cast("double") -
                col("n0").cast("double") * col("n1")) /
              (lit(2.0) * sqrt(
                col("n0").cast("double") * col("n1").cast("double") /
                  12.0 *
                ((col("n0") + col("n1") + 1).cast("double") -
                  col("ties").cast("double") /
                    ((col("n0") + col("n1")).cast("double") *
                      (col("n0") + col("n1") - 1).cast("double"))))),
              4).as("z"))
      },
      """WITH pu AS (
           SELECT SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT))
                    AS cents,
                  MIN(user_id % 2) AS arm
           FROM events GROUP BY user_id),
         hist AS (
           SELECT cents, COUNT(*) AS t,
                  SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS t1
           FROM pu GROUP BY 1),
         ranked AS (
           SELECT t, t1,
                  2 * (SUM(t) OVER (ORDER BY cents) - t) + t + 1 AS mr2
           FROM hist),
         m AS (
           SELECT SUM(t - t1) AS n0, SUM(t1) AS n1,
                  SUM(CAST(t1 AS HUGEINT) * mr2) AS r1_2,
                  SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
           FROM ranked)
         SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
                (r1_2 - n1 * (n1 + 1)) / 2.0 AS u1,
                ROUND((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE)
                     - CAST(n0 AS DOUBLE) * n1)
                  / (2.0 * sqrt(
                      CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0
                      * (CAST(n0 + n1 + 1 AS DOUBLE)
                         - CAST(ties AS DOUBLE)
                           / (CAST(n0 + n1 AS DOUBLE)
                              * CAST(n0 + n1 - 1 AS DOUBLE))))),
                  4) AS z
         FROM m"""),

    // DELTA-METHOD CI for a RATIO metric (revenue per purchase event)
    // — the A/B inference ab_test can't do: per-user revenue and
    // event counts are correlated cluster totals, so Var(ΣY/ΣK) needs
    // the delta expansion (σ_y² − 2R·σ_yk + R²·σ_k²)/(n·μ_k²), not a
    // row-level variance. Everything reduces to exact decimal moments
    // per arm (n, Σy, Σk, Σy², Σk², Σyk) cast to double once —
    // identical on both engines; one corpus pass.
    Q("ab_delta_method",
      (s, d) => {
        val pu = events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(
            sum(expr("CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)"))
              .as("y"),
            count(lit(1)).as("k"))
          .select((col("user_id") % 2).as("arm"), col("y"), col("k"))
        val m = pu.groupBy("arm").agg(
          count(lit(1)).as("n"),
          sum(col("y")).as("sy"), sum(col("k")).as("sk"),
          // operand cast BEFORE the multiply: a BIGINT y·y would
          // overflow before a post-hoc cast could widen it
          sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"),
          sum(col("k").cast(DecimalType(38, 0)) * col("k")).as("skk"),
          sum(col("y").cast(DecimalType(38, 0)) * col("k")).as("syk"))
        val stats = m.select(col("arm"), col("n"),
          (col("sy").cast("double") / col("sk")).as("ratio"),
          ((col("syy").cast("double") / col("n") -
            (col("sy").cast("double") / col("n")) *
              (col("sy").cast("double") / col("n"))) -
            lit(2.0) * (col("sy").cast("double") / col("sk")) *
              (col("syk").cast("double") / col("n") -
                (col("sy").cast("double") / col("n")) *
                  (col("sk").cast("double") / col("n"))) +
            (col("sy").cast("double") / col("sk")) *
              (col("sy").cast("double") / col("sk")) *
              (col("skk").cast("double") / col("n") -
                (col("sk").cast("double") / col("n")) *
                  (col("sk").cast("double") / col("n"))))
            .as("s2"),
          (col("sk").cast("double") / col("n")).as("mk"))
        stats.select(col("arm"), col("n"),
            round(col("ratio") / 100.0, 6).as("rev_per_purchase"),
            round(sqrt(col("s2") / (col("n").cast("double") *
              col("mk") * col("mk"))) / 100.0, 6).as("se"))
          .orderBy("arm")
      },
      """WITH pu AS (
           SELECT user_id % 2 AS arm,
                  SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT))
                    AS y,
                  COUNT(*) AS k
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         m AS (
           SELECT arm, COUNT(*) AS n, SUM(y) AS sy, SUM(k) AS sk,
                  SUM(CAST(y AS HUGEINT) * y) AS syy,
                  SUM(CAST(k AS HUGEINT) * k) AS skk,
                  SUM(CAST(y AS HUGEINT) * k) AS syk
           FROM pu GROUP BY 1),
         stats AS (
           SELECT arm, n,
                  CAST(sy AS DOUBLE) / sk AS ratio,
                  (CAST(syy AS DOUBLE) / n
                     - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                  - 2.0 * (CAST(sy AS DOUBLE) / sk)
                    * (CAST(syk AS DOUBLE) / n
                       - (CAST(sy AS DOUBLE) / n) * (CAST(sk AS DOUBLE) / n))
                  + (CAST(sy AS DOUBLE) / sk) * (CAST(sy AS DOUBLE) / sk)
                    * (CAST(skk AS DOUBLE) / n
                       - (CAST(sk AS DOUBLE) / n) * (CAST(sk AS DOUBLE) / n))
                    AS s2,
                  CAST(sk AS DOUBLE) / n AS mk
           FROM m)
         SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n,
                ROUND(ratio / 100.0, 6) AS rev_per_purchase,
                ROUND(sqrt(s2 / (CAST(n AS DOUBLE) * mk * mk)) / 100.0, 6)
                  AS se
         FROM stats ORDER BY arm"""),

    // ODDS RATIO + Woolf log-CI on the 2×2 (arm × converted) table —
    // the epidemiology-style effect size next to ab_test's absolute
    // difference and ab_wilson_ci's per-arm bounds: OR = ad/bc with
    // CI exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)). Four conditional
    // counts in one corpus pass; every double derives from the same
    // four integers on both engines.
    Q("ab_odds_ratio",
      (s, d) => {
        val pu = events(s, d).groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 100.0, 1L).otherwise(0L)).as("conv"))
          .select((col("user_id") % 2 === 1).as("treat"), col("conv"))
        pu.agg(
            sum(when(col("treat") && col("conv") === 1, 1L)
              .otherwise(0L)).as("a"),
            sum(when(col("treat") && col("conv") === 0, 1L)
              .otherwise(0L)).as("b"),
            sum(when(!col("treat") && col("conv") === 1, 1L)
              .otherwise(0L)).as("c"),
            sum(when(!col("treat") && col("conv") === 0, 1L)
              .otherwise(0L)).as("dd"))
          .select(col("a"), col("b"), col("c"), col("dd").as("d"),
            round(col("a").cast("double") * col("dd") /
              (col("b").cast("double") * col("c")), 6)
              .as("odds_ratio"),
            round(exp(log(col("a").cast("double") * col("dd") /
                (col("b").cast("double") * col("c"))) -
              lit(1.96) * sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
                lit(1.0) / col("c") + lit(1.0) / col("dd"))), 6)
              .as("ci_lo"),
            round(exp(log(col("a").cast("double") * col("dd") /
                (col("b").cast("double") * col("c"))) +
              lit(1.96) * sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
                lit(1.0) / col("c") + lit(1.0) / col("dd"))), 6)
              .as("ci_hi"))
      },
      """WITH pu AS (
           SELECT (user_id % 2 = 1) AS treat,
                  MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
                    THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY user_id),
         t AS (SELECT
             SUM(CASE WHEN treat AND conv = 1 THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN treat AND conv = 0 THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN NOT treat AND conv = 1 THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN NOT treat AND conv = 0 THEN 1 ELSE 0 END) AS dd
           FROM pu)
         SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
                CAST(c AS BIGINT) AS c, CAST(dd AS BIGINT) AS d,
                ROUND(CAST(a AS DOUBLE) * dd
                  / (CAST(b AS DOUBLE) * c), 6) AS odds_ratio,
                ROUND(exp(ln(CAST(a AS DOUBLE) * dd
                    / (CAST(b AS DOUBLE) * c))
                  - 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/dd)), 6)
                  AS ci_lo,
                ROUND(exp(ln(CAST(a AS DOUBLE) * dd
                    / (CAST(b AS DOUBLE) * c))
                  + 1.96 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/dd)), 6)
                  AS ci_hi
         FROM t"""),

    // COHEN'S d (+ Hedges' g small-sample correction) — the
    // standardized effect size the ab_test p-value doesn't give you
    // ("significant" at 10⁹ users can mean d = 0.001): pooled-SD mean
    // difference on the per-user spend metric. Per-arm exact decimal
    // moments (n, Σ, Σ²) in one aggregate; every double derives from
    // the same integers on both engines.
    Q("ab_cohens_d",
      (s, d) => {
        val pu = userSpendByArm(s, d)
        pu.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 0, col("cents")).otherwise(0L))
              .as("s0"),
            sum(when(col("arm") === 1, col("cents")).otherwise(0L))
              .as("s1"),
            sum(when(col("arm") === 0,
              col("cents").cast(DecimalType(38, 0)) * col("cents"))
              .otherwise(lit(0).cast(DecimalType(38, 0)))).as("q0"),
            sum(when(col("arm") === 1,
              col("cents").cast(DecimalType(38, 0)) * col("cents"))
              .otherwise(lit(0).cast(DecimalType(38, 0)))).as("q1"))
          .selectExpr("n0", "n1",
            """ROUND((CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0)
                 / 100.0, 4) + 0.0D AS mean_diff""",
            """ROUND((CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0)
                 / sqrt(((CAST(q0 AS DOUBLE)
                          - CAST(s0 AS DOUBLE)*s0/n0)
                       + (CAST(q1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE)*s1/n1))
                        / (n0 + n1 - 2)), 6) + 0.0D AS cohens_d""",
            """ROUND(((CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0)
                 / sqrt(((CAST(q0 AS DOUBLE)
                          - CAST(s0 AS DOUBLE)*s0/n0)
                       + (CAST(q1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE)*s1/n1))
                        / (n0 + n1 - 2)))
                 * (1.0D - 3.0D / (4.0D * (n0 + n1) - 9.0D)), 6)
               + 0.0D AS hedges_g""")
      },
      s"""WITH $UserSpendCte,
         m AS (SELECT
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END) AS s0,
             SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END) AS s1,
             SUM(CASE WHEN arm = 0
               THEN CAST(cents AS HUGEINT) * cents
               ELSE CAST(0 AS HUGEINT) END) AS q0,
             SUM(CASE WHEN arm = 1
               THEN CAST(cents AS HUGEINT) * cents
               ELSE CAST(0 AS HUGEINT) END) AS q1
           FROM pu)
         SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
                ROUND((CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0)
                  / 100.0, 4) + 0.0 AS mean_diff,
                ROUND((CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0)
                  / sqrt(((CAST(q0 AS DOUBLE)
                           - CAST(s0 AS DOUBLE)*s0/n0)
                        + (CAST(q1 AS DOUBLE)
                           - CAST(s1 AS DOUBLE)*s1/n1))
                         / (n0 + n1 - 2)), 6) + 0.0 AS cohens_d,
                ROUND(((CAST(s1 AS DOUBLE)/n1 - CAST(s0 AS DOUBLE)/n0)
                  / sqrt(((CAST(q0 AS DOUBLE)
                           - CAST(s0 AS DOUBLE)*s0/n0)
                        + (CAST(q1 AS DOUBLE)
                           - CAST(s1 AS DOUBLE)*s1/n1))
                         / (n0 + n1 - 2)))
                  * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0)), 6)
                + 0.0 AS hedges_g
         FROM m"""),

    // LORENZ DECILE TABLE — the dashboard form of the Gini screens
    // (pareto_gini_banded gives the coefficient; this gives the curve
    // points a revenue team reads): customers ranked into spend
    // deciles WITHOUT a corpus rank window — deciles derive from the
    // doubled-midrank value histogram (the ml_spearman_corr
    // discipline), spend shares are exact integer basis points.
    Q("pareto_lorenz_deciles",
      (s, d) => {
        val cust = orders(s, d).groupBy("o_custkey")
          .agg(sum(expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)"))
            .as("cents"))
        val hist = cust.groupBy("cents").agg(count(lit(1)).as("t"),
          sum(col("cents")).as("sc"))
        val w = Window.orderBy("cents")
        val tot = cust.agg(count(lit(1)).as("n"),
          sum(col("cents")).as("total"))
        hist.withColumn("cum", sum(col("t")).over(w))
          .select(col("t"), col("sc"),
            (lit(2) * (col("cum") - col("t")) + col("t") + 1).as("mr2"))
          .crossJoin(broadcast(tot))
          .withColumn("decile",
            expr("(mr2 - 1) * 10 div (2 * n) + 1").cast("int"))
          .groupBy("decile")
          // share in DECIMAL(38,0) units: total-cents × 10⁴ overflows
          // BIGINT past ~10^15 cents of corpus revenue
          .agg(sum(col("t")).as("n_customers"),
            expr("""(CAST(sum(sc) AS DECIMAL(38,0)) * 10000
                     + min(total) div 2)
                    div min(total) / 10000.0D""").as("spend_share"))
          .orderBy("decile")
      },
      """WITH cust AS (
           SELECT o_custkey,
                  SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100
                    AS BIGINT)) AS cents
           FROM orders GROUP BY 1),
         hist AS (SELECT cents, COUNT(*) AS t, SUM(cents) AS sc
                  FROM cust GROUP BY 1),
         tot AS (SELECT COUNT(*) AS n, SUM(cents) AS total FROM cust),
         ranked AS (
           SELECT t, sc,
                  2 * (SUM(t) OVER (ORDER BY cents) - t) + t + 1 AS mr2
           FROM hist),
         dec AS (
           SELECT CAST((mr2 - 1) * 10 // (2 * n) + 1 AS INT) AS decile,
                  t, sc, total
           FROM ranked, tot)
         SELECT decile, CAST(SUM(t) AS BIGINT) AS n_customers,
                (CAST(SUM(sc) AS HUGEINT) * 10000
                 + MIN(total) // 2) // MIN(total)
                  / 10000.0 AS spend_share
         FROM dec GROUP BY 1 ORDER BY decile"""),

    // POWER / MDE PLANNER — "how big an effect can this experiment
    // even see?": from the observed per-user metric variance, the
    // minimum detectable effect at α=.05 / power .80 is
    // (z_{.975}+z_{.80})·√(2σ̂²/n) = 2.8016·√(2σ̂²/n). The planning
    // half of the ab family (ab_test judges after the fact; this
    // sizes the NEXT test). One aggregate of exact decimal moments.
    Q("ab_power_mde",
      (s, d) => {
        val pu = userSpendByArm(s, d)
        pu.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
            sum(col("cents")).as("s"),
            sum(col("cents").cast(DecimalType(38, 0)) * col("cents"))
              .as("q"))
          .selectExpr("n0", "n1",
            """ROUND(CAST(s AS DOUBLE) / (n0 + n1) / 100.0, 4)
                 + 0.0D AS mean_spend""",
            """ROUND(sqrt((CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * s / (n0 + n1))
                  / (n0 + n1 - 1)) / 100.0, 4) + 0.0D AS sd_spend""",
            """ROUND(2.8016D * sqrt(2.0D * ((CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * s / (n0 + n1))
                  / (n0 + n1 - 1)) / least(n0, n1)) / 100.0, 4)
               + 0.0D AS mde_abs""",
            """ROUND(2.8016D * sqrt(2.0D * ((CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * s / (n0 + n1))
                  / (n0 + n1 - 1)) / least(n0, n1))
                 / (CAST(s AS DOUBLE) / (n0 + n1)), 6)
               + 0.0D AS mde_rel""")
      },
      s"""WITH $UserSpendCte,
         m AS (SELECT
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(cents) AS s,
             SUM(CAST(cents AS HUGEINT) * cents) AS q
           FROM pu)
         SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
                ROUND(CAST(s AS DOUBLE) / (n0 + n1) / 100.0, 4)
                  + 0.0 AS mean_spend,
                ROUND(sqrt((CAST(q AS DOUBLE)
                    - CAST(s AS DOUBLE) * s / (n0 + n1))
                   / (n0 + n1 - 1)) / 100.0, 4) + 0.0 AS sd_spend,
                ROUND(2.8016 * sqrt(2.0 * ((CAST(q AS DOUBLE)
                    - CAST(s AS DOUBLE) * s / (n0 + n1))
                   / (n0 + n1 - 1)) / least(n0, n1)) / 100.0, 4)
                + 0.0 AS mde_abs,
                ROUND(2.8016 * sqrt(2.0 * ((CAST(q AS DOUBLE)
                    - CAST(s AS DOUBLE) * s / (n0 + n1))
                   / (n0 + n1 - 1)) / least(n0, n1))
                  / (CAST(s AS DOUBLE) / (n0 + n1)), 6)
                + 0.0 AS mde_rel
         FROM m"""),

    // SEQUENTIAL PROBABILITY RATIO TEST (Wald SPRT) on the treatment
    // arm's user-conversion rate — the always-valid monitoring view
    // the fixed-horizon ab family can't give ("when could we have
    // stopped?"): per entry day, cumulative users/converters and the
    // binomial log-likelihood ratio for H1: p=.10 vs H0: p=.08, with
    // the Wald boundaries at alpha=.05 / beta=.20. LLR = k·ln(p1/p0)
    // + (n−k)·ln((1−p1)/(1−p0)) — exact BIGINT cumulative counts
    // times the SAME literal libm constants on both engines, so the
    // doubles are bit-identical; the decision compares UNrounded.
    // One user aggregate + day-grain rollup + a cumulative window
    // over the calendar-bounded day relation (census: day grain).
    Q("ab_sequential_sprt",
      (s, d) => {
        val pu = events(s, d).groupBy("user_id")
          .agg(min(col("ts").cast("date")).as("day"),
            max(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("conv"))
          .filter(col("user_id") % 2 === 1)
        val daily = pu.groupBy("day")
          .agg(count(lit(1)).as("n_d"), sum("conv").as("k_d"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily
          .withColumn("n", sum("n_d").over(w))
          .withColumn("k", sum("k_d").over(w))
          .select(col("day"), col("n"), col("k"),
            // D suffixes force IEEE double division: Spark otherwise
            // divides the bare literals as DECIMALs truncated at
            // scale 6 (ln arg 0.978261 vs 0.97826086…) while DuckDB
            // promotes to DOUBLE — a 1.3e-7/unit coefficient skew the
            // tiny-SF gates can't see because k=n there
            (round(expr("""k * ln(0.10D/0.08D)
                           + (n - k) * ln(0.90D/0.92D)"""), 6) + lit(0.0))
              .as("llr"),
            expr("""CASE WHEN k * ln(0.10D/0.08D)
                           + (n - k) * ln(0.90D/0.92D) >= ln(0.80D/0.05D)
                         THEN 'accept_h1'
                         WHEN k * ln(0.10D/0.08D)
                           + (n - k) * ln(0.90D/0.92D) <= ln(0.20D/0.95D)
                         THEN 'accept_h0'
                         ELSE 'continue' END""").as("decision"))
          .orderBy("day")
      },
      """WITH pu AS (
           SELECT user_id, MIN(CAST(ts AS DATE)) AS day,
                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) AS conv
           FROM events GROUP BY 1),
         daily AS (
           SELECT day, COUNT(*) AS n_d, SUM(conv) AS k_d
           FROM pu WHERE user_id % 2 = 1 GROUP BY 1),
         cum AS (
           SELECT day,
                  CAST(SUM(n_d) OVER (ORDER BY day) AS BIGINT) AS n,
                  CAST(SUM(k_d) OVER (ORDER BY day) AS BIGINT) AS k
           FROM daily)
         SELECT day, n, k,
                ROUND(k * ln(0.10/0.08)
                      + (n - k) * ln(0.90/0.92), 6) + 0.0 AS llr,
                CASE WHEN k * ln(0.10/0.08)
                       + (n - k) * ln(0.90/0.92) >= ln(0.80/0.05)
                     THEN 'accept_h1'
                     WHEN k * ln(0.10/0.08)
                       + (n - k) * ln(0.90/0.92) <= ln(0.20/0.95)
                     THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM cum ORDER BY day"""),

    // COCHRAN–MANTEL–HAENSZEL stratified odds ratio — the pooled
    // treatment-effect estimate that survives Simpson's paradox where
    // ab_odds_ratio's single 2×2 does not: per stratum (order
    // priority) a 2×2 of arm × high-value outcome, per-stratum OR,
    // and the CMH pooled OR = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ). The CMH terms
    // are exact 1e-6-unit integers ((a·d·1e6 + n div 2) div n with
    // the product in DECIMAL(38,0)), so the two sums are order-free
    // BIGINTs and the final ratio is one double division — no
    // engine-ordered float accumulation anywhere. One corpus pass to
    // a ≤|priorities| relation.
    Q("ab_stratified_cmh",
      (s, d) => {
        val t = orders(s, d).select(
          col("o_orderpriority").as("stratum"),
          (col("o_custkey") % 2).as("arm"),
          (col("o_totalprice") > 150000.0).as("pos"))
        val m = t.groupBy("stratum").agg(
          sum(when(col("arm") === 1 && col("pos"), 1L).otherwise(0L))
            .as("a"),
          sum(when(col("arm") === 1 && !col("pos"), 1L).otherwise(0L))
            .as("b"),
          sum(when(col("arm") === 0 && col("pos"), 1L).otherwise(0L))
            .as("c"),
          sum(when(col("arm") === 0 && !col("pos"), 1L).otherwise(0L))
            .as("dd"))
          .withColumn("n", expr("a + b + c + dd"))
          .withColumn("ad6",
            expr("""(CAST(a AS DECIMAL(38,0)) * dd * 1000000
                     + n div 2) div n"""))
          .withColumn("bc6",
            expr("""(CAST(b AS DECIMAL(38,0)) * c * 1000000
                     + n div 2) div n"""))
        val tot = m.agg(sum("ad6").as("sad6"), sum("bc6").as("sbc6"))
        m.crossJoin(broadcast(tot))
          .select(col("stratum"), col("a"), col("b"), col("c"),
            col("dd").as("d"),
            expr("""CASE WHEN b = 0 OR c = 0 THEN NULL ELSE
                      ROUND(CAST(a AS DOUBLE) * dd
                            / (CAST(b AS DOUBLE) * c), 6) + 0.0
                    END""").as("or_stratum"),
            (round(expr("CAST(sad6 AS DOUBLE) / CAST(sbc6 AS DOUBLE)"),
              6) + lit(0.0)).as("cmh_or"))
          .orderBy("stratum")
      },
      """WITH t AS (
           SELECT o_orderpriority AS stratum, o_custkey % 2 AS arm,
                  o_totalprice > 150000.0 AS pos
           FROM orders),
         m AS (
           SELECT stratum,
             CAST(SUM(CASE WHEN arm = 1 AND pos THEN 1 ELSE 0 END)
               AS BIGINT) AS a,
             CAST(SUM(CASE WHEN arm = 1 AND NOT pos THEN 1 ELSE 0 END)
               AS BIGINT) AS b,
             CAST(SUM(CASE WHEN arm = 0 AND pos THEN 1 ELSE 0 END)
               AS BIGINT) AS c,
             CAST(SUM(CASE WHEN arm = 0 AND NOT pos THEN 1 ELSE 0 END)
               AS BIGINT) AS d
           FROM t GROUP BY 1),
         w AS (
           SELECT stratum, a, b, c, d, a + b + c + d AS n,
             (CAST(a AS HUGEINT) * d * 1000000
               + (a + b + c + d) // 2) // (a + b + c + d) AS ad6,
             (CAST(b AS HUGEINT) * c * 1000000
               + (a + b + c + d) // 2) // (a + b + c + d) AS bc6
           FROM m),
         tot AS (SELECT SUM(ad6) AS sad6, SUM(bc6) AS sbc6 FROM w)
         SELECT stratum, a, b, c, d,
                CASE WHEN b = 0 OR c = 0 THEN NULL ELSE
                  ROUND(CAST(a AS DOUBLE) * d
                        / (CAST(b AS DOUBLE) * c), 6) + 0.0
                END AS or_stratum,
                ROUND(CAST(sad6 AS DOUBLE) / CAST(sbc6 AS DOUBLE), 6)
                  + 0.0 AS cmh_or
         FROM w CROSS JOIN tot ORDER BY stratum"""),

    // DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimate for
    // rollouts without randomization: (post−pre) change in the
    // treated arm minus the same change in control, with the pooled
    // SE from per-cell variances. All four (arm × period) cells come
    // from ONE conditional aggregate (named columns — no float sum
    // whose order an engine picks), means/variances derive from exact
    // cent sums and DECIMAL(38,0) squared sums, and the closed form
    // is the identical double expression on both engines.
    Q("ab_diff_in_diff",
      (s, d) => {
        val cut = lit("1996-07-01").cast("date")
        val o = orders(s, d).select(
          (col("o_custkey") % 2).as("arm"),
          (col("o_orderdate") >= cut).as("post"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)")
            .as("y"))
        def cell(a: Int, p: Boolean, suf: String) = Seq(
          sum(when(col("arm") === a && col("post") === p, 1L)
            .otherwise(0L)).as(s"n$suf"),
          sum(when(col("arm") === a && col("post") === p, col("y"))
            .otherwise(0L)).as(s"s$suf"),
          sum(when(col("arm") === a && col("post") === p,
            col("y").cast(DecimalType(38, 0)) * col("y"))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as(s"q$suf"))
        val cells = cell(1, true, "11") ++ cell(1, false, "10") ++
          cell(0, true, "01") ++ cell(0, false, "00")
        // empty/singleton cell guards: NULL means (n=0) and NULL
        // variances (n<2) propagate into did/se/t_stat identically on
        // both engines — Spark ANSI would otherwise throw where
        // DuckDB yields NULL
        o.agg(cells.head, cells.tail: _*)
          .selectExpr("n11", "n10", "n01", "n00",
            """CASE WHEN n11 = 0 THEN NULL ELSE
               CAST(s11 AS DOUBLE)/n11/100.0D END AS m_treat_post""",
            """CASE WHEN n10 = 0 THEN NULL ELSE
               CAST(s10 AS DOUBLE)/n10/100.0D END AS m_treat_pre""",
            """CASE WHEN n01 = 0 THEN NULL ELSE
               CAST(s01 AS DOUBLE)/n01/100.0D END AS m_ctrl_post""",
            """CASE WHEN n00 = 0 THEN NULL ELSE
               CAST(s00 AS DOUBLE)/n00/100.0D END AS m_ctrl_pre""",
            """CASE WHEN n11 < 2 THEN NULL ELSE
               (CAST(q11 AS DOUBLE)/n11
                - (CAST(s11 AS DOUBLE)/n11)*(CAST(s11 AS DOUBLE)/n11))
               * n11/(n11-1)/n11 END AS v11""",
            """CASE WHEN n10 < 2 THEN NULL ELSE
               (CAST(q10 AS DOUBLE)/n10
                - (CAST(s10 AS DOUBLE)/n10)*(CAST(s10 AS DOUBLE)/n10))
               * n10/(n10-1)/n10 END AS v10""",
            """CASE WHEN n01 < 2 THEN NULL ELSE
               (CAST(q01 AS DOUBLE)/n01
                - (CAST(s01 AS DOUBLE)/n01)*(CAST(s01 AS DOUBLE)/n01))
               * n01/(n01-1)/n01 END AS v01""",
            """CASE WHEN n00 < 2 THEN NULL ELSE
               (CAST(q00 AS DOUBLE)/n00
                - (CAST(s00 AS DOUBLE)/n00)*(CAST(s00 AS DOUBLE)/n00))
               * n00/(n00-1)/n00 END AS v00""")
          .selectExpr("n11", "n10", "n01", "n00",
            "ROUND(m_treat_post, 4) + 0.0D AS m_treat_post",
            "ROUND(m_treat_pre, 4) + 0.0D AS m_treat_pre",
            "ROUND(m_ctrl_post, 4) + 0.0D AS m_ctrl_post",
            "ROUND(m_ctrl_pre, 4) + 0.0D AS m_ctrl_pre",
            """ROUND((m_treat_post - m_treat_pre)
                 - (m_ctrl_post - m_ctrl_pre), 4) + 0.0D AS did""",
            """ROUND(sqrt(v11 + v10 + v01 + v00) / 100.0D, 4)
               + 0.0D AS se""",
            """ROUND(((m_treat_post - m_treat_pre)
                 - (m_ctrl_post - m_ctrl_pre))
                 / (sqrt(v11 + v10 + v01 + v00) / 100.0D), 4)
               + 0.0D AS t_stat""")
      },
      """WITH o AS (
           SELECT o_custkey % 2 AS arm,
                  o_orderdate >= DATE '1996-07-01' AS post,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
                    AS y
           FROM orders),
         m AS (SELECT
             CAST(SUM(CASE WHEN arm=1 AND post THEN 1 ELSE 0 END)
               AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN arm=1 AND post THEN y ELSE 0 END)
               AS BIGINT) AS s11,
             SUM(CASE WHEN arm=1 AND post
               THEN CAST(y AS HUGEINT)*y ELSE CAST(0 AS HUGEINT) END)
               AS q11,
             CAST(SUM(CASE WHEN arm=1 AND NOT post THEN 1 ELSE 0 END)
               AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN arm=1 AND NOT post THEN y ELSE 0 END)
               AS BIGINT) AS s10,
             SUM(CASE WHEN arm=1 AND NOT post
               THEN CAST(y AS HUGEINT)*y ELSE CAST(0 AS HUGEINT) END)
               AS q10,
             CAST(SUM(CASE WHEN arm=0 AND post THEN 1 ELSE 0 END)
               AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN arm=0 AND post THEN y ELSE 0 END)
               AS BIGINT) AS s01,
             SUM(CASE WHEN arm=0 AND post
               THEN CAST(y AS HUGEINT)*y ELSE CAST(0 AS HUGEINT) END)
               AS q01,
             CAST(SUM(CASE WHEN arm=0 AND NOT post THEN 1 ELSE 0 END)
               AS BIGINT) AS n00,
             CAST(SUM(CASE WHEN arm=0 AND NOT post THEN y ELSE 0 END)
               AS BIGINT) AS s00,
             SUM(CASE WHEN arm=0 AND NOT post
               THEN CAST(y AS HUGEINT)*y ELSE CAST(0 AS HUGEINT) END)
               AS q00
           FROM o),
         c AS (SELECT n11, n10, n01, n00,
             CASE WHEN n11 = 0 THEN NULL ELSE
               CAST(s11 AS DOUBLE)/n11/100.0 END AS m_treat_post,
             CASE WHEN n10 = 0 THEN NULL ELSE
               CAST(s10 AS DOUBLE)/n10/100.0 END AS m_treat_pre,
             CASE WHEN n01 = 0 THEN NULL ELSE
               CAST(s01 AS DOUBLE)/n01/100.0 END AS m_ctrl_post,
             CASE WHEN n00 = 0 THEN NULL ELSE
               CAST(s00 AS DOUBLE)/n00/100.0 END AS m_ctrl_pre,
             CASE WHEN n11 < 2 THEN NULL ELSE
               (CAST(q11 AS DOUBLE)/n11
                 - (CAST(s11 AS DOUBLE)/n11)*(CAST(s11 AS DOUBLE)/n11))
                * n11/(n11-1)/n11 END AS v11,
             CASE WHEN n10 < 2 THEN NULL ELSE
               (CAST(q10 AS DOUBLE)/n10
                 - (CAST(s10 AS DOUBLE)/n10)*(CAST(s10 AS DOUBLE)/n10))
                * n10/(n10-1)/n10 END AS v10,
             CASE WHEN n01 < 2 THEN NULL ELSE
               (CAST(q01 AS DOUBLE)/n01
                 - (CAST(s01 AS DOUBLE)/n01)*(CAST(s01 AS DOUBLE)/n01))
                * n01/(n01-1)/n01 END AS v01,
             CASE WHEN n00 < 2 THEN NULL ELSE
               (CAST(q00 AS DOUBLE)/n00
                 - (CAST(s00 AS DOUBLE)/n00)*(CAST(s00 AS DOUBLE)/n00))
                * n00/(n00-1)/n00 END AS v00
           FROM m)
         SELECT n11, n10, n01, n00,
           ROUND(m_treat_post, 4) + 0.0 AS m_treat_post,
           ROUND(m_treat_pre, 4) + 0.0 AS m_treat_pre,
           ROUND(m_ctrl_post, 4) + 0.0 AS m_ctrl_post,
           ROUND(m_ctrl_pre, 4) + 0.0 AS m_ctrl_pre,
           ROUND((m_treat_post - m_treat_pre)
             - (m_ctrl_post - m_ctrl_pre), 4) + 0.0 AS did,
           ROUND(sqrt(v11 + v10 + v01 + v00) / 100.0, 4) + 0.0 AS se,
           ROUND(((m_treat_post - m_treat_pre)
             - (m_ctrl_post - m_ctrl_pre))
             / (sqrt(v11 + v10 + v01 + v00) / 100.0), 4) + 0.0
             AS t_stat
         FROM c"""),

    // COCHRAN–ARMITAGE TREND TEST — "does the conversion rate move
    // MONOTONICALLY with an ordered exposure level", here completion
    // rate across the five priority doses (score = the priority's
    // leading digit): the dose-response screen the pairwise ab_test
    // family can't express. Z = (N·Σsk − K·Σsn) · √N /
    // √(K(N−K)(N·Σs²n − (Σsn)²)) — every moment is an exact BIGINT
    // from one 5-row aggregate, the three products are operand-
    // widened (DECIMAL(38,0)/HUGEINT; the radicand fits 38 digits to
    // ~1e9 rows), and the significance gate compares the SAME exact-
    // integer-derived doubles on both engines (A²·N > z²·prod), not
    // a rounded Z. One aggregate; one row travels.
    Q("ab_cochran_armitage",
      (s, d) => orders(s, d)
        .select(
          expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
            .as("dose"),
          (col("o_orderstatus") === "F").as("conv"))
        .groupBy("dose").agg(count(lit(1)).as("ni"),
          sum(when(col("conv"), 1L).otherwise(0L)).as("ki"))
        .agg(sum("ni").as("nn"), sum("ki").as("kk"),
          sum(col("dose") * col("ni")).as("s1"),
          sum(col("dose") * col("dose") * col("ni")).as("s2"),
          sum(col("dose") * col("ki")).as("t1"))
        .withColumn("a",
          expr("""CAST(nn AS DECIMAL(38,0)) * t1
                  - CAST(kk AS DECIMAL(38,0)) * s1"""))
        .withColumn("prod",
          expr("""CAST(kk AS DECIMAL(38,0)) * (nn - kk)
                  * (CAST(nn AS DECIMAL(38,0)) * s2
                     - CAST(s1 AS DECIMAL(38,0)) * s1)"""))
        .select(col("nn").as("n"), col("kk").as("conversions"),
          expr("""CASE WHEN prod = 0 THEN NULL ELSE
                    ROUND(CAST(a AS DOUBLE) * sqrt(CAST(nn AS DOUBLE))
                      / sqrt(CAST(prod AS DOUBLE)), 6) + 0.0D END""")
            .as("z_trend"),
          expr(s"""CASE WHEN prod = 0 THEN NULL ELSE
                    CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
                      * CAST(nn AS DOUBLE)
                      > ${StatCrit.Chi2_95_Df1}D * CAST(prod AS DOUBLE)
                  END""").as("significant_05")),
      """WITH t AS (
           SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
                    AS dose,
                  (o_orderstatus = 'F') AS conv
           FROM orders),
         g AS (SELECT dose, CAST(COUNT(*) AS BIGINT) AS ni,
                 CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT)
                   AS ki
               FROM t GROUP BY 1),
         m AS (SELECT CAST(SUM(ni) AS BIGINT) AS nn,
                 CAST(SUM(ki) AS BIGINT) AS kk,
                 CAST(SUM(dose * ni) AS BIGINT) AS s1,
                 CAST(SUM(dose * dose * ni) AS BIGINT) AS s2,
                 CAST(SUM(dose * ki) AS BIGINT) AS t1
               FROM g),
         w AS (SELECT nn, kk,
                 CAST(nn AS HUGEINT) * t1
                   - CAST(kk AS HUGEINT) * s1 AS a,
                 CAST(kk AS HUGEINT) * (nn - kk)
                   * (CAST(nn AS HUGEINT) * s2
                      - CAST(s1 AS HUGEINT) * s1) AS prod
               FROM m)
         SELECT nn AS n, kk AS conversions,
                CASE WHEN prod = 0 THEN NULL ELSE
                  ROUND(CAST(a AS DOUBLE) * sqrt(CAST(nn AS DOUBLE))
                    / sqrt(CAST(prod AS DOUBLE)), 6) + 0.0 END
                  AS z_trend,
                CASE WHEN prod = 0 THEN NULL ELSE
                  CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
                    * CAST(nn AS DOUBLE)
                    > """ + s"""${StatCrit.Chi2_95_Df1}
                    * CAST(prod AS DOUBLE)
                END AS significant_05
         FROM w"""),

    // FIELLER CONFIDENCE INTERVAL for a RATIO of arm means — the
    // exact-coverage companion to ab_delta_method's linearization
    // (delta intervals undercover when the denominator mean is noisy;
    // Fieller inverts the t-test on m1 − θ·m0 instead): bounds =
    // (m1·m0 ± z·√(m0²v1 + m1²v0 − z²v1v0)) / (m0² − z²v0). Both
    // arms' moments are exact BIGINT / DECIMAL(38,0) cent sums from
    // ONE conditional aggregate (named columns — no engine-ordered
    // float sum); the closed form is the identical double expression
    // with the same z literal on both engines. den ≤ 0 (denominator
    // mean indistinguishable from zero — the CI is unbounded) and a
    // negative discriminant yield NULL bounds on both engines.
    Q("ab_fieller_ci",
      (s, d) => orders(s, d)
        .select((col("o_custkey") % 2).as("arm"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)")
            .as("y"))
        .agg(
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("s1"),
          sum(when(col("arm") === 1,
            col("y").cast(DecimalType(38, 0)) * col("y"))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as("q1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("s0"),
          sum(when(col("arm") === 0,
            col("y").cast(DecimalType(38, 0)) * col("y"))
            .otherwise(lit(0).cast(DecimalType(38, 0)))).as("q0"))
        .selectExpr("n1", "n0",
          """CASE WHEN n1 < 2 THEN NULL ELSE
             CAST(s1 AS DOUBLE)/n1 END AS m1""",
          """CASE WHEN n0 < 2 THEN NULL ELSE
             CAST(s0 AS DOUBLE)/n0 END AS m0""",
          """CASE WHEN n1 < 2 THEN NULL ELSE
             (CAST(q1 AS DOUBLE)/n1
              - (CAST(s1 AS DOUBLE)/n1)*(CAST(s1 AS DOUBLE)/n1))
             * n1/(n1-1)/n1 END AS v1""",
          """CASE WHEN n0 < 2 THEN NULL ELSE
             (CAST(q0 AS DOUBLE)/n0
              - (CAST(s0 AS DOUBLE)/n0)*(CAST(s0 AS DOUBLE)/n0))
             * n0/(n0-1)/n0 END AS v0""")
        .selectExpr("n1", "n0", "m1", "m0", "v1", "v0",
          s"m0 * m0 - ${StatCrit.Chi2_95_Df1}D * v0 AS den",
          s"""m0*m0*v1 + m1*m1*v0
             - ${StatCrit.Chi2_95_Df1}D * v1 * v0 AS disc""")
        .selectExpr("n1 AS n_treat", "n0 AS n_ctrl",
          """CASE WHEN m0 = 0.0D THEN NULL ELSE
             ROUND(m1 / m0, 6) + 0.0D END AS ratio""",
          s"""CASE WHEN den <= 0.0D OR disc < 0.0D THEN NULL ELSE
             ROUND((m1*m0 - ${StatCrit.Z975}D * sqrt(disc)) / den, 6)
             + 0.0D END AS ci_lo""",
          s"""CASE WHEN den <= 0.0D OR disc < 0.0D THEN NULL ELSE
             ROUND((m1*m0 + ${StatCrit.Z975}D * sqrt(disc)) / den, 6)
             + 0.0D END AS ci_hi""",
          "den > 0.0D AS bounded"),
      """WITH o AS (
           SELECT o_custkey % 2 AS arm,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)
                    AS y
           FROM orders),
         m AS (SELECT
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               AS s1,
             SUM(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT)*y
                 ELSE CAST(0 AS HUGEINT) END) AS q1,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
               AS s0,
             SUM(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT)*y
                 ELSE CAST(0 AS HUGEINT) END) AS q0
           FROM o),
         c AS (SELECT n1, n0,
             CASE WHEN n1 < 2 THEN NULL ELSE
               CAST(s1 AS DOUBLE)/n1 END AS m1,
             CASE WHEN n0 < 2 THEN NULL ELSE
               CAST(s0 AS DOUBLE)/n0 END AS m0,
             CASE WHEN n1 < 2 THEN NULL ELSE
               (CAST(q1 AS DOUBLE)/n1
                - (CAST(s1 AS DOUBLE)/n1)*(CAST(s1 AS DOUBLE)/n1))
               * n1/(n1-1)/n1 END AS v1,
             CASE WHEN n0 < 2 THEN NULL ELSE
               (CAST(q0 AS DOUBLE)/n0
                - (CAST(s0 AS DOUBLE)/n0)*(CAST(s0 AS DOUBLE)/n0))
               * n0/(n0-1)/n0 END AS v0
           FROM m),
         f AS (SELECT n1, n0, m1, m0, v1, v0,
""" + s"""             m0 * m0 - ${StatCrit.Chi2_95_Df1} * v0 AS den,
             m0*m0*v1 + m1*m1*v0
               - ${StatCrit.Chi2_95_Df1} * v1 * v0 AS disc
           FROM c)
         SELECT n1 AS n_treat, n0 AS n_ctrl,
                CASE WHEN m0 = 0.0 THEN NULL ELSE
                  ROUND(m1 / m0, 6) + 0.0 END AS ratio,
                CASE WHEN den <= 0.0 OR disc < 0.0 THEN NULL ELSE
                  ROUND((m1*m0 - ${StatCrit.Z975} * sqrt(disc)) / den,
                    6) + 0.0 END AS ci_lo,
                CASE WHEN den <= 0.0 OR disc < 0.0 THEN NULL ELSE
                  ROUND((m1*m0 + ${StatCrit.Z975} * sqrt(disc)) / den,
                    6) + 0.0 END AS ci_hi,
                den > 0.0 AS bounded
         FROM f"""),

    // KRUSKAL–WALLIS H — the k-group generalization of
    // ab_mann_whitney: does line-item quantity differ across the five
    // order priorities, with no normality assumption? Ranks come from
    // the BOUNDED quantity value histogram (≤50 cells after one
    // corpus aggregate + one co-keyed shuffle join): doubled midranks
    // via one cum window over the histogram, per-group doubled rank
    // sums as operand-cast DECIMAL(38,0) products, and H + the tie
    // correction assembled from the five named (n_g, R_g) columns in
    // ONE fixed-order double expression — no engine-ordered float
    // sum. The tie cube n³−n is operand-widened (overflows LONG at
    // n≈3e6). Significance compares the UNROUNDED tie-adjusted H to
    // the χ²(4) .95 literal.
    Q("ab_kruskal_wallis",
      (s, d) => {
        val base = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(
            expr("CAST(substring(o_orderpriority, 1, 1) AS INT)")
              .as("g"),
            col("l_quantity").cast("int").as("q"))
        val hist = base.groupBy("q").agg(
          count(lit(1)).as("t"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("t1"),
          sum(when(col("g") === 2, 1L).otherwise(0L)).as("t2"),
          sum(when(col("g") === 3, 1L).otherwise(0L)).as("t3"),
          sum(when(col("g") === 4, 1L).otherwise(0L)).as("t4"),
          sum(when(col("g") === 5, 1L).otherwise(0L)).as("t5"))
        val w = Window.orderBy("q")
        val ranked = hist
          .withColumn("cum", sum(col("t")).over(w))
          .withColumn("mr2",
            lit(2) * (col("cum") - col("t")) + col("t") + 1)
        ranked.agg(
            sum("t").as("n"),
            sum("t1").as("n1"), sum("t2").as("n2"),
            sum("t3").as("n3"), sum("t4").as("n4"),
            sum("t5").as("n5"),
            sum(col("t1").cast(DecimalType(38, 0)) * col("mr2"))
              .as("r1"),
            sum(col("t2").cast(DecimalType(38, 0)) * col("mr2"))
              .as("r2"),
            sum(col("t3").cast(DecimalType(38, 0)) * col("mr2"))
              .as("r3"),
            sum(col("t4").cast(DecimalType(38, 0)) * col("mr2"))
              .as("r4"),
            sum(col("t5").cast(DecimalType(38, 0)) * col("mr2"))
              .as("r5"),
            sum(col("t").cast(DecimalType(38, 0)) * col("t") * col("t")
              - col("t")).as("ties"))
          .withColumn("nn",
            expr("CAST(n AS DECIMAL(38,0)) * n * n - n"))
          .withColumn("h",
            expr("""CASE WHEN n < 2 OR least(n1, n2, n3, n4, n5) = 0
                    THEN NULL ELSE
                      3.0D / (CAST(n AS DOUBLE) * (n + 1))
                      * (CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE) / n1
                       + CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / n2
                       + CAST(r3 AS DOUBLE) * CAST(r3 AS DOUBLE) / n3
                       + CAST(r4 AS DOUBLE) * CAST(r4 AS DOUBLE) / n4
                       + CAST(r5 AS DOUBLE) * CAST(r5 AS DOUBLE) / n5)
                      - 3.0D * (n + 1) END"""))
          .withColumn("hadj",
            expr("""CASE WHEN h IS NULL
                         OR CAST(ties AS DOUBLE) >= CAST(nn AS DOUBLE)
                    THEN NULL ELSE
                      h / (1.0D - CAST(ties AS DOUBLE)
                                  / CAST(nn AS DOUBLE)) END"""))
          .select(col("n"),
            expr("ROUND(h, 4) + 0.0D").as("h"),
            expr("ROUND(hadj, 4) + 0.0D").as("h_tie_adj"),
            expr("""CASE WHEN hadj IS NULL THEN NULL ELSE
                    hadj > 9.487729036781154D END""").as("significant"))
      },
      s"""WITH $PriorityQtyHistCte,
         ranked AS (
           SELECT t, t1, t2, t3, t4, t5,
                  2 * (SUM(t) OVER (ORDER BY q) - t) + t + 1 AS mr2
           FROM hist),
         m AS (
           SELECT CAST(SUM(t) AS BIGINT) AS n,
                  CAST(SUM(t1) AS BIGINT) AS n1,
                  CAST(SUM(t2) AS BIGINT) AS n2,
                  CAST(SUM(t3) AS BIGINT) AS n3,
                  CAST(SUM(t4) AS BIGINT) AS n4,
                  CAST(SUM(t5) AS BIGINT) AS n5,
                  SUM(CAST(t1 AS HUGEINT) * mr2) AS r1,
                  SUM(CAST(t2 AS HUGEINT) * mr2) AS r2,
                  SUM(CAST(t3 AS HUGEINT) * mr2) AS r3,
                  SUM(CAST(t4 AS HUGEINT) * mr2) AS r4,
                  SUM(CAST(t5 AS HUGEINT) * mr2) AS r5,
                  SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
           FROM ranked),
         hh AS (
           SELECT n, ties, CAST(n AS HUGEINT) * n * n - n AS nn,
                  CASE WHEN n < 2 OR least(n1, n2, n3, n4, n5) = 0
                  THEN NULL ELSE
                    3.0 / (CAST(n AS DOUBLE) * (n + 1))
                    * (CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE) / n1
                     + CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / n2
                     + CAST(r3 AS DOUBLE) * CAST(r3 AS DOUBLE) / n3
                     + CAST(r4 AS DOUBLE) * CAST(r4 AS DOUBLE) / n4
                     + CAST(r5 AS DOUBLE) * CAST(r5 AS DOUBLE) / n5)
                    - CAST(n + 1 AS DOUBLE) * 3.0 END AS h
           FROM m),
         aa AS (
           SELECT n, h,
                  CASE WHEN h IS NULL
                       OR CAST(ties AS DOUBLE) >= CAST(nn AS DOUBLE)
                  THEN NULL ELSE
                    h / (1.0 - CAST(ties AS DOUBLE)
                               / CAST(nn AS DOUBLE)) END AS hadj
           FROM hh)
         SELECT n, ROUND(h, 4) + 0.0 AS h,
                ROUND(hadj, 4) + 0.0 AS h_tie_adj,
                CASE WHEN hadj IS NULL THEN NULL ELSE
                  hadj > 9.487729036781154 END AS significant
         FROM aa"""),

    // CLIFF'S DELTA — the ordinal effect SIZE companion to
    // ab_mann_whitney's significance: P(X>Y) − P(X<Y) for returned
    // ('R') vs acknowledged ('A') line-item quantities, from the same
    // bounded value-histogram machinery (one cum window over ≤50
    // cells). #(x>y) and #(x≤y) are operand-cast DECIMAL(38,0)
    // products (pair counts exceed BIGINT at ~3e9 rows/arm); δ lands
    // via the sign-split half-up idiom, and the Romano magnitude band
    // compares EXACT cross-multiplied integers — never a rounded δ.
    Q("ab_cliffs_delta",
      (s, d) => {
        val hist = returnFlagHist(s, d)
        val w = Window.orderBy("q")
        hist.withColumn("c0", sum(col("t0")).over(w))
          .agg(
            sum("t0").as("n0"), sum("t1").as("n1"),
            sum(col("t1").cast(DecimalType(38, 0))
              * (col("c0") - col("t0"))).as("sgt"),
            sum(col("t1").cast(DecimalType(38, 0)) * col("c0"))
              .as("sle"))
          .withColumn("den", expr("CAST(n0 AS DECIMAL(38,0)) * n1"))
          .withColumn("num", expr("sgt + sle - den"))
          .select(col("n0"), col("n1"),
            expr("""CASE WHEN den = 0 THEN NULL ELSE
                      CASE WHEN num < 0 THEN -1 ELSE 1 END *
                      ((2 * abs(num) * 1000000 + den) div (2 * den))
                      / 1000000.0D END""").as("delta"),
            expr("""CASE WHEN den = 0 THEN NULL
                    WHEN abs(num) * 1000 < den * 147 THEN 'negligible'
                    WHEN abs(num) * 100  < den * 33  THEN 'small'
                    WHEN abs(num) * 1000 < den * 474 THEN 'medium'
                    ELSE 'large' END""").as("magnitude"))
      },
      """WITH base AS (
           SELECT CAST(l_quantity AS INT) AS q,
                  (l_returnflag = 'R') AS arm
           FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         hist AS (
           SELECT q,
             CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN arm THEN 0 ELSE 1 END) AS BIGINT) AS t0
           FROM base GROUP BY 1),
         ranked AS (
           SELECT t0, t1, SUM(t0) OVER (ORDER BY q) AS c0
           FROM hist),
         m AS (
           SELECT CAST(SUM(t0) AS BIGINT) AS n0,
                  CAST(SUM(t1) AS BIGINT) AS n1,
                  SUM(CAST(t1 AS HUGEINT) * (c0 - t0)) AS sgt,
                  SUM(CAST(t1 AS HUGEINT) * c0) AS sle
           FROM ranked),
         f AS (
           SELECT n0, n1, sgt, sle,
                  CAST(n0 AS HUGEINT) * n1 AS den,
                  sgt + sle - CAST(n0 AS HUGEINT) * n1 AS num
           FROM m)
         SELECT n0, n1,
                CASE WHEN den = 0 THEN NULL ELSE
                  CASE WHEN num < 0 THEN -1 ELSE 1 END *
                  ((2 * abs(num) * 1000000 + den) // (2 * den))
                  / 1000000.0 END AS delta,
                CASE WHEN den = 0 THEN NULL
                  WHEN abs(num) * 1000 < den * 147 THEN 'negligible'
                  WHEN abs(num) * 100  < den * 33  THEN 'small'
                  WHEN abs(num) * 1000 < den * 474 THEN 'medium'
                  ELSE 'large' END AS magnitude
         FROM f"""),

    // BROWN–FORSYTHE (median-based Levene) — variance-HOMOGENEITY
    // across the five priorities, the assumption check behind any
    // pooled-variance ANOVA on this grain: per-group EXACT doubled
    // medians come from the (g, q) histogram (≤250 cells) via
    // per-group cum windows (partitioned — no global funnel), the
    // |2q − m2| deviations fold back onto the histogram (never the
    // corpus), and F is ONE fixed-order double expression over the
    // five named (n, Σz, Σz²) columns — all exact operand-cast
    // integers. Asymptotic df2=∞ significance literal (df2 is
    // corpus-scale wherever this runs).
    Q("ab_levene",
      (s, d) => {
        val gh = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(
            expr("CAST(substring(o_orderpriority, 1, 1) AS INT)")
              .as("g"),
            col("l_quantity").cast("int").as("q"))
          .groupBy("g", "q").agg(count(lit(1)).as("t"))
        val wg = Window.partitionBy("g").orderBy("q")
        val cum = gh
          .withColumn("cum", sum(col("t")).over(wg))
          .withColumn("ng",
            sum(col("t")).over(Window.partitionBy("g")))
          .withColumn("k1", expr("(ng + 1) div 2"))
          .withColumn("k2", expr("ng div 2 + 1"))
        val med = cum.groupBy("g").agg(
          sum(when(col("cum") >= col("k1") &&
            col("cum") - col("t") < col("k1"), col("q"))).as("x1"),
          sum(when(col("cum") >= col("k2") &&
            col("cum") - col("t") < col("k2"), col("q"))).as("x2"))
          .select(col("g"),
            expr("CAST(x1 + x2 AS BIGINT)").as("m2"))
        val z = gh.join(med, "g")
          .withColumn("z2", expr("abs(2 * q - m2)"))
        z.agg(
            sum("t").as("n"),
            sum(when(col("g") === 1, col("t"))).as("n1"),
            sum(when(col("g") === 2, col("t"))).as("n2"),
            sum(when(col("g") === 3, col("t"))).as("n3"),
            sum(when(col("g") === 4, col("t"))).as("n4"),
            sum(when(col("g") === 5, col("t"))).as("n5"),
            sum(when(col("g") === 1,
              col("t").cast(DecimalType(38, 0)) * col("z2"))).as("s1"),
            sum(when(col("g") === 2,
              col("t").cast(DecimalType(38, 0)) * col("z2"))).as("s2"),
            sum(when(col("g") === 3,
              col("t").cast(DecimalType(38, 0)) * col("z2"))).as("s3"),
            sum(when(col("g") === 4,
              col("t").cast(DecimalType(38, 0)) * col("z2"))).as("s4"),
            sum(when(col("g") === 5,
              col("t").cast(DecimalType(38, 0)) * col("z2"))).as("s5"),
            sum(when(col("g") === 1,
              col("t").cast(DecimalType(38, 0)) * col("z2") * col("z2")))
              .as("q1"),
            sum(when(col("g") === 2,
              col("t").cast(DecimalType(38, 0)) * col("z2") * col("z2")))
              .as("q2"),
            sum(when(col("g") === 3,
              col("t").cast(DecimalType(38, 0)) * col("z2") * col("z2")))
              .as("q3"),
            sum(when(col("g") === 4,
              col("t").cast(DecimalType(38, 0)) * col("z2") * col("z2")))
              .as("q4"),
            sum(when(col("g") === 5,
              col("t").cast(DecimalType(38, 0)) * col("z2") * col("z2")))
              .as("q5"))
          .withColumn("ssq",
            expr("""CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                  + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2
                  + CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / n3
                  + CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE) / n4
                  + CAST(s5 AS DOUBLE) * CAST(s5 AS DOUBLE) / n5"""))
          .withColumn("stot",
            expr("CAST(s1 + s2 + s3 + s4 + s5 AS DOUBLE)"))
          .withColumn("qtot",
            expr("CAST(q1 + q2 + q3 + q4 + q5 AS DOUBLE)"))
          .withColumn("fnum", expr("ssq - stot * stot / n"))
          .withColumn("fden", expr("qtot - ssq"))
          .withColumn("f",
            expr("""CASE WHEN n <= 5
                         OR least(n1, n2, n3, n4, n5) IS NULL
                         OR least(n1, n2, n3, n4, n5) = 0
                         OR fden <= 0.0D THEN NULL ELSE
                      CAST(n - 5 AS DOUBLE) / 4.0D * (fnum / fden)
                    END"""))
          .select(col("n"),
            expr("ROUND(f, 4) + 0.0D").as("f_bf"),
            expr("n - 5").as("df2"),
            expr("""CASE WHEN f IS NULL THEN NULL ELSE
                    f * 4.0D > 9.487729036781154D END""")
              .as("significant"))
      },
      """WITH gh AS (
           SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
                  CAST(l_quantity AS INT) AS q,
                  CAST(COUNT(*) AS BIGINT) AS t
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         cum AS (
           SELECT g, q, t,
                  SUM(t) OVER (PARTITION BY g ORDER BY q) AS cum,
                  SUM(t) OVER (PARTITION BY g) AS ng
           FROM gh),
         med AS (
           SELECT g, CAST(
             SUM(CASE WHEN cum >= (ng + 1) // 2
                       AND cum - t < (ng + 1) // 2 THEN q END)
           + SUM(CASE WHEN cum >= ng // 2 + 1
                       AND cum - t < ng // 2 + 1 THEN q END)
             AS BIGINT) AS m2
           FROM cum GROUP BY 1),
         z AS (
           SELECT gh.g, t, abs(2 * q - m2) AS z2
           FROM gh JOIN med ON gh.g = med.g),
         m AS (
           SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN g = 1 THEN t END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN g = 2 THEN t END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN g = 3 THEN t END) AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN g = 4 THEN t END) AS BIGINT) AS n4,
             CAST(SUM(CASE WHEN g = 5 THEN t END) AS BIGINT) AS n5,
             SUM(CASE WHEN g = 1 THEN CAST(t AS HUGEINT) * z2 END) AS s1,
             SUM(CASE WHEN g = 2 THEN CAST(t AS HUGEINT) * z2 END) AS s2,
             SUM(CASE WHEN g = 3 THEN CAST(t AS HUGEINT) * z2 END) AS s3,
             SUM(CASE WHEN g = 4 THEN CAST(t AS HUGEINT) * z2 END) AS s4,
             SUM(CASE WHEN g = 5 THEN CAST(t AS HUGEINT) * z2 END) AS s5,
             SUM(CASE WHEN g = 1 THEN CAST(t AS HUGEINT) * z2 * z2 END)
               AS q1,
             SUM(CASE WHEN g = 2 THEN CAST(t AS HUGEINT) * z2 * z2 END)
               AS q2,
             SUM(CASE WHEN g = 3 THEN CAST(t AS HUGEINT) * z2 * z2 END)
               AS q3,
             SUM(CASE WHEN g = 4 THEN CAST(t AS HUGEINT) * z2 * z2 END)
               AS q4,
             SUM(CASE WHEN g = 5 THEN CAST(t AS HUGEINT) * z2 * z2 END)
               AS q5
           FROM z),
         e AS (
           SELECT n, n1, n2, n3, n4, n5,
                  CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2
                + CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / n3
                + CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE) / n4
                + CAST(s5 AS DOUBLE) * CAST(s5 AS DOUBLE) / n5 AS ssq,
                  CAST(s1 + s2 + s3 + s4 + s5 AS DOUBLE) AS stot,
                  CAST(q1 + q2 + q3 + q4 + q5 AS DOUBLE) AS qtot
           FROM m),
         ff AS (
           SELECT n,
                  CASE WHEN n <= 5
                       OR least(n1, n2, n3, n4, n5) IS NULL
                       OR least(n1, n2, n3, n4, n5) = 0
                       OR qtot - ssq <= 0.0 THEN NULL ELSE
                    CAST(n - 5 AS DOUBLE) / 4.0
                    * ((ssq - stot * stot / n) / (qtot - ssq))
                  END AS f
           FROM e)
         SELECT n, ROUND(f, 4) + 0.0 AS f_bf, n - 5 AS df2,
                CASE WHEN f IS NULL THEN NULL ELSE
                  f * 4.0 > 9.487729036781154 END AS significant
         FROM ff"""),

    // MOOD'S MEDIAN TEST — the robust k-group location test that
    // survives what Kruskal–Wallis can't (heavy contamination): the
    // POOLED exact doubled median from the ≤50-cell quantity
    // histogram, per-priority above-median counts from the same
    // (g, q) histogram, and χ² in the collapsed identity
    // Σ D_g²/n_g / (A·B) with D_g = a_g·N − n_g·A exact operand-cast
    // DECIMAL(38,0) — the five terms pivot into named columns so the
    // double sum is fixed-order. Significance on the UNROUNDED χ² vs
    // the χ²(4) .95 literal.
    Q("ab_mood_median",
      (s, d) => {
        val gh = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(
            expr("CAST(substring(o_orderpriority, 1, 1) AS INT)")
              .as("g"),
            col("l_quantity").cast("int").as("q"))
          .groupBy("g", "q").agg(count(lit(1)).as("t"))
        val pooled = gh.groupBy("q").agg(sum("t").as("t"))
        val w = Window.orderBy("q")
        val tot = pooled.agg(sum("t").as("ntot"))
        val med = pooled
          .withColumn("cum", sum(col("t")).over(w))
          .crossJoin(tot)
          .withColumn("k1", expr("(ntot + 1) div 2"))
          .withColumn("k2", expr("ntot div 2 + 1"))
          .agg(
            sum(when(col("cum") >= col("k1") &&
              col("cum") - col("t") < col("k1"), col("q"))).as("x1"),
            sum(when(col("cum") >= col("k2") &&
              col("cum") - col("t") < col("k2"), col("q"))).as("x2"))
          .select(expr("CAST(x1 + x2 AS BIGINT)").as("m2"))
        gh.crossJoin(med)
          .agg(
            max("m2").as("m2"),
            sum("t").as("n"),
            sum(when(col("g") === 1, col("t"))).as("n1"),
            sum(when(col("g") === 2, col("t"))).as("n2"),
            sum(when(col("g") === 3, col("t"))).as("n3"),
            sum(when(col("g") === 4, col("t"))).as("n4"),
            sum(when(col("g") === 5, col("t"))).as("n5"),
            sum(when(col("g") === 1 && expr("2 * q > m2"), col("t"))
              .otherwise(0L)).as("a1"),
            sum(when(col("g") === 2 && expr("2 * q > m2"), col("t"))
              .otherwise(0L)).as("a2"),
            sum(when(col("g") === 3 && expr("2 * q > m2"), col("t"))
              .otherwise(0L)).as("a3"),
            sum(when(col("g") === 4 && expr("2 * q > m2"), col("t"))
              .otherwise(0L)).as("a4"),
            sum(when(col("g") === 5 && expr("2 * q > m2"), col("t"))
              .otherwise(0L)).as("a5"))
          .withColumn("aa", expr("a1 + a2 + a3 + a4 + a5"))
          .withColumn("bb", expr("n - aa"))
          .withColumn("d1",
            expr("CAST(a1 AS DECIMAL(38,0)) * n - CAST(n1 AS DECIMAL(38,0)) * aa"))
          .withColumn("d2",
            expr("CAST(a2 AS DECIMAL(38,0)) * n - CAST(n2 AS DECIMAL(38,0)) * aa"))
          .withColumn("d3",
            expr("CAST(a3 AS DECIMAL(38,0)) * n - CAST(n3 AS DECIMAL(38,0)) * aa"))
          .withColumn("d4",
            expr("CAST(a4 AS DECIMAL(38,0)) * n - CAST(n4 AS DECIMAL(38,0)) * aa"))
          .withColumn("d5",
            expr("CAST(a5 AS DECIMAL(38,0)) * n - CAST(n5 AS DECIMAL(38,0)) * aa"))
          .withColumn("chi2",
            expr("""CASE WHEN aa = 0 OR bb = 0
                         OR least(n1, n2, n3, n4, n5) IS NULL
                         OR least(n1, n2, n3, n4, n5) = 0 THEN NULL
                    ELSE
                     (CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE) / n1
                    + CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE) / n2
                    + CAST(d3 AS DOUBLE) * CAST(d3 AS DOUBLE) / n3
                    + CAST(d4 AS DOUBLE) * CAST(d4 AS DOUBLE) / n4
                    + CAST(d5 AS DOUBLE) * CAST(d5 AS DOUBLE) / n5)
                    / (CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE))
                    END"""))
          .select(col("n"),
            expr("m2 / 2.0D").as("pooled_median"),
            expr("ROUND(chi2, 4) + 0.0D").as("chi2"),
            expr("""CASE WHEN chi2 IS NULL THEN NULL ELSE
                    chi2 > 9.487729036781154D END""").as("significant"))
      },
      """WITH gh AS (
           SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
                  CAST(l_quantity AS INT) AS q,
                  CAST(COUNT(*) AS BIGINT) AS t
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         pooled AS (
           SELECT q, CAST(SUM(t) AS BIGINT) AS t FROM gh GROUP BY 1),
         tot AS (SELECT CAST(SUM(t) AS BIGINT) AS ntot FROM pooled),
         pc AS (
           SELECT q, t, SUM(t) OVER (ORDER BY q) AS cum, ntot
           FROM pooled CROSS JOIN tot),
         med AS (
           SELECT CAST(
             SUM(CASE WHEN cum >= (ntot + 1) // 2
                       AND cum - t < (ntot + 1) // 2 THEN q END)
           + SUM(CASE WHEN cum >= ntot // 2 + 1
                       AND cum - t < ntot // 2 + 1 THEN q END)
             AS BIGINT) AS m2
           FROM pc),
         m AS (
           SELECT CAST(MAX(m2) AS BIGINT) AS m2,
             CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN g = 1 THEN t END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN g = 2 THEN t END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN g = 3 THEN t END) AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN g = 4 THEN t END) AS BIGINT) AS n4,
             CAST(SUM(CASE WHEN g = 5 THEN t END) AS BIGINT) AS n5,
             CAST(SUM(CASE WHEN g = 1 AND 2 * q > m2 THEN t ELSE 0 END)
               AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN g = 2 AND 2 * q > m2 THEN t ELSE 0 END)
               AS BIGINT) AS a2,
             CAST(SUM(CASE WHEN g = 3 AND 2 * q > m2 THEN t ELSE 0 END)
               AS BIGINT) AS a3,
             CAST(SUM(CASE WHEN g = 4 AND 2 * q > m2 THEN t ELSE 0 END)
               AS BIGINT) AS a4,
             CAST(SUM(CASE WHEN g = 5 AND 2 * q > m2 THEN t ELSE 0 END)
               AS BIGINT) AS a5
           FROM gh CROSS JOIN med),
         e AS (
           SELECT m2, n, n1, n2, n3, n4, n5,
                  a1 + a2 + a3 + a4 + a5 AS aa,
                  n - (a1 + a2 + a3 + a4 + a5) AS bb,
                  CAST(a1 AS HUGEINT) * n
                    - CAST(n1 AS HUGEINT) * (a1+a2+a3+a4+a5) AS d1,
                  CAST(a2 AS HUGEINT) * n
                    - CAST(n2 AS HUGEINT) * (a1+a2+a3+a4+a5) AS d2,
                  CAST(a3 AS HUGEINT) * n
                    - CAST(n3 AS HUGEINT) * (a1+a2+a3+a4+a5) AS d3,
                  CAST(a4 AS HUGEINT) * n
                    - CAST(n4 AS HUGEINT) * (a1+a2+a3+a4+a5) AS d4,
                  CAST(a5 AS HUGEINT) * n
                    - CAST(n5 AS HUGEINT) * (a1+a2+a3+a4+a5) AS d5
           FROM m),
         cc AS (
           SELECT m2, n,
                  CASE WHEN aa = 0 OR bb = 0
                       OR least(n1, n2, n3, n4, n5) IS NULL
                       OR least(n1, n2, n3, n4, n5) = 0 THEN NULL
                  ELSE
                   (CAST(d1 AS DOUBLE) * CAST(d1 AS DOUBLE) / n1
                  + CAST(d2 AS DOUBLE) * CAST(d2 AS DOUBLE) / n2
                  + CAST(d3 AS DOUBLE) * CAST(d3 AS DOUBLE) / n3
                  + CAST(d4 AS DOUBLE) * CAST(d4 AS DOUBLE) / n4
                  + CAST(d5 AS DOUBLE) * CAST(d5 AS DOUBLE) / n5)
                  / (CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE))
                  END AS chi2
           FROM e)
         SELECT n, m2 / 2.0 AS pooled_median,
                ROUND(chi2, 4) + 0.0 AS chi2,
                CASE WHEN chi2 IS NULL THEN NULL ELSE
                  chi2 > 9.487729036781154 END AS significant
         FROM cc"""),

    // JONCKHEERE–TERPSTRA — the ORDERED-alternative trend test the
    // unordered Kruskal–Wallis can't express (are quantities
    // monotonically shifting across the 1-URGENT→5-LOW dose order?),
    // the rank-based twin of ab_cochran_armitage's binary trend: the
    // doubled statistic 2·JT = Σ_v Σ_j t_j·(2·Σ_{i<j}cum_i< + Σ_{i<j}t_i)
    // folds all 10 group pairs into per-value prefix columns over the
    // ≤50-cell histogram, every product operand-cast. The null
    // variance uses the TIE-CORRECTED three-term form (quantity has
    // ~n/50 ties per value — the no-tie formula overstates σ² here);
    // z divides exact-integer-derived doubles.
    Q("ab_jonckheere",
      (s, d) => {
        val hist = lineitem(s, d)
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .select(
            expr("CAST(substring(o_orderpriority, 1, 1) AS INT)")
              .as("g"),
            col("l_quantity").cast("int").as("q"))
          .groupBy("q").agg(
            count(lit(1)).as("t"),
            sum(when(col("g") === 1, 1L).otherwise(0L)).as("t1"),
            sum(when(col("g") === 2, 1L).otherwise(0L)).as("t2"),
            sum(when(col("g") === 3, 1L).otherwise(0L)).as("t3"),
            sum(when(col("g") === 4, 1L).otherwise(0L)).as("t4"),
            sum(when(col("g") === 5, 1L).otherwise(0L)).as("t5"))
        val w = Window.orderBy("q")
        val cum = hist
          .withColumn("c1", sum(col("t1")).over(w) - col("t1"))
          .withColumn("c2", sum(col("t2")).over(w) - col("t2"))
          .withColumn("c3", sum(col("t3")).over(w) - col("t3"))
          .withColumn("c4", sum(col("t4")).over(w) - col("t4"))
        cum.agg(
            sum("t").as("n"),
            sum("t1").as("n1"), sum("t2").as("n2"),
            sum("t3").as("n3"), sum("t4").as("n4"),
            sum("t5").as("n5"),
            sum(col("t2").cast(DecimalType(38, 0))
                * (lit(2) * col("c1") + col("t1"))
              + col("t3").cast(DecimalType(38, 0))
                * (lit(2) * (col("c1") + col("c2"))
                   + col("t1") + col("t2"))
              + col("t4").cast(DecimalType(38, 0))
                * (lit(2) * (col("c1") + col("c2") + col("c3"))
                   + col("t1") + col("t2") + col("t3"))
              + col("t5").cast(DecimalType(38, 0))
                * (lit(2) * (col("c1") + col("c2") + col("c3")
                             + col("c4"))
                   + col("t1") + col("t2") + col("t3") + col("t4")))
              .as("jt2"),
            sum(col("t").cast(DecimalType(38, 0)) * (col("t") - 1)
              * (lit(2) * col("t") + 5)).as("tv1"),
            sum(col("t").cast(DecimalType(38, 0)) * (col("t") - 1)
              * (col("t") - 2)).as("tv2"),
            sum(col("t").cast(DecimalType(38, 0)) * (col("t") - 1))
              .as("tv3"))
          .withColumn("gn1",
            expr("""CAST(n1 AS DECIMAL(38,0)) * (n1-1) * (2*n1+5)
                  + CAST(n2 AS DECIMAL(38,0)) * (n2-1) * (2*n2+5)
                  + CAST(n3 AS DECIMAL(38,0)) * (n3-1) * (2*n3+5)
                  + CAST(n4 AS DECIMAL(38,0)) * (n4-1) * (2*n4+5)
                  + CAST(n5 AS DECIMAL(38,0)) * (n5-1) * (2*n5+5)"""))
          .withColumn("gn2",
            expr("""CAST(n1 AS DECIMAL(38,0)) * (n1-1) * (n1-2)
                  + CAST(n2 AS DECIMAL(38,0)) * (n2-1) * (n2-2)
                  + CAST(n3 AS DECIMAL(38,0)) * (n3-1) * (n3-2)
                  + CAST(n4 AS DECIMAL(38,0)) * (n4-1) * (n4-2)
                  + CAST(n5 AS DECIMAL(38,0)) * (n5-1) * (n5-2)"""))
          .withColumn("gn3",
            expr("""CAST(n1 AS DECIMAL(38,0)) * (n1-1)
                  + CAST(n2 AS DECIMAL(38,0)) * (n2-1)
                  + CAST(n3 AS DECIMAL(38,0)) * (n3-1)
                  + CAST(n4 AS DECIMAL(38,0)) * (n4-1)
                  + CAST(n5 AS DECIMAL(38,0)) * (n5-1)"""))
          .withColumn("s2",
            expr("""CAST(n1 AS DECIMAL(38,0)) * n1
                  + CAST(n2 AS DECIMAL(38,0)) * n2
                  + CAST(n3 AS DECIMAL(38,0)) * n3
                  + CAST(n4 AS DECIMAL(38,0)) * n4
                  + CAST(n5 AS DECIMAL(38,0)) * n5"""))
          .withColumn("varr",
            expr("""CASE WHEN n < 3 THEN NULL ELSE
                    (CAST(CAST(n AS DECIMAL(38,0)) * (n-1) * (2*n+5)
                          - gn1 - tv1 AS DOUBLE)) / 72.0D
                    + CAST(gn2 AS DOUBLE) * CAST(tv2 AS DOUBLE)
                      / (36.0D * CAST(CAST(n AS DECIMAL(38,0))
                          * (n-1) * (n-2) AS DOUBLE))
                    + CAST(gn3 AS DOUBLE) * CAST(tv3 AS DOUBLE)
                      / (8.0D * CAST(CAST(n AS DECIMAL(38,0))
                          * (n-1) AS DOUBLE))
                    END"""))
          .withColumn("z",
            expr("""CASE WHEN varr IS NULL OR varr <= 0.0D THEN NULL
                    ELSE (CAST(jt2 AS DOUBLE)
                          - (CAST(CAST(n AS DECIMAL(38,0)) * n - s2
                             AS DOUBLE)) / 2.0D)
                         / (2.0D * sqrt(varr)) END"""))
          .select(col("n"),
            expr("CAST(jt2 AS DOUBLE) / 2.0D").as("jt"),
            expr("ROUND(z, 4) + 0.0D").as("z"),
            expr(s"""CASE WHEN z IS NULL THEN NULL
                    WHEN z > ${StatCrit.Z975}D THEN 'increasing'
                    WHEN z < -${StatCrit.Z975}D THEN 'decreasing'
                    ELSE 'none' END""").as("trend"))
      },
      s"""WITH $PriorityQtyHistCte,
         cum AS (
           SELECT t, t1, t2, t3, t4, t5,
                  SUM(t1) OVER (ORDER BY q) - t1 AS c1,
                  SUM(t2) OVER (ORDER BY q) - t2 AS c2,
                  SUM(t3) OVER (ORDER BY q) - t3 AS c3,
                  SUM(t4) OVER (ORDER BY q) - t4 AS c4
           FROM hist),
         m AS (
           SELECT CAST(SUM(t) AS BIGINT) AS n,
                  CAST(SUM(t1) AS BIGINT) AS n1,
                  CAST(SUM(t2) AS BIGINT) AS n2,
                  CAST(SUM(t3) AS BIGINT) AS n3,
                  CAST(SUM(t4) AS BIGINT) AS n4,
                  CAST(SUM(t5) AS BIGINT) AS n5,
                  SUM(CAST(t2 AS HUGEINT) * (2 * c1 + t1)
                    + CAST(t3 AS HUGEINT) * (2 * (c1 + c2) + t1 + t2)
                    + CAST(t4 AS HUGEINT)
                      * (2 * (c1 + c2 + c3) + t1 + t2 + t3)
                    + CAST(t5 AS HUGEINT)
                      * (2 * (c1 + c2 + c3 + c4) + t1 + t2 + t3 + t4))
                    AS jt2,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS tv1,
                  SUM(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS tv2,
                  SUM(CAST(t AS HUGEINT) * (t - 1)) AS tv3
           FROM cum),
         g AS (
           SELECT n, jt2, tv1, tv2, tv3,
                  CAST(n1 AS HUGEINT) * (n1-1) * (2*n1+5)
                + CAST(n2 AS HUGEINT) * (n2-1) * (2*n2+5)
                + CAST(n3 AS HUGEINT) * (n3-1) * (2*n3+5)
                + CAST(n4 AS HUGEINT) * (n4-1) * (2*n4+5)
                + CAST(n5 AS HUGEINT) * (n5-1) * (2*n5+5) AS gn1,
                  CAST(n1 AS HUGEINT) * (n1-1) * (n1-2)
                + CAST(n2 AS HUGEINT) * (n2-1) * (n2-2)
                + CAST(n3 AS HUGEINT) * (n3-1) * (n3-2)
                + CAST(n4 AS HUGEINT) * (n4-1) * (n4-2)
                + CAST(n5 AS HUGEINT) * (n5-1) * (n5-2) AS gn2,
                  CAST(n1 AS HUGEINT) * (n1-1)
                + CAST(n2 AS HUGEINT) * (n2-1)
                + CAST(n3 AS HUGEINT) * (n3-1)
                + CAST(n4 AS HUGEINT) * (n4-1)
                + CAST(n5 AS HUGEINT) * (n5-1) AS gn3,
                  CAST(n1 AS HUGEINT) * n1 + CAST(n2 AS HUGEINT) * n2
                + CAST(n3 AS HUGEINT) * n3 + CAST(n4 AS HUGEINT) * n4
                + CAST(n5 AS HUGEINT) * n5 AS s2
           FROM m),
         vv AS (
           SELECT n, jt2, s2,
                  CASE WHEN n < 3 THEN NULL ELSE
                    CAST(CAST(n AS HUGEINT) * (n-1) * (2*n+5)
                         - gn1 - tv1 AS DOUBLE) / 72.0
                    + CAST(gn2 AS DOUBLE) * CAST(tv2 AS DOUBLE)
                      / (36.0 * CAST(CAST(n AS HUGEINT)
                          * (n-1) * (n-2) AS DOUBLE))
                    + CAST(gn3 AS DOUBLE) * CAST(tv3 AS DOUBLE)
                      / (8.0 * CAST(CAST(n AS HUGEINT)
                          * (n-1) AS DOUBLE))
                  END AS varr
           FROM g),
         zz AS (
           SELECT n, jt2,
                  CASE WHEN varr IS NULL OR varr <= 0.0 THEN NULL
                  ELSE (CAST(jt2 AS DOUBLE)
                        - CAST(CAST(n AS HUGEINT) * n - s2 AS DOUBLE)
                          / 2.0)
                       / (2.0 * sqrt(varr)) END AS z
           FROM vv)
         SELECT n, CAST(jt2 AS DOUBLE) / 2.0 AS jt,
                ROUND(z, 4) + 0.0 AS z,
                CASE WHEN z IS NULL THEN NULL
""" + s"""                  WHEN z > ${StatCrit.Z975} THEN 'increasing'
                  WHEN z < -${StatCrit.Z975} THEN 'decreasing'
                  ELSE 'none' END AS trend
         FROM zz"""),

    // COCHRAN'S Q — the k-correlated-proportions test McNemar can't
    // generalize to: did the same customers' propensity to order
    // shift across 1995/1996/1997? Subjects are customers, the three
    // year-activity flags come from ONE conditional aggregate per
    // customer, and Q's closed form (6ΣTj² − 2(ΣT)²)/(3Σu − Σu²)
    // needs only exact operand-cast column totals and row-sum moments
    // — constant rows (u=0 or 3) cancel by construction, so the
    // universe choice can't bias it. Significance compares the
    // UNROUNDED Q to the χ²(2) literal.
    Q("ab_cochran_q",
      (s, d) => {
        val flags = orders(s, d)
          .groupBy("o_custkey")
          .agg(
            max(when(year(col("o_orderdate").cast("date")) === 1995, 1L)
              .otherwise(0L)).as("f1"),
            max(when(year(col("o_orderdate").cast("date")) === 1996, 1L)
              .otherwise(0L)).as("f2"),
            max(when(year(col("o_orderdate").cast("date")) === 1997, 1L)
              .otherwise(0L)).as("f3"))
        flags.agg(count(lit(1)).as("n_subjects"),
            sum("f1").as("t1"), sum("f2").as("t2"), sum("f3").as("t3"),
            sum(expr("f1 + f2 + f3")).as("su"),
            sum(expr("(f1 + f2 + f3) * (f1 + f2 + f3)")).as("su2"))
          .withColumn("num",
            expr("""6 * (CAST(t1 AS DECIMAL(38,0)) * t1
                         + CAST(t2 AS DECIMAL(38,0)) * t2
                         + CAST(t3 AS DECIMAL(38,0)) * t3)
                    - 2 * CAST(t1 + t2 + t3 AS DECIMAL(38,0))
                      * (t1 + t2 + t3)"""))
          .withColumn("den", expr("3 * su - su2"))
          .withColumn("qstat",
            expr("""CASE WHEN den = 0 THEN NULL ELSE
                    CAST(num AS DOUBLE) / den END"""))
          .select(col("n_subjects"), col("t1").as("active_1995"),
            col("t2").as("active_1996"), col("t3").as("active_1997"),
            expr("ROUND(qstat, 4) + 0.0D").as("q"),
            expr(s"""CASE WHEN qstat IS NULL THEN NULL ELSE
                    qstat > ${StatCrit.Chi2_95(2)}D END""")
              .as("significant"))
      },
      """WITH flags AS (
           SELECT o_custkey,
                  MAX(CASE WHEN EXTRACT(year FROM CAST(o_orderdate
                    AS DATE)) = 1995 THEN 1 ELSE 0 END) AS f1,
                  MAX(CASE WHEN EXTRACT(year FROM CAST(o_orderdate
                    AS DATE)) = 1996 THEN 1 ELSE 0 END) AS f2,
                  MAX(CASE WHEN EXTRACT(year FROM CAST(o_orderdate
                    AS DATE)) = 1997 THEN 1 ELSE 0 END) AS f3
           FROM orders GROUP BY 1),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
                  CAST(SUM(f1) AS BIGINT) AS t1,
                  CAST(SUM(f2) AS BIGINT) AS t2,
                  CAST(SUM(f3) AS BIGINT) AS t3,
                  CAST(SUM(f1 + f2 + f3) AS BIGINT) AS su,
                  CAST(SUM((f1 + f2 + f3) * (f1 + f2 + f3)) AS BIGINT)
                    AS su2
           FROM flags),
         f AS (
           SELECT n_subjects, t1, t2, t3,
                  6 * (CAST(t1 AS HUGEINT) * t1
                       + CAST(t2 AS HUGEINT) * t2
                       + CAST(t3 AS HUGEINT) * t3)
                  - 2 * CAST(t1 + t2 + t3 AS HUGEINT) * (t1 + t2 + t3)
                    AS num,
                  3 * su - su2 AS den
           FROM m),
         qq AS (
           SELECT n_subjects, t1, t2, t3,
                  CASE WHEN den = 0 THEN NULL ELSE
                    CAST(num AS DOUBLE) / den END AS qstat
           FROM f)
         SELECT n_subjects, t1 AS active_1995, t2 AS active_1996,
                t3 AS active_1997,
                ROUND(qstat, 4) + 0.0 AS q,
                CASE WHEN qstat IS NULL THEN NULL ELSE
                  qstat > """ + s"""${StatCrit.Chi2_95(2)} END
                  AS significant
         FROM qq"""),

    // WELCH'S t — the unequal-variance two-sample mean test on the
    // CONTINUOUS per-user revenue metric (ab_test covers the binary
    // conversion z; CUPED/delta assume this plain comparison exists):
    // per-arm (n, Σ, Σ²) from ONE conditional aggregate with the Σ²
    // products operand-cast, then t and the Welch–Satterthwaite df in
    // fixed-order double expressions over the exact moments.
    // Significance on the UNROUNDED |t| vs the asymptotic 1.96 (df is
    // corpus-scale wherever this runs).
    Q("ab_welch_t",
      (s, d) => {
        val pu = events(s, d)
          .groupBy("user_id")
          .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)"))
            .as("cents"))
          .select(col("cents"), (col("user_id") % 2).as("arm"))
        pu.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 0, col("cents")).otherwise(0L))
              .as("s0"),
            sum(when(col("arm") === 1, col("cents")).otherwise(0L))
              .as("s1"),
            sum(when(col("arm") === 0,
              col("cents").cast(DecimalType(38, 0)) * col("cents"))
              .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q0"),
            sum(when(col("arm") === 1,
              col("cents").cast(DecimalType(38, 0)) * col("cents"))
              .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("q1"))
          .withColumn("v0",
            expr("""CASE WHEN n0 < 2 THEN NULL ELSE
                    (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)
                     * CAST(s0 AS DOUBLE) / n0) / (n0 - 1) END"""))
          .withColumn("v1",
            expr("""CASE WHEN n1 < 2 THEN NULL ELSE
                    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) END"""))
          .withColumn("se2", expr("v1 / n1 + v0 / n0"))
          .withColumn("t",
            expr("""CASE WHEN se2 IS NULL OR se2 <= 0.0D THEN NULL ELSE
                    (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                    / sqrt(se2) END"""))
          .select(col("n0").as("n_ctrl"), col("n1").as("n_treat"),
            // Sign-split half-up: Spark `div` truncates toward zero
            // while DuckDB `//` floors, so the half-up numerator must
            // only ever see a non-negative operand (refund-style
            // negative per-user sums would otherwise diverge).
            expr("CASE WHEN s0 < 0 THEN -1 ELSE 1 END *" +
              " ((abs(CAST(s0 AS DECIMAL(38,0))) * 200 + n0)" +
              " div (2 * n0)) / 100.0D").as("mean_ctrl_cents"),
            expr("CASE WHEN s1 < 0 THEN -1 ELSE 1 END *" +
              " ((abs(CAST(s1 AS DECIMAL(38,0))) * 200 + n1)" +
              " div (2 * n1)) / 100.0D").as("mean_treat_cents"),
            expr("ROUND(t, 4) + 0.0D").as("t_welch"),
            expr("""CASE WHEN t IS NULL THEN NULL ELSE
                    ROUND(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                          + (v0 / n0) * (v0 / n0) / (n0 - 1)), 1)
                    + 0.0D END""").as("df_welch"),
            expr(s"""CASE WHEN t IS NULL THEN NULL ELSE
                    abs(t) > ${StatCrit.Z975}D END""")
              .as("significant"))
      },
      """WITH pu AS (
           SELECT SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT))
                    AS cents,
                  MIN(user_id % 2) AS arm
           FROM events GROUP BY user_id),
         m AS (
           SELECT
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END)
               AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END)
               AS BIGINT) AS s1,
             SUM(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT) * cents
                 ELSE CAST(0 AS HUGEINT) END) AS q0,
             SUM(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT) * cents
                 ELSE CAST(0 AS HUGEINT) END) AS q1
           FROM pu),
         v AS (
           SELECT n0, n1, s0, s1,
                  CASE WHEN n0 < 2 THEN NULL ELSE
                    (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)
                     * CAST(s0 AS DOUBLE) / n0) / (n0 - 1) END AS v0,
                  CASE WHEN n1 < 2 THEN NULL ELSE
                    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) END AS v1
           FROM m),
         tt AS (
           SELECT n0, n1, s0, s1, v0, v1,
                  v1 / n1 + v0 / n0 AS se2,
                  CASE WHEN v1 / n1 + v0 / n0 IS NULL
                       OR v1 / n1 + v0 / n0 <= 0.0 THEN NULL ELSE
                    (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0)
                    / sqrt(v1 / n1 + v0 / n0) END AS t
           FROM v)
         SELECT n0 AS n_ctrl, n1 AS n_treat,
                (CASE WHEN s0 < 0 THEN -1 ELSE 1 END) *
                  ((abs(CAST(s0 AS HUGEINT)) * 200 + n0) // (2 * n0))
                  / 100.0 AS mean_ctrl_cents,
                (CASE WHEN s1 < 0 THEN -1 ELSE 1 END) *
                  ((abs(CAST(s1 AS HUGEINT)) * 200 + n1) // (2 * n1))
                  / 100.0 AS mean_treat_cents,
                ROUND(t, 4) + 0.0 AS t_welch,
                CASE WHEN t IS NULL THEN NULL ELSE
                  ROUND(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                        + (v0 / n0) * (v0 / n0) / (n0 - 1)), 1)
                  + 0.0 END AS df_welch,
                CASE WHEN t IS NULL THEN NULL ELSE
                  abs(t) > """ + s"""${StatCrit.Z975} END
                  AS significant
         FROM tt"""),

    // HODGES–LEHMANN SHIFT — the robust EFFECT-SIZE companion to
    // ab_cliffs_delta's probability statement: the median of all
    // n1·n0 pairwise differences (returned − acknowledged quantity),
    // the location shift a Wilcoxon test actually estimates. The
    // pairwise-difference distribution collapses to the ≤99-cell
    // difference histogram (50×50 value-histogram cross), pair
    // weights operand-cast; the doubled median comes off one cum
    // window with 2·cum vs T ± parity comparisons — positions are
    // never materialized, so nothing divides a beyond-BIGINT pair
    // count. One corpus pass per arm.
    Q("ab_hodges_lehmann",
      (s, d) => {
        val base = lineitem(s, d)
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_quantity").cast("int").as("q"),
            (col("l_returnflag") === "R").as("arm"))
        val h1 = base.filter(col("arm"))
          .groupBy(col("q").as("qa")).agg(count(lit(1)).as("t1"))
        val h0 = base.filter(!col("arm"))
          .groupBy(col("q").as("qb")).agg(count(lit(1)).as("t0"))
        val dh = h1.crossJoin(h0)
          .select((col("qa") - col("qb")).as("diff"),
            (col("t1").cast(DecimalType(38, 0)) * col("t0")).as("w"))
          .groupBy("diff").agg(sum("w").as("w"))
        val w = Window.orderBy("diff")
        dh.withColumn("cum", sum(col("w")).over(w))
          .withColumn("tot",
            sum(col("w")).over(Window.orderBy("diff")
              .rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)))
          .withColumn("r", expr("tot % 2"))
          .agg(
            sum(when(expr("""2 * cum >= tot + r
                         AND 2 * (cum - w) < tot + r"""), col("diff")))
              .as("x1"),
            sum(when(expr("""2 * cum >= tot + 2 - r
                         AND 2 * (cum - w) < tot + 2 - r"""),
              col("diff"))).as("x2"),
            max(expr("CAST(tot AS DOUBLE)")).as("n_pairs"))
          .select(col("n_pairs"),
            expr("CAST(x1 + x2 AS DOUBLE) / 2.0D").as("hl_shift"))
      },
      """WITH base AS (
           SELECT CAST(l_quantity AS INT) AS q,
                  (l_returnflag = 'R') AS arm
           FROM lineitem WHERE l_returnflag IN ('R', 'A')),
         h1 AS (SELECT q AS qa, CAST(COUNT(*) AS BIGINT) AS t1
                FROM base WHERE arm GROUP BY 1),
         h0 AS (SELECT q AS qb, CAST(COUNT(*) AS BIGINT) AS t0
                FROM base WHERE NOT arm GROUP BY 1),
         dh AS (
           SELECT qa - qb AS diff,
                  SUM(CAST(t1 AS HUGEINT) * t0) AS w
           FROM h1 CROSS JOIN h0 GROUP BY 1),
         c AS (
           SELECT diff, w,
                  SUM(w) OVER (ORDER BY diff) AS cum,
                  SUM(w) OVER () AS tot
           FROM dh),
         m AS (
           SELECT
             SUM(CASE WHEN 2 * cum >= tot + tot % 2
                       AND 2 * (cum - w) < tot + tot % 2
                  THEN diff END) AS x1,
             SUM(CASE WHEN 2 * cum >= tot + 2 - tot % 2
                       AND 2 * (cum - w) < tot + 2 - tot % 2
                  THEN diff END) AS x2,
             MAX(CAST(tot AS DOUBLE)) AS n_pairs
           FROM c)
         SELECT n_pairs, CAST(x1 + x2 AS DOUBLE) / 2.0 AS hl_shift
         FROM m"""),

    // PERMUTATION TEST — randomization inference on the per-user
    // revenue difference without ANY distributional assumption (the
    // honest p-value when Welch's normality is in doubt): 64
    // DETERMINISTIC re-randomizations, one per bit of each user's
    // md5 (reproducible across runs/engines/partitionings — no
    // rand()), each pseudo-assignment's |mean diff| compared to the
    // observed arm split's. The corpus explodes ×64 ONCE into
    // (bit, user) partial sums — the per-b statistics are 64-row
    // arithmetic; degenerate draws (an empty pseudo-arm) are excluded
    // from both numerator and denominator on both engines. p lands
    // half-up; significance is an exact integer comparison.
    Q("ab_permutation_test",
      (s, d) => {
        val pu = events(s, d)
          .groupBy("user_id")
          .agg(sum(expr("CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT)"))
            .as("cents"))
          .select(col("user_id"), col("cents"),
            (col("user_id") % 2).as("arm"),
            conv(substring(md5(col("user_id").cast("string")), 1, 8),
              16, 10).cast("long").as("h1"),
            conv(substring(md5(col("user_id").cast("string")), 9, 8),
              16, 10).cast("long").as("h2"))
        val obs = pu.agg(
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1o"),
            sum(when(col("arm") === 1, col("cents")).otherwise(0L))
              .as("s1o"),
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0o"),
            sum(when(col("arm") === 0, col("cents")).otherwise(0L))
              .as("s0o"))
          .select(col("n1o"), col("n0o"),
            expr("""CASE WHEN n1o = 0 OR n0o = 0 THEN NULL ELSE
                    abs(CAST(s1o AS DOUBLE) / n1o
                        - CAST(s0o AS DOUBLE) / n0o) END""").as("dobs"))
        val perB = pu
          .select(col("cents"), col("h1"), col("h2"),
            explode(expr("sequence(0, 63)")).as("b"))
          .withColumn("bit",
            expr("""CASE WHEN b < 32 THEN shiftright(h1, b) & 1
                    ELSE shiftright(h2, b - 32) & 1 END"""))
          .groupBy("b")
          .agg(count(lit(1)).as("n"), sum("cents").as("stot"),
            sum("bit").as("n1"),
            sum(col("cents") * col("bit")).as("s1"))
          .withColumn("dabs",
            expr("""CASE WHEN n1 = 0 OR n1 = n THEN NULL ELSE
                    abs(CAST(s1 AS DOUBLE) / n1
                        - CAST(stot - s1 AS DOUBLE) / (n - n1)) END"""))
        perB.crossJoin(obs)
          .agg(max("n1o").as("n_treat"), max("n0o").as("n_ctrl"),
            max("dobs").as("dobs"),
            sum(when(col("dabs").isNotNull, 1L).otherwise(0L))
              .as("n_valid"),
            sum(when(col("dabs").isNotNull &&
              col("dabs") >= col("dobs"), 1L).otherwise(0L)).as("n_ge"))
          .select(col("n_treat"), col("n_ctrl"),
            expr("ROUND(dobs / 100.0D, 2) + 0.0D")
              .as("obs_diff_dollars"),
            col("n_valid").as("n_permutations"),
            // Half-up div is truncation-safe here by construction:
            // n_ge and n_valid are COUNTS (≥ 0), so Spark div vs
            // DuckDB // cannot diverge — no sign-split needed.
            expr("""CASE WHEN dobs IS NULL OR n_valid = 0 THEN NULL
                    ELSE (2 * (1 + n_ge) * 1000000 + (1 + n_valid))
                         div (2 * (1 + n_valid)) / 1000000.0D
                    END""").as("p_value"),
            expr("""CASE WHEN dobs IS NULL OR n_valid = 0 THEN NULL
                    ELSE 20 * (1 + n_ge) < (1 + n_valid) END""")
              .as("significant"))
      },
      """WITH pu AS (
           SELECT user_id,
                  SUM(CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT))
                    AS cents,
                  MIN(user_id % 2) AS arm,
                  CAST(('0x' || substring(md5(CAST(MIN(user_id)
                    AS VARCHAR)), 1, 8)) AS BIGINT) AS h1,
                  CAST(('0x' || substring(md5(CAST(MIN(user_id)
                    AS VARCHAR)), 9, 8)) AS BIGINT) AS h2
           FROM events GROUP BY user_id),
         obs AS (
           SELECT
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1o,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0o,
             CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END)
               AS BIGINT) AS s1o,
             CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END)
               AS BIGINT) AS s0o
           FROM pu),
         obs2 AS (
           SELECT n1o, n0o,
                  CASE WHEN n1o = 0 OR n0o = 0 THEN NULL ELSE
                    abs(CAST(s1o AS DOUBLE) / n1o
                        - CAST(s0o AS DOUBLE) / n0o) END AS dobs
           FROM obs),
         bits AS (
           SELECT cents, b,
                  CASE WHEN b < 32 THEN (h1 >> b) & 1
                  ELSE (h2 >> (b - 32)) & 1 END AS bit
           FROM pu CROSS JOIN (SELECT UNNEST(range(0, 64)) AS b)),
         perb AS (
           SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(cents) AS BIGINT) AS stot,
                  CAST(SUM(bit) AS BIGINT) AS n1,
                  CAST(SUM(cents * bit) AS BIGINT) AS s1
           FROM bits GROUP BY 1),
         db AS (
           SELECT b,
                  CASE WHEN n1 = 0 OR n1 = n THEN NULL ELSE
                    abs(CAST(s1 AS DOUBLE) / n1
                        - CAST(stot - s1 AS DOUBLE) / (n - n1)) END
                    AS dabs
           FROM perb),
         m AS (
           SELECT MAX(n1o) AS n_treat, MAX(n0o) AS n_ctrl,
                  MAX(dobs) AS dobs,
                  CAST(SUM(CASE WHEN dabs IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_valid,
                  CAST(SUM(CASE WHEN dabs IS NOT NULL AND dabs >= dobs
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
           FROM db CROSS JOIN obs2)
         SELECT n_treat, n_ctrl,
                ROUND(dobs / 100.0, 2) + 0.0 AS obs_diff_dollars,
                n_valid AS n_permutations,
                CASE WHEN dobs IS NULL OR n_valid = 0 THEN NULL
                ELSE (2 * (1 + n_ge) * 1000000 + (1 + n_valid))
                     // (2 * (1 + n_valid)) / 1000000.0
                END AS p_value,
                CASE WHEN dobs IS NULL OR n_valid = 0 THEN NULL
                ELSE 20 * (1 + n_ge) < (1 + n_valid) END AS significant
         FROM m"""),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV — whole-DISTRIBUTION equality of
    // returned vs acknowledged quantities (profile_ks_test drifts one
    // column against a reference; this compares two live samples):
    // D = max|F₁−F₂| is an EXACT integer maximum — per value the
    // cross-multiplied |c₁·n₀ − c₀·n₁| over the ≤50-cell histogram —
    // so the supremum can never move on float noise; only the
    // asymptotic p = 2e^(−2λ²) touches a float, from
    // exact-integer-derived doubles. One cum window over the bounded
    // histogram.
    Q("ab_ks_2sample",
      (s, d) => {
        val hist = returnFlagHist(s, d)
        val w = Window.orderBy("q")
        val cum = hist
          .withColumn("c1", sum(col("t1")).over(w))
          .withColumn("c0", sum(col("t0")).over(w))
        val tot = hist.agg(sum("t1").as("n1"), sum("t0").as("n0"))
        val dmax = cum.crossJoin(broadcast(tot))
          .agg(max(expr(
            """abs(CAST(c1 AS DECIMAL(38,0)) * n0
               - CAST(c0 AS DECIMAL(38,0)) * n1)""")).as("dnum"))
        tot.crossJoin(dmax)
          .withColumn("lam2",
            expr("""CAST(dnum AS DOUBLE) * CAST(dnum AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * n0)
                    / (CAST(n1 AS DOUBLE) * n0) *
                    (CAST(n1 AS DOUBLE) * n0 / (n1 + n0))"""))
          .select(col("n1").as("n_returned"),
            col("n0").as("n_acknowledged"),
            expr("""CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
                    (2 * dnum * 1000000
                     + CAST(n1 AS DECIMAL(38,0)) * n0)
                    div (2 * CAST(n1 AS DECIMAL(38,0)) * n0)
                    / 1000000.0D END""").as("ks_d"),
            expr("""CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
                    ROUND(least(1.0D, 2.0D * exp(-2.0D * lam2)), 6)
                    + 0.0D END""").as("p_value"),
            expr("""CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
                    2.0D * exp(-2.0D * lam2) < 0.05D END""")
              .as("significant"))
      },
      s"""WITH $ReturnFlagHistCte,
         cum AS (
           SELECT t1, t0,
                  SUM(t1) OVER (ORDER BY q) AS c1,
                  SUM(t0) OVER (ORDER BY q) AS c0
           FROM hist),
         tot AS (
           SELECT CAST(SUM(t1) AS BIGINT) AS n1,
                  CAST(SUM(t0) AS BIGINT) AS n0
           FROM hist),
         dmax AS (
           SELECT MAX(abs(CAST(c1 AS HUGEINT) * n0
                          - CAST(c0 AS HUGEINT) * n1)) AS dnum
           FROM cum CROSS JOIN tot),
         f AS (
           SELECT n1, n0, dnum,
                  CAST(dnum AS DOUBLE) * CAST(dnum AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * n0)
                  / (CAST(n1 AS DOUBLE) * n0) *
                  (CAST(n1 AS DOUBLE) * n0 / (n1 + n0)) AS lam2
           FROM tot CROSS JOIN dmax)
         SELECT n1 AS n_returned, n0 AS n_acknowledged,
                CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
                  (2 * dnum * 1000000 + CAST(n1 AS HUGEINT) * n0)
                  // (2 * CAST(n1 AS HUGEINT) * n0) / 1000000.0
                END AS ks_d,
                CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
                  ROUND(least(1.0, 2.0 * exp(-2.0 * lam2)), 6) + 0.0
                END AS p_value,
                CASE WHEN n1 = 0 OR n0 = 0 THEN NULL ELSE
                  2.0 * exp(-2.0 * lam2) < 0.05 END AS significant
         FROM f"""),

    // BRUNNER–MUNZEL — the rank Behrens–Fisher test: like
    // ab_mann_whitney it asks P(X_R > X_A) = ½, but WITHOUT assuming
    // the two arms share a variance (the MW z is anticonservative
    // under unequal spreads). p̂ and both placement variances come
    // EXACTLY off the value histogram — doubled placements
    // Q₂ᵢ(v) = 2·cum_other(<v) + t_other(v) keep ties integral, the
    // weighted moments are operand-cast decimals — and the
    // variance-stabilized W = (p̂−½)/√(S₁²/(n₁n₂²) + S₂²/(n₂n₁²))
    // divides identical exact-derived doubles. Asymptotic ±1.96 gate
    // (df is corpus-scale wherever this runs).
    Q("ab_brunner_munzel",
      (s, d) => {
        val hist = lineitem(s, d)
          .filter(col("l_returnflag").isin("R", "A"))
          .select(col("l_quantity").cast("int").as("q"),
            (col("l_returnflag") === "R").as("arm"))
          .groupBy("q").agg(
            sum(when(col("arm"), 1L).otherwise(0L)).as("t2"),
            sum(when(!col("arm"), 1L).otherwise(0L)).as("t1"))
        val w = Window.orderBy("q")
        val cum = hist
          .withColumn("b1", sum(col("t1")).over(w) - col("t1"))
          .withColumn("b2", sum(col("t2")).over(w) - col("t2"))
          .withColumn("q1", expr("2 * b2 + t2"))
          .withColumn("q2", expr("2 * b1 + t1"))
        cum.agg(
            sum("t1").as("n1"), sum("t2").as("n2"),
            sum(col("t2").cast(DecimalType(38, 0)) * col("q2"))
              .as("a2"),
            sum(col("t2").cast(DecimalType(38, 0)) * col("q2")
              * col("q2")).as("bb2"),
            sum(col("t1").cast(DecimalType(38, 0)) * col("q1"))
              .as("a1"),
            sum(col("t1").cast(DecimalType(38, 0)) * col("q1")
              * col("q1")).as("bb1"))
          .withColumn("phat",
            expr("""CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
                    CAST(a2 AS DOUBLE) / (2.0D * CAST(n1 AS DOUBLE)
                    * n2) END"""))
          .withColumn("s1",
            expr("""CASE WHEN n1 < 2 THEN NULL ELSE
                    (CAST(bb1 AS DOUBLE) - CAST(a1 AS DOUBLE)
                     * CAST(a1 AS DOUBLE) / n1) / 4.0D / (n1 - 1)
                    END"""))
          .withColumn("s2",
            expr("""CASE WHEN n2 < 2 THEN NULL ELSE
                    (CAST(bb2 AS DOUBLE) - CAST(a2 AS DOUBLE)
                     * CAST(a2 AS DOUBLE) / n2) / 4.0D / (n2 - 1)
                    END"""))
          .withColumn("se",
            expr("""CASE WHEN s1 IS NULL OR s2 IS NULL THEN NULL ELSE
                    sqrt(s1 / (CAST(n1 AS DOUBLE) * n2 * n2)
                         + s2 / (CAST(n2 AS DOUBLE) * n1 * n1)) END"""))
          .withColumn("wbm",
            expr("""CASE WHEN se IS NULL OR se = 0.0D THEN NULL ELSE
                    (phat - 0.5D) / se END"""))
          .select(col("n1").as("n_acknowledged"),
            col("n2").as("n_returned"),
            expr("""CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
                    (2 * a2 * 1000000
                     + 2 * CAST(n1 AS DECIMAL(38,0)) * n2)
                    div (4 * CAST(n1 AS DECIMAL(38,0)) * n2)
                    / 1000000.0D END""").as("p_hat"),
            expr("ROUND(wbm, 4) + 0.0D").as("w_bm"),
            expr(s"""CASE WHEN wbm IS NULL THEN NULL ELSE
                    abs(wbm) > ${StatCrit.Z975}D END""")
              .as("significant"))
      },
      """WITH hist AS (
           SELECT CAST(l_quantity AS INT) AS q,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS t2,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS t1
           FROM lineitem WHERE l_returnflag IN ('R', 'A')
           GROUP BY 1),
         cum AS (
           SELECT t1, t2,
                  SUM(t1) OVER (ORDER BY q) - t1 AS b1,
                  SUM(t2) OVER (ORDER BY q) - t2 AS b2
           FROM hist),
         qq AS (
           SELECT t1, t2, 2 * b2 + t2 AS q1, 2 * b1 + t1 AS q2
           FROM cum),
         m AS (
           SELECT CAST(SUM(t1) AS BIGINT) AS n1,
                  CAST(SUM(t2) AS BIGINT) AS n2,
                  SUM(CAST(t2 AS HUGEINT) * q2) AS a2,
                  SUM(CAST(t2 AS HUGEINT) * q2 * q2) AS bb2,
                  SUM(CAST(t1 AS HUGEINT) * q1) AS a1,
                  SUM(CAST(t1 AS HUGEINT) * q1 * q1) AS bb1
           FROM qq),
         st AS (
           SELECT n1, n2, a2,
                  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
                    CAST(a2 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)
                    * n2) END AS phat,
                  CASE WHEN n1 < 2 THEN NULL ELSE
                    (CAST(bb1 AS DOUBLE) - CAST(a1 AS DOUBLE)
                     * CAST(a1 AS DOUBLE) / n1) / 4.0 / (n1 - 1)
                  END AS s1,
                  CASE WHEN n2 < 2 THEN NULL ELSE
                    (CAST(bb2 AS DOUBLE) - CAST(a2 AS DOUBLE)
                     * CAST(a2 AS DOUBLE) / n2) / 4.0 / (n2 - 1)
                  END AS s2
           FROM m),
         ww AS (
           SELECT n1, n2, a2, phat,
                  CASE WHEN s1 IS NULL OR s2 IS NULL THEN NULL
                  WHEN sqrt(s1 / (CAST(n1 AS DOUBLE) * n2 * n2)
                       + s2 / (CAST(n2 AS DOUBLE) * n1 * n1)) = 0.0
                    THEN NULL
                  ELSE (phat - 0.5)
                    / sqrt(s1 / (CAST(n1 AS DOUBLE) * n2 * n2)
                           + s2 / (CAST(n2 AS DOUBLE) * n1 * n1)) END
                    AS wbm
           FROM st)
         SELECT n1 AS n_acknowledged, n2 AS n_returned,
                CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
                  (2 * a2 * 1000000 + 2 * CAST(n1 AS HUGEINT) * n2)
                  // (4 * CAST(n1 AS HUGEINT) * n2) / 1000000.0
                END AS p_hat,
                ROUND(wbm, 4) + 0.0 AS w_bm,
                CASE WHEN wbm IS NULL THEN NULL ELSE
                  abs(wbm) > """ + s"""${StatCrit.Z975} END
                  AS significant
         FROM ww"""),

    // FRIEDMAN TEST — the randomized-BLOCK rank test (does priority
    // affect revenue once the weekday is controlled for?): 35 cells
    // (7 weekday blocks × 5 priorities) of exact cent sums, doubled
    // midranks within each block (PARTITIONED windows over a 35-row
    // relation), treatment rank sums pivot to five named columns so
    // χ²_F = 3/(bk(k+1))·ΣR₂ⱼ² − 3b(k+1) is one fixed-order double
    // expression over exact integers. Cent-sum ties are measure-zero
    // but midranks keep them integral anyway.
    Q("ab_friedman",
      (s, d) => {
        val cells = orders(s, d)
          .groupBy(
            dayofweek(col("o_orderdate").cast("date")).as("blk"),
            expr("CAST(substring(o_orderpriority, 1, 1) AS INT)")
              .as("trt"))
          .agg(expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("y"))
        val wb = Window.partitionBy("blk").orderBy("y")
        val wt = Window.partitionBy("blk", "y")
        val ranked = cells
          .withColumn("r2",
            lit(2) * rank().over(wb) + count(lit(1)).over(wt) - 1)
        ranked.agg(
            countDistinct("blk").as("b"),
            countDistinct("trt").as("k"),
            sum(when(col("trt") === 1, col("r2"))).as("r1"),
            sum(when(col("trt") === 2, col("r2"))).as("rr2"),
            sum(when(col("trt") === 3, col("r2"))).as("r3"),
            sum(when(col("trt") === 4, col("r2"))).as("r4"),
            sum(when(col("trt") === 5, col("r2"))).as("r5"))
          .withColumn("chi2",
            expr("""CASE WHEN b = 0 OR k < 2 THEN NULL ELSE
                    3.0D / (CAST(b AS DOUBLE) * k * (k + 1))
                    * (CAST(r1 AS DOUBLE) * r1 + CAST(rr2 AS DOUBLE) * rr2
                       + CAST(r3 AS DOUBLE) * r3 + CAST(r4 AS DOUBLE) * r4
                       + CAST(r5 AS DOUBLE) * r5)
                    - 3.0D * b * (k + 1) END"""))
          .select(col("b").as("n_blocks"), col("k").as("n_treatments"),
            expr("ROUND(chi2, 4) + 0.0D").as("chi2"),
            expr("""CASE WHEN chi2 IS NULL THEN NULL ELSE
                    chi2 > 9.487729036781154D END""").as("significant"))
      },
      """WITH cells AS (
           SELECT dayofweek(CAST(o_orderdate AS DATE)) + 1 AS blk,
                  CAST(substring(o_orderpriority, 1, 1) AS INT) AS trt,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))*100)
                    AS BIGINT) AS y
           FROM orders GROUP BY 1, 2),
         ranked AS (
           SELECT blk, trt,
                  2 * RANK() OVER (PARTITION BY blk ORDER BY y)
                  + CAST(COUNT(*) OVER (PARTITION BY blk, y) AS BIGINT)
                  - 1 AS r2
           FROM cells),
         m AS (
           SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
                  CAST(COUNT(DISTINCT trt) AS BIGINT) AS k,
                  CAST(SUM(CASE WHEN trt = 1 THEN r2 END) AS BIGINT)
                    AS r1,
                  CAST(SUM(CASE WHEN trt = 2 THEN r2 END) AS BIGINT)
                    AS rr2,
                  CAST(SUM(CASE WHEN trt = 3 THEN r2 END) AS BIGINT)
                    AS r3,
                  CAST(SUM(CASE WHEN trt = 4 THEN r2 END) AS BIGINT)
                    AS r4,
                  CAST(SUM(CASE WHEN trt = 5 THEN r2 END) AS BIGINT)
                    AS r5
           FROM ranked),
         f AS (
           SELECT b, k,
                  CASE WHEN b = 0 OR k < 2 THEN NULL ELSE
                    3.0 / (CAST(b AS DOUBLE) * k * (k + 1))
                    * (CAST(r1 AS DOUBLE) * r1 + CAST(rr2 AS DOUBLE) * rr2
                       + CAST(r3 AS DOUBLE) * r3 + CAST(r4 AS DOUBLE) * r4
                       + CAST(r5 AS DOUBLE) * r5)
                    - CAST(b * (k + 1) AS DOUBLE) * 3.0 END AS chi2
           FROM m)
         SELECT b AS n_blocks, k AS n_treatments,
                ROUND(chi2, 4) + 0.0 AS chi2,
                CASE WHEN chi2 IS NULL THEN NULL ELSE
                  chi2 > 9.487729036781154 END AS significant
         FROM f"""),

    // TWO-SAMPLE ANDERSON–DARLING — the tail-weighted distribution
    // test next to ab_ks_2sample's supremum (AD sees tail departures
    // KS's single max misses): the discrete Scholz–Stephens form
    // A² = (1/(n₁n₂))·Σ_v t(v)·(c₁(v)·N − cum(v)·n₁)²/(cum(v)·(N−cum(v)))
    // over the ≤50-cell pooled histogram, cum < N terms only (E[A²]≈1
    // under the null — the normalization a review pass caught wrong
    // on landing). Each term's numerator square exceeds DECIMAL(38)
    // at corpus scale, so terms evaluate in DOUBLE from exact
    // integers (identical IEEE per engine) and are quantized to
    // DECIMAL(38,12) BEFORE the cross-value sum (order-free; 26
    // integer digits hold the worst cell to ~1e19 rows).
    Q("ab_anderson_darling",
      (s, d) => {
        val hist = returnFlagHist(s, d)
        val w = Window.orderBy("q")
        val cum = hist
          .withColumn("c1", sum(col("t1")).over(w))
          .withColumn("cm", sum(col("t1") + col("t0")).over(w))
        val tot = hist.agg(sum("t1").as("n1"), sum("t0").as("n0"))
        cum.crossJoin(broadcast(tot))
          .withColumn("nn", expr("n1 + n0"))
          .filter(col("cm") < col("nn"))
          .withColumn("term",
            expr("""CAST((t1 + t0) *
                    ((CAST(c1 AS DOUBLE) * nn - CAST(cm AS DOUBLE) * n1)
                     * (CAST(c1 AS DOUBLE) * nn - CAST(cm AS DOUBLE) * n1))
                    / (CAST(cm AS DOUBLE) * (nn - cm))
                    AS DECIMAL(38,12))"""))
          .agg(max("n1").as("n_returned"), max("n0").as("n_acknowledged"),
            sum("term").as("ts"))
          .select(col("n_returned"), col("n_acknowledged"),
            expr("""CASE WHEN n_returned = 0 OR n_acknowledged = 0
                    THEN NULL ELSE
                    ROUND(CAST(ts AS DOUBLE)
                          / (CAST(n_returned AS DOUBLE)
                             * n_acknowledged), 4) + 0.0D
                    END""").as("a2"))
      },
      s"""WITH $ReturnFlagHistCte,
         cum AS (
           SELECT t1, t0,
                  SUM(t1) OVER (ORDER BY q) AS c1,
                  SUM(t1 + t0) OVER (ORDER BY q) AS cm
           FROM hist),
         tot AS (
           SELECT CAST(SUM(t1) AS BIGINT) AS n1,
                  CAST(SUM(t0) AS BIGINT) AS n0
           FROM hist),
         terms AS (
           SELECT n1, n0,
                  CAST((t1 + t0) *
                    ((CAST(c1 AS DOUBLE) * (n1 + n0)
                      - CAST(cm AS DOUBLE) * n1)
                     * (CAST(c1 AS DOUBLE) * (n1 + n0)
                        - CAST(cm AS DOUBLE) * n1))
                    / (CAST(cm AS DOUBLE) * (n1 + n0 - cm))
                    AS DECIMAL(38,12)) AS term
           FROM cum CROSS JOIN tot
           WHERE cm < n1 + n0),
         m AS (
           SELECT MAX(n1) AS n_returned, MAX(n0) AS n_acknowledged,
                  SUM(term) AS ts
           FROM terms)
         SELECT n_returned, n_acknowledged,
                CASE WHEN n_returned = 0 OR n_acknowledged = 0
                THEN NULL ELSE
                  ROUND(CAST(ts AS DOUBLE)
                        / (CAST(n_returned AS DOUBLE) * n_acknowledged),
                    4) + 0.0
                END AS a2
         FROM m"""),

    // QUANTILE TREATMENT EFFECTS — WHERE in the distribution the arms
    // differ (a mean shift and a tail shift tell different stories;
    // ab_welch_t and ab_hodges_lehmann each give one number): exact
    // type-1 deciles per arm off the value histogram — the d-th
    // decile is the value whose cumulative count first reaches
    // ⌈d·n/10⌉, an EXACT integer pick from the cum window — and
    // QTE_d = q_R(d) − q_A(d) per decile. Everything is integers; the
    // output is a 9-row decile profile.
    Q("ab_quantile_effects",
      (s, d) => {
        val hist = returnFlagHist(s, d)
        val w = Window.orderBy("q")
        val cum = hist
          .withColumn("c1", sum(col("t1")).over(w))
          .withColumn("c0", sum(col("t0")).over(w))
          .crossJoin(broadcast(
            hist.agg(sum("t1").as("n1"), sum("t0").as("n0"))))
        val dec = cum.crossJoin(
            broadcast(cum.sparkSession.range(1, 10)
              .select(col("id").as("decile"))))
          .withColumn("k1", expr("(decile * n1 + 9) div 10"))
          .withColumn("k0", expr("(decile * n0 + 9) div 10"))
        dec.groupBy("decile")
          .agg(max("n1").as("n1"), max("n0").as("n0"),
            min(when(col("c1") >= col("k1"), col("q"))).as("qr"),
            min(when(col("c0") >= col("k0"), col("q"))).as("qa"))
          .select(col("decile"),
            when(col("n1") > 0, col("qr")).as("q_returned"),
            when(col("n0") > 0, col("qa")).as("q_acknowledged"),
            when(col("n1") > 0 && col("n0") > 0,
              col("qr") - col("qa")).as("qte"))
          .orderBy("decile")
      },
      s"""WITH $ReturnFlagHistCte,
         cum AS (
           SELECT q,
                  SUM(t1) OVER (ORDER BY q) AS c1,
                  SUM(t0) OVER (ORDER BY q) AS c0
           FROM hist),
         tot AS (
           SELECT CAST(SUM(t1) AS BIGINT) AS n1,
                  CAST(SUM(t0) AS BIGINT) AS n0
           FROM hist),
         dec AS (
           SELECT q, c1, c0, decile, n1, n0,
                  (decile * n1 + 9) // 10 AS k1,
                  (decile * n0 + 9) // 10 AS k0
           FROM cum CROSS JOIN tot
           CROSS JOIN (SELECT UNNEST(range(1, 10)) AS decile))
         SELECT decile,
                CAST(CASE WHEN MAX(n1) > 0 THEN
                  MIN(CASE WHEN c1 >= k1 THEN q END) END AS INT)
                  AS q_returned,
                CAST(CASE WHEN MAX(n0) > 0 THEN
                  MIN(CASE WHEN c0 >= k0 THEN q END) END AS INT)
                  AS q_acknowledged,
                CAST(CASE WHEN MAX(n1) > 0 AND MAX(n0) > 0 THEN
                  MIN(CASE WHEN c1 >= k1 THEN q END)
                   - MIN(CASE WHEN c0 >= k0 THEN q END) END AS INT)
                  AS qte
         FROM dec GROUP BY 1 ORDER BY 1"""),

    // BIC BAYES FACTOR — the EVIDENCE-ratio reading of the ab_test
    // comparison (a p-value can't say "the arms are the same"; a
    // Bayes factor can): ln BF₁₀ ≈ [maxLL(per-arm rates) −
    // maxLL(pooled rate)] − ½·ln N via the BIC approximation, every
    // log-likelihood term k·ln(k/n) built from EXACT conversion
    // counts (k = 0 and k = n terms are 0 by the x·ln x convention,
    // identical CASE on both engines), and the Kass–Raftery verdict
    // reads the UNROUNDED ln BF. One per-user aggregate + one
    // conditional aggregate; one row travels.
    Q("ab_bayes_factor_bic",
      (s, d) => {
        val pu = events(s, d)
          .groupBy("user_id")
          .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 100.0, 1L).otherwise(0L)).as("conv"))
          .select(col("conv"), (col("user_id") % 2).as("arm"))
        pu.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("arm") === 0, col("conv")).otherwise(0L))
              .as("k0"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("arm") === 1, col("conv")).otherwise(0L))
              .as("k1"))
          .withColumn("ll1",
            expr("""CASE WHEN k0 = 0 OR k0 = n0 THEN 0.0D ELSE
                      k0 * ln(CAST(k0 AS DOUBLE) / n0)
                      + (n0 - k0) * ln(1.0D - CAST(k0 AS DOUBLE) / n0)
                    END
                  + CASE WHEN k1 = 0 OR k1 = n1 THEN 0.0D ELSE
                      k1 * ln(CAST(k1 AS DOUBLE) / n1)
                      + (n1 - k1) * ln(1.0D - CAST(k1 AS DOUBLE) / n1)
                    END"""))
          .withColumn("ll0",
            expr("""CASE WHEN k0 + k1 = 0 OR k0 + k1 = n0 + n1
                    THEN 0.0D ELSE
                      (k0 + k1) * ln(CAST(k0 + k1 AS DOUBLE)
                                     / (n0 + n1))
                      + (n0 + n1 - k0 - k1)
                        * ln(1.0D - CAST(k0 + k1 AS DOUBLE)
                             / (n0 + n1))
                    END"""))
          .withColumn("lnbf",
            expr("""CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE
                    (ll1 - ll0) - 0.5D * ln(CAST(n0 + n1 AS DOUBLE))
                    END"""))
          .select(col("n0").as("n_ctrl"), col("k0").as("conv_ctrl"),
            col("n1").as("n_treat"), col("k1").as("conv_treat"),
            expr("ROUND(lnbf, 4) + 0.0D").as("ln_bf10"),
            expr("""CASE WHEN lnbf IS NULL THEN NULL
                    WHEN lnbf < 0.0D THEN 'favors_null'
                    WHEN lnbf < 1.0D THEN 'weak'
                    WHEN lnbf < 3.0D THEN 'positive'
                    WHEN lnbf < 5.0D THEN 'strong'
                    ELSE 'very_strong' END""").as("evidence"))
      },
      """WITH pu AS (
           SELECT MAX(CASE WHEN event_type = 'purchase'
                        AND value > 100.0 THEN 1 ELSE 0 END) AS conv,
                  MIN(user_id % 2) AS arm
           FROM events GROUP BY user_id),
         m AS (
           SELECT
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n0,
             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END)
               AS BIGINT) AS k0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END)
               AS BIGINT) AS k1
           FROM pu),
         ll AS (
           SELECT n0, k0, n1, k1,
                  CASE WHEN k0 = 0 OR k0 = n0 THEN 0.0 ELSE
                    k0 * ln(CAST(k0 AS DOUBLE) / n0)
                    + (n0 - k0) * ln(1.0 - CAST(k0 AS DOUBLE) / n0)
                  END
                + CASE WHEN k1 = 0 OR k1 = n1 THEN 0.0 ELSE
                    k1 * ln(CAST(k1 AS DOUBLE) / n1)
                    + (n1 - k1) * ln(1.0 - CAST(k1 AS DOUBLE) / n1)
                  END AS ll1,
                  CASE WHEN k0 + k1 = 0 OR k0 + k1 = n0 + n1
                  THEN 0.0 ELSE
                    (k0 + k1) * ln(CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                    + (n0 + n1 - k0 - k1)
                      * ln(1.0 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                  END AS ll0
           FROM m),
         f AS (
           SELECT n0, k0, n1, k1,
                  CASE WHEN n0 = 0 OR n1 = 0 THEN NULL ELSE
                    (ll1 - ll0) - 0.5 * ln(CAST(n0 + n1 AS DOUBLE))
                  END AS lnbf
           FROM ll)
         SELECT n0 AS n_ctrl, k0 AS conv_ctrl,
                n1 AS n_treat, k1 AS conv_treat,
                ROUND(lnbf, 4) + 0.0 AS ln_bf10,
                CASE WHEN lnbf IS NULL THEN NULL
                  WHEN lnbf < 0.0 THEN 'favors_null'
                  WHEN lnbf < 1.0 THEN 'weak'
                  WHEN lnbf < 3.0 THEN 'positive'
                  WHEN lnbf < 5.0 THEN 'strong'
                  ELSE 'very_strong' END AS evidence
         FROM f"""),

    // PAIRED SIGN TEST — the assumption-free paired comparison the
    // family lacked (Wilcoxon/W-BM are two-SAMPLE; this pairs each
    // customer with ITSELF): did per-customer revenue rise from 1995
    // to 1996? S = #(increase) among the n customers with a nonzero
    // exact-cent change (zero changes drop by the classic
    // convention), z = (2S − n)/√n from exact integers; the
    // two-sided verdict compares (2S−n)² against z²crit·n as doubles
    // DERIVED from exact integers (identical per engine) — never a
    // rounded z. One customer-grain conditional aggregate; one row
    // travels.
    Q("ab_sign_test",
      (s, d) => {
        val pc = orders(s, d)
          .groupBy("o_custkey")
          .agg(
            sum(when(year(col("o_orderdate").cast("date")) === 1995,
              expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100" +
                " AS BIGINT)")).otherwise(0L)).as("y95"),
            sum(when(year(col("o_orderdate").cast("date")) === 1996,
              expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100" +
                " AS BIGINT)")).otherwise(0L)).as("y96"))
        pc.agg(count(lit(1)).as("n_customers"),
            sum(when(col("y96") > col("y95"), 1L).otherwise(0L))
              .as("s_up"),
            sum(when(col("y96") < col("y95"), 1L).otherwise(0L))
              .as("s_down"))
          .withColumn("n", expr("s_up + s_down"))
          .select(col("n_customers"), col("s_up"), col("s_down"),
            expr("""CASE WHEN n = 0 THEN NULL ELSE
                    ROUND((2.0D * s_up - n) / sqrt(CAST(n AS DOUBLE)),
                      4) + 0.0D END""").as("z"),
            expr(s"""CASE WHEN n = 0 THEN NULL ELSE
                    CAST(2 * s_up - n AS DOUBLE) * (2 * s_up - n)
                    > ${StatCrit.Chi2_95_Df1}D * n END""")
              .as("significant"))
      },
      """WITH pc AS (
           SELECT o_custkey,
                  CAST(SUM(CASE WHEN EXTRACT(year FROM CAST(o_orderdate
                    AS DATE)) = 1995 THEN CAST(CAST(o_totalprice AS
                    DECIMAL(18,2))*100 AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y95,
                  CAST(SUM(CASE WHEN EXTRACT(year FROM CAST(o_orderdate
                    AS DATE)) = 1996 THEN CAST(CAST(o_totalprice AS
                    DECIMAL(18,2))*100 AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y96
           FROM orders GROUP BY 1),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
                  CAST(SUM(CASE WHEN y96 > y95 THEN 1 ELSE 0 END)
                    AS BIGINT) AS s_up,
                  CAST(SUM(CASE WHEN y96 < y95 THEN 1 ELSE 0 END)
                    AS BIGINT) AS s_down
           FROM pc),
         f AS (SELECT n_customers, s_up, s_down,
                      s_up + s_down AS n FROM m)
         SELECT n_customers, s_up, s_down,
                CASE WHEN n = 0 THEN NULL ELSE
                  ROUND((2.0 * s_up - n) / sqrt(CAST(n AS DOUBLE)), 4)
                  + 0.0 END AS z,
                CASE WHEN n = 0 THEN NULL ELSE
                  CAST(2 * s_up - n AS DOUBLE) * (2 * s_up - n)
                  > """ + s"""${StatCrit.Chi2_95_Df1} * n END
                  AS significant
         FROM f"""),
  )
}
