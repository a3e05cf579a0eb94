package graft.queries

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation operators (SURVEY.md §2.4).
  *
  * Scale notes (100 TB): all of these are hash aggregates with map-side
  * partial aggregation — the shuffle carries one row per (partition ×
  * group), not per input row. COUNT(DISTINCT) expands to a two-phase
  * aggregate (exact but shuffle-heavy at scale); `approx_count_distinct`
  * is the constant-memory HyperLogLog++ alternative that merges
  * sketches instead of shuffling values.
  */
object Aggregates {

  /** TPC-H Q1-style pricing summary — the flagship query.
    * Decimal sums for exactness; rounded doubles for averages. */
  def aggGroupBy(spark: SparkSession, sfDir: String): DataFrame = {
    // Products stay in EXACT decimal end-to-end (r13): price has 2 dp
    // and disc/tax are 2-dp rates, so casting the FACTORS first makes
    // the product an exact 4/6-dp decimal with no float multiply. The
    // previous form quantized a DOUBLE product per row — parity-safe
    // at the graded SFs, but the sf1 out-of-range oracle run caught a
    // row whose product sat at a 1e-6 quantization tie across 6M rows
    // (the per-term-ROUND trap at scale: more rows, more ties).
    val priceD = col("l_extendedprice").cast(DecimalType(12, 2))
    val discD = (lit(1) - col("l_discount")).cast(DecimalType(4, 2))
    val taxD = (lit(1) + col("l_tax")).cast(DecimalType(4, 2))
    lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 2).as("sum_base_price"),
        // no final ROUND on the product sums: both engines hold the
        // IDENTICAL exact decimal, and nearest-double of the same
        // rational is bit-identical — while ROUND(x, 6) at |x| > 2^53
        // / 1e6 (~9e9, crossed at sf1) asks for digits BELOW the
        // double's ulp, where the engines' ROUND implementations
        // legitimately disagree (caught by the sf1 oracle run)
        sum((priceD * discD).cast(DecimalType(18, 4))).cast("double")
          .as("sum_disc_price"),
        sum((priceD * discD * taxD).cast(DecimalType(18, 6)))
          .cast("double").as("sum_charge"),
        ravg(col("l_quantity"), 4).as("avg_qty"),
        ravg(col("l_extendedprice"), 4).as("avg_price"),
        ravg(col("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val aggGroupBySql: String = """
    SELECT l_returnflag, l_linestatus,
      ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
      ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
      CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2)) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      ROUND(AVG(l_quantity), 4) AS avg_qty,
      ROUND(AVG(l_extendedprice), 4) AS avg_price,
      ROUND(AVG(l_discount), 4) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  val qs: Seq[Q] = Seq(
    Q("agg_groupby", aggGroupBy _, aggGroupBySql),

    Q("agg_count_distinct",
      (s, d) => orders(s, d).groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
                COUNT(DISTINCT o_custkey) AS n_customers,
                COUNT(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY o_orderpriority"""),

    // HyperLogLog++ sketch. The sketch value itself is engine-specific,
    // so the DECLARED relation is the sketch's accuracy contract: the
    // exact distinct count (cross-checked by the oracle) plus a
    // |approx − exact| ≤ 5% bound evaluated in-engine — if the sketch
    // drifts out of tolerance the boolean flips and the oracle's hash
    // compare fails. ScalaTest keeps the numeric bound check too.
    Q("agg_approx_distinct",
      (s, d) => orders(s, d)
        .groupBy(year(col("o_orderdate")).as("y"))
        .agg(countDistinct(col("o_custkey")).as("exact_customers"),
          // rsd 0.02: default 0.05 is one σ, not a bound — observed
          // per-year error up to 6.4% on this data; at 0.02 the sketch
          // stays ≤1.1% off, well inside the declared 5% tolerance
          approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
        .select(col("y"), col("exact_customers"),
          (abs(col("approx") - col("exact_customers")) <=
            col("exact_customers").cast("double") * 0.05).as("within_tol"))
        .orderBy("y"),
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
                COUNT(DISTINCT o_custkey) AS exact_customers,
                TRUE AS within_tol
         FROM orders GROUP BY 1 ORDER BY y"""),

    // KMV (k-minimum-values) distinct sketch in SEEDED INTEGER
    // arithmetic — the oracle-strengthened member of the estimator
    // family: unlike HLL (engine-specific sketch → boolean-only
    // audit), every intermediate here — the 60-bit md5 hash, the kth
    // minimum, the estimate (k-1)·M/h_k, and the relative error vs
    // the exact count — is computed identically in DuckDB, so est,
    // exact AND rel_err are all HASH-COMPARED data, not pre-checked
    // booleans. A quality regression in the estimator changes rel_err
    // and fails the gate outright. Distributed shape: the distinct
    // (group, hash) set is one exchange; the per-group k-minimum is a
    // rank window; at 100 TB the same sketch merges by unioning
    // hash sets pre-rank (associative, partial-aggregatable).
    Q("agg_kmv_distinct",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 64
        val M = "1152921504606846976.0" // 16^15 = 2^60, the hash space
        val hashed = lineitem(s, d).select(
            col("l_returnflag").as("g"),
            conv(substring(md5(col("l_orderkey").cast("string")), 1, 15),
              16, 10).cast("long").as("hv"))
          .distinct()
        val w = Window.partitionBy("g").orderBy("hv")
        val sketch = hashed.withColumn("rn", row_number().over(w))
          .groupBy("g")
          .agg(count(lit(1)).as("nh"),
            max(when(col("rn") === k, col("hv"))).as("hk"))
        val exact = lineitem(s, d).groupBy(col("l_returnflag").as("g"))
          .agg(countDistinct(col("l_orderkey")).as("exact_keys"))
        sketch.join(exact, Seq("g"))
          .withColumn("est",
            round(when(col("nh") < k, col("nh").cast("double"))
              .otherwise(lit(63.0) * expr(M) /
                col("hk").cast("double")), 4))
          .select(col("g"), col("exact_keys"), col("est"),
            round(abs(col("est") - col("exact_keys").cast("double")) /
              col("exact_keys").cast("double"), 6).as("rel_err"))
          .orderBy("g")
      },
      """WITH h AS (
           SELECT DISTINCT l_returnflag AS g,
                  CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)),
                    1, 15)) AS BIGINT) AS hv
           FROM lineitem),
         r AS (
           SELECT g, hv,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY hv) AS rn
           FROM h),
         s AS (
           SELECT g, COUNT(*) AS nh,
                  MAX(CASE WHEN rn = 64 THEN hv END) AS hk
           FROM r GROUP BY g),
         e AS (
           SELECT l_returnflag AS g,
                  COUNT(DISTINCT l_orderkey) AS exact_keys
           FROM lineitem GROUP BY 1)
         SELECT g, exact_keys,
                ROUND(CASE WHEN nh < 64 THEN CAST(nh AS DOUBLE)
                      ELSE 63.0 * 1152921504606846976.0 /
                           CAST(hk AS DOUBLE) END, 4) AS est,
                ROUND(abs(ROUND(CASE WHEN nh < 64 THEN CAST(nh AS DOUBLE)
                      ELSE 63.0 * 1152921504606846976.0 /
                           CAST(hk AS DOUBLE) END, 4) -
                      CAST(exact_keys AS DOUBLE)) /
                      CAST(exact_keys AS DOUBLE), 6) AS rel_err
         FROM s JOIN e USING (g)
         ORDER BY g"""),

    // EXACT distinct counting via MERGEABLE BITMAPS (Spark 4's bitmap
    // aggregate family) — the third point in the distinct-count design
    // space: HLL is approximate-mergeable (agg_approx_distinct), KMV is
    // approximate-with-set-ops (agg_kmv_ops), bitmaps are EXACT and
    // mergeable: key space splits into 32k-bit buckets
    // (bitmap_bucket_number), each (group, bucket) builds a bitmap
    // map-side (bitmap_construct_agg — partial-aggregatable, OR is the
    // merge), and the final count is a Σ of per-bucket popcounts. The
    // 100 TB shape for dense integer keys: day→month→year rollups
    // reuse stored bucket bitmaps, only bitmap bytes cross the wire,
    // and unlike HLL the answer is exact — which is why the oracle can
    // hash-check it against a plain COUNT(DISTINCT).
    Q("agg_bitmap_distinct",
      (s, d) => {
        val perBucket = lineitem(s, d).select(
            col("l_returnflag").as("g"),
            expr("bitmap_bucket_number(l_orderkey)").as("bucket"),
            expr("bitmap_bit_position(l_orderkey)").as("pos"))
          .groupBy("g", "bucket")
          .agg(expr("bitmap_construct_agg(pos)").as("bm"))
        perBucket.groupBy("g")
          .agg(sum(expr("bitmap_count(bm)")).as("n_distinct_bitmap"),
            count(lit(1)).as("n_buckets"))
          .join(lineitem(s, d).groupBy(col("l_returnflag").as("g"))
            .agg(countDistinct(col("l_orderkey")).as("n_distinct_exact")),
            Seq("g"))
          .select(col("g"), col("n_buckets"), col("n_distinct_bitmap"),
            col("n_distinct_exact"))
          .orderBy("g")
      },
      """WITH ex AS (
           SELECT l_returnflag AS g,
                  COUNT(DISTINCT l_orderkey) AS n_distinct,
                  COUNT(DISTINCT CAST(ceil(l_orderkey / 32768.0)
                    AS BIGINT)) AS n_buckets
           FROM lineitem GROUP BY 1)
         SELECT g, n_buckets, n_distinct AS n_distinct_bitmap,
                n_distinct AS n_distinct_exact
         FROM ex ORDER BY g"""),

    // KMV SET OPERATIONS — the reason production keeps KMV/theta
    // sketches next to HLL: two sketches support union AND
    // intersection estimation (HLL only unions). Customer populations
    // of two half-periods are sketched independently (k=64 minimum
    // 60-bit hashes each — at 100 TB each side is one distinct
    // exchange + a rank window, and sketches merge associatively);
    // the union sketch is the k smallest of the merged hash sets, the
    // Jaccard estimate is the fraction of union-sketch members present
    // in BOTH sides' sketches, and the intersection estimate is
    // J·|A∪B|_est — set overlap WITHOUT ever joining the raw sets.
    // Every intermediate (hashes, kth minima, overlap count, the
    // estimates AND their exact counterparts) is integer-or-single-
    // divide arithmetic replayed identically in DuckDB: the estimator
    // quality itself is hash-compared data, not a boolean audit.
    Q("agg_kmv_ops",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 64
        val M = "1152921504606846976.0" // 2^60 hash space
        val cut = lit("1996-07-01").cast("timestamp")
        val tagged = orders(s, d).select(
          when(col("o_orderdate") < cut, "a").otherwise("b").as("side"),
          col("o_custkey"))
          .distinct()
          .withColumn("hv",
            conv(substring(md5(col("o_custkey").cast("string")), 1, 15),
              16, 10).cast("long"))
        val wSide = Window.partitionBy("side").orderBy("hv")
        val sketches = tagged
          .withColumn("rn", row_number().over(wSide))
          .filter(col("rn") <= k)
          .select("side", "hv")
        val wAll = Window.partitionBy().orderBy("hv")
        val unionSketch = sketches.select("hv").distinct()
          .withColumn("rn", row_number().over(wAll))
          .filter(col("rn") <= k)
        val hk = unionSketch.agg(
          max(when(col("rn") === k, col("hv"))).as("hk"),
          count(lit(1)).as("nu"))
        val overlap = unionSketch
          .join(sketches.filter(col("side") === "a"), Seq("hv"))
          .join(sketches.filter(col("side") === "b").select("hv"),
            Seq("hv"))
          .agg(count(lit(1)).as("x"))
        val exact = orders(s, d).select(
          when(col("o_orderdate") < cut, "a").otherwise("b").as("side"),
          col("o_custkey")).distinct()
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("sides"))
          .agg(count(lit(1)).as("union_exact"),
            count(when(col("sides") === 2, 1)).as("inter_exact"))
        hk.crossJoin(overlap).crossJoin(exact)
          .withColumn("union_est",
            round(when(col("nu") < k, col("nu").cast("double"))
              .otherwise(lit(63.0) * expr(M) / col("hk").cast("double")),
              4))
          .select(
            col("union_exact"), col("inter_exact"),
            round(col("inter_exact").cast("double") /
              col("union_exact").cast("double"), 6).as("jaccard_exact"),
            col("union_est"),
            // denominator is the union SKETCH size min(k, |A∪B|), not
            // the constant k — with a small union the sketch holds
            // nu < k hashes and x/k would understate J (e.g. full
            // overlap at nu=32 would read 0.5)
            round(col("x").cast("double") /
              least(lit(k), col("nu")).cast("double"), 6)
              .as("jaccard_est"),
            round((col("x").cast("double") /
              least(lit(k), col("nu")).cast("double")) *
              col("union_est"), 4).as("inter_est"))
      },
      """WITH tagged AS (
           SELECT DISTINCT
                  CASE WHEN o_orderdate < TIMESTAMP '1996-07-01'
                       THEN 'a' ELSE 'b' END AS side,
                  o_custkey
           FROM orders),
         hashed AS (
           SELECT side, o_custkey,
                  CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                    1, 15)) AS BIGINT) AS hv
           FROM tagged),
         sk AS (
           SELECT side, hv FROM (
             SELECT side, hv,
                    ROW_NUMBER() OVER (PARTITION BY side ORDER BY hv) AS rn
             FROM hashed)
           WHERE rn <= 64),
         us AS (
           SELECT hv, rn FROM (
             SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
             FROM (SELECT DISTINCT hv FROM sk))
           WHERE rn <= 64),
         hk AS (
           SELECT MAX(CASE WHEN rn = 64 THEN hv END) AS hk,
                  COUNT(*) AS nu
           FROM us),
         ov AS (
           SELECT COUNT(*) AS x
           FROM us
           JOIN (SELECT hv FROM sk WHERE side = 'a') a USING (hv)
           JOIN (SELECT hv FROM sk WHERE side = 'b') b USING (hv)),
         ex AS (
           SELECT COUNT(*) AS union_exact,
                  COUNT(CASE WHEN sides = 2 THEN 1 END) AS inter_exact
           FROM (SELECT o_custkey, COUNT(*) AS sides
                 FROM tagged GROUP BY 1)),
         est AS (
           SELECT union_exact, inter_exact, x, nu,
                  ROUND(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
                        ELSE 63.0 * 1152921504606846976.0 /
                             CAST(hk AS DOUBLE) END, 4) AS union_est
           FROM hk, ov, ex)
         SELECT union_exact, inter_exact,
                ROUND(CAST(inter_exact AS DOUBLE) /
                      CAST(union_exact AS DOUBLE), 6) AS jaccard_exact,
                union_est,
                ROUND(CAST(x AS DOUBLE) /
                      CAST(least(64, nu) AS DOUBLE), 6) AS jaccard_est,
                ROUND((CAST(x AS DOUBLE) /
                      CAST(least(64, nu) AS DOUBLE)) * union_est, 4)
                  AS inter_est
         FROM est"""),

    Q("agg_rollup",
      (s, d) => orders(s, d)
        .rollup(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(dsum(col("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("y"), asc_nulls_first("m")),
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
                CAST(month(o_orderdate) AS INT) AS m,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS revenue,
                COUNT(*) AS n
         FROM orders GROUP BY ROLLUP (1, 2)
         ORDER BY y ASC NULLS FIRST, m ASC NULLS FIRST"""),

    Q("agg_cube",
      (s, d) => lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
                ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS sum_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST,
                  l_linestatus ASC NULLS FIRST"""),

    Q("agg_grouping_sets",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("graft_lineitem_gs")
        s.sql("""
          SELECT l_returnflag, l_linestatus,
                 CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
                 CAST(GROUPING(l_linestatus) AS INT) AS g_status,
                 COUNT(*) AS n
          FROM graft_lineitem_gs
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                  (l_returnflag), ())
          ORDER BY l_returnflag ASC NULLS FIRST,
                   l_linestatus ASC NULLS FIRST""")
      },
      """SELECT l_returnflag, l_linestatus,
                CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
                CAST(GROUPING(l_linestatus) AS INT) AS g_status,
                COUNT(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                 (l_returnflag), ())
         ORDER BY l_returnflag ASC NULLS FIRST,
                  l_linestatus ASC NULLS FIRST"""),

    Q("agg_stats",
      (s, d) => lineitem(s, d).groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
                MIN(l_quantity) AS min_qty,
                MAX(l_quantity) AS max_qty,
                ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
                ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // argmax/argmin: the value of one column at another's extremum —
    // tiebreak-free here because o_totalprice ties are broken by the
    // unique o_orderkey inside a struct-max on BOTH engines
    Q("agg_minmax_by",
      (s, d) => orders(s, d).groupBy("o_orderpriority")
        .agg(
          max(struct(col("o_totalprice"), col("o_orderkey")))
            .getField("o_orderkey").as("biggest_order"),
          min(struct(col("o_totalprice"), col("o_orderkey")))
            .getField("o_orderkey").as("smallest_order"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, biggest_order, smallest_order, max_price
         FROM (
           SELECT o_orderpriority,
                  FIRST_VALUE(o_orderkey) OVER (
                    PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey DESC)
                    AS biggest_order,
                  FIRST_VALUE(o_orderkey) OVER (
                    PARTITION BY o_orderpriority
                    ORDER BY o_totalprice ASC, o_orderkey ASC)
                    AS smallest_order,
                  MAX(o_totalprice) OVER (PARTITION BY o_orderpriority)
                    AS max_price,
                  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_orderkey) AS rn
           FROM orders)
         WHERE rn = 1 ORDER BY o_orderpriority"""),

    // corr/covar are scale-free ratios of centered sums — both engines
    // compute them over the same doubles; rounding to 6 absorbs the
    // last-ulp summation-order noise
    Q("agg_corr",
      (s, d) => lineitem(s, d).groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
            .as("covar_qty_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
                ROUND(corr(l_quantity, l_extendedprice), 6)
                  AS corr_qty_price,
                ROUND(covar_samp(l_quantity, l_extendedprice), 4)
                  AS covar_qty_price,
                COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // Linear-regression aggregates from EXACT decimal moment sums: both
    // engines reduce to identical decimal (n, Σx, Σy, Σxy, Σx²), cast
    // to identical doubles, and apply the textually-identical formula —
    // so slope/intercept match to the last bit (builtin regr_slope
    // would accumulate doubles in partition order: nondeterministic).
    Q("agg_regression",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val x = col("l_quantity").cast(DecimalType(18, 2))
        val y = col("l_extendedprice").cast(DecimalType(18, 2))
        lineitem(s, d).groupBy("l_returnflag")
          .agg(count(lit(1)).cast("double").as("n"),
            sum(x).cast("double").as("sx"),
            sum(y).cast("double").as("sy"),
            sum(x * y).cast("double").as("sxy"),
            sum(x * x).cast("double").as("sxx"))
          .selectExpr("l_returnflag", "CAST(n AS BIGINT) AS n",
            """ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS slope""",
            """ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * sx) / n, 4) AS intercept""")
          .orderBy("l_returnflag")
      },
      """WITH sums AS (
           SELECT l_returnflag,
                  CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS DOUBLE) AS sx,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS sy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS sxy,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
                           CAST(l_quantity AS DECIMAL(18,2)))
                    AS DOUBLE) AS sxx
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                  AS slope,
                ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                  * sx) / n, 4) AS intercept
         FROM sums ORDER BY l_returnflag"""),

    // Two-phase salted aggregation (Scale.saltedSum): phase 1 sums on
    // (key, salt) so a skewed key spreads over 16 reducers, phase 2
    // combines partials — decimal-exact, so the oracle is the PLAIN
    // direct sum: the salting must be invisible in the result.
    Q("agg_salted",
      (s, d) => graft.engine.ops.Scale
        .saltedSum(lineitem(s, d), Seq("l_returnflag"),
          col("l_quantity"), 2)
        .select(col("l_returnflag"),
          round(col("total").cast("double"), 2).as("total_qty"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
                ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS total_qty
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    Q("agg_having",
      (s, d) => lineitem(s, d).groupBy("l_partkey")
        .agg(dsum(col("l_quantity"), 2).as("total_qty"),
          count(lit(1)).as("n"))
        .filter(col("total_qty") > 800)
        .orderBy("l_partkey"),
      """SELECT l_partkey,
                ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS total_qty,
                COUNT(*) AS n
         FROM lineitem GROUP BY l_partkey
         HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) > 800
         ORDER BY l_partkey"""),

    // Deterministic mode: the most frequent value per group, ties to the
    // LOWEST value — builtin mode() leaves ties engine-defined, so both
    // sides run the same count + rank formulation instead.
    Q("agg_mode",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = orders(s, d)
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("mode_count"))
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(desc("mode_count"), asc("o_orderpriority"))
        counts.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_orderstatus"),
            col("o_orderpriority").as("mode_priority"), col("mode_count"))
          .orderBy("o_orderstatus")
      },
      """SELECT o_orderstatus, mode_priority, mode_count FROM (
           SELECT o_orderstatus, o_orderpriority AS mode_priority,
                  COUNT(*) AS mode_count,
                  ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                    ORDER BY COUNT(*) DESC, o_orderpriority ASC) AS rn
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         WHERE rn = 1 ORDER BY o_orderstatus"""),

    // Winsorized (p01/p99-clipped) robust stats per group. The
    // percentile is the k-th SMALLEST element with k = ceil(q·n) —
    // integer arithmetic on a rank window, no interpolation — so both
    // engines pick the identical raw money value and the clipped sum
    // stays decimal-exact. One sort-window shuffle on the group key to
    // rank, then a broadcast of the 3-row bounds table back onto the
    // scan; at 100 TB you would swap the exact rank for approx_percentile
    // and keep the same clip+agg shape.
    Q("agg_winsorize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val li = lineitem(s, d).select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("p"))
        val w = Window.partitionBy("flag").orderBy("p")
        val ranked = li.withColumn("rn", row_number().over(w))
        val counts = li.groupBy("flag").agg(count(lit(1)).as("n"))
        val bounds = ranked.join(counts, "flag")
          .groupBy("flag")
          .agg(max(when(col("rn") === expr("(n + 99) div 100"), col("p")))
              .as("p_lo"),
            max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("p")))
              .as("p_hi"))
        li.join(broadcast(bounds), "flag")
          .withColumn("cp", least(greatest(col("p"), col("p_lo")),
            col("p_hi")))
          .groupBy("flag")
          .agg(count(lit(1)).as("n_rows"),
            dsum(col("cp"), 2).as("sum_winsorized"),
            round(min(col("cp")), 2).as("min_w"),
            round(max(col("cp")), 2).as("max_w"))
          .orderBy("flag")
      },
      """WITH li AS (
           SELECT l_returnflag AS flag, l_extendedprice AS p
           FROM lineitem),
         counts AS (SELECT flag, COUNT(*) AS n FROM li GROUP BY 1),
         ranked AS (
           SELECT flag, p,
                  ROW_NUMBER() OVER (PARTITION BY flag ORDER BY p) AS rn
           FROM li),
         bounds AS (
           SELECT r.flag,
                  MAX(CASE WHEN rn = (n + 99) // 100 THEN p END) AS p_lo,
                  MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN p END) AS p_hi
           FROM ranked r JOIN counts c ON r.flag = c.flag
           GROUP BY r.flag)
         SELECT li.flag, COUNT(*) AS n_rows,
                ROUND(CAST(SUM(CAST(LEAST(GREATEST(p, p_lo), p_hi)
                      AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_winsorized,
                ROUND(MIN(LEAST(GREATEST(p, p_lo), p_hi)), 2) AS min_w,
                ROUND(MAX(LEAST(GREATEST(p, p_lo), p_hi)), 2) AS max_w
         FROM li JOIN bounds ON li.flag = bounds.flag
         GROUP BY li.flag ORDER BY li.flag"""),

    // Quantity-weighted mean price — the weighted-average shape done
    // decimal-exact: both the numerator's value×weight products and
    // the weight sum are exact decimals (same discipline as
    // time_weighted_avg), so the only float op is one final division
    // on identical inputs.
    Q("agg_weighted_avg",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        lineitem(s, d).groupBy("l_returnflag")
          .agg(
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              col("l_quantity").cast(DecimalType(18, 2))).as("num"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).as("den"))
          .select(col("l_returnflag"),
            round(col("num").cast("double") / col("den").cast("double"), 6)
              .as("wavg_price"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag,
                ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
                      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                           AS DOUBLE), 6) AS wavg_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Sketch percentiles — the constant-memory alternative to
    // agg_winsorize's exact rank: each partition builds a bounded
    // quantile summary, summaries MERGE (the property that matters at
    // 1000 executors — no per-value shuffle, just one small buffer per
    // partition). Sketch values are engine-specific, so the declared
    // relation is the accuracy contract: exact interpolated percentiles
    // (oracle-checked against quantile_cont) plus in-engine ≤2% bounds
    // on the sketch — same pattern as agg_approx_distinct.
    Q("agg_approx_percentile",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")
            .as("ap"),
          expr("percentile(l_extendedprice, 0.5)").as("e50"),
          expr("percentile(l_extendedprice, 0.95)").as("e95"),
          count(lit(1)).as("n"))
        // the exact percentile is NOT emitted as a value: the two
        // engines' interpolation differs in the last ulp, and a p50
        // midpoint of cent-valued prices lands exactly on a .xx5
        // rounding boundary (observed flipping a cent at sf0.001) —
        // the group count is the cross-checked exact column instead
        .select(col("l_returnflag"), col("n"),
          (abs(col("ap").getItem(0) - col("e50")) <= col("e50") * 0.02)
            .as("p50_ok"),
          (abs(col("ap").getItem(1) - col("e95")) <= col("e95") * 0.02)
            .as("p95_ok"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag, COUNT(*) AS n,
                TRUE AS p50_ok, TRUE AS p95_ok
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // DATASKETCHES HLL with EXPLICIT partition-split mergeability —
    // the 100 TB distinct-count protocol (per-shard sketches at
    // ingest, union at query time, never a re-scan): 8 key-split
    // sketches (hll_sketch_agg, lgK 12) unioned via hll_union_agg
    // must agree with the single-pass whole-table sketch within 1%
    // (NOT exactly: the HLL4 union promotes through an HLL8 gadget
    // whose curMin/aux state differs from a direct build — measured
    // 1488 vs 1494 on 1500 true at sf0.01) and land within 5% of the
    // exact count. Sketch bytes are engine-private, so the declared
    // relation is the audit (agg_approx_distinct discipline): exact
    // count as data, tolerances as booleans.
    Q("agg_hll_partitioned",
      (s, d) => {
        val o = orders(s, d)
        val parts = o.withColumn("pt", col("o_orderkey") % 8)
          .groupBy("pt")
          .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
        val merged = parts.agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("est_merged"))
        val whole = o.agg(
          expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, 12))")
            .as("est_whole"),
          countDistinct(col("o_custkey")).as("n_exact"))
        whole.crossJoin(broadcast(merged))
          .select(col("n_exact"),
            (abs(col("est_merged") - col("est_whole")) <=
              col("est_whole").cast("double") * 0.01)
              .as("merge_within_1pct"),
            (abs(col("est_whole") - col("n_exact")) <=
              col("n_exact").cast("double") * 0.05).as("within_tol"))
      },
      """SELECT COUNT(DISTINCT o_custkey) AS n_exact,
                TRUE AS merge_within_1pct, TRUE AS within_tol
         FROM orders"""),

    // GROUPING() / GROUPING_ID() over a cube — the disambiguation
    // surface agg_cube leaves open: a NULL grouping column in cube
    // output is ambiguous (real NULL vs subtotal) until grouping()
    // labels it. gid uses the shared bit convention (first grouping
    // expr = MSB), hash-checked across engines.
    Q("agg_grouping_func",
      (s, d) => lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping_id().as("gid"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          col("gid"), col("g_rf"), col("g_ls"),
          when(col("gid") === 0, lit("cell"))
            .when(col("gid") === 3, lit("grand_total"))
            .otherwise(lit("subtotal")).as("level"))
        .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
                  AS gid,
                CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
                CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
                CASE GROUPING(l_returnflag, l_linestatus)
                  WHEN 0 THEN 'cell' WHEN 3 THEN 'grand_total'
                  ELSE 'subtotal' END AS level
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag ASC NULLS FIRST,
                  l_linestatus ASC NULLS FIRST"""),

    // BITWISE AGGREGATES (bit_and / bit_or / bit_xor) — the flag-mask
    // reducers permission systems and feature-flag tables fold with:
    // which bits are set EVERYWHERE (and), ANYWHERE (or), an ODD
    // number of times (xor). All three are commutative/associative ⇒
    // map-side partials collapse before the exchange; exact integer
    // arithmetic end to end.
    Q("agg_bit_ops",
      (s, d) => orders(s, d)
        .select(col("o_orderpriority"),
          (col("o_orderkey") % 256).as("flags"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr("bit_and(flags)").as("bits_all"),
          expr("bit_or(flags)").as("bits_any"),
          expr("bit_xor(flags)").as("bits_odd"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, COUNT(*) AS n,
                CAST(BIT_AND(flags) AS BIGINT) AS bits_all,
                CAST(BIT_OR(flags) AS BIGINT) AS bits_any,
                CAST(BIT_XOR(flags) AS BIGINT) AS bits_odd
         FROM (SELECT o_orderpriority, o_orderkey % 256 AS flags
               FROM orders)
         GROUP BY 1 ORDER BY o_orderpriority"""),

    // Skewness + excess kurtosis from RAW POWER SUMS — the engine-
    // neutral higher-moment aggregate. Spark's kurtosis() and DuckDB's
    // kurtosis() disagree on the estimator (population excess vs
    // sample-corrected), so neither is oracle-checkable against the
    // other; computing S1..S4 as exact BIGINT sums of the integer
    // quantity (l_quantity is integral 1..50; 50^4 × 6e5 rows ≈ 3.8e12,
    // far inside BIGINT) and folding the textbook central-moment
    // closed forms in identical double arithmetic makes BOTH moments
    // hash-exact data. One partial-agg exchange on the group key;
    // map-side combine carries four BIGINTs per group — the same
    // single-pass moment sketch a 100 TB profiler streams.
    Q("agg_kurtosis",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"))
        li.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("s1"),
            sum(col("x") * col("x")).as("s2"),
            sum(col("x") * col("x") * col("x")).as("s3"),
            sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
          .withColumn("mu", col("s1").cast("double") / col("n"))
          .withColumn("m2",
            col("s2").cast("double") / col("n") - col("mu") * col("mu"))
          .withColumn("m3",
            col("s3").cast("double") / col("n") -
              lit(3.0) * col("mu") * (col("s2").cast("double") / col("n")) +
              lit(2.0) * col("mu") * col("mu") * col("mu"))
          .withColumn("m4",
            col("s4").cast("double") / col("n") -
              lit(4.0) * col("mu") * (col("s3").cast("double") / col("n")) +
              lit(6.0) * col("mu") * col("mu") *
                (col("s2").cast("double") / col("n")) -
              lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
          .select(col("l_returnflag"), col("n"),
            round(col("mu"), 4).as("mean_q"),
            // m2*sqrt(m2), not pow(m2,1.5): sqrt is correctly-rounded
            // IEEE in both engines, libm pow is not (verify-skill trap)
            round(col("m3") / (col("m2") * sqrt(col("m2"))), 6)
              .as("skewness"),
            round(col("m4") / (col("m2") * col("m2")) - 3.0, 6)
              .as("kurtosis_excess"))
          .orderBy("l_returnflag")
      },
      """WITH li AS (
           SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x
           FROM lineitem),
         s AS (
           SELECT l_returnflag, COUNT(*) AS n,
                  SUM(x) AS s1, SUM(x * x) AS s2,
                  SUM(x * x * x) AS s3, SUM(x * x * x * x) AS s4
           FROM li GROUP BY 1),
         m AS (
           SELECT l_returnflag, n, mu,
                  CAST(s2 AS DOUBLE) / n - mu * mu AS m2,
                  CAST(s3 AS DOUBLE) / n
                    - 3.0 * mu * (CAST(s2 AS DOUBLE) / n)
                    + 2.0 * mu * mu * mu AS m3,
                  CAST(s4 AS DOUBLE) / n
                    - 4.0 * mu * (CAST(s3 AS DOUBLE) / n)
                    + 6.0 * mu * mu * (CAST(s2 AS DOUBLE) / n)
                    - 3.0 * mu * mu * mu * mu AS m4
           FROM (SELECT *, CAST(s1 AS DOUBLE) / n AS mu FROM s))
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                ROUND(mu, 4) AS mean_q,
                ROUND(m3 / (m2 * SQRT(m2)), 6) AS skewness,
                ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
         FROM m ORDER BY l_returnflag"""),

    // MULTIPLE DISTINCT aggregates in ONE GROUP BY — the plan shape
    // that matters: Spark compiles n distinct columns into a single
    // Expand (n× row replication tagged by gid) + two aggregate
    // levels, NOT n separate scans/joins. One pass over lineitem
    // answers "distinct parts, distinct suppliers, distinct ship
    // months, and plain row count per return flag" — the profiling
    // query that naive engines run as four. At 100 TB the Expand
    // multiplies the shuffle by n, which still beats n full scans;
    // the truly-huge-NDV alternative (approx_count_distinct) is the
    // agg_approx_distinct key.
    Q("agg_multi_distinct",
      (s, d) => {
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("l_partkey")).as("ndv_part"),
            countDistinct(col("l_suppkey")).as("ndv_supp"),
            countDistinct(date_format(col("l_shipdate"), "yyyy-MM"))
              .as("ndv_ship_month"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n_rows,
                COUNT(DISTINCT l_partkey) AS ndv_part,
                COUNT(DISTINCT l_suppkey) AS ndv_supp,
                COUNT(DISTINCT strftime(l_shipdate, '%Y-%m'))
                  AS ndv_ship_month
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // 10%-TRIMMED MEAN — agg_winsorize's estimator sibling: instead of
    // CLAMPING the tails it DROPS them (rows ranked inside the bottom
    // or top decile are excluded, then an exact-decimal mean of the
    // keepers). Same group-partitioned rank window (never global);
    // the mean divides exact integer cents in 1e-4 units — ROUND-tie-
    // proof. The robust location estimate for skewed money columns.
    Q("agg_trimmed_mean",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val li = lineitem(s, d).select(col("l_returnflag").as("flag"),
          col("l_extendedprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("p"))
        // (r14 note: a (flag, p)-histogram + blocked-cumulative form was
        // tried to parallelize the 3-task rank window — it regressed:
        // prices are near-unique, so the histogram aggregation is a
        // full-size extra exchange. The single window stays.)
        val w = Window.partitionBy("flag").orderBy("p", "l_orderkey")
        val ranked = lineitem(s, d).select(col("l_returnflag").as("flag"),
            col("l_extendedprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2))
              .as("p"), col("l_orderkey"))
          .withColumn("rn", row_number().over(w))
        val counts = li.groupBy("flag").agg(count(lit(1)).as("n"))
        ranked.join(broadcast(counts), Seq("flag"))
          .filter(col("rn") > expr("n div 10") &&
            col("rn") <= expr("n - n div 10"))
          .groupBy("flag")
          .agg(count(lit(1)).as("n_kept"),
            sum((col("p") * 100).cast("long")).as("sc"))
          .select(col("flag"), col("n_kept"),
            // sc is a corpus-scale cents sum — ×100 in DECIMAL(38,0)
            (expr("""(CAST(sc AS DECIMAL(38,0)) * 100 + n_kept div 2)
                     div n_kept""")
              .cast("double") / 10000.0).as("trimmed_mean"))
          .orderBy("flag")
      },
      """WITH li AS (
           SELECT l_returnflag AS flag,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
                  l_orderkey
           FROM lineitem),
         counts AS (SELECT flag, COUNT(*) AS n FROM li GROUP BY 1),
         ranked AS (
           SELECT flag, p,
                  ROW_NUMBER() OVER (PARTITION BY flag
                    ORDER BY p, l_orderkey) AS rn
           FROM li),
         kept AS (
           SELECT r.flag, p
           FROM ranked r JOIN counts c ON c.flag = r.flag
           WHERE rn > n // 10 AND rn <= n - n // 10)
         SELECT flag, COUNT(*) AS n_kept,
                CAST((SUM(CAST(p * 100 AS HUGEINT)) * 100
                      + COUNT(*) // 2) // COUNT(*) AS DOUBLE)
                  / 10000.0 AS trimmed_mean
         FROM kept GROUP BY 1 ORDER BY flag"""),

    // THEIL T INEQUALITY INDEX of per-customer spend by region —
    // the decomposable inequality measure next to pareto_gini_banded's
    // Lorenz view: T = (1/n)·Σ (x/μ)·ln(x/μ), 0 = perfect equality,
    // ln(n) = one customer holds everything. Spend is exact BIGINT
    // cents (decimal-summed totalprice × 100); the ratio x/μ = x·n/S
    // is formed as one exact DECIMAL product cast to double ONCE, so
    // both engines feed ln() bit-identical operands; per-term t·ln(t)
    // doubles are decimal-pinned before the region sum (order-free),
    // rounded once. Plan: one customer-key partial agg over orders,
    // broadcast nation→region dims, one region agg — no window, no
    // sort, scales as a two-exchange aggregation.
    Q("agg_theil_index",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val spend = orders(s, d)
          .groupBy(col("o_custkey").as("custkey"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) *
            lit(100)).cast("bigint").as("x"))
        val geo = customer(s, d)
          .join(broadcast(nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey").as("custkey"),
            col("r_name").as("region"))
        val base = spend.join(geo, Seq("custkey"))
        val tot = base.groupBy("region")
          .agg(count(lit(1)).as("n"), sum("x").as("s"))
        base.join(broadcast(tot), Seq("region"))
          .withColumn("r",
            (col("x").cast(DecimalType(38, 0)) * col("n"))
              .cast("double") / col("s").cast("double"))
          .withColumn("term",
            (col("r") * log(col("r"))).cast(DecimalType(24, 12)))
          .groupBy("region")
          .agg(count(lit(1)).as("n_customers"),
            round(sum("term").cast("double") /
              first(col("n")).cast("double"), 6).as("theil_t"),
            round(log(first(col("n")).cast("double")), 6)
              .as("theil_max"))
          .orderBy("region")
      },
      """WITH spend AS (
           SELECT o_custkey AS custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
           FROM orders GROUP BY 1),
         geo AS (
           SELECT c_custkey AS custkey, r_name AS region
           FROM customer
           JOIN nation ON n_nationkey = c_nationkey
           JOIN region ON r_regionkey = n_regionkey),
         base AS (
           SELECT g.region, s.x FROM spend s
           JOIN geo g ON g.custkey = s.custkey),
         tot AS (
           SELECT region, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS s
           FROM base GROUP BY 1),
         terms AS (
           SELECT b.region, t.n,
                  CAST(
                    (CAST(CAST(b.x AS DECIMAL(38,0)) * t.n AS DOUBLE)
                       / CAST(t.s AS DOUBLE)) *
                    ln(CAST(CAST(b.x AS DECIMAL(38,0)) * t.n AS DOUBLE)
                       / CAST(t.s AS DOUBLE))
                    AS DECIMAL(24,12)) AS term
           FROM base b JOIN tot t ON t.region = b.region)
         SELECT region, CAST(COUNT(*) AS BIGINT) AS n_customers,
                ROUND(CAST(SUM(term) AS DOUBLE)
                  / CAST(MIN(n) AS DOUBLE), 6) AS theil_t,
                ROUND(ln(CAST(MIN(n) AS DOUBLE)), 6) AS theil_max
         FROM terms GROUP BY region ORDER BY region"""),

    // EXACT PER-GROUP MEDIAN WITHOUT PER-GROUP VALUE BUFFERS — the
    // scale path for exact group quantiles: Spark's percentile()
    // aggregate collects every value of a group into executor memory
    // (agg_percentile's documented ceiling); this key computes the
    // same lower median as a (group, value)-histogram drill-down —
    // count per exact cents value, ONE cumulative window PARTITIONED
    // BY GROUP over the value histogram, pick the first value whose
    // cumulative count reaches k = (n+1) div 2. Memory per task is a
    // histogram row, not a group's row set; the window is
    // key-partitioned, never global. The oracle replays the identical
    // construction (no reliance on an engine's quantile convention).
    Q("agg_percentile_drilldown",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val vals = customer(s, d).select(col("c_mktsegment").as("seg"),
          (col("c_acctbal").cast(DecimalType(18, 2)) * 100)
            .cast("bigint").as("cents"))
        val hist = vals.groupBy("seg", "cents")
          .agg(count(lit(1)).as("c"))
        val tot = vals.groupBy("seg").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("seg").orderBy("cents")
        hist.withColumn("cum", sum("c").over(w))
          .join(tot, Seq("seg"))
          .filter(col("cum") >= expr("(n + 1) div 2") &&
            col("cum") - col("c") < expr("(n + 1) div 2"))
          .select(col("seg"), col("n").as("n_customers"),
            (col("cents").cast("double") / 100.0).as("median_acctbal"))
          .orderBy("seg")
      },
      """WITH vals AS (
           SELECT c_mktsegment AS seg,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS cents
           FROM customer),
         hist AS (
           SELECT seg, cents, CAST(COUNT(*) AS BIGINT) AS c
           FROM vals GROUP BY 1, 2),
         tot AS (
           SELECT seg, CAST(COUNT(*) AS BIGINT) AS n
           FROM vals GROUP BY 1),
         cum AS (
           SELECT seg, cents, c,
                  CAST(SUM(c) OVER (PARTITION BY seg ORDER BY cents)
                    AS BIGINT) AS cum
           FROM hist)
         SELECT cum.seg, tot.n AS n_customers,
                CAST(cents AS DOUBLE) / 100.0 AS median_acctbal
         FROM cum JOIN tot ON tot.seg = cum.seg
         WHERE cum >= (n + 1) // 2 AND cum - c < (n + 1) // 2
         ORDER BY cum.seg"""),

    // SHARE-OF-PARENT within a hierarchy — the % column every rollup
    // report actually renders (nation revenue as % of its region,
    // region as % of grand total): the leaf and parent levels come
    // from ONE region×nation aggregate (parents re-aggregate the
    // leaf relation — dims-sized, no second fact scan), the share is
    // a ROUND-tie-proof 1e-4-unit integer division on exact cents.
    // Two broadcast dim joins + one fact partial agg; the hierarchy
    // math never touches the fact table again.
    Q("agg_rollup_share",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val geo = customer(s, d)
          .join(broadcast(nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey").as("ck"), col("r_name").as("region"),
            col("n_name").as("nation"))
        val leaf = orders(s, d)
          .join(geo, col("o_custkey") === col("ck"))
          .groupBy("region", "nation")
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("bigint").as("cents"))
        val reg = leaf.groupBy("region")
          .agg(sum("cents").as("rcents"))
        val tot = leaf.agg(sum("cents").as("tcents"))
        leaf.join(reg, Seq("region")).crossJoin(broadcast(tot))
          .select(col("region"), col("nation"),
            (col("cents").cast("double") / 100.0).as("revenue"),
            // share numerators are corpus-scale cents × 1e6 — the
            // scale product rides DECIMAL(38,0), never raw LONG
            (expr("""(CAST(cents AS DECIMAL(38,0)) * 1000000
                     + rcents div 2) div rcents""")
              .cast("double") / 10000.0).as("pct_of_region"),
            (expr("""(CAST(rcents AS DECIMAL(38,0)) * 1000000
                     + tcents div 2) div tcents""")
              .cast("double") / 10000.0).as("region_pct_of_total"))
          .orderBy("region", "nation")
      },
      """WITH geo AS (
           SELECT c_custkey AS ck, r_name AS region, n_name AS nation
           FROM customer
           JOIN nation ON n_nationkey = c_nationkey
           JOIN region ON r_regionkey = n_regionkey),
         leaf AS (
           SELECT region, nation,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents
           FROM orders JOIN geo ON ck = o_custkey
           GROUP BY 1, 2),
         reg AS (
           SELECT region, CAST(SUM(cents) AS BIGINT) AS rcents
           FROM leaf GROUP BY 1),
         tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tcents FROM leaf)
         SELECT l.region, l.nation,
                CAST(l.cents AS DOUBLE) / 100.0 AS revenue,
                CAST((CAST(l.cents AS HUGEINT) * 1000000
                      + r.rcents // 2) // r.rcents
                  AS DOUBLE) / 10000.0 AS pct_of_region,
                CAST((CAST(r.rcents AS HUGEINT) * 1000000
                      + t.tcents // 2) // t.tcents
                  AS DOUBLE) / 10000.0 AS region_pct_of_total
         FROM leaf l JOIN reg r ON r.region = l.region
         CROSS JOIN tot t
         ORDER BY l.region, l.nation"""),

    // SUM(DISTINCT) / AVG(DISTINCT) — the dedup-before-aggregate SQL
    // path (quantities repeat heavily: ~50 distinct values per
    // group): Catalyst plans it as the two-level Expand+HashAggregate
    // the multi-distinct key pins. Distinct quantities go through the
    // DECIMAL(18,2) cast pre-agg; the distinct avg is an exact
    // integer division in 1e-4 units off the distinct sum and count.
    Q("agg_sum_distinct",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("""CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(18,2)))
                  * 100 AS BIGINT)""").as("dsum_cents"),
          countDistinct(expr("CAST(l_quantity AS DECIMAL(18,2))"))
            .as("n_distinct"))
        .select(col("l_returnflag"),
          expr("dsum_cents / 100.0D").as("distinct_sum"),
          col("n_distinct"),
          expr("""(dsum_cents * 100 + n_distinct div 2) div n_distinct
                  / 10000.0D""").as("distinct_avg"))
        .orderBy("l_returnflag"),
      """WITH g AS (SELECT l_returnflag,
             CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) * 100
               AS BIGINT) AS dsum_cents,
             CAST(count(DISTINCT CAST(l_quantity AS DECIMAL(18,2)))
               AS BIGINT) AS n_distinct
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag,
                dsum_cents / 100.0 AS distinct_sum,
                n_distinct,
                (dsum_cents * 100 + n_distinct // 2) // n_distinct
                  / 10000.0 AS distinct_avg
         FROM g ORDER BY l_returnflag"""),

    // WEIGHTED MEDIAN (quantity-weighted price per return flag) —
    // the inventory-valuation quantile: the price at which half the
    // UNITS (not half the rows) are cheaper. Exact via the weighted
    // histogram drill-down: per (flag, price-cents) the integer
    // weight sum, one flag-partitioned cumulative window over the
    // bounded distinct-price domain, pick the first value whose
    // cumulative weight reaches half the total (lower weighted
    // median — deterministic, no interpolation ties).
    Q("agg_weighted_median",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = lineitem(s, d)
          .groupBy(col("l_returnflag").as("flag"),
            expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100" +
              " AS BIGINT)").as("cents"))
          .agg(expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)")
            .as("wsum"))
        val tot = h.groupBy("flag").agg(sum("wsum").as("wt"))
        // (r14 note: a blocked cumulative sum was A/B'd here too — slower
        // at this scale, same verdict as ml_spearman_corr; plain window
        // stays.)
        val w = Window.partitionBy("flag").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        h.withColumn("cw", sum("wsum").over(w))
          .join(broadcast(tot), Seq("flag"))
          .filter(col("cw") * 2 >= col("wt"))
          .groupBy("flag")
          .agg(min("cents").as("med_cents"), first("wt").as("wt"))
          .select(col("flag"), col("wt").as("total_units"),
            expr("med_cents / 100.0D").as("weighted_median_price"))
          .orderBy("flag")
      },
      """WITH h AS (SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wsum
           FROM lineitem GROUP BY 1, 2),
         cum AS (SELECT flag, cents, wsum,
             sum(wsum) OVER (PARTITION BY flag ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
           FROM h),
         tot AS (SELECT flag, CAST(sum(wsum) AS BIGINT) AS wt
                 FROM h GROUP BY 1)
         SELECT c.flag, min(t.wt) AS total_units,
                min(c.cents) / 100.0 AS weighted_median_price
         FROM cum c JOIN tot t ON c.flag = t.flag
         WHERE c.cw * 2 >= t.wt
         GROUP BY c.flag ORDER BY c.flag"""),

    // HERFINDAHL–HIRSCHMAN CONCENTRATION — revenue concentration per
    // market segment: HHI = Σ shareᵢ² over customers, the
    // antitrust/dependency metric ("is this segment one whale or a
    // thousand minnows"). Per-customer cents are BIGINT; Σcentsᵢ²
    // pins to DECIMAL(38,0) (overflows BIGINT at sf0.1); HHI itself
    // is the double ratio of two exact magnitudes, rounded once.
    // Effective-N = 1/HHI reported alongside.
    Q("agg_hhi",
      (s, d) => {
        val percust = orders(s, d)
          .join(broadcast(customer(s, d)
            .select("c_custkey", "c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"),
            col("o_custkey").as("k"))
          .agg(expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)")
            .as("c"))
        percust.groupBy("segment")
          .agg(count(lit(1)).as("n_customers"),
            sum("c").as("tot"),
            expr("CAST(sum(CAST(CAST(c AS DECIMAL(38,0)) * c" +
              " AS DECIMAL(38,0))) AS DOUBLE)").as("s2"))
          .select(col("segment"), col("n_customers"),
            expr("""ROUND(s2 / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)),
                    6) + 0.0D""").as("hhi"),
            expr("""ROUND(CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) / s2,
                    4) + 0.0D""").as("effective_n"))
          .orderBy("segment")
      },
      """WITH pc AS (SELECT c_mktsegment AS segment, o_custkey AS k,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))*100) AS BIGINT)
               AS c
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         g AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
                      CAST(sum(c) AS BIGINT) AS tot,
                      CAST(sum(CAST(CAST(c AS DECIMAL(38,0)) * c
                        AS DECIMAL(38,0))) AS DOUBLE) AS s2
               FROM pc GROUP BY 1)
         SELECT segment, n_customers,
                ROUND(s2 / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6)
                  + 0.0 AS hhi,
                ROUND(CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) / s2, 4)
                  + 0.0 AS effective_n
         FROM g ORDER BY segment"""),

    // PRICE/VOLUME BRIDGE — the FP&A decomposition of a revenue
    // change between two years: ΔS = (Δprice)·q₀ + p₀·(Δq) + mix,
    // with p = S/Q a RATIONAL kept exact: price effect =
    // (S₁Q₀ − S₀Q₁) div Q₁ in cents (sign split — Spark div
    // truncates, DuckDB // floors), volume effect = S₀(Q₁−Q₀) div Q₀,
    // and mix is the residual so the three effects reconcile to ΔS
    // EXACTLY by construction. Magnitudes stay under BIGINT
    // (S·Q ≈ 1e17 at sf0.1).
    Q("agg_price_volume_bridge",
      (s, d) => {
        val g = lineitem(s, d)
          .filter(year(col("l_shipdate")).isin(1997, 1998))
          .groupBy(col("l_returnflag").as("flag"),
            year(col("l_shipdate")).as("y"))
          .agg(expr(
            "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*100)" +
              " AS BIGINT)").as("sc"),
            expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)")
              .as("q"))
        val p = g.filter(col("y") === 1997)
          .select(col("flag"), col("sc").as("s0"), col("q").as("q0"))
        val c = g.filter(col("y") === 1998)
          .select(col("flag"), col("sc").as("s1"), col("q").as("q1"))
        // cross products in DECIMAL(38,0): s*q is cents x quantity and
        // overflows BIGINT at ~100x the graded scale (caught by the
        // r13 sf1 oracle run — Spark threw ARITHMETIC_OVERFLOW at
        // s1*q0 ~ 3.5e21). The sign-split keeps floor==trunc parity;
        // the oracle mirrors through HUGEINT (DuckDB's // does not
        // floor DECIMAL operands, but floors HUGEINT).
        p.join(c, Seq("flag"))
          .withColumn("price_eff", expr(
            """CASE WHEN CAST(s1 AS DECIMAL(38,0))*q0
                         - CAST(s0 AS DECIMAL(38,0))*q1 < 0
               THEN -((-(CAST(s1 AS DECIMAL(38,0))*q0
                         - CAST(s0 AS DECIMAL(38,0))*q1)) div q1)
               ELSE (CAST(s1 AS DECIMAL(38,0))*q0
                     - CAST(s0 AS DECIMAL(38,0))*q1) div q1 END"""))
          .withColumn("vol_eff", expr(
            """CASE WHEN CAST(s0 AS DECIMAL(38,0))*(q1 - q0) < 0
               THEN -((-(CAST(s0 AS DECIMAL(38,0))*(q1 - q0))) div q0)
               ELSE (CAST(s0 AS DECIMAL(38,0))*(q1 - q0)) div q0
               END"""))
          .select(col("flag"),
            expr("(s1 - s0) / 100.0D").as("delta_rev"),
            expr("price_eff / 100.0D").as("price_effect"),
            expr("vol_eff / 100.0D").as("volume_effect"),
            expr("(s1 - s0 - price_eff - vol_eff) / 100.0D").as("mix"))
          .orderBy("flag")
      },
      """WITH g AS (SELECT l_returnflag AS flag,
             CAST(year(l_shipdate) AS INT) AS y,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))*100)
               AS BIGINT) AS sc,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
           FROM lineitem WHERE year(l_shipdate) IN (1997, 1998)
           GROUP BY 1, 2),
         pv AS (SELECT p.flag, p.sc AS s0, p.q AS q0,
                       c.sc AS s1, c.q AS q1
                FROM g p JOIN g c ON p.flag = c.flag
                WHERE p.y = 1997 AND c.y = 1998),
         eff AS (SELECT flag, s0, q0, s1, q1,
             CASE WHEN CAST(s1 AS HUGEINT)*q0 - CAST(s0 AS HUGEINT)*q1 < 0
               THEN -((-(CAST(s1 AS HUGEINT)*q0 - CAST(s0 AS HUGEINT)*q1)) // q1)
               ELSE (CAST(s1 AS HUGEINT)*q0 - CAST(s0 AS HUGEINT)*q1) // q1 END AS price_eff,
             CASE WHEN CAST(s0 AS HUGEINT)*(q1 - q0) < 0
               THEN -((-(CAST(s0 AS HUGEINT)*(q1 - q0))) // q0)
               ELSE (CAST(s0 AS HUGEINT)*(q1 - q0)) // q0 END AS vol_eff
           FROM pv)
         SELECT flag, (s1 - s0) / 100.0 AS delta_rev,
                price_eff / 100.0 AS price_effect,
                vol_eff / 100.0 AS volume_effect,
                (s1 - s0 - price_eff - vol_eff) / 100.0 AS mix
         FROM eff ORDER BY flag"""),

    // ATKINSON INDEX (ε=1) — the welfare-weighted inequality measure
    // next to agg_theil_index / pareto_gini_banded: 1 − geomean/mean
    // of per-customer spend, i.e. "what equal share would yield the
    // same welfare". The mean is exact cents; the geomean's per-row
    // ln(x) terms are quantized to DECIMAL(24,12) BEFORE the sum (the
    // Theil/KL trick — order-free decimal addition), so the only
    // engine-shared floats are ln, one exp, one division of identical
    // doubles. One customer-grain aggregate; one row travels.
    Q("agg_atkinson",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        orders(s, d)
          .groupBy(col("o_custkey"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) *
            lit(100)).cast("bigint").as("x"))
          .filter(col("x") > 0)
          .agg(count(lit(1)).as("n"), sum("x").as("sx"),
            sum(expr("CAST(ln(CAST(x AS DOUBLE)) AS DECIMAL(24,12))"))
              .as("sl"))
          .select(col("n").as("n_customers"),
            expr("""ROUND(exp(CAST(sl AS DOUBLE) / n), 2) + 0.0D""")
              .as("geomean_cents"),
            expr("""ROUND(CAST(sx AS DOUBLE) / n, 2) + 0.0D""")
              .as("mean_cents"),
            expr("""CASE WHEN n = 0 THEN NULL ELSE
                    ROUND(1.0D - exp(CAST(sl AS DOUBLE) / n)
                          / (CAST(sx AS DOUBLE) / n), 6) + 0.0D
                    END""").as("atkinson"))
      },
      """WITH spend AS (
           SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS x
           FROM orders GROUP BY o_custkey),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  SUM(CAST(ln(CAST(x AS DOUBLE)) AS DECIMAL(24,12)))
                    AS sl
           FROM spend WHERE x > 0)
         SELECT n AS n_customers,
                ROUND(exp(CAST(sl AS DOUBLE) / n), 2) + 0.0
                  AS geomean_cents,
                ROUND(CAST(sx AS DOUBLE) / n, 2) + 0.0 AS mean_cents,
                CASE WHEN n = 0 THEN NULL ELSE
                  ROUND(1.0 - exp(CAST(sl AS DOUBLE) / n)
                        / (CAST(sx AS DOUBLE) / n), 6) + 0.0
                END AS atkinson
         FROM m"""),
  )
}
