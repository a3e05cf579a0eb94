package graft.queries

import graft.Tables._
import graft.queries.Fragments._
import graft.engine.io.Storage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ETL-utilities verbs (the reference's home turf: batch table
  * maintenance, not analytics): keyed upsert (MERGE semantics on plain
  * parquet), SCD-type-2 history derivation, and declarative data-quality
  * checks. All three are deterministic DataFrame programs with exact
  * DuckDB oracles.
  *
  * Scale notes: the upsert is one left-anti join + union (shuffle on
  * the key, both sides prunable); SCD2 is one window per entity key
  * (state stays on its reducer); DQ checks are scans + one broadcast-able
  * anti join for the FK rule — nothing quadratic, nothing driver-side.
  */
object Etl {

  val qs: Seq[Q] = Seq(
    // MERGE INTO semantics on plain tables: updates win on key match,
    // inserts append, untouched base rows pass through. The update/insert
    // sets are derived deterministically from the base table itself so
    // the query is self-contained on the shared testdata.
    Q("upsert_keyed",
      (s, d) => {
        val base = orders(s, d).select(col("o_orderkey").as("k"),
          col("o_totalprice").as("v"), col("o_orderstatus").as("st"))
        // money math in exact decimals, kept at full product scale —
        // NO scale-reducing decimal cast (Spark rounds HALF_UP there,
        // DuckDB truncates) — then one exact decimal→double conversion
        def scaled(factor: String) =
          (col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
            lit(new java.math.BigDecimal(factor)))
            .cast("double")
        val updates = base.filter(col("k") % 10 === 0)
          .select(col("k"), scaled("1.10").as("v"), lit("U").as("st"))
          .unionByName(base.filter(col("k") % 1000 === 1)
            .select((col("k") + 10000000L).as("k"),
              scaled("0.50").as("v"), lit("N").as("st")))
        updates
          .unionByName(base.join(updates.select("k"), Seq("k"), "left_anti"))
          .orderBy("k")
      },
      """WITH base AS (
           SELECT o_orderkey AS k, o_totalprice AS v, o_orderstatus AS st
           FROM orders),
         updates AS (
           SELECT k, CAST(CAST(v AS DECIMAL(18,2)) *
                    CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE) AS v,
                  'U' AS st
           FROM base WHERE k % 10 = 0
           UNION ALL
           SELECT k + 10000000, CAST(CAST(v AS DECIMAL(18,2)) *
                    CAST(0.50 AS DECIMAL(3,2)) AS DOUBLE) AS v,
                  'N' AS st
           FROM base WHERE k % 1000 = 1)
         SELECT k, v, st FROM updates
         UNION ALL
         SELECT k, v, st FROM base
         WHERE k NOT IN (SELECT k FROM updates)
         ORDER BY k"""),

    // Robust outlier screen — median/MAD instead of mean/stddev, the
    // DQ detector that survives the skewed heavy-tailed distributions
    // z-scores die on (dq_anomaly's mean±k·σ inflates its own
    // threshold when outliers pollute σ; the median and MAD don't
    // move). Two tiny aggregate passes (median, then MAD around it)
    // each broadcast back — robust stats inherently need the median
    // first; both joins are against a 3-row relation. The outlier
    // compare runs on the ROUNDED med/MAD (the established
    // percentile↔quantile_cont parity is at round(2)), so both
    // engines compare identical doubles and the counts hash-match.
    Q("dq_outlier_mad",
      (s, d) => {
        val o = orders(s, d).select(col("o_orderstatus").as("st"),
          col("o_totalprice").as("x"))
        val med = o.groupBy("st")
          .agg(round(expr("percentile(x, 0.5)"), 2).as("med"))
        val dev = o.join(broadcast(med), "st")
        val mad = dev.groupBy("st")
          .agg(round(expr("percentile(abs(x - med), 0.5)"), 2).as("mad"))
        dev.join(broadcast(mad), "st")
          .groupBy("st")
          .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
            count(lit(1)).as("n"),
            count(when(abs(col("x") - col("med")) >
              col("mad") * lit(5.0), 1)).as("n_outliers"))
          .orderBy("st")
      },
      """WITH o AS (
           SELECT o_orderstatus AS st, o_totalprice AS x FROM orders),
         med AS (
           SELECT st, ROUND(quantile_cont(x, 0.5), 2) AS med
           FROM o GROUP BY 1),
         dev AS (SELECT o.st, x, med FROM o JOIN med USING (st)),
         mad AS (
           SELECT st, ROUND(quantile_cont(abs(x - med), 0.5), 2) AS mad
           FROM dev GROUP BY 1)
         SELECT st, MIN(med) AS med, MIN(mad) AS mad,
                COUNT(*) AS n,
                COUNT(CASE WHEN abs(x - med) > mad * 5.0 THEN 1 END)
                  AS n_outliers
         FROM dev JOIN mad USING (st)
         GROUP BY st ORDER BY st"""),

    // CDC change-log APPLY — the Debezium-consumption shape upsert_keyed
    // can't express: an ORDERED stream of I/U/D operations per key
    // (multiple changes to one key, deletes included) collapses onto
    // the snapshot by last-writer-wins on (ts, seq). One window per
    // key — rank the full history once, keep rn=1, drop keys whose
    // final op is D. The snapshot rides in as ts=0 so base rows,
    // updates and deletes all resolve through the SAME rank — no
    // join-per-operation-type, one shuffle on the key total. The
    // change log is synthesized deterministically from the snapshot
    // (op class by key % 10: update, delete, update-then-update —
    // the reorder test — and fresh-key inserts), so the oracle replays
    // construction + the same rank exactly.
    Q("cdc_merge",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val snap = orders(s, d).select(col("o_orderkey").as("k"),
          col("o_totalprice").as("v"), lit("I").as("op"),
          lit(0L).as("ts"), lit(0L).as("seq"))
        def scaled(base: org.apache.spark.sql.DataFrame, factor: String) =
          (base("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
            lit(new java.math.BigDecimal(factor))).cast("double")
        val base = snap.select("k", "v")
        val changes =
          base.filter(col("k") % 10 === 3)
            .select(col("k"), scaled(base, "1.05").as("v"),
              lit("U").as("op"), lit(2L).as("ts"), lit(1L).as("seq"))
          .unionByName(base.filter(col("k") % 10 === 4)
            .select(col("k"), lit(null).cast("double").as("v"),
              lit("D").as("op"), lit(2L).as("ts"), lit(1L).as("seq")))
          // same key changed twice in one tick: seq breaks the tie —
          // the second write must win on every engine
          .unionByName(base.filter(col("k") % 10 === 5)
            .select(col("k"), scaled(base, "2.00").as("v"),
              lit("U").as("op"), lit(2L).as("ts"), lit(1L).as("seq")))
          .unionByName(base.filter(col("k") % 10 === 5)
            .select(col("k"), scaled(base, "3.00").as("v"),
              lit("U").as("op"), lit(2L).as("ts"), lit(2L).as("seq")))
          // fresh-key inserts live in the NEGATIVE key space — disjoint
          // from any positive o_orderkey by construction at every SF
          // (a fixed "+20M" offset collides once o_orderkey reaches it,
          // silently turning documented inserts into updates)
          .unionByName(base.filter(col("k") % 1000 === 7)
            .select((-col("k")).as("k"),
              scaled(base, "0.25").as("v"),
              lit("I").as("op"), lit(1L).as("ts"), lit(1L).as("seq")))
        val w = Window.partitionBy("k")
          .orderBy(desc("ts"), desc("seq"))
        snap.unionByName(changes)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select(col("k"), col("v"), col("op").as("last_op"))
          .orderBy("k")
      },
      """WITH snap AS (
           SELECT o_orderkey AS k, o_totalprice AS v, 'I' AS op,
                  0 AS ts, 0 AS seq
           FROM orders),
         changes AS (
           SELECT k, CAST(CAST(v AS DECIMAL(18,2)) *
                    CAST(1.05 AS DECIMAL(3,2)) AS DOUBLE) AS v,
                  'U' AS op, 2 AS ts, 1 AS seq
           FROM snap WHERE k % 10 = 3
           UNION ALL
           SELECT k, CAST(NULL AS DOUBLE), 'D', 2, 1
           FROM snap WHERE k % 10 = 4
           UNION ALL
           SELECT k, CAST(CAST(v AS DECIMAL(18,2)) *
                    CAST(2.00 AS DECIMAL(3,2)) AS DOUBLE),
                  'U', 2, 1
           FROM snap WHERE k % 10 = 5
           UNION ALL
           SELECT k, CAST(CAST(v AS DECIMAL(18,2)) *
                    CAST(3.00 AS DECIMAL(3,2)) AS DOUBLE),
                  'U', 2, 2
           FROM snap WHERE k % 10 = 5
           UNION ALL
           SELECT -k, CAST(CAST(v AS DECIMAL(18,2)) *
                    CAST(0.25 AS DECIMAL(3,2)) AS DOUBLE),
                  'I', 1, 1
           FROM snap WHERE k % 1000 = 7),
         ranked AS (
           SELECT k, v, op,
                  ROW_NUMBER() OVER (PARTITION BY k
                    ORDER BY ts DESC, seq DESC) AS rn
           FROM (SELECT * FROM snap UNION ALL SELECT * FROM changes))
         SELECT k, v, op AS last_op
         FROM ranked WHERE rn = 1 AND op <> 'D'
         ORDER BY k"""),

    // SCD type 2: each customer's orders become versioned history rows
    // with [valid_from, valid_to) windows; the open row is current.
    Q("scd2_history",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("valid_from", "o_orderkey")
        orders(s, d).select(col("o_custkey"), col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp"))
              .as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("is_current",
            col("valid_to").isNull.cast("int"))
          .orderBy("o_custkey", "valid_from", "o_orderkey")
      },
      Scd2HistorySql),

    // INCREMENTAL SCD2 merge — the production form of scd2_history
    // (which rebuilds from scratch): apply a delta batch of new
    // observations to an existing versioned table by (a) closing each
    // entity's open version at its first new observation, (b)
    // version-chaining ONLY the delta rows. History rows are never
    // re-windowed — the window runs over the delta alone and the close
    // is one entity-keyed equi-join against a min-aggregate, so at
    // 100 TB the cost scales with the batch, not the table. The proof
    // obligation IS the oracle: the merged result hash-equals the
    // from-scratch SCD2 over all observations (the agg_incremental /
    // dedup_incremental equivalence discipline).
    Q("scd2_apply",
      (s, d) => {
        val cut = lit("1997-01-01").cast("timestamp")
        def obs(df: org.apache.spark.sql.DataFrame) =
          df.select(col("o_custkey"), col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp"))
              .as("valid_from"))
        val base = obs(orders(s, d).filter(col("o_orderdate") < cut))
        val delta = obs(orders(s, d).filter(col("o_orderdate") >= cut))
        val w = Window.partitionBy("o_custkey")
          .orderBy("valid_from", "o_orderkey")
        val hist = base.withColumn("valid_to",
          lead(col("valid_from"), 1).over(w))
        val firstNew = delta.groupBy("o_custkey")
          .agg(min(col("valid_from")).as("first_new"))
        val closed = hist.join(firstNew, Seq("o_custkey"), "left")
          .withColumn("valid_to",
            when(col("valid_to").isNull && col("first_new").isNotNull,
              col("first_new")).otherwise(col("valid_to")))
          .drop("first_new")
        val deltaVers = delta.withColumn("valid_to",
          lead(col("valid_from"), 1).over(w))
        closed.unionByName(deltaVers)
          .withColumn("is_current", col("valid_to").isNull.cast("int"))
          .orderBy("o_custkey", "valid_from", "o_orderkey")
      },
      // the from-scratch recompute over ALL observations — incremental
      // apply must be indistinguishable from it
      Scd2HistorySql),

    // Cross-pipeline reconciliation — the migration-validation op: two
    // pipeline outputs compared per partition-key on row count, exact
    // decimal sum, and an ORDER-INDEPENDENT md5 checksum (sum of
    // per-row 32-bit digests — commutative, so layout/partitioning
    // can't affect it). Copy B plants real drift (dropped keys +
    // doubled prices) so the report shows both OK and DRIFT rows.
    // Three aggregates + one tiny full-outer join; at 100 TB each
    // side is one pass.
    Q("recon_tables",
      (s, d) => {
        def digest = conv(substring(md5(concat_ws("|",
          col("o_orderkey").cast("string"),
          col("o_totalprice").cast(org.apache.spark.sql.types
            .DecimalType(18, 2)).cast("string"))), 1, 8), 16, 10)
          .cast("long")
        def side(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.withColumn("y", year(col("o_orderdate")))
            .groupBy("y")
            .agg(count(lit(1)).as(s"n_$tag"),
              dsum(col("o_totalprice"), 2).as(s"sum_$tag"),
              sum(digest).as(s"chk_$tag"))
        val base = orders(s, d)
        val b = base.filter(col("o_orderkey") % 1000 =!= 13)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 500 === 77,
              col("o_totalprice") * 2).otherwise(col("o_totalprice")))
        side(base, "a").join(side(b, "b"), Seq("y"), "full_outer")
          .withColumn("status",
            when(col("n_a") <=> col("n_b") &&
              col("sum_a") <=> col("sum_b") &&
              col("chk_a") <=> col("chk_b"), "OK").otherwise("DRIFT"))
          .orderBy("y")
      },
      """WITH a AS (
           SELECT year(o_orderdate) AS y, COUNT(*) AS n_a,
                  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE), 2) AS sum_a,
                  CAST(SUM(CAST(('0x' || substring(md5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)),
                    1, 8)) AS BIGINT)) AS BIGINT) AS chk_a
           FROM orders GROUP BY 1),
         bsrc AS (
           SELECT o_orderkey, o_orderdate,
                  CASE WHEN o_orderkey % 500 = 77 THEN o_totalprice * 2
                       ELSE o_totalprice END AS o_totalprice
           FROM orders WHERE o_orderkey % 1000 <> 13),
         b AS (
           SELECT year(o_orderdate) AS y, COUNT(*) AS n_b,
                  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE), 2) AS sum_b,
                  CAST(SUM(CAST(('0x' || substring(md5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)),
                    1, 8)) AS BIGINT)) AS BIGINT) AS chk_b
           FROM bsrc GROUP BY 1)
         SELECT y, n_a, sum_a, chk_a, n_b, sum_b, chk_b,
                CASE WHEN n_a IS NOT DISTINCT FROM n_b
                      AND sum_a IS NOT DISTINCT FROM sum_b
                      AND chk_a IS NOT DISTINCT FROM chk_b
                     THEN 'OK' ELSE 'DRIFT' END AS status
         FROM a FULL OUTER JOIN b USING (y)
         ORDER BY y"""),

    // Keyed delete on plain parquet — the right-to-be-forgotten
    // rewrite (DELETE WHERE key IN ...): anti-join the tombstone set,
    // rewrite, read back. Completes the plain-file CRUD family
    // (upsert_keyed / compact_files / maintain_retention); on a real
    // lake the rewrite touches only files whose min/max key stats
    // overlap the tombstones.
    Q("delete_keyed",
      (s, d) => {
        val out = IoQueries.scratch(d, "delete_keyed")
        val base = orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val tombstones = base.filter(col("o_custkey") % 100 === 7)
          .select("o_orderkey")
        base.join(tombstones, Seq("o_orderkey"), "left_anti")
          .write.mode("overwrite").parquet(out)
        Storage.readParquet(s, out).orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_custkey % 100 <> 7
         ORDER BY o_orderkey"""),

    // Blocking-based entity resolution — the record-matching half of
    // the dedup story (the document half is MinHash/Jaccard): candidate
    // pairs come from an equi-join on the BLOCKING key (brand), never
    // all-pairs, then codegen'd edit distance scores the block. At
    // 100 TB the blocking key is the whole game: block sizes bound the
    // quadratic term exactly like the dedup bucket caps.
    Q("entity_match",
      (s, d) => {
        val p = part(s, d).select(col("p_partkey"), col("p_brand"),
          col("p_name"))
        // three exact prunes before the DP, in cost order:
        //  1. COMPOSITE blocking (brand × name-length bucket, probe
        //     expanded ±1 bucket — the join_range_bucketed pattern):
        //     |len diff| ≤ d confines a qualifying pair to adjacent
        //     buckets, and the multiplied key count also breaks the
        //     25-brand join out of its 25-task parallelism ceiling;
        //  2. the exact |len(a)−len(b)| ≤ d length filter;
        //  3. THRESHOLDED levenshtein — banded O(len·d) DP with early
        //     exit (−1 = "exceeds d") instead of the full O(len²)
        //     matrix. Measured at sf0.1: 13.2 s naive → 8.7 s
        //     (threshold+len filter) → 1.06 s once the probe side was
        //     spread (the dominant cost was never the DP — it was all
        //     8M pairs running in ONE task behind a single-file scan).
        // the part table is one small file → one scan partition; spread
        // the probe side first or the broadcast join (and all 8M DP
        // evaluations behind it) run in a single task
        val pa = p.withColumn("lb", expr("length(p_name) div 4"))
        // factor 8: the DP cost per pair varies with name length and
        // block occupancy, and at factor 1 the whole probe sat behind
        // single-digit tasks — the board's most tenancy-sensitive key
        // (0.98↔3.41 s on the same box, r12 adjudication). 8× cores in
        // tasks bounds the stage at mean-task cost, not max.
        val ea = graft.engine.ops.Scale.spreadForCompute(
          pa.withColumn("jb",
            explode(array(col("lb") - 1, col("lb"), col("lb") + 1))), 8)
        ea.as("a").join(pa.as("b"),
            col("a.p_brand") === col("b.p_brand") &&
              col("a.jb") === col("b.lb") &&
              col("a.p_partkey") < col("b.p_partkey"))
          .filter(abs(length(col("a.p_name")) -
            length(col("b.p_name"))) <= 3)
          .select(col("a.p_partkey").as("key_a"),
            col("b.p_partkey").as("key_b"), col("a.p_brand").as("brand"),
            levenshtein(col("a.p_name"), col("b.p_name"), 3).as("dist"))
          .filter(col("dist") =!= -1)
          .orderBy("key_a", "key_b")
      },
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                a.p_brand AS brand,
                CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 3
         ORDER BY key_a, key_b"""),

    // Temporal (point-in-time) join: each fact row joined to the
    // dimension VERSION valid at the fact's timestamp — the SCD2
    // consumption pattern every warehouse join against history needs.
    // Versions come from scd2-deriving orders per customer; facts are
    // later orders of the same customer. Equi-join on the entity key
    // with the validity-interval predicate as the join filter — the
    // right plan because versions-per-key is small (the interval
    // filter prunes within the hash-join group, never all-pairs).
    Q("join_temporal",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey")
          .orderBy("valid_from", "version_key")
        val dim = orders(s, d).select(col("o_custkey"),
            col("o_orderkey").as("version_key"),
            unix_micros(col("o_orderdate").cast("timestamp"))
              .as("valid_from"))
          .withColumn("valid_to",
            coalesce(lead(col("valid_from"), 1).over(w), lit(Long.MaxValue)))
        val fact = orders(s, d).select(col("o_custkey"),
          col("o_orderkey").as("fact_key"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("fact_t"))
        fact.join(dim,
            fact("o_custkey") === dim("o_custkey") &&
              col("fact_t") >= col("valid_from") &&
              col("fact_t") < col("valid_to"))
          .select(fact("o_custkey").as("o_custkey"), col("fact_key"),
            col("fact_t"), col("version_key"))
          .orderBy("o_custkey", "fact_t", "fact_key", "version_key")
      },
      """WITH dim AS (
           SELECT o_custkey, o_orderkey AS version_key,
                  epoch_us(o_orderdate) AS valid_from,
                  COALESCE(LEAD(epoch_us(o_orderdate), 1) OVER (
                    PARTITION BY o_custkey
                    ORDER BY epoch_us(o_orderdate), o_orderkey),
                    9223372036854775807) AS valid_to
           FROM orders),
         fact AS (
           SELECT o_custkey, o_orderkey AS fact_key,
                  epoch_us(o_orderdate) AS fact_t
           FROM orders)
         SELECT f.o_custkey, f.fact_key, f.fact_t, d.version_key
         FROM fact f JOIN dim d
           ON f.o_custkey = d.o_custkey
          AND f.fact_t >= d.valid_from AND f.fact_t < d.valid_to
         ORDER BY f.o_custkey, f.fact_t, f.fact_key, d.version_key"""),

    // Declarative data-quality summary: null / range / referential
    // rules, one (rule, violations) row each — the report a pipeline
    // gates a load on.
    Q("dq_checks",
      (s, d) => {
        val li = lineitem(s, d)
        val counts = li.agg(
          count(lit(1)).as("n_rows"),
          count(when(col("l_quantity").isNull, 1)).as("null_qty"),
          count(when(col("l_extendedprice") <= 0, 1)).as("nonpos_price"),
          count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
            .as("bad_discount"))
        val orphans = li.join(orders(s, d)
            .select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_lineitems"))
        counts.crossJoin(orphans)
          .selectExpr(
            """stack(5,
                 'row_count', n_rows,
                 'null_quantity', null_qty,
                 'nonpositive_price', nonpos_price,
                 'discount_out_of_range', bad_discount,
                 'orphan_lineitems', orphan_lineitems)
               AS (rule, violations)""")
          .orderBy("rule")
      },
      """WITH counts AS (
           SELECT COUNT(*) AS n_rows,
                  COUNT(CASE WHEN l_quantity IS NULL THEN 1 END)
                    AS null_qty,
                  COUNT(CASE WHEN l_extendedprice <= 0 THEN 1 END)
                    AS nonpos_price,
                  COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.1
                    THEN 1 END) AS bad_discount
           FROM lineitem),
         orphans AS (
           SELECT COUNT(*) AS orphan_lineitems FROM lineitem
           WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
         SELECT rule, violations FROM (
           SELECT 'row_count' AS rule, n_rows AS violations
           FROM counts, orphans
           UNION ALL SELECT 'null_quantity', null_qty FROM counts
           UNION ALL SELECT 'nonpositive_price', nonpos_price FROM counts
           UNION ALL SELECT 'discount_out_of_range', bad_discount
           FROM counts
           UNION ALL SELECT 'orphan_lineitems', orphan_lineitems
           FROM orphans)
         ORDER BY rule"""),

    // Volume-anomaly detection over ingest metrics (the pipeline-health
    // companion to dq_checks): daily event counts z-scored against the
    // fleet, |z| > 2 flags the day. The statistics fold to EXACT integer
    // sums (Σn, Σn² as BIGINT) so the z arithmetic is bit-identical in
    // both engines — no stddev_samp whose partial-merge order could
    // drift a ulp. The tiny stats row broadcasts; at scale the daily
    // relation is already the rolled-up metrics table, so this costs
    // one agg over metadata, not a data scan.
    Q("dq_anomaly",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(date_trunc("DAY", col("ts")).cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
        val stats = daily.agg(count(lit(1)).as("k"),
          sum(col("n")).as("s1"), sum(col("n") * col("n")).as("s2"))
        daily.crossJoin(broadcast(stats))
          .select(col("day"), col("n"),
            expr("""round((n - CAST(s1 AS DOUBLE) / k) /
                sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
                      CAST(s1 AS DOUBLE) / k) / (k - 1)), 4)""").as("z"),
            expr("""abs((n - CAST(s1 AS DOUBLE) / k) /
                sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
                      CAST(s1 AS DOUBLE) / k) / (k - 1))) > 2""")
              .as("is_anomaly"))
          .orderBy("day")
      },
      """WITH daily AS (
           SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  COUNT(*) AS n
           FROM events GROUP BY 1),
         st AS (SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS s1,
                       CAST(SUM(n * n) AS BIGINT) AS s2 FROM daily)
         SELECT day, n,
                ROUND((n - CAST(s1 AS DOUBLE) / k) /
                      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
                            CAST(s1 AS DOUBLE) / k) / (k - 1)), 4) AS z,
                abs((n - CAST(s1 AS DOUBLE) / k) /
                    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) *
                          CAST(s1 AS DOUBLE) / k) / (k - 1))) > 2
                  AS is_anomaly
         FROM daily, st ORDER BY day"""),

    // POPULATION STABILITY INDEX — the model-monitoring drift score
    // (banking/scoring standard; >0.1 investigate, >0.25 retrain):
    // PSI = Σ (p_i − q_i)·ln(p_i/q_i) over fixed equal-width value
    // bins between a baseline period and a comparison period.
    // Complements profile_ks_test (KS finds ANY distributional shift;
    // PSI localizes WHERE mass moved, per bin). Fixed bin edges (not
    // quantiles) keep both engines' binning trivially identical; bin
    // probabilities are exact integer ratios, the PSI term is one
    // closed-form double rounded per bin, and the headline PSI is the
    // decimal-pinned sum of per-bin terms. Two scans' worth of counts
    // from ONE scan (conditional aggregation on the period flag).
    Q("dq_drift_psi",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cut = lit("1996-07-01").cast("timestamp")
        val binned = orders(s, d).select(
          (col("o_orderdate") < cut).as("is_base"),
          least(floor(col("o_totalprice") / 60000.0), lit(9.0))
            .cast("int").as("bin"))
        val counts = binned.groupBy("bin")
          .agg(count(when(col("is_base"), 1)).as("n_base"),
            count(when(!col("is_base"), 1)).as("n_comp"))
        val wAll = Window.partitionBy()
        // add-one smoothing per bin (standard PSI practice): a bin
        // empty in one period must not produce ±inf terms
        counts
          .withColumn("p", (col("n_base") + 1).cast("double") /
            (sum(col("n_base")).over(wAll) + 10))
          .withColumn("q", (col("n_comp") + 1).cast("double") /
            (sum(col("n_comp")).over(wAll) + 10))
          .withColumn("psi_term",
            round((col("p") - col("q")) * log(col("p") / col("q")), 6))
          .withColumn("psi_total",
            round(sum(col("psi_term")
              .cast(org.apache.spark.sql.types.DecimalType(12, 6)))
              .over(wAll).cast("double"), 6))
          .select("bin", "n_base", "n_comp", "psi_term", "psi_total")
          .orderBy("bin")
      },
      """WITH binned AS (
           SELECT o_orderdate < TIMESTAMP '1996-07-01' AS is_base,
                  CAST(least(floor(o_totalprice / 60000.0), 9.0) AS INT)
                    AS bin
           FROM orders),
         counts AS (
           SELECT bin,
                  COUNT(CASE WHEN is_base THEN 1 END) AS n_base,
                  COUNT(CASE WHEN NOT is_base THEN 1 END) AS n_comp
           FROM binned GROUP BY 1),
         terms AS (
           SELECT bin, n_base, n_comp,
                  ROUND((CAST(n_base + 1 AS DOUBLE) /
                           ((SELECT SUM(n_base) FROM counts) + 10) -
                         CAST(n_comp + 1 AS DOUBLE) /
                           ((SELECT SUM(n_comp) FROM counts) + 10)) *
                        ln((CAST(n_base + 1 AS DOUBLE) /
                             ((SELECT SUM(n_base) FROM counts) + 10)) /
                            (CAST(n_comp + 1 AS DOUBLE) /
                             ((SELECT SUM(n_comp) FROM counts) + 10))),
                    6) AS psi_term
           FROM counts)
         SELECT bin, n_base, n_comp, psi_term,
                ROUND(CAST((SELECT SUM(CAST(psi_term AS DECIMAL(12,6)))
                  FROM terms) AS DOUBLE), 6) AS psi_total
         FROM terms ORDER BY bin"""),

    // ROW-LEVEL REJECT ROUTING — the half of validation conform_
    // validate's report doesn't give you: WHICH rows failed and WHY.
    // Every planted defect routes its row into the quarantine relation
    // with a deterministic pipe-joined reason list (bad key, null
    // price, impossible date) — the sidecar table an ingest writes
    // next to the accepted data so nothing is silently dropped.
    // One scan, map-side reason derivation, quarantined rows only.
    Q("dq_rules_quarantine",
      (s, d) => {
        // shared planted-defect construction — one source of truth
        // with conform_validate's report (Projections.dirtyOrdersBase)
        Projections.dirtyOrdersBase(s, d)
          .withColumn("reasons", concat_ws("|",
            when(expr("try_cast(k_raw AS BIGINT)").isNull,
              "bad_key"),
            when(col("price_raw").isNull, "null_price"),
            when(expr("try_cast(date_raw AS DATE)").isNull,
              "bad_date")))
          .filter(col("reasons") =!= "")
          .select("o_orderkey", "k_raw", "price_raw", "date_raw",
            "reasons")
          .orderBy("o_orderkey")
      },
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 11 = 0
                     THEN 'x' || CAST(o_orderkey AS VARCHAR)
                     ELSE CAST(o_orderkey AS VARCHAR) END AS k_raw,
                CASE WHEN o_orderkey % 13 = 0 THEN NULL
                     ELSE CAST(o_totalprice AS VARCHAR) END AS price_raw,
                '2024-' || lpad(CAST(o_orderkey % 15 AS VARCHAR), 2, '0')
                  || '-15' AS date_raw,
                concat_ws('|',
                  CASE WHEN o_orderkey % 11 = 0 THEN 'bad_key' END,
                  CASE WHEN o_orderkey % 13 = 0 THEN 'null_price' END,
                  CASE WHEN o_orderkey % 15 IN (0, 13, 14)
                       THEN 'bad_date' END) AS reasons
         FROM orders
         WHERE o_orderkey % 11 = 0 OR o_orderkey % 13 = 0
            OR o_orderkey % 15 IN (0, 13, 14)
         ORDER BY o_orderkey"""),

    // OBSERVED METRICS (df.observe / the Observation API) — pipeline
    // health metrics computed AS A SIDE EFFECT of the job that is
    // already running, not by a second scan: the write/action drives
    // one pass, and the observe() aggregates (row count, null count,
    // decimal value sum, min/max key) ride along inside it as
    // accumulator-backed expressions. This is how a 100 TB ingest
    // reports its own volume/quality without doubling its IO. The
    // declared relation is the observed metric row; the oracle
    // recomputes the same aggregates from the table — they must agree
    // exactly or the side-channel is lying about the data.
    Q("dq_observe",
      (s, d) => {
        import s.implicits._
        val obs = org.apache.spark.sql.Observation("graft_ingest")
        val df = orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            nullif(col("o_orderstatus"), lit("P")).as("status_nullable"))
          .observe(obs,
            count(lit(1)).as("n_rows"),
            count(when(col("status_nullable").isNull, 1))
              .as("n_null_status"),
            round(sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast("double"), 2).as("price_sum"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
        df.write.mode("overwrite")
          .parquet(graft.queries.IoQueries.scratch(d, "observe_sink"))
        val m = obs.get
        Seq((m("n_rows").asInstanceOf[Long],
          m("n_null_status").asInstanceOf[Long],
          m("price_sum").asInstanceOf[Double],
          m("min_key").asInstanceOf[Long],
          m("max_key").asInstanceOf[Long]))
          .toDF("n_rows", "n_null_status", "price_sum", "min_key",
            "max_key")
      },
      """SELECT COUNT(*) AS n_rows,
                COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END)
                  AS n_null_status,
                ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS price_sum,
                MIN(o_orderkey) AS min_key,
                MAX(o_orderkey) AS max_key
         FROM orders"""),

    // Freshness / staleness audit — the pipeline-health check that
    // catches a SILENT upstream stall (dq_anomaly flags weird volume;
    // this flags "stream X stopped arriving"): per event stream, the
    // last-seen timestamp and its age against the corpus watermark
    // (max ts — the deterministic stand-in for wall-clock "now"; in
    // production the reference instant is the run timestamp). Ages are
    // exact integer µs; stale = older than 1 h. One tiny aggregate +
    // broadcast 1-row watermark — a metadata-scale query even at
    // 100 TB (at scale the per-partition max comes free from parquet
    // footer stats).
    Q("dq_freshness",
      (s, d) => {
        val ev = events(s, d).select(col("event_type"),
          unix_micros(col("ts")).as("t"))
        val per = ev.groupBy("event_type")
          .agg(max(col("t")).as("last_us"), count(lit(1)).as("n_events"))
        val now = ev.agg(max(col("t")).as("now_us"))
        per.crossJoin(broadcast(now))
          .select(col("event_type"), col("n_events"),
            col("last_us"),
            (col("now_us") - col("last_us")).as("age_us"),
            ((col("now_us") - col("last_us")) > 3600000000L).as("stale"))
          .orderBy("event_type")
      },
      """WITH ev AS (
           SELECT event_type, epoch_us(ts) AS t FROM events),
         per AS (
           SELECT event_type, MAX(t) AS last_us, COUNT(*) AS n_events
           FROM ev GROUP BY 1),
         now_w AS (SELECT MAX(t) AS now_us FROM ev)
         SELECT event_type, n_events, last_us,
                now_us - last_us AS age_us,
                (now_us - last_us) > 3600000000 AS stale
         FROM per, now_w ORDER BY event_type"""),

    // SEQUENCE-GAP DETECTION (gaps-and-islands) — the DQ screen for
    // "did the ingest drop a run of ids?": contiguous missing ranges
    // of the 'F'-status orderkey sequence, top-50 by length. The
    // textbook form is lag() over a GLOBAL key order — the exact
    // single-task funnel this repo bans — so the blocking is
    // RECURSIVE, three levels: within 4096-key blocks the lag window
    // is PARTITIONED by block; cross-block gaps come from a lag over
    // the per-block min/max summary PARTITIONED by blk2 = blk div
    // 4096; and cross-blk2 gaps from a lag over the per-blk2 summary
    // — a keyspace/4096²-bounded relation (~6k rows even at a 10^11
    // keyspace), the only unpartitioned window and bounded by
    // construction. No stage puts more than 4096 rows through one
    // task. Together the three legs emit every consecutive-pair gap
    // exactly once (a pair is same-blk, same-blk2-different-blk, or
    // different-blk2 — disjoint and exhaustive); absent blocks fold
    // into the higher leg by construction. TakeOrdered(50) bounds the
    // output. The oracle runs the textbook single-window form — same
    // gap set.
    Q("dq_sequence_gaps",
      (s, d) => {
        graft.engine.ops.Scale.blockedSequenceGaps(
          orders(s, d)
            .filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey").as("k")))
          .select(col("gap_start"), col("gap_end"),
            (col("gap_end") - col("gap_start") + 1).as("gap_len"))
          .orderBy(desc("gap_len"), col("gap_start"))
          .limit(50)
      },
      """WITH k AS (
           SELECT o_orderkey AS k FROM orders
           WHERE o_orderstatus = 'F'),
         g AS (SELECT k, lag(k) OVER (ORDER BY k) AS prev FROM k)
         SELECT prev + 1 AS gap_start, k - 1 AS gap_end,
                k - prev - 1 AS gap_len
         FROM g WHERE prev IS NOT NULL AND k - prev > 1
         ORDER BY gap_len DESC, gap_start LIMIT 50"""),

    // KEY-UNIQUENESS profiling — "is this a primary key?" answered
    // with numbers (dq_checks screens values; this screens key
    // CANDIDATES): for each declared candidate, total rows, distinct
    // key values, rows carrying a duplicated key, and the verdict.
    // Each candidate is one distinct-aggregate exchange on its key;
    // map-side partials shrink to NDV before the wire. The
    // (o_custkey, day) candidate is deliberately non-unique so the
    // report shows both verdicts.
    Q("dq_uniqueness",
      (s, d) => {
        val o = orders(s, d)
        def audit(name: String, keyed: org.apache.spark.sql.DataFrame) =
          keyed.groupBy("k").agg(count(lit(1)).as("c"))
            .agg(lit(name).as("candidate"),
              sum(col("c")).as("n_rows"),
              count(lit(1)).as("n_keys"),
              sum(when(col("c") > 1, col("c")).otherwise(0L))
                .as("dup_rows"))
            .withColumn("is_unique", col("dup_rows") === 0)
        audit("o_orderkey",
            o.select(col("o_orderkey").cast("string").as("k")))
          .unionByName(audit("o_custkey_day",
            o.select(concat_ws("|", col("o_custkey"),
              col("o_orderdate").cast("date")).as("k"))))
          .orderBy("candidate")
      },
      """WITH a AS (
           SELECT 'o_orderkey' AS candidate,
                  CAST(SUM(c) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) AS BIGINT) AS n_keys,
                  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                    AS dup_rows
           FROM (SELECT CAST(o_orderkey AS VARCHAR) AS k, COUNT(*) AS c
                 FROM orders GROUP BY 1)),
         b AS (
           SELECT 'o_custkey_day' AS candidate,
                  CAST(SUM(c) AS BIGINT) AS n_rows,
                  CAST(COUNT(*) AS BIGINT) AS n_keys,
                  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
                    AS dup_rows
           FROM (SELECT concat_ws('|', o_custkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS k,
                   COUNT(*) AS c
                 FROM orders GROUP BY 1))
         SELECT candidate, n_rows, n_keys, dup_rows,
                dup_rows = 0 AS is_unique
         FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         ORDER BY candidate"""),

    // SCD2 AS-OF (point-in-time) query — the read side of the
    // scd2_history/scd2_apply pair: reconstruct the table exactly as
    // it stood at T by picking, per entity, the version whose
    // [valid_from, valid_to) interval brackets T. One entity-keyed
    // window to chain versions, one predicate — Catalyst pushes the
    // valid_from ≤ T half into the scan, and at 100 TB a version table
    // partitioned on entity key answers this with zero extra
    // exchanges. Exact µs integer time arithmetic throughout.
    Q("scd2_asof",
      (s, d) => {
        val t = lit(java.time.Instant.parse("1998-06-15T00:00:00Z")
          .getEpochSecond * 1000000L)
        val w = Window.partitionBy("o_custkey")
          .orderBy("valid_from", "o_orderkey")
        orders(s, d).select(col("o_custkey"), col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp"))
              .as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .filter(col("valid_from") <= t &&
            (col("valid_to").isNull || col("valid_to") > t))
          .select(col("o_custkey"), col("o_orderkey").as("version_key"),
            col("valid_from"), col("valid_to"))
          .orderBy("o_custkey")
      },
      """WITH h AS (
           SELECT o_custkey, o_orderkey,
                  epoch_us(o_orderdate) AS valid_from,
                  LEAD(epoch_us(o_orderdate), 1) OVER (
                    PARTITION BY o_custkey
                    ORDER BY epoch_us(o_orderdate), o_orderkey)
                    AS valid_to
           FROM orders),
         t AS (SELECT epoch_us(TIMESTAMP '1998-06-15 00:00:00') AS tv)
         SELECT o_custkey, o_orderkey AS version_key, valid_from,
                valid_to
         FROM h, t
         WHERE valid_from <= tv AND (valid_to IS NULL OR valid_to > tv)
         ORDER BY o_custkey"""),

    // REFERENTIAL-INTEGRITY report — the FK orphan audit every
    // warehouse DQ suite runs: for each declared child→parent edge,
    // count child rows whose key has no parent. The child stream for
    // lineitem→orders carries PLANTED drift (every 97th order key
    // negated — simulating an upstream key-mangling bug) so the report
    // demonstrably detects, not just passes. Each edge is one LEFT
    // ANTI join — broadcast when the parent is dim-sized, shuffle-hash
    // on the key otherwise — and the output is three audit rows; at
    // 100 TB each edge is one pass over the child.
    Q("dq_referential",
      (s, d) => {
        def edge(name: String, child: DataFrame, key: String,
                 parent: DataFrame, pkey: String) = {
          val orphans = child.join(parent.select(col(pkey).as(key)),
            Seq(key), "left_anti")
          child.agg(count(lit(1)).as("n_child"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
            // pct at scale 4 via exact integer 1e-4-percent units —
            // round(100*o/n) is a rational that CAN tie at the 5th
            // decimal (cohort_ltv precedent)
            .select(lit(name).as("fk_edge"), col("n_child"),
              col("n_orphans"),
              // child-row counts × 1e6 widened (raw LONG overflows
              // at ~9e12 child rows)
              (expr("""(CAST(n_orphans AS DECIMAL(38,0)) * 1000000
                       + n_child div 2) div n_child""")
                .cast("double") / 10000.0).as("orphan_pct"))
        }
        val liDrift = lineitem(s, d).select(
          when(col("l_orderkey") % 97 === 0, -col("l_orderkey"))
            .otherwise(col("l_orderkey")).as("l_orderkey"))
        val e1 = edge("lineitem.l_orderkey->orders", liDrift,
          "l_orderkey", orders(s, d), "o_orderkey")
        val e2 = edge("orders.o_custkey->customer",
          orders(s, d).select(col("o_custkey")), "o_custkey",
          customer(s, d), "c_custkey")
        val e3 = edge("lineitem.l_partkey->part",
          lineitem(s, d).select(col("l_partkey")), "l_partkey",
          part(s, d), "p_partkey")
        e1.unionByName(e2).unionByName(e3).orderBy("fk_edge")
      },
      """WITH li AS (
           SELECT CASE WHEN l_orderkey % 97 = 0 THEN -l_orderkey
                       ELSE l_orderkey END AS l_orderkey
           FROM lineitem),
         e1 AS (
           SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
                  COUNT(*) AS n_child,
                  COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n_orphans
           FROM li LEFT JOIN orders ON l_orderkey = o_orderkey),
         e2 AS (
           SELECT 'orders.o_custkey->customer', COUNT(*),
                  COUNT(*) FILTER (WHERE c_custkey IS NULL)
           FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
         e3 AS (
           SELECT 'lineitem.l_partkey->part', COUNT(*),
                  COUNT(*) FILTER (WHERE p_partkey IS NULL)
           FROM lineitem LEFT JOIN part ON l_partkey = p_partkey),
         u AS (
           SELECT * FROM e1 UNION ALL SELECT * FROM e2
           UNION ALL SELECT * FROM e3)
         SELECT fk_edge, CAST(n_child AS BIGINT) AS n_child,
                CAST(n_orphans AS BIGINT) AS n_orphans,
                CAST((CAST(n_orphans AS HUGEINT) * 1000000
                      + n_child // 2) // n_child
                     AS DOUBLE) / 10000.0 AS orphan_pct
         FROM u ORDER BY fk_edge"""),

    // PARTITION-SKEW audit — the layout report run before choosing (or
    // after suspecting) a partition column: per candidate partition
    // value, row count, share, and the ratio to the mean partition
    // size. A ratio_to_mean ≫ 1 is the hot-partition warning that at
    // 100 TB means one executor owns the month. One partial-agg
    // exchange on the candidate key; the mean joins back as a
    // broadcast single row; all shares in exact 1e-4 integer units.
    Q("dq_partition_skew",
      (s, d) => {
        val parts = orders(s, d)
          .select(concat(year(col("o_orderdate")).cast("string"),
            lit("-"),
            lpad(month(col("o_orderdate")).cast("string"), 2, "0"))
            .as("pkey"))
          .groupBy("pkey").agg(count(lit(1)).as("n_rows"))
        val tot = parts.agg(sum(col("n_rows")).as("total"),
          count(lit(1)).as("n_parts"))
        parts.crossJoin(broadcast(tot))
          .select(col("pkey"), col("n_rows"),
            (expr("(n_rows * 1000000L + total div 2) div total")
              .cast("double") / 10000.0).as("share_pct"),
            (expr("(n_rows * n_parts * 10000L + total div 2) div total")
              .cast("double") / 10000.0).as("ratio_to_mean"))
          .orderBy("pkey")
      },
      """WITH parts AS (
           SELECT CAST(year(o_orderdate) AS VARCHAR) || '-' ||
                    lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')
                    AS pkey,
                  COUNT(*) AS n_rows
           FROM orders GROUP BY 1),
         t AS (SELECT SUM(n_rows) AS total, COUNT(*) AS n_parts
               FROM parts)
         SELECT pkey, CAST(n_rows AS BIGINT) AS n_rows,
                CAST((n_rows * 1000000 + total // 2) // total AS DOUBLE)
                  / 10000.0 AS share_pct,
                CAST((n_rows * n_parts * 10000 + total // 2) // total
                     AS DOUBLE) / 10000.0 AS ratio_to_mean
         FROM parts, t ORDER BY pkey"""),

    // CALENDAR-COMPLETENESS audit — days inside the table's own
    // [min, max] date span with ZERO rows (the ingestion-hole
    // detector; time_gap_fill REPAIRS a keyed series, this AUDITS the
    // table). The observed-day relation is one date-grain aggregate;
    // the spine generates from the broadcast single-row bounds
    // (sequence() is calendar-bounded, not data-sized) and anti-joins
    // the observed days. At 100 TB the date aggregate is the only
    // data-sized exchange.
    Q("dq_calendar_gaps",
      (s, d) => {
        val days = orders(s, d)
          .select(to_date(col("o_orderdate")).as("day"))
          .groupBy("day").agg(count(lit(1)).as("n"))
        val bounds = days.agg(min(col("day")).as("lo"),
          max(col("day")).as("hi"))
        val spine = bounds.select(
          explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        spine.join(days, Seq("day"), "left_anti")
          .select(date_format(col("day"), "yyyy-MM-dd")
            .as("missing_day"))
          .orderBy("missing_day")
      },
      """WITH days AS (
           SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
           FROM orders GROUP BY 1),
         b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM days),
         spine AS (
           SELECT CAST(unnest(generate_series(lo, hi,
             INTERVAL 1 DAY)) AS DATE) AS day
           FROM b)
         SELECT strftime(s.day, '%Y-%m-%d') AS missing_day
         FROM spine s LEFT JOIN days USING (day)
         WHERE days.n IS NULL
         ORDER BY missing_day"""),

    // SCD2 CHANGES-BETWEEN — the third read of the SCD2 trio (history
    // / as-of / delta): which entities changed version inside (T1, T2]
    // and what they changed from/to. New versions in the window come
    // from one predicate on valid_from; the prior version rides the
    // SAME entity-partitioned lag window that chains the history — no
    // extra join. Exact µs arithmetic; entity-keyed exchange only.
    Q("scd2_changes_between",
      (s, d) => {
        val t1 = lit(java.time.Instant.parse("1998-01-01T00:00:00Z")
          .getEpochSecond * 1000000L)
        val t2 = lit(java.time.Instant.parse("1998-07-01T00:00:00Z")
          .getEpochSecond * 1000000L)
        val w = Window.partitionBy("o_custkey")
          .orderBy("valid_from", "o_orderkey")
        orders(s, d).select(col("o_custkey"), col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp"))
              .as("valid_from"))
          .withColumn("prev_version", lag(col("o_orderkey"), 1).over(w))
          .filter(col("valid_from") > t1 && col("valid_from") <= t2)
          .select(col("o_custkey"),
            col("prev_version"),
            col("o_orderkey").as("new_version"),
            col("valid_from").as("changed_at"))
          .orderBy("o_custkey", "changed_at", "new_version")
      },
      """WITH h AS (
           SELECT o_custkey, o_orderkey,
                  epoch_us(o_orderdate) AS valid_from,
                  LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey
                    ORDER BY epoch_us(o_orderdate), o_orderkey)
                    AS prev_version
           FROM orders),
         t AS (SELECT epoch_us(TIMESTAMP '1998-01-01 00:00:00') AS t1,
                      epoch_us(TIMESTAMP '1998-07-01 00:00:00') AS t2)
         SELECT o_custkey, prev_version, o_orderkey AS new_version,
                valid_from AS changed_at
         FROM h, t
         WHERE valid_from > t1 AND valid_from <= t2
         ORDER BY o_custkey, changed_at, new_version"""),

    // ORDER-INDEPENDENT TABLE CHECKSUMS — the one-row-per-table digest
    // a migration diff starts from (recon_tables' whole-table form):
    // row count + the SUM of per-row 32-bit md5 digests (commutative,
    // so partitioning/layout cannot move it) over a canonical
    // serialization of the key columns. Three map-side digest passes,
    // three single-row aggregates, one stacked audit relation.
    Q("dq_table_checksum",
      (s, d) => {
        def side(name: String, df: DataFrame, ser: org.apache.spark.sql
            .Column) =
          df.select(conv(substring(md5(ser), 1, 8), 16, 10)
            .cast("long").as("dg"))
            .agg(count(lit(1)).as("n_rows"), sum(col("dg")).as("checksum"))
            .select(lit(name).as("table_name"), col("n_rows"),
              col("checksum"))
        side("customer", customer(s, d),
          concat_ws("|", col("c_custkey"), col("c_mktsegment")))
          .unionByName(side("orders", orders(s, d),
            concat_ws("|", col("o_orderkey"), col("o_custkey"))))
          .unionByName(side("supplier", supplier(s, d),
            concat_ws("|", col("s_suppkey"), col("s_nationkey"))))
          .orderBy("table_name")
      },
      """WITH c AS (
           SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
                  SUM(CAST(('0x' || substring(md5(
                    CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment),
                    1, 8)) AS BIGINT)) AS checksum
           FROM customer),
         o AS (
           SELECT 'orders', COUNT(*),
                  SUM(CAST(('0x' || substring(md5(
                    CAST(o_orderkey AS VARCHAR) || '|' ||
                    CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT))
           FROM orders),
         s AS (
           SELECT 'supplier', COUNT(*),
                  SUM(CAST(('0x' || substring(md5(
                    CAST(s_suppkey AS VARCHAR) || '|' ||
                    CAST(s_nationkey AS VARCHAR)), 1, 8)) AS BIGINT))
           FROM supplier),
         u AS (SELECT * FROM c UNION ALL SELECT * FROM o
               UNION ALL SELECT * FROM s)
         SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
                CAST(checksum AS BIGINT) AS checksum
         FROM u ORDER BY table_name"""),

    // BOT-SESSION screen — the traffic-quality gate web-corpus
    // pipelines run before any behavioral stat: flag users whose
    // event stream is both FAST (rate ≥ 30/min) and mechanically
    // REGULAR (inter-event-gap std < 2 s). A synthetic bot (user −1,
    // 120 events exactly 1 s apart, generated from sequence() — both
    // engines replay it) proves the screen detects; organic users
    // pass. Gap moments are exact integer sums through one
    // user-partitioned lag + one user aggregate; rate in exact 1e-4
    // integer units.
    Q("dq_bot_sessions",
      (s, d) => {
        val organic = events(s, d).select(col("user_id"),
          (unix_micros(col("ts")) / lit(1000000L)).cast("long").as("t"))
        val bot = s.range(0, 120).select(lit(-1L).as("user_id"),
          (lit(800000000L) + col("id")).as("t"))
        val ev = organic.unionByName(bot)
        val w = Window.partitionBy("user_id").orderBy("t")
        val gaps = ev.withColumn("g", col("t") - lag(col("t"), 1).over(w))
        gaps.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            (max(col("t")) - min(col("t"))).as("span_s"),
            count(col("g")).as("n_gaps"),
            sum(col("g")).as("sg"),
            sum(col("g") * col("g")).as("sg2"))
          .filter(col("span_s") > 0 && col("n_gaps") > 1)
          .withColumn("rate_pm",
            expr("(n_events * 600000L + span_s div 2) div span_s")
              .cast("double") / 10000.0)
          .withColumn("gap_std", sqrt(greatest(
            (col("n_gaps") * col("sg2") - col("sg") * col("sg"))
              .cast("double") /
              (col("n_gaps") * (col("n_gaps") - 1)), lit(0.0))))
          .filter(col("rate_pm") >= 30.0 && col("gap_std") < 2.0)
          .select(col("user_id"), col("n_events"), col("span_s"),
            col("rate_pm"), (round(col("gap_std"), 4) + 0.0)
              .as("gap_std"))
          .orderBy("user_id")
      },
      """WITH organic AS (
           SELECT user_id, epoch_us(ts) // 1000000 AS t FROM events),
         bot AS (
           SELECT CAST(-1 AS BIGINT) AS user_id, 800000000 + k AS t
           FROM unnest(range(0, 120)) AS u(k)),
         ev AS (SELECT * FROM organic UNION ALL SELECT * FROM bot),
         gaps AS (
           SELECT user_id, t,
                  t - LAG(t, 1) OVER (PARTITION BY user_id ORDER BY t)
                    AS g
           FROM ev),
         agg AS (
           SELECT user_id, COUNT(*) AS n_events,
                  MAX(t) - MIN(t) AS span_s,
                  COUNT(g) AS n_gaps, SUM(g) AS sg, SUM(g * g) AS sg2
           FROM gaps GROUP BY 1),
         scored AS (
           SELECT user_id, n_events, span_s,
                  CAST((n_events * 600000 + span_s // 2) // span_s
                       AS DOUBLE) / 10000.0 AS rate_pm,
                  sqrt(GREATEST(
                    CAST(n_gaps * sg2 - sg * sg AS DOUBLE) /
                    (n_gaps * (n_gaps - 1)), 0.0)) AS gap_std
           FROM agg WHERE span_s > 0 AND n_gaps > 1)
         SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
                CAST(span_s AS BIGINT) AS span_s, rate_pm,
                ROUND(gap_std, 4) + 0.0 AS gap_std
         FROM scored
         WHERE rate_pm >= 30.0 AND gap_std < 2.0
         ORDER BY user_id"""),

    // SURROGATE-KEY DENSITY audit — for each declared key column:
    // span vs count → how many ids inside [min, max] never arrived
    // (dropped upstream batches show up as density dips). Pure
    // aggregates — no global sort/window at any scale; the gap-RANGE
    // enumeration (which would need an ordered scan) is exactly what
    // dq_sequence_gaps' blocked form provides when a dip needs
    // localizing. Density in exact 1e-4 integer units.
    Q("dq_key_density",
      (s, d) => {
        def side(name: String, df: DataFrame, key: String) =
          df.agg(count(col(key)).as("n_rows"),
              countDistinct(col(key)).as("n_distinct"),
              min(col(key)).as("min_key"), max(col(key)).as("max_key"))
            .withColumn("span", col("max_key") - col("min_key") + 1)
            .select(lit(name).as("key_col"), col("n_rows"),
              col("n_distinct"), col("min_key"), col("max_key"),
              (col("span") - col("n_distinct")).as("n_missing"),
              (expr("(n_distinct * 1000000L + span div 2) div span")
                .cast("double") / 10000.0).as("density_pct"))
        side("orders.o_orderkey", orders(s, d), "o_orderkey")
          .unionByName(side("customer.c_custkey", customer(s, d),
            "c_custkey"))
          .unionByName(side("documents.doc_id", documents(s, d),
            "doc_id"))
          .orderBy("key_col")
      },
      """WITH o AS (
           SELECT 'orders.o_orderkey' AS key_col,
                  COUNT(o_orderkey) AS n_rows,
                  COUNT(DISTINCT o_orderkey) AS n_distinct,
                  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
           FROM orders),
         c AS (
           SELECT 'customer.c_custkey', COUNT(c_custkey),
                  COUNT(DISTINCT c_custkey),
                  MIN(c_custkey), MAX(c_custkey)
           FROM customer),
         dd AS (
           SELECT 'documents.doc_id', COUNT(doc_id),
                  COUNT(DISTINCT doc_id), MIN(doc_id), MAX(doc_id)
           FROM documents),
         u AS (SELECT * FROM o UNION ALL SELECT * FROM c
               UNION ALL SELECT * FROM dd),
         w AS (SELECT *, max_key - min_key + 1 AS span FROM u)
         SELECT key_col, CAST(n_rows AS BIGINT) AS n_rows,
                CAST(n_distinct AS BIGINT) AS n_distinct,
                min_key, max_key,
                CAST(span - n_distinct AS BIGINT) AS n_missing,
                CAST((n_distinct * 1000000 + span // 2) // span
                     AS DOUBLE) / 10000.0 AS density_pct
         FROM w ORDER BY key_col"""),

    // STRING-HYGIENE audit — the whitespace/invisible-character screen
    // (leading/trailing spaces and doubled spaces silently break
    // joins, dedup keys, and GROUP BYs): per column, counts of each
    // defect class. Every 50th customer name carries PLANTED trailing
    // whitespace (an upstream export bug simulation) so the screen
    // demonstrably detects. Map-side regex classification + one tiny
    // (column) aggregate.
    Q("dq_string_hygiene",
      (s, d) => {
        val stacked = customer(s, d)
          .select(
            when(col("c_custkey") % 50 === 0,
              concat(col("c_name"), lit(" ")))
              .otherwise(col("c_name")).as("c_name"),
            col("c_mktsegment"))
          .select(expr("""stack(2, 'c_name', c_name,
                          'c_mktsegment', c_mktsegment)
                          AS (col_name, val)"""))
          .unionByName(documents(s, d).select(
            lit("documents.text").as("col_name"), col("text").as("val")))
        stacked.groupBy("col_name")
          .agg(count(lit(1)).as("n_values"),
            sum(when(col("val").rlike("^\\s"), 1L).otherwise(0L))
              .as("n_leading_ws"),
            sum(when(col("val").rlike("\\s$"), 1L).otherwise(0L))
              .as("n_trailing_ws"),
            sum(when(col("val").rlike("  "), 1L).otherwise(0L))
              .as("n_double_space"))
          .orderBy("col_name")
      },
      """WITH cust AS (
           SELECT CASE WHEN c_custkey % 50 = 0 THEN c_name || ' '
                       ELSE c_name END AS c_name, c_mktsegment
           FROM customer),
         stacked AS (
           SELECT 'c_name' AS col_name, c_name AS val FROM cust
           UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM cust
           UNION ALL SELECT 'documents.text', text FROM documents)
         SELECT col_name, COUNT(*) AS n_values,
                CAST(SUM(CASE WHEN regexp_matches(val, '^\s')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_leading_ws,
                CAST(SUM(CASE WHEN regexp_matches(val, '\s$')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_trailing_ws,
                CAST(SUM(CASE WHEN val LIKE '%  %'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_double_space
         FROM stacked GROUP BY 1 ORDER BY col_name"""),

    // ORDER CONCORDANCE — does the surrogate key's order agree with
    // event time? Per user, walk events in event_id order and count
    // adjacent pairs whose timestamp goes BACKWARD: a nonzero
    // discordance rate means event_id is not ingestion-ordered and
    // every "ORDER BY id as time" consumer is silently wrong — the
    // id-vs-time contract check the dq family lacked (dq_sequence_gaps
    // checks density, dq_freshness recency; this checks ORDER).
    // Grouped by the leading event's type so a misbehaving producer is
    // attributable. All windows user-partitioned, all arithmetic
    // exact integer, the rate a 1e-6-unit division.
    Q("dq_order_concordance",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("event_id")
        val pairs = ev
          .withColumn("next_t", lead(col("t"), 1).over(w))
          .filter(col("next_t").isNotNull)
          .withColumn("disc",
            when(col("next_t") < col("t"), 1L).otherwise(0L))
        pairs.groupBy("event_type")
          .agg(count(lit(1)).as("n_pairs"),
            sum("disc").as("n_discordant"))
          .select(col("event_type"), col("n_pairs"),
            col("n_discordant"),
            (expr("""(CAST(n_discordant AS DECIMAL(38,0)) * 1000000
                     + n_pairs div 2) div n_pairs""")
              .cast("double") / 1000000.0).as("discordance_rate"))
          .orderBy("event_type")
      },
      """WITH ev AS (
           SELECT user_id, event_type, epoch_us(ts) AS t, event_id
           FROM events),
         pr AS (
           SELECT event_type, t,
                  LEAD(t) OVER (PARTITION BY user_id
                    ORDER BY event_id) AS next_t
           FROM ev),
         m AS (
           SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                  CAST(SUM(CASE WHEN next_t < t THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_discordant
           FROM pr WHERE next_t IS NOT NULL GROUP BY 1)
         SELECT event_type, n_pairs, n_discordant,
                CAST((CAST(n_discordant AS HUGEINT) * 1000000
                      + n_pairs // 2) // n_pairs
                  AS DOUBLE) / 1000000.0 AS discordance_rate
         FROM m ORDER BY event_type"""),

    // COMPLETENESS TREND — is a column's missingness DRIFTING over
    // ingestion history? Per-month null rate of a field plus the OLS
    // slope of rate-vs-month: a flat nonzero rate is a lossy-but-
    // stable producer, a positive slope is active decay that a
    // point-in-time null-rate check (dq_checks) can never see. The
    // testdata has no natural nulls, so missingness is PLANTED
    // deterministically — md5(o_orderkey) % 1000 < 5·month_idx, a
    // linear-in-time decay both engines replay bit-identically (the
    // dq_referential planted-drift device). Rates are ROUND-tie-proof
    // integer 1e-6-unit divisions; the slope comes from exact BIGINT
    // moments over the ≤80-month relation. Plan: one month-grain
    // partial agg + a broadcast month-zero bound — no window over
    // rows.
    Q("dq_completeness_trend",
      (s, d) => {
        val o = orders(s, d)
          .select(col("o_orderkey").as("k"),
            col("o_orderdate").cast("date").as("dt"))
        val m0 = o.agg(min(expr("year(dt) * 12 + month(dt)")).as("m0"))
        val flagged = o.crossJoin(broadcast(m0))
          .withColumn("month_idx",
            (expr("year(dt) * 12 + month(dt)") - col("m0")).cast("int"))
          .withColumn("is_missing",
            when(expr("conv(substring(md5(CAST(k AS STRING)), 1, 8)" +
              ", 16, 10) % 1000") < lit(5) * col("month_idx"), 1L)
              .otherwise(0L))
        val monthly = flagged.groupBy("month_idx")
          .agg(count(lit(1)).as("n_rows"),
            sum("is_missing").as("n_missing"))
          .withColumn("rate_u",
            expr("(n_missing * 1000000 + n_rows div 2) div n_rows"))
        val reg = monthly.agg(count(lit(1)).as("nm"),
            sum("month_idx").as("sx"), sum("rate_u").as("sy"),
            sum(col("month_idx").cast("bigint") * col("rate_u"))
              .as("sxy"),
            sum(col("month_idx").cast("bigint") * col("month_idx"))
              .as("sxx"))
          .select(round(
            (col("nm").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("nm").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) /
              lit(1.0e6), 8).as("slope_per_month"))
        monthly.crossJoin(broadcast(reg))
          .select(col("month_idx"), col("n_rows"), col("n_missing"),
            (col("rate_u").cast("double") / 1.0e6).as("missing_rate"),
            col("slope_per_month"))
          .orderBy("month_idx")
      },
      """WITH o AS (
           SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS dt
           FROM orders),
         m0 AS (
           SELECT MIN(year(dt) * 12 + month(dt)) AS m0 FROM o),
         flagged AS (
           SELECT CAST(year(dt) * 12 + month(dt)
                    - (SELECT m0 FROM m0) AS INTEGER) AS month_idx,
                  CASE WHEN CAST(('0x' || substring(
                         md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)
                         % 1000
                       < 5 * (year(dt) * 12 + month(dt)
                              - (SELECT m0 FROM m0))
                       THEN 1 ELSE 0 END AS is_missing
           FROM o),
         monthly AS (
           SELECT month_idx, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(is_missing) AS BIGINT) AS n_missing
           FROM flagged GROUP BY 1),
         rated AS (
           SELECT month_idx, n_rows, n_missing,
                  (n_missing * 1000000 + n_rows // 2) // n_rows
                    AS rate_u
           FROM monthly),
         reg AS (
           SELECT ROUND(
                    (CAST(COUNT(*) AS DOUBLE) *
                       CAST(SUM(month_idx * rate_u) AS DOUBLE) -
                     CAST(SUM(month_idx) AS DOUBLE) *
                       CAST(SUM(rate_u) AS DOUBLE)) /
                    (CAST(COUNT(*) AS DOUBLE) *
                       CAST(SUM(month_idx * month_idx) AS DOUBLE) -
                     CAST(SUM(month_idx) AS DOUBLE) *
                       CAST(SUM(month_idx) AS DOUBLE)) / 1e6,
                    8) AS slope_per_month
           FROM rated)
         SELECT month_idx, n_rows, n_missing,
                CAST(rate_u AS DOUBLE) / 1e6 AS missing_rate,
                slope_per_month
         FROM rated CROSS JOIN reg ORDER BY month_idx"""),

    // FLOAT-ACCUMULATION DRIFT AUDIT — the measurement behind this
    // repo's own dsum convention: per month, the money column summed
    // the WRONG way (sequential IEEE-double adds in o_orderkey order —
    // a deterministic stand-in for what an unpinned SUM(double) does
    // nondeterministically at every partitioning) vs the exact
    // decimal sum, drift reported in cents. The fold must be
    // SEQUENTIAL to be declarable at all: both engines reduce the
    // identically-ordered list left-to-right, so the drift is
    // reproducible — the point is its magnitude, which a reader can
    // extrapolate to a 100 TB SUM. Month grain bounds each
    // collected list by declared construction.
    Q("dq_float_drift",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        orders(s, d)
          .select((year(col("o_orderdate")) * 100 +
            month(col("o_orderdate"))).cast("int").as("ym"),
            col("o_orderkey").as("k"),
            col("o_totalprice"))
          .groupBy("ym")
          .agg(count(lit(1)).as("n_orders"),
            (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
              .cast("bigint").as("cents"),
            expr("""aggregate(transform(
                      sort_array(collect_list(struct(k,
                        CAST(o_totalprice AS DOUBLE) AS v))),
                      s -> s.v),
                    0.0D, (a, v) -> a + v)""").as("naive"))
          .select(col("ym"), col("n_orders"),
            (col("cents").cast("double") / 100.0).as("exact_total"),
            ((col("naive") - col("cents").cast("double") / 100.0) *
              100.0).as("drift_cents"))
          .orderBy("ym")
      },
      """WITH o AS (
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                    AS INTEGER) AS ym,
                  o_orderkey AS k, o_totalprice
           FROM orders),
         agg AS (
           SELECT ym, CAST(COUNT(*) AS BIGINT) AS n_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS cents,
                  list_reduce(
                    list_prepend(CAST(0.0 AS DOUBLE),
                      list(CAST(o_totalprice AS DOUBLE) ORDER BY k)),
                    (x, y) -> x + y) AS naive
           FROM o GROUP BY 1)
         SELECT ym, n_orders,
                CAST(cents AS DOUBLE) / 100.0 AS exact_total,
                (naive - CAST(cents AS DOUBLE) / 100.0) * 100.0
                  AS drift_cents
         FROM agg ORDER BY ym"""),

    // CROSS-TABLE ACCOUNTING RECONCILIATION — does the header total
    // equal the sum of its line items? Per year: orders.o_totalprice
    // vs the lineitem-derived Σ extendedprice·(1−disc)·(1+tax), both
    // as exact decimal cents, delta and a 1e-4-unit relative gap.
    // recon_tables diffs two same-schema versions; this reconciles
    // ACROSS the header/detail hierarchy — the invoice-vs-ledger
    // audit. In this testdata the books do NOT balance (≈16% gap) —
    // the audit's value is making that a number. Two fact partial
    // aggs joined on year; decimal products pinned identically.
    Q("dq_cross_table_recon",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val hdr = orders(s, d)
          .groupBy(year(col("o_orderdate")).cast("int").as("y"))
          .agg((sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("bigint").as("hdr_cents"),
            count(lit(1)).as("n_orders"))
        // per-row product in DOUBLE then ONE decimal cast — the
        // agg_groupby sum_charge device: chained DECIMAL×DECIMAL
        // intermediate precision rules differ between engines
        // (observed a 1-cent skew), the double product is IEEE-
        // identical per row and the decimal pin makes the sum
        // order-free
        val det = lineitem(s, d)
          .join(orders(s, d).select(col("o_orderkey"),
            year(col("o_orderdate")).cast("int").as("y")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("y")
          .agg(expr("CAST(ROUND(SUM(CAST(l_extendedprice * " +
            "(1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) " +
            "* 100, 0) AS BIGINT)").as("det_cents"))
        hdr.join(det, Seq("y"))
          .select(col("y"), col("n_orders"),
            (col("hdr_cents").cast("double") / 100.0).as("header_total"),
            (col("det_cents").cast("double") / 100.0).as("detail_total"),
            ((col("hdr_cents") - col("det_cents")).cast("double") /
              100.0).as("delta"),
            (when(col("hdr_cents") - col("det_cents") < 0, lit(-1L))
              .otherwise(lit(1L)) *
              expr("(abs(hdr_cents - det_cents) * 1000000 " +
                "+ hdr_cents div 2) div hdr_cents"))
              .cast("double").divide(lit(10000.0)).as("gap_pct"))
          .orderBy("y")
      },
      """WITH hdr AS (
           SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                    AS BIGINT) AS hdr_cents,
                  CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1),
         det AS (
           SELECT CAST(year(o.o_orderdate) AS INTEGER) AS y,
                  CAST(ROUND(SUM(CAST(l_extendedprice *
                    (1.0 - l_discount) * (1.0 + l_tax)
                    AS DECIMAL(18,6))) * 100, 0) AS BIGINT)
                    AS det_cents
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
           GROUP BY 1)
         SELECT hdr.y, n_orders,
                CAST(hdr_cents AS DOUBLE) / 100.0 AS header_total,
                CAST(det_cents AS DOUBLE) / 100.0 AS detail_total,
                CAST(hdr_cents - det_cents AS DOUBLE) / 100.0 AS delta,
                CAST((CASE WHEN hdr_cents - det_cents < 0 THEN -1
                           ELSE 1 END) *
                     ((ABS(hdr_cents - det_cents) * 1000000
                       + hdr_cents // 2) // hdr_cents) AS DOUBLE)
                  / 10000.0 AS gap_pct
         FROM hdr JOIN det ON det.y = hdr.y ORDER BY hdr.y"""),

    // CATEGORICAL DRIFT χ² — the discrete complement to dq_drift_psi:
    // per month, Pearson's χ² of the order-priority mix against the
    // pooled distribution, the months ranked worst-first (top-5
    // TakeOrdered). All observed/expected inputs are exact BIGINTs;
    // each cell's (O·T − E')²/(E'·T) is assembled as doubles through
    // an identical formula (E' = pooled_count·month_total, an exact
    // BIGINT product — no rational enters until the one final
    // division chain), rounded once.
    Q("dq_drift_chi2",
      (s, d) => {
        val o = orders(s, d).select(
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("int").as("ym"),
          col("o_orderpriority").as("prio"))
        val cell = o.groupBy("ym", "prio").agg(count(lit(1)).as("obs"))
        val mt = cell.groupBy("ym").agg(sum("obs").as("mt"))
        val pool = cell.groupBy("prio").agg(sum("obs").as("pc"))
        val tot = pool.agg(sum("pc").as("t"))
        cell.join(mt, Seq("ym")).join(broadcast(pool), Seq("prio"))
          .crossJoin(broadcast(tot))
          .select(col("ym"),
            ((col("obs") * col("t") - col("pc") * col("mt"))
              .cast("double") *
              (col("obs") * col("t") - col("pc") * col("mt"))
                .cast("double") /
              (col("pc").cast("double") * col("mt").cast("double") *
                col("t").cast("double"))).as("term"))
          .groupBy("ym")
          .agg(round(sum(col("term").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(
              28, 10))).cast("double"), 6).as("chi2"))
          .orderBy(desc("chi2"), col("ym")).limit(5)
      },
      """WITH o AS (
           SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                    AS INTEGER) AS ym,
                  o_orderpriority AS prio
           FROM orders),
         cell AS (
           SELECT ym, prio, CAST(COUNT(*) AS BIGINT) AS obs
           FROM o GROUP BY 1, 2),
         mt AS (SELECT ym, CAST(SUM(obs) AS BIGINT) AS mt
                FROM cell GROUP BY 1),
         pool AS (SELECT prio, CAST(SUM(obs) AS BIGINT) AS pc
                  FROM cell GROUP BY 1),
         tot AS (SELECT CAST(SUM(pc) AS BIGINT) AS t FROM pool),
         terms AS (
           SELECT ym,
                  CAST(CAST(obs * t - pc * mt AS DOUBLE) *
                       CAST(obs * t - pc * mt AS DOUBLE) /
                       (CAST(pc AS DOUBLE) * CAST(mt AS DOUBLE) *
                        CAST(t AS DOUBLE)) AS DECIMAL(28,10)) AS term
           FROM cell JOIN mt USING (ym) JOIN pool USING (prio)
           CROSS JOIN tot)
         SELECT ym, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2
         FROM terms GROUP BY 1
         ORDER BY chi2 DESC, ym LIMIT 5"""),

    // LEAKAGE-SAFE TARGET ENCODING — the feature-engineering verb
    // behind every categorical column in a GBM pipeline: per
    // category, the leave-one-out encoding range (each row's own
    // target excluded — the leakage fix) and the m=100-smoothed
    // encoding toward the global prior (the rare-category fix). All
    // inputs exact cents; min/max LOO and the smoothed value are
    // ROUND-tie-proof integer 1e-4-unit divisions (values positive —
    // no sign split needed). One category aggregate; the extreme
    // rows' LOO values derive from (S − max)/(n−1) closed form, no
    // per-row relation declared.
    Q("ml_target_encoding",
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val o = orders(s, d).select(col("o_orderpriority").as("cat"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("bigint").as("t"))
        val g = o.agg(sum("t").as("gs"), count(lit(1)).as("gn"))
        o.groupBy("cat")
          .agg(count(lit(1)).as("n"), sum("t").as("s"),
            min("t").as("mn"), max("t").as("mx"))
          .crossJoin(broadcast(g))
          .select(col("cat"), col("n"),
            // per-category cents sums × 100 ride DECIMAL(38,0)
            // (raw LONG overflows at ~$9.2e14 per category)
            (expr("""(CAST(s - mx AS DECIMAL(38,0)) * 100
                     + (n - 1) * 5000) div ((n - 1) * 10000)""")
              .cast("double") / 1.0)
              .as("loo_min_dollars"),
            (expr("""(CAST(s - mn AS DECIMAL(38,0)) * 100
                     + (n - 1) * 5000) div ((n - 1) * 10000)""")
              .cast("double") / 1.0)
              .as("loo_max_dollars"),
            (expr("""(CAST(s + 100 * (gs div gn) AS DECIMAL(38,0)) * 100
                     + (n + 100) * 5000) div ((n + 100) * 10000)""")
              .cast("double") / 1.0).as("smoothed_dollars"))
          .orderBy("cat")
      },
      """WITH o AS (
           SELECT o_orderpriority AS cat,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT) AS t
           FROM orders),
         g AS (SELECT CAST(SUM(t) AS BIGINT) AS gs,
                      CAST(COUNT(*) AS BIGINT) AS gn
               FROM o),
         agg AS (
           SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(t) AS BIGINT) AS s,
                  CAST(MIN(t) AS BIGINT) AS mn,
                  CAST(MAX(t) AS BIGINT) AS mx
           FROM o GROUP BY 1)
         SELECT cat, n,
                CAST((CAST(s - mx AS HUGEINT) * 100 + (n - 1) * 5000)
                     // ((n - 1) * 10000) AS DOUBLE)
                  AS loo_min_dollars,
                CAST((CAST(s - mn AS HUGEINT) * 100 + (n - 1) * 5000)
                     // ((n - 1) * 10000) AS DOUBLE)
                  AS loo_max_dollars,
                CAST((CAST(s + 100 * (SELECT gs // gn FROM g)
                        AS HUGEINT) * 100
                      + (n + 100) * 5000) // ((n + 100) * 10000)
                  AS DOUBLE) AS smoothed_dollars
         FROM agg CROSS JOIN g ORDER BY cat"""),

    // CONTENT-HASH SURROGATE KEYS — dimension-key generation without a
    // central sequence: surrogate = first 60 bits of md5(natural key),
    // stable across runs/partitions/engines (a monotonic id would be
    // partition-order-dependent). The declared relation is the audit a
    // warehouse runs before trusting the keys: key count, distinct
    // surrogates, collisions (birthday bound ⇒ 0 here; ~50% only at
    // ~1.3e9 keys for 60 bits), plus the first 10 mappings as the
    // spot-check sample. Zero shuffles beyond one aggregate.
    Q("etl_surrogate_key",
      (s, d) => {
        val keyed = customer(s, d).select(col("c_custkey"),
          expr("CAST(conv(substr(md5(c_name), 1, 15), 16, 10) AS BIGINT)")
            .as("sk"))
        val audit = keyed.agg(
          count(lit(1)).as("n_keys"),
          countDistinct(col("sk")).as("n_surrogates"),
          (count(lit(1)) - countDistinct(col("sk"))).as("n_collisions"))
        keyed.orderBy("c_custkey").limit(10)
          .crossJoin(broadcast(audit))
          .orderBy("c_custkey")
      },
      """WITH keyed AS (SELECT c_custkey,
             CAST(concat('0x', substr(md5(c_name), 1, 15)) AS BIGINT) AS sk
           FROM customer),
         audit AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(count(DISTINCT sk) AS BIGINT) AS n_surrogates,
             CAST(count(*) - count(DISTINCT sk) AS BIGINT) AS n_collisions
           FROM keyed),
         sample_rows AS (SELECT c_custkey, sk
           FROM keyed ORDER BY c_custkey LIMIT 10)
         SELECT c_custkey, sk, n_keys, n_surrogates, n_collisions
         FROM sample_rows CROSS JOIN audit
         ORDER BY c_custkey"""),

    // LATE-ARRIVING DIMENSION (two-phase resolve + incremental
    // backfill) — the real warehouse lifecycle, run for real against
    // scratch parquet: batch 1 lands only ⅔ of the dimension, facts
    // resolve with an UNKNOWN placeholder and are PERSISTED that way;
    // batch 2 appends the late dim rows; the repair pass re-resolves
    // ONLY the persisted UNKNOWN facts (incremental — never re-joins
    // the resolved majority). Declared relation = the per-segment
    // audit: facts, how many had to wait for batch 2, late share.
    // The oracle replays the arrival rule (c_custkey%3=0 arrives
    // late) on the settled join.
    Q("etl_late_dimension",
      (s, d) => {
        val dimDir = IoQueries.scratch(d, "latedim")
        val factDir = IoQueries.scratch(d, "latedim_facts")
        val cust = customer(s, d).select("c_custkey", "c_mktsegment")
        cust.filter(col("c_custkey") % 3 =!= 0)
          .write.mode("overwrite").parquet(dimDir)
        val facts = orders(s, d).select("o_orderkey", "o_custkey")
        val dim1 = Storage.readParquet(s, dimDir)
        facts.join(dim1, facts("o_custkey") === dim1("c_custkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"),
            coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
          .write.mode("overwrite").parquet(factDir)
        // batch 2: the stragglers arrive; append, then repair UNKNOWNs
        cust.filter(col("c_custkey") % 3 === 0)
          .write.mode("append").parquet(dimDir)
        val dimFull = Storage.readParquet(s, dimDir)
        val settled = Storage.readParquet(s, factDir)
        val repaired = settled.filter(col("segment") === "UNKNOWN")
          .drop("segment")
          .join(dimFull, col("o_custkey") === dimFull("c_custkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"),
            coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
            lit(1L).as("late"))
        settled.filter(col("segment") =!= "UNKNOWN")
          .withColumn("late", lit(0L))
          .unionByName(repaired)
          .groupBy("segment")
          .agg(count(lit(1)).as("n_facts"), sum("late").as("n_late"),
            expr("""(sum(late) * 10000 + count(1) div 2) div count(1)
                    / 10000.0D""").as("late_share"))
          .orderBy("segment")
      },
      """WITH resolved AS (
           SELECT o.o_orderkey,
                  coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
                  CASE WHEN c.c_custkey % 3 = 0 THEN 1 ELSE 0 END AS late
           FROM orders o LEFT JOIN customer c
             ON o.o_custkey = c.c_custkey)
         SELECT segment, CAST(count(*) AS BIGINT) AS n_facts,
                CAST(sum(late) AS BIGINT) AS n_late,
                (sum(late) * 10000 + count(*) // 2) // count(*)
                  / 10000.0 AS late_share
         FROM resolved GROUP BY segment ORDER BY segment"""),

    // IDEMPOTENT RE-RUN AUDIT — the at-least-once delivery contract:
    // applying the SAME batch twice must leave the table bit-identical
    // (merge(merge(∅,B),B) = merge(∅,B)). Both states are materialized
    // to scratch parquet for real and diffed with a full-outer
    // null-safe join; the declared relation carries the diff count the
    // operator guarantees to be zero plus the settled control totals.
    // The merge is max-by-key last-writer-wins — associative,
    // commutative, idempotent — which is WHY the rerun is safe.
    Q("etl_idempotent_rerun",
      (s, d) => {
        val t1 = IoQueries.scratch(d, "idem_run1")
        val t2 = IoQueries.scratch(d, "idem_run2")
        val batch = orders(s, d)
          .filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey").as("k"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)")
              .as("cents"))
        def merge(existing: Option[String], out: String): Unit = {
          val base = existing.map(p => Storage.readParquet(s, p))
            .getOrElse(batch.limit(0))
          base.unionByName(batch)
            .groupBy("k").agg(max("cents").as("cents"))
            .write.mode("overwrite").parquet(out)
        }
        merge(None, t1)
        merge(Some(t1), t2)
        val a = Storage.readParquet(s, t1)
        val b = Storage.readParquet(s, t2).withColumnRenamed("cents", "cents2")
        val diff = a.join(b, Seq("k"), "full_outer")
          .filter(!(col("cents") <=> col("cents2")))
          .agg(count(lit(1)).as("n_diff"))
        Storage.readParquet(s, t2)
          .agg(count(lit(1)).as("n_rows"),
            expr("sum(cents) / 100.0D").as("total"))
          .crossJoin(diff)
          .select(col("n_rows"), col("total"), col("n_diff"),
            (col("n_diff") === 0).as("idempotent"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100
                  AS BIGINT)) AS BIGINT) / 100.0 AS total,
                CAST(0 AS BIGINT) AS n_diff,
                TRUE AS idempotent
         FROM orders WHERE o_orderkey % 5 = 0"""),

    // CATEGORY VALUE-SET CHURN between two periods — the dimension
    // drift a PSI on shares can't see: which values RETIRED, which
    // are NEW, which persist (with their traffic). Drift is planted
    // deterministically (k%17 retires after day 15, k%19=3 re-keys
    // to k+1000 — the upstream-renamed-enum case); detection is one
    // FULL OUTER join of the two distinct-value sets. Declared
    // relation = per-status value counts + event volumes.
    Q("dq_category_churn",
      (s, d) => {
        val base = events(s, d).select(
          expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("k"),
          expr("CASE WHEN day(ts) <= 15 THEN 'h1' ELSE 'h2' END")
            .as("half"))
          .withColumn("cat", expr(
            """CASE WHEN half = 'h2' AND k % 19 = 3 THEN k + 1000
                    ELSE k END"""))
          .filter(expr("NOT (half = 'h2' AND k % 17 = 0)"))
        val h1 = base.filter(col("half") === "h1")
          .groupBy(col("cat").as("v1")).agg(count(lit(1)).as("n1"))
        val h2 = base.filter(col("half") === "h2")
          .groupBy(col("cat").as("v2")).agg(count(lit(1)).as("n2"))
        h1.join(h2, col("v1") === col("v2"), "full_outer")
          .select(
            expr("""CASE WHEN v2 IS NULL THEN 'retired'
                         WHEN v1 IS NULL THEN 'added'
                         ELSE 'stable' END""").as("status"),
            coalesce(col("n1"), lit(0L)).as("n1"),
            coalesce(col("n2"), lit(0L)).as("n2"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_values"),
            sum("n1").as("events_h1"), sum("n2").as("events_h2"))
          .orderBy("status")
      },
      """WITH base AS (
           SELECT CASE WHEN extract(day FROM ts) > 15
                    AND CAST(json_extract_string(props,'$.k') AS BIGINT)
                        % 19 = 3
                  THEN CAST(json_extract_string(props,'$.k') AS BIGINT)
                       + 1000
                  ELSE CAST(json_extract_string(props,'$.k') AS BIGINT)
                  END AS cat,
                  CASE WHEN extract(day FROM ts) <= 15 THEN 'h1'
                       ELSE 'h2' END AS half
           FROM events
           WHERE NOT (extract(day FROM ts) > 15 AND
             CAST(json_extract_string(props,'$.k') AS BIGINT) % 17 = 0)),
         h1 AS (SELECT cat AS v1, CAST(count(*) AS BIGINT) AS n1
                FROM base WHERE half = 'h1' GROUP BY cat),
         h2 AS (SELECT cat AS v2, CAST(count(*) AS BIGINT) AS n2
                FROM base WHERE half = 'h2' GROUP BY cat),
         j AS (SELECT CASE WHEN v2 IS NULL THEN 'retired'
                           WHEN v1 IS NULL THEN 'added'
                           ELSE 'stable' END AS status,
                      coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
               FROM h1 FULL JOIN h2 ON v1 = v2)
         SELECT status, CAST(count(*) AS BIGINT) AS n_values,
                CAST(sum(n1) AS BIGINT) AS events_h1,
                CAST(sum(n2) AS BIGINT) AS events_h2
         FROM j GROUP BY status ORDER BY status"""),

    // SCD2 VALIDITY-OVERLAP DETECTION — the corruption a bad merge
    // leaves behind: two versions of the same key whose
    // [from, to) ranges intersect, silently double-counting every
    // point-in-time join. Version chains derive from consecutive
    // order dates per customer (lead() within key — one key-
    // partitioned window); the corruption is planted by stretching
    // every c%13=0 customer's version ends +10 days. Detection is
    // the canonical key-partitioned lag: overlap iff prev_to > from.
    Q("dq_scd2_overlaps",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wk = Window.partitionBy("k").orderBy("vfrom", "okey")
        val versions = orders(s, d)
          .select(col("o_custkey").as("k"), col("o_orderkey").as("okey"),
            col("o_orderdate").cast("date").as("vfrom"))
          .withColumn("vto_raw",
            lead("vfrom", 1).over(wk))
          .filter(col("vto_raw").isNotNull)
          .withColumn("vto",
            expr("""CASE WHEN k % 13 = 0 THEN vto_raw + INTERVAL 10 DAYS
                    ELSE vto_raw END"""))
        versions
          .withColumn("prev_to", lag("vto", 1).over(wk))
          .withColumn("overlap",
            col("prev_to").isNotNull && col("prev_to") > col("vfrom"))
          .agg(count(lit(1)).as("n_versions"),
            sum(when(col("overlap"), 1L).otherwise(0L)).as("n_overlaps"),
            countDistinct(when(col("overlap"), col("k"))).as("n_bad_keys"))
      },
      """WITH v AS (
           SELECT o_custkey AS k, o_orderkey AS okey,
                  CAST(o_orderdate AS DATE) AS vfrom,
                  lead(CAST(o_orderdate AS DATE), 1) OVER
                    (PARTITION BY o_custkey
                     ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
                    AS vto_raw
           FROM orders),
         stretched AS (
           SELECT k, okey, vfrom,
                  CASE WHEN k % 13 = 0 THEN vto_raw + INTERVAL 10 DAY
                       ELSE vto_raw END AS vto
           FROM v WHERE vto_raw IS NOT NULL),
         flagged AS (
           SELECT k, vfrom, vto,
                  lag(vto, 1) OVER (PARTITION BY k ORDER BY vfrom, okey)
                    AS prev_to
           FROM stretched)
         SELECT CAST(count(*) AS BIGINT) AS n_versions,
                CAST(sum(CASE WHEN prev_to IS NOT NULL AND prev_to > vfrom
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
                CAST(count(DISTINCT CASE WHEN prev_to IS NOT NULL
                  AND prev_to > vfrom THEN k END) AS BIGINT) AS n_bad_keys
         FROM flagged"""),

    // ROUND-NUMBER BIAS AUDIT — the forensic-accounting screen
    // (human-invented amounts over-select .00 and psychological .99
    // endings; organic amounts spread cents uniformly ≈1%/ending):
    // per priority class, the share of .00 / .99 cent endings with
    // the exact cross-multiplied 3×-expected flag. Cents endings come
    // from the integer cents mod 100 — no float ever inspects the
    // ending.
    Q("dq_round_number_bias",
      (s, d) => orders(s, d)
        .select(col("o_orderpriority").as("prio"),
          expr("""CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT) % 100""").as("ending"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ending") === 0L, 1L).otherwise(0L)).as("n_00"),
          sum(when(col("ending") === 99L, 1L).otherwise(0L)).as("n_99"))
        .select(col("prio"), col("n"), col("n_00"), col("n_99"),
          expr("(n_00 * 10000 + n div 2) div n / 10000.0D")
            .as("share_00"),
          expr("(n_99 * 10000 + n div 2) div n / 10000.0D")
            .as("share_99"),
          expr("n_00 * 100 > 3 * n OR n_99 * 100 > 3 * n")
            .as("suspicious"))
        .orderBy("prio"),
      """WITH e AS (SELECT o_orderpriority AS prio,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               % 100 AS ending
           FROM orders),
         g AS (SELECT prio, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ending = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_00,
             CAST(sum(CASE WHEN ending = 99 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_99
           FROM e GROUP BY 1)
         SELECT prio, n, n_00, n_99,
                (n_00 * 10000 + n // 2) // n / 10000.0 AS share_00,
                (n_99 * 10000 + n // 2) // n / 10000.0 AS share_99,
                n_00 * 100 > 3 * n OR n_99 * 100 > 3 * n AS suspicious
         FROM g ORDER BY prio"""),

    // DOUBLE-FIRE TELEMETRY AUDIT — same user, same event type,
    // within 1 second of the previous: the client-retry/double-click
    // signature that inflates every downstream count. One
    // (user,type)-partitioned lag over the event stream — the
    // canonical detection; per-type rates in exact 1e-4 units decide
    // which instrumentation to fix first.
    Q("dq_double_fire",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy("t", "event_id")
        events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("t"))
          .withColumn("gap", col("t") - lag("t", 1).over(w))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("gap").isNotNull && col("gap") <= 1000000L, 1L)
              .otherwise(0L)).as("n_rapid"))
          .select(col("event_type"), col("n_events"), col("n_rapid"),
            expr("(n_rapid * 10000 + n_events div 2) div n_events" +
              " / 10000.0D").as("rapid_rate"))
          .orderBy("event_type")
      },
      """WITH g AS (SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts), 1) OVER
               (PARTITION BY user_id, event_type
                ORDER BY epoch_us(ts), event_id) AS gap
           FROM events),
         a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 1000000
               THEN 1 ELSE 0 END) AS BIGINT) AS n_rapid
           FROM g GROUP BY 1)
         SELECT event_type, n_events, n_rapid,
                (n_rapid * 10000 + n_events // 2) // n_events / 10000.0
                  AS rapid_rate
         FROM a ORDER BY event_type"""),

    // THREE-WAY SOURCE RECONCILIATION — the MDM majority vote: three
    // system extracts of the same ledger (B drifts every k%101 amount
    // by +1 cent, C drops every k%103 row — planted, replayable),
    // each key classified by how the present values agree:
    // full_agreement / partial_agreement (2 present, equal) /
    // majority (3 present, 2 agree) / conflict (2 present, differ).
    // One union + one key-grouped aggregate — reconciliation never
    // joins pairwise (3 systems = 3 joins; N systems = N·(N−1)/2 —
    // the union-groupBy form stays linear in systems).
    Q("recon_three_way",
      (s, d) => {
        val base = orders(s, d).select(col("o_orderkey").as("k"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS BIGINT)")
            .as("cents"))
        val sysA = base.withColumn("sys", lit("A"))
        val sysB = base.withColumn("cents",
          expr("CASE WHEN k % 101 = 0 THEN cents + 1 ELSE cents END"))
          .withColumn("sys", lit("B"))
        val sysC = base.filter(col("k") % 103 =!= 0)
          .withColumn("sys", lit("C"))
        sysA.unionByName(sysB).unionByName(sysC)
          .groupBy("k")
          .agg(count(lit(1)).as("present"),
            countDistinct(col("cents")).as("vals"))
          .select(expr(
            """CASE WHEN present = 3 AND vals = 1 THEN 'full_agreement'
                    WHEN present = 3 AND vals = 2 THEN 'majority'
                    WHEN present = 2 AND vals = 1 THEN 'partial_agreement'
                    ELSE 'conflict' END""").as("status"))
          .groupBy("status").agg(count(lit(1)).as("n_keys"))
          .orderBy("status")
      },
      """WITH st AS (SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 103 = 0 THEN 2 ELSE 3 END AS present,
             CASE WHEN o_orderkey % 101 = 0 THEN 2 ELSE 1 END AS vals
           FROM orders),
         cls AS (SELECT
             CASE WHEN present = 3 AND vals = 1 THEN 'full_agreement'
                  WHEN present = 3 AND vals = 2 THEN 'majority'
                  WHEN present = 2 AND vals = 1 THEN 'partial_agreement'
                  ELSE 'conflict' END AS status
           FROM st)
         SELECT status, CAST(count(*) AS BIGINT) AS n_keys
         FROM cls GROUP BY status ORDER BY status"""),

    // HIGH-WATERMARK INCREMENTAL EXTRACT — the CDC-less incremental
    // pattern: each run extracts rows ABOVE the persisted watermark,
    // then advances it. Run 1 sees the world as of 1997-06-30 (the
    // simulated clock), persists max(o_orderdate) as the watermark;
    // run 2 extracts strictly beyond it. Both extracts land in
    // scratch parquet FOR REAL; the declared relation is the audit a
    // pipeline owner runs: per-run counts, zero overlap, and
    // union-completeness vs the source. Strictly-greater on the
    // watermark makes re-runs safe (same-timestamp rows belong to
    // the run that first saw them).
    Q("etl_incremental_extract",
      (s, d) => {
        val r1Dir = IoQueries.scratch(d, "hw_run1")
        val r2Dir = IoQueries.scratch(d, "hw_run2")
        val src = orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
        val run1 = src.filter(col("o_orderdate") <= lit("1997-06-30")
          .cast("timestamp"))
        run1.write.mode("overwrite").parquet(r1Dir)
        val hw = Storage.readParquet(s, r1Dir)
          .agg(max("o_orderdate").as("hw"))
        src.crossJoin(broadcast(hw))
          .filter(col("o_orderdate") > col("hw"))
          .select("o_orderkey", "o_orderdate")
          .write.mode("overwrite").parquet(r2Dir)
        val a = Storage.readParquet(s, r1Dir)
        val b = Storage.readParquet(s, r2Dir)
        val overlap = a.select("o_orderkey")
          .intersect(b.select("o_orderkey")).count()
        val total = src.count()
        a.agg(count(lit(1)).as("n_run1"))
          .crossJoin(b.agg(count(lit(1)).as("n_run2")))
          .select(col("n_run1"), col("n_run2"),
            lit(overlap).as("n_overlap"),
            (col("n_run1") + col("n_run2") === total).as("complete"))
      },
      """WITH r1 AS (SELECT count(*) AS n FROM orders
                     WHERE o_orderdate <= TIMESTAMP '1997-06-30'),
         hw AS (SELECT max(o_orderdate) AS hw FROM orders
                WHERE o_orderdate <= TIMESTAMP '1997-06-30'),
         r2 AS (SELECT count(*) AS n FROM orders CROSS JOIN hw
                WHERE o_orderdate > hw)
         SELECT CAST(r1.n AS BIGINT) AS n_run1,
                CAST(r2.n AS BIGINT) AS n_run2,
                CAST(0 AS BIGINT) AS n_overlap,
                TRUE AS complete
         FROM r1 CROSS JOIN r2"""),
  )
}
