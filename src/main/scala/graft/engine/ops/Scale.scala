package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cluster-scale layout and skew helpers — the knobs a 100 TB deployment
  * turns that a laptop run never needs, kept as library verbs so
  * pipelines declare intent instead of hand-tuning:
  *
  *  - '''Bucketing''': write both sides of a recurring large-large join
  *    bucketed+sorted on the join key → the join compiles with NO
  *    exchange on either side (asserted in ScaleSpec).
  *  - '''Salting''': a skewed aggregation key (one user/domain with 10⁹
  *    rows) hot-spots a single reducer; two-phase salted aggregation
  *    spreads phase one over `numSalts` reducers. AQE's skew-join
  *    splitting handles *join* skew; aggregation skew is ours to solve.
  */
object Scale {

  /** Ensure a CPU-bound per-row pass (signature hashing, tokenizing,
    * decoding) has at least ~half the cluster's cores' worth of
    * partitions under it. A parquet scan can't split below one file, so
    * a single-file input serializes the whole pass on one task while
    * every other core idles — the measured cost of dedup_near/dedup_ngram
    * at small scale. At corpus scale input files vastly outnumber cores,
    * the guard is already satisfied, and this is a no-op — no shuffle is
    * ever added where the scan is parallel enough. Round-robin
    * repartition keeps the spread balanced regardless of input order.
    *
    * Parallelism is ESTIMATED from optimizer statistics (plan bytes /
    * `files.maxPartitionBytes`), not probed via `df.rdd` — the RDD probe
    * compiled a physical plan per invocation and pinned the subtree
    * before AQE could see it. Statistics come from the logical plan
    * (file-index sizes for scans), so no job, no RDD, no physical plan
    * is materialized here. */
  def spreadForCompute(df: DataFrame): DataFrame = spreadForCompute(df, 1)

  /** As above, with an over-spread `factor` for passes whose PER-ROW
    * cost is both heavy and variable (banded-Levenshtein DP on
    * length-skewed blocks): `factor`× the core count in tasks keeps the
    * stage's wall time at the mean task cost instead of the max, and
    * makes it robust to ambient tenancy stealing a core mid-stage —
    * entity_match's wall time swung 0.98↔3.41 s on the same box at
    * factor 1 (r12 adjudication) because the whole probe sat behind
    * single-digit tasks. Short tasks cost scheduler overhead only when
    * they outnumber rows; callers pick factor ≥ 8 only for DP-grade
    * per-row work. */
  def spreadForCompute(df: DataFrame, factor: Int): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism * math.max(1, factor)
    val splitBytes = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estSplits = (planBytes / splitBytes).min(Int.MaxValue) + 1
    if (estSplits >= math.max(1, target / 2)) df
    else df.repartition(target)
  }

  /** Write `df` as a bucketed, sorted table (hive-style layout in the
    * session warehouse). Both sides of a co-located join must use the
    * same bucket count and keys. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Two-phase salted sum: phase 1 aggregates on (keys ++ salt) so a
    * skewed key's rows land on `numSalts` reducers; phase 2 combines the
    * partials. Decimal-exact, so the result is identical to the direct
    * aggregation regardless of salt fan-out. The salt derives from a
    * hash of the whole row (deterministic), not rand(). */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: Column,
      scale: Int, numSalts: Int = 16): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, scale)
    val salted = df.withColumn("_salt",
      pmod(xxhash64(struct(df.columns.map(col).toSeq: _*)), lit(numSalts)))
    val phase1 = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(sum(valueCol.cast(dec)).as("_partial"))
    phase1.groupBy(keys.map(col): _*)
      .agg(sum(col("_partial")).cast(dec).as("total"))
  }

  /** Salted equi-join for skewed keys: the fact side gets a
    * deterministic row-hash salt in [0, numSalts); the dim side is
    * replicated numSalts× with every salt value; the join runs on
    * (keys ++ salt). A hot key's rows — which a plain shuffle join
    * would pile onto ONE reducer — spread across numSalts reducers,
    * at the cost of numSalts× the dim-side shuffle volume (dims are
    * small by assumption; this is the skew treatment for when the dim
    * is too big to broadcast outright but its replication is still
    * cheaper than the straggler). Result is identical to the plain
    * join: every fact row meets every matching dim row exactly once,
    * because the dim carries ALL salt values and the fact exactly one.
    * AQE's skew-join handles sort-merge skew adaptively at runtime;
    * this static form is for when the skew is known at plan time and
    * for hash-partitioned sinks where AQE cannot split a partition. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      numSalts: Int = 16): DataFrame = {
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(struct(fact.columns.map(col).toSeq: _*)), lit(numSalts)))
    val replicated = dim.withColumn("_salt",
      explode(array((0 until numSalts).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, keys :+ "_salt").drop("_salt")
  }

  /** Distributive 2D skyline (Pareto frontier, maximizing both
    * dimensions): each partition computes its local skyline with an
    * in-memory sort-scan, then the (tiny) union is re-skylined. Result
    * is partitioning-invariant because skylines are distributive:
    * skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)). This is the
    * 100 TB form of the single-window `skyline_2d` query. */
  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // explicit encoder: TypeTag-based derivation breaks under REPL /
    // notebook classloaders, and this verb should work there too
    implicit val enc: org.apache.spark.sql.Encoder[(Double, Double)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaDouble)
    def localSkyline(it: Iterator[(Double, Double)]): Iterator[(Double, Double)] = {
      val pts = it.toArray.distinct
        .sortBy { case (x, y) => (-x, -y) }
      val out = Array.newBuilder[(Double, Double)]
      var maxY = Double.NegativeInfinity
      pts.foreach { case (x, y) =>
        if (y > maxY) { out += ((x, y)); maxY = y }
      }
      out.result().iterator
    }
    df.select(col(xCol).cast("double"), col(yCol).cast("double"))
      .as[(Double, Double)]
      .mapPartitions(localSkyline)   // parallel local pass
      .repartition(1)
      .mapPartitions(localSkyline)   // tiny global pass
      .toDF(xCol, yCol)
  }

  /** Recursive blocked sequence-gap scan (gaps-and-islands without the
    * global window): emits every maximal missing range `[gap_start,
    * gap_end]` between consecutive present keys of the one-column
    * relation `keys` (column `k`, integral). The textbook form is
    * `lag(k) OVER (ORDER BY k)` — one task for the whole keyspace. Here
    * the blocking is RECURSIVE, three levels:
    *
    *  1. within `blockSize`-key blocks, the lag window is PARTITIONED
    *     by `blk = k div blockSize` — ≤ blockSize rows per task;
    *  2. cross-block gaps come from a lag over the per-block (min, max)
    *     summary PARTITIONED by `blk2 = blk div blockSize` — the
    *     summary has ≤ keyspace/blockSize rows, ≤ blockSize per task;
    *  3. cross-blk2 gaps from an unpartitioned lag over the per-blk2
    *     summary — ≤ keyspace/blockSize² rows, bounded by construction
    *     (~6k rows at a 10^11 keyspace with the default 4096).
    *
    * The three legs partition the consecutive-present-pair set (a pair
    * is same-blk, same-blk2-different-blk, or different-blk2 — disjoint
    * and exhaustive), so each gap is emitted exactly once; absent
    * blocks fold into the higher leg because summaries only contain
    * present blocks. Keys in block b all precede keys in block b+1, so
    * each summary's (min, max) is the block's true key range. */
  def blockedSequenceGaps(keys: DataFrame,
      blockSize: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocked = keys.withColumn("blk", expr(s"k div ${blockSize}L"))
    val w = Window.partitionBy("blk").orderBy("k")
    val within = blocked
      .withColumn("prev", lag(col("k"), 1).over(w))
      .filter(col("prev").isNotNull && col("k") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"),
        (col("k") - 1).as("gap_end"))
    val summary = blocked.groupBy("blk")
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
      .withColumn("blk2", expr(s"blk div ${blockSize}L"))
    val wb = Window.partitionBy("blk2").orderBy("blk")
    val across = summary
      .withColumn("pmx", lag(col("mx"), 1).over(wb))
      .filter(col("pmx").isNotNull && col("mn") - col("pmx") > 1)
      .select((col("pmx") + 1).as("gap_start"),
        (col("mn") - 1).as("gap_end"))
    val summary2 = summary.groupBy("blk2")
      .agg(min(col("mn")).as("mn2"), max(col("mx")).as("mx2"))
    val wb2 = Window.orderBy("blk2")
    val across2 = summary2
      .withColumn("pmx2", lag(col("mx2"), 1).over(wb2))
      .filter(col("pmx2").isNotNull && col("mn2") - col("pmx2") > 1)
      .select((col("pmx2") + 1).as("gap_start"),
        (col("mn2") - 1).as("gap_end"))
    within.unionByName(across).unionByName(across2)
  }

  /** Range-repartition by a sort key before a sorted write — the layout
    * that makes downstream range predicates prune files. */
  def writeSortedByRange(df: DataFrame, path: String, sortCols: Seq[String],
      partitions: Int): Unit =
    df.repartitionByRange(partitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
}
