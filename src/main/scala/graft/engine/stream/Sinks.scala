package graft.engine.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sinks built on `foreachBatch` — the production pattern for
  * landing a stream in a warehouse table when the store is plain files
  * (no lakehouse MERGE): each micro-batch upserts into a BUCKETED
  * parquet target, and only the buckets the batch touches are read,
  * merged, and dynamically overwritten.
  *
  * Scale shape: the target is hash-bucketed on the key into `nBuckets`
  * directories. A micro-batch collects its touched bucket ids (≤
  * nBuckets values — a driver-side set, not data), partition-prunes the
  * target read to those buckets, merges last-writer-wins, and rewrites
  * just those directories under dynamic partition overwrite. Cost per
  * batch is proportional to touched-bucket size, not target size; at
  * 100 TB the bucket count is sized so a bucket ≈ a comfortable
  * executor read (e.g. 4096 buckets × 25 GB).
  *
  * Last-writer-wins is max-by-(t_us, event_id) per key — associative
  * and commutative, so replaying a batch that COMMITTED (in any order,
  * or twice) converges to the same table.
  *
  * NOT crash-safe: there is no transaction log under this sink. Spark's
  * dynamic-overwrite commit (`HadoopMapReduceCommitProtocol.commitJob`)
  * deletes each touched bucket's final directory and then renames the
  * staged one into place. A crash between the two loses that bucket's
  * earlier rows, and a `foreachBatch` replay cannot restore them: it
  * re-merges the batch against the now-empty bucket. The window is
  * per bucket, from its delete to its rename, in every batch. Landing
  * each batch as a `CommitLog` version would close it.
  */
object Sinks {

  /** Upsert one micro-batch of (user_id, event_id, t_us, event_type,
    * value) into the bucketed target: keep, per user, the latest row by
    * (t_us, event_id) across the existing bucket contents and the
    * batch. */
  def upsertBatch(batch: DataFrame, targetDir: String,
      nBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val cols = Seq("user_id", "event_id", "t_us", "event_type", "value")
    val withBucket = batch.select(cols.map(col): _*)
      .withColumn("bucket", pmod(hash(col("user_id")), lit(nBuckets)))
    // last-writer-wins per key as a MAX_BY aggregate, not a rank
    // window (r14, guide §2.3 "aggregate before you shuffle"): max_by
    // partial-aggregates map-side, so only one candidate row per key
    // per map task reaches the exchange and nothing is sorted;
    // (t_us, event_id) is unique per user so the argmax is total —
    // identical rows to the old row_number()=1 pick.
    def latestPerKey(df: DataFrame): DataFrame = df.groupBy("user_id")
      .agg(max_by(
        struct((cols.filterNot(_ == "user_id") :+ "bucket").map(col): _*),
        struct(col("t_us"), col("event_id"))).as("_r"))
      .select(col("user_id") +:
        (cols.filterNot(_ == "user_id") :+ "bucket")
          .map(c => col(s"_r.$c").as(c)): _*)
    // latest per key within the batch first: shrinks the merge input.
    // Persisted because it feeds TWO jobs — the touched-bucket probe
    // and the merge write — and recomputing it repeats the batch scan
    // plus the per-key aggregate; batch-sized, freed before return.
    val batchLatest = latestPerKey(withBucket)
      .persist()
    // unpersist in finally: on the live foreachBatch path a failed
    // merge write is RETRIED by the engine (at-least-once), and a
    // leak here would pin one cached micro-batch per attempt
    try {
    val touched = batchLatest.select("bucket").distinct()
      .collect().map(_.getInt(0)) // ≤ nBuckets driver-side ints
    val root = new org.apache.hadoop.fs.Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the dynamic-overwrite committer writes no root _SUCCESS marker —
    // presence of any bucket directory is the existence signal
    val targetExists = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("bucket="))
    val existing =
      if (targetExists)
        graft.engine.io.Storage.readParquet(spark, targetDir)
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
      else spark.emptyDataFrame
        .select(lit(0L).as("user_id"), lit(0L).as("event_id"),
          lit(0L).as("t_us"), lit("").as("event_type"),
          lit(0.0).as("value"), lit(0).as("bucket"))
        .limit(0)
    val merged = latestPerKey(existing.unionByName(batchLatest))
    // cluster the write by its partition column (guide §6): without
    // this every merge task opens a file in every touched bucket
    // directory (tasks × buckets small files per batch, re-read by the
    // NEXT batch's merge). maxRecordsPerFile keeps a hot bucket from
    // becoming one oversized file at scale.
    merged.repartition(col("bucket"))
      .write.option("maxRecordsPerFile", 5000000)
      .partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(targetDir)
    } finally batchLatest.unpersist()
  }

  /** The streaming wrapper: land `events` (the raw schema) into the
    * bucketed target via foreachBatch. At-least-once delivery plus the
    * order-free merge above gives exactly-once table state only while
    * no bucket commit dies between its delete and its rename (see the
    * object doc). */
  def foreachBatchUpsert(events: DataFrame, targetDir: String,
      checkpointDir: String, nBuckets: Int = 16): StreamingQuery =
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        upsertBatch(batch.toDF(), targetDir, nBuckets)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Batch REPLAY of the same sink: split the events table into
    * `nChunks` deterministic micro-batches (by event_id hash) and
    * upsert them sequentially. Because the merge is order-independent,
    * the result equals a single global last-writer-wins — which is what
    * the oracle checks. */
  def replayUpserts(events: DataFrame, targetDir: String,
      nChunks: Int = 3, nBuckets: Int = 16): DataFrame = {
    val spark = events.sparkSession
    // one source scan for the whole replay: every chunk filters the
    // persisted projection instead of re-reading the events table
    // nChunks times (the live foreachBatch path never re-reads either —
    // each micro-batch arrives exactly once)
    val base = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("t_us"), col("event_type"), col("value"))
      .persist()
    // unpersist in finally: Verify catches per-query Throwables and
    // keeps running — a leaked table-sized cache here would degrade
    // every query after a mid-replay failure
    try (0 until nChunks).foreach { i =>
      upsertBatch(base.filter(pmod(col("event_id"), lit(nChunks)) === i),
        targetDir, nBuckets)
    } finally base.unpersist()
    graft.engine.io.Storage.readParquet(spark, targetDir).drop("bucket")
  }
}
