package graft.engine.stream

import graft.engine.io.Storage
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
  * directories. When the target exists, a micro-batch caches itself,
  * collects its touched bucket ids (≤ nBuckets values — a driver-side
  * set, not data) and partition-prunes the target read to those
  * buckets; into an absent target there is nothing to read, so neither
  * the probe nor the cache runs. The merge (last-writer-wins) and the
  * partitioned write share one exchange on `bucket`, and only the
  * touched directories are rewritten, under dynamic partition
  * overwrite. Cost per batch is proportional to touched-bucket size,
  * not target size; at 100 TB the bucket count is sized so a bucket ≈
  * a comfortable executor read (e.g. 4096 buckets × 25 GB).
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

  /** The sink's row: the key `user_id`, then the payload. */
  private val Cols = Seq("user_id", "event_id", "t_us", "event_type", "value")

  /** Upsert one micro-batch of (user_id, event_id, t_us, event_type,
    * value) into the bucketed target: keep, per user, the latest row by
    * (t_us, event_id) across the existing bucket contents and the
    * batch. Into an absent target the batch's own latest rows are
    * written; only an existing target is probed for the touched buckets
    * and read, with the batch cached for the probe and the merge. */
  def upsertBatch(batch: DataFrame, targetDir: String,
      nBuckets: Int = 16): Unit = {
    val spark = batch.sparkSession
    val withBucket = batch.select(Cols.map(col): _*)
      .withColumn("bucket", pmod(hash(col("user_id")), lit(nBuckets)))
    // the dynamic-overwrite committer writes no root _SUCCESS marker —
    // presence of any bucket directory is the existence signal
    val targetExists = Storage.listFolder(spark, targetDir)
      .exists(p => p.substring(p.lastIndexOf('/') + 1).startsWith("bucket="))
    if (!targetExists) write(latestPerKey(withBucket), targetDir)
    else {
      // cached because it feeds TWO jobs — the touched-bucket probe and
      // the merge write — and recomputing it repeats the batch scan;
      // unpersisted in finally: on the live foreachBatch path a failed
      // merge write is RETRIED by the engine (at-least-once), and a
      // leak here would pin one cached micro-batch per attempt
      val cached = withBucket.persist()
      try {
        val touched = cached.select("bucket").distinct()
          .collect().map(_.getInt(0)) // ≤ nBuckets driver-side ints
        val existing = Storage.readParquet(spark, targetDir)
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
        write(latestPerKey(existing.unionByName(cached)), targetDir)
      } finally cached.unpersist()
    }
  }

  /** Last-writer-wins per key over rows clustered ONCE by `bucket`: the
    * aggregate groups by (bucket, user_id), which that clustering
    * already satisfies, so the merge and the partitioned write share
    * one exchange and each bucket lands in one task (one file per
    * touched bucket, not tasks × buckets small files re-read by the
    * next batch's merge). `bucket` is a function of `user_id`, so the
    * groups are those of `user_id` alone. A MAX_BY aggregate, not a
    * rank window: nothing is sorted, and (t_us, event_id) is unique per
    * user, so the argmax is total. */
  private def latestPerKey(df: DataFrame): DataFrame = {
    val rest = Cols.filterNot(_ == "user_id")
    df.repartition(col("bucket"))
      .groupBy("bucket", "user_id")
      .agg(max_by(struct(rest.map(col): _*),
        struct(col("t_us"), col("event_id"))).as("_r"))
      .select((col("user_id") +: rest.map(c => col(s"_r.$c").as(c)) :+
        col("bucket")): _*)
  }

  /** Dynamic partition overwrite of the touched buckets;
    * maxRecordsPerFile keeps a hot bucket from becoming one oversized
    * file at scale. */
  private def write(merged: DataFrame, targetDir: String): Unit =
    merged.write.option("maxRecordsPerFile", 5000000)
      .partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(targetDir)

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
    Storage.readParquet(spark, targetDir).drop("bucket")
  }
}
