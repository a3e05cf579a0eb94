package graft.engine.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream transforms written once against the DataFrame API so the
  * same function runs in batch (DuckDB-oracle-checked, SURVEY §2.8) and
  * under Structured Streaming (`readStream` → transform → `writeStream`,
  * exercised with MemoryStream in ScalaTest).
  *
  * Streaming deployment notes (100 TB / unbounded):
  *  - callers add `withWatermark("ts", ...)` before the windowed aggs so
  *    state is evicted and late data dropped deterministically;
  *  - `dedupe` becomes `dropDuplicatesWithinWatermark` under a watermark;
  *  - state store is partitioned by the grouping key — same shuffle shape
  *    as the batch plan.
  */
object EventOps {

  /** Run a streaming-query lifecycle with `spark.sql.shuffle.partitions`
    * pinned to `n`, restoring the session value after. A streaming
    * aggregate's STATE STORE partition count is fixed by the shuffle
    * width at first run and persisted in the checkpoint forever — for a
    * low-cardinality grouping key (~10 event types here) the session's
    * corpus-sized width (32 at bench) means 32 state files per commit
    * doing nothing but FS round-trips. Right-size state partitions to
    * the KEY domain, not the data volume; the conf stays pinned through
    * awaitTermination because micro-batch planning is asynchronous
    * after start(). */
  private def withStatePartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T =
    graft.engine.Confs.withConf(spark,
      "spark.sql.shuffle.partitions", n.toString)(body)

  /** 1h tumbling window: count + exact decimal sum of value per type
    * (summed as DECIMAL for partition-order determinism, emitted as a
    * rounded DOUBLE — see Tables.dsum). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 2)
          .as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** 1h windows sliding every 30 minutes. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"))

  /** Per-user session windows with a 30-minute inactivity gap. */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("session_window.start")).as("session_start_us"),
        col("user_id"), col("n_events"))

  /** Drop duplicate event ids (keeps an arbitrary — here unique — row). */
  def dedupe(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")
      .select("event_id", "user_id", "event_type")

  /** Batch form of the per-user running aggregate: event count + the
    * latest event_type by (ts, event_id). The streaming form is
    * [[statefulUserAggStream]]; both produce the same final state. */
  def statefulUserAgg(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("t").desc, col("event_id").desc)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        col("event_type").as("last_type"))
  }

  /** Click→purchase pairs for the same user within `windowUs` µs —
    * written once over two DataFrames: in batch both sides are static;
    * in streaming both are streams and Spark keeps watermark-bounded
    * state on each side (stream-stream interval join). */
  def clickPurchasePairs(clicks: DataFrame, purchases: DataFrame,
      windowUs: Long = 3600000000L): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts").as("purchase_ts"))
    // the raw-timestamp range duplicates the epoch-µs predicates so the
    // streaming planner recognizes an event-time constraint and bounds
    // the join state; the µs terms keep batch/oracle arithmetic exact
    c.join(p, c("user_id") === p("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"INTERVAL $windowUs MICROSECOND") &&
        unix_micros(col("purchase_ts")) > unix_micros(col("click_ts")) &&
        unix_micros(col("purchase_ts")) <=
          unix_micros(col("click_ts")) + windowUs)
      .select(col("click_id"), col("purchase_id"),
        c("user_id").as("user_id"))
  }

  case class UserState(n: Long, lastT: Long, lastId: Long, lastType: String) {
    /** This state after `rows` `(user_id, event_id, event_type, t)`:
      * each counts, and the latest by (t, event_id) sets the type. */
    def fold(rows: Iterator[(Long, Long, String, Long)]): UserState =
      rows.foldLeft(this) { case (st, (_, id, tpe, t)) =>
        val isLater = t > st.lastT || (t == st.lastT && id > st.lastId)
        if (isLater) UserState(st.n + 1, t, id, tpe) else st.copy(n = st.n + 1)
      }
  }
  case class UserAgg(user_id: Long, n_events: Long, last_type: String)

  /** Per-user state machine for [[statefulUserAggTws]]: fold each batch
    * of rows into the keyed [[UserState]] ValueState and emit the
    * current aggregate. Same fold as [[statefulUserAggStream]]'s. */
  class UserAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String, Long), UserAgg] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UserState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState]("userState",
        org.apache.spark.sql.Encoders.product[UserState], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, String, Long)],
        timerValues: TimerValues): Iterator[UserAgg] = {
      val st = (if (state.exists()) state.get()
        else UserState(0L, Long.MinValue, Long.MinValue, "")).fold(rows)
      state.update(st)
      Iterator.single(UserAgg(key, st.n, st.lastType))
    }
  }

  /** Streaming form on the Spark 4 `transformWithState` API — the
    * current production keyed-state operator (explicit typed ValueState,
    * per-state TTL, timers; RocksDB-backed). Shuffle shape is identical
    * to [[statefulUserAggStream]]'s: state partitioned by the grouping
    * key. Requires the RocksDB state store provider. */
  def statefulUserAggTws(events: DataFrame): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserAggProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class SessionAccum(n: Long, minT: Long, maxT: Long)
  case class SessionOut(user_id: Long, n_events: Long, start_us: Long,
      end_us: Long)

  /** Per-user inactivity-gap sessions emitted BY EVENT-TIME TIMER — the
    * remaining production-state surface on `transformWithState`: state
    * accumulates each user's open session; every batch re-arms one
    * timer at (latest event time + gap); when the watermark passes it,
    * [[handleExpiredTimer]] emits the session summary and clears the
    * state. Closed sessions therefore leave the store deterministically
    * (timer-driven eviction = TTL with exact semantics), which is what
    * bounds state size on an unbounded 100 TB/day stream. */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[SessionAccum] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionAccum]("session",
        org.apache.spark.sql.Encoders.product[SessionAccum], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      var st =
        if (state.exists()) state.get()
        else SessionAccum(0L, Long.MaxValue, Long.MinValue)
      rows.foreach { case (_, tUs) =>
        st = SessionAccum(st.n + 1, math.min(st.minT, tUs),
          math.max(st.maxT, tUs))
      }
      state.update(st)
      // exactly one armed timer per key: drop the stale expiry, re-arm
      // at (latest event this session + gap) — timer values are ms
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(st.maxT / 1000L + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      val out =
        if (state.exists()) {
          val st = state.get()
          Iterator.single(SessionOut(key, st.n, st.minT, st.maxT))
        } else Iterator.empty
      state.clear()
      out
    }
  }

  case class SnapState(n: Long, nextFire: Long)
  case class Snapshot(user_id: Long, fire_ms: Long, n_events: Long)

  /** Timer CHAINING: emit a per-key snapshot at every `periodMs`
    * event-time boundary the watermark crosses — each expiry re-arms
    * the next timer, so a key keeps reporting on a fixed cadence
    * without any input driving it. This is the periodic-emission
    * pattern (metrics rollups, liveness marks) that complements
    * [[SessionTimerProcessor]]'s expire-once shape; state is one
    * (count, nextFire) pair per key, and the chain stops re-arming only
    * when the key's state is cleared. */
  class PeriodicSnapshotProcessor(periodMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), Snapshot] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[SnapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SnapState]("snap",
        org.apache.spark.sql.Encoders.product[SnapState], TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[Snapshot] = {
      var st =
        if (state.exists()) state.get() else SnapState(0L, Long.MinValue)
      var maxMs = Long.MinValue
      rows.foreach { case (_, tUs) =>
        st = st.copy(n = st.n + 1)
        maxMs = math.max(maxMs, tUs / 1000L)
      }
      if (st.nextFire == Long.MinValue) {
        // first input for this key: align the chain to the next period
        // boundary after the latest event seen
        val aligned = (maxMs / periodMs + 1) * periodMs
        st = st.copy(nextFire = aligned)
        getHandle.registerTimer(aligned)
      }
      state.update(st)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Snapshot] = {
      if (!state.exists()) Iterator.empty
      else {
        val st = state.get()
        val fired = expiredTimerInfo.getExpiryTimeInMs
        // re-arm: the chain continues at the next boundary
        val next = fired + periodMs
        state.update(st.copy(nextFire = next))
        getHandle.registerTimer(next)
        Iterator.single(Snapshot(key, fired, st.n))
      }
    }
  }

  case class TtlCount(user_id: Long, n_events: Long)

  /** Per-key running count whose ValueState carries a REAL TTL — the
    * lazy complement to [[SessionTimerProcessor]]'s timer-driven
    * eviction: no timer fires, but any state older than `ttl` is
    * invisible to reads and reclaimed by the store's maintenance pass.
    * This is the right bound for state that only needs recency (rate
    * counters, last-seen caches) on an unbounded keyspace: keys that
    * stop arriving cost nothing after one TTL, with zero timer
    * bookkeeping per key. TTL is wall-clock by definition, so the
    * processor runs in TimeMode.ProcessingTime. */
  class TtlCountProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), TtlCount] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig(ttl))

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[TtlCount] = {
      // an expired value reads as absent — the lazy-TTL contract
      val cur = if (state.exists()) state.get() else 0L
      val n = cur + rows.size
      state.update(n) // update refreshes the value's TTL clock
      Iterator.single(TtlCount(key, n))
    }
  }

  /** Per-user event counts with TTL-bounded state: a user idle longer
    * than `ttl` restarts from zero (their state expired). */
  def ttlUserCountsTws(events: DataFrame,
      ttl: java.time.Duration): Dataset[TtlCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), unix_micros(col("ts")).as("t"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TtlCountProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** Periodic per-user snapshots on a WATERMARKED stream — one row per
    * (user, crossed period boundary), append mode. */
  def periodicSnapshotsTws(events: DataFrame,
      periodMs: Long = 3600000L): Dataset[Snapshot] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), unix_micros(col("ts")).as("t"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new PeriodicSnapshotProcessor(periodMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Timer-driven session summaries over a WATERMARKED event stream
    * (callers apply `withWatermark("ts", ...)`; TimeMode.EventTime
    * requires one). Output is append-mode: one row per closed session. */
  def sessionSummariesTws(events: DataFrame,
      gapMs: Long = 1800000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), unix_micros(col("ts")).as("t"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming form: explicit keyed state via flatMapGroupsWithState —
    * the state store carries one [[UserState]] per user, partitioned by
    * the grouping key (same shuffle shape as the batch window). */
  def statefulUserAggStream(events: DataFrame): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserAgg](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[UserState]) =>
          val st = state.getOption.getOrElse(UserState(0L, Long.MinValue,
            Long.MinValue, "")).fold(rows)
          state.update(st)
          Iterator.single(UserAgg(user, st.n, st.lastType))
      }
  }

  /** State-store introspection — the state-debugging surface every
    * production streaming job eventually needs ("what does my running
    * state actually contain?"). Runs a per-type running aggregate over
    * a file stream with Trigger.AvailableNow, then reads the query's
    * OWN state store back as a DataFrame via Spark's `statestore` data
    * source (key struct, value struct = the agg buffer, partition_id).
    *
    * The returned rows come from the checkpoint files, not the sink —
    * so equality with the batch aggregate proves the persisted state is
    * the number the next restart would resume from. The buffer layout
    * (count, sum, isEmpty) is Spark's HashAggregate state; we surface
    * it as typed columns and leave partition_id visible because "which
    * store holds key X" is exactly what state debugging asks. */
  def aggStateDump(events: DataFrame, scratchDir: String): DataFrame = {
    val spark = events.sparkSession
    val src = s"$scratchDir/src"
    val ckpt = s"$scratchDir/ckpt"
    // fresh checkpoint per run: the query reads state for ITS run, not
    // an accumulation across runs
    graft.engine.io.Storage.deleteFolder(spark, scratchDir)
    val slim = events.select(col("event_type"), col("value"))
    slim.write.mode("overwrite").parquet(src)
    val in = spark.readStream.schema(slim.schema).parquet(src)
    val agg = in.groupBy("event_type").agg(count(lit(1)).as("n"),
      sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        .as("total"))
    withStatePartitions(spark, 4) {
      val q = agg.writeStream.format("noop")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.format("statestore").load(ckpt)
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n"),
        col("value.sum").cast("double").as("total"),
        col("partition_id"))
  }

  /** Checkpoint RESUME proof: the same running aggregate executed as
    * two separate streaming queries over one checkpoint — half the
    * input lands, the query runs and stops; the rest lands, a NEW
    * query starts on the SAME checkpoint and processes only the new
    * files. The final state equals the batch aggregate over the full
    * input iff resume is incremental: a restart that re-read phase-1
    * files would double-count and the equality breaks. This is the
    * operational property streaming deployments live on (deploys,
    * crashes, upgrades all restart the query). */
  def aggStateResume(events: DataFrame, scratchDir: String): DataFrame = {
    val spark = events.sparkSession
    val src = s"$scratchDir/src"
    val ckpt = s"$scratchDir/ckpt"
    graft.engine.io.Storage.deleteFolder(spark, scratchDir)
    val slim = events.select(col("event_type"), col("value"),
      col("event_id"))
    def runOnce(): Unit = withStatePartitions(spark, 4) {
      val in = spark.readStream
        .schema(slim.drop("event_id").schema).parquet(src)
      val agg = in.groupBy("event_type").agg(count(lit(1)).as("n"),
        sum(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("total"))
      val q = agg.writeStream.format("noop")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    slim.filter(col("event_id") % 2 === 0).drop("event_id")
      .write.mode("overwrite").parquet(src)
    runOnce()
    slim.filter(col("event_id") % 2 === 1).drop("event_id")
      .write.mode("append").parquet(src)
    runOnce() // new query object, same checkpoint: must resume
    spark.read.format("statestore").load(ckpt)
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n"),
        col("value.sum").cast("double").as("total"))
  }
}
