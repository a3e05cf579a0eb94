package graft.queries

import graft.Tables._
import graft.engine.stream.EventOps
import org.apache.spark.sql.functions._

/** Batch forms of the streaming operators (SURVEY.md §2.8). The same
  * [[EventOps]] functions run under Structured Streaming in ScalaTest;
  * here they run as batch over the `events` table so the DuckDB oracle
  * hash-checks their semantics.
  *
  * Session windows (`stream_session`) are checked against a
  * gaps-and-islands SQL oracle: a session breaks after 30 minutes of
  * silence; gap arithmetic runs on integer epoch-µs on both sides (R2).
  */
object Streaming {

  val qs: Seq[Q] = Seq(
    Q("stream_tumbling",
      (s, d) => EventOps.tumbling(events(s, d))
        .orderBy("hour_start", "event_type"),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
                event_type, COUNT(*) AS n,
                ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""),

    Q("stream_sliding",
      (s, d) => EventOps.sliding(events(s, d))
        .orderBy("win_start", "event_type"),
      """WITH buckets AS (
           SELECT CAST(time_bucket(INTERVAL '30 minutes',
                    CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS b, event_type
           FROM events)
         SELECT win_start, event_type, COUNT(*) AS n FROM (
           SELECT b AS win_start, event_type FROM buckets
           UNION ALL
           SELECT b - INTERVAL '30 minutes' AS win_start, event_type
           FROM buckets)
         GROUP BY 1, 2 ORDER BY win_start, event_type"""),

    Q("stream_session",
      (s, d) => EventOps.sessions(events(s, d))
        .orderBy("user_id", "session_start_us"),
      """WITH t AS (
           SELECT user_id, epoch_us(ts) AS t_us,
                  CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY epoch_us(ts))
                       >= 1800000000 THEN 1
                       WHEN LAG(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY epoch_us(ts))
                       IS NULL THEN 1 ELSE 0 END AS new_session
           FROM events),
         numbered AS (
           SELECT user_id, t_us,
                  SUM(new_session) OVER (PARTITION BY user_id ORDER BY t_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_id
           FROM t)
         SELECT MIN(t_us) AS session_start_us, user_id,
                COUNT(*) AS n_events
         FROM numbered GROUP BY user_id, session_id
         ORDER BY user_id, session_start_us"""),

    Q("stream_join",
      (s, d) => {
        val ev = events(s, d)
        EventOps.clickPurchasePairs(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"))
          .orderBy("click_id", "purchase_id")
      },
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
                c.user_id AS user_id
         FROM (SELECT * FROM events WHERE event_type = 'click') c
         JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
          AND epoch_us(p.ts) > epoch_us(c.ts)
          AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
         ORDER BY click_id, purchase_id"""),

    Q("stream_stateful_agg",
      (s, d) => EventOps.statefulUserAgg(events(s, d)).orderBy("user_id"),
      """SELECT user_id, n_events, last_type FROM (
           SELECT user_id, event_type AS last_type,
                  COUNT(*) OVER (PARTITION BY user_id) AS n_events,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id"""),

    Q("stream_dedup",
      (s, d) => EventOps.dedupe(events(s, d)).orderBy("event_id"),
      """SELECT event_id, user_id, event_type FROM (
           SELECT event_id, user_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY event_id
                    ORDER BY epoch_us(ts)) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY event_id"""),

    // foreachBatch keyed-upsert sink, replayed as deterministic batch
    // chunks: events split by event_id hash into 3 "micro-batches",
    // each MERGEd last-writer-wins into a bucketed parquet target
    // (touched buckets only, dynamic overwrite). The merge is
    // max-by-(t_us, event_id) per user — associative + commutative —
    // so any replay order (and any redelivery) converges to the global
    // last-writer-wins the oracle computes. The live streaming form
    // (MemoryStream → foreachBatch) is asserted in StreamingSpec.
    Q("stream_foreach_batch",
      (s, d) => {
        val target = IoQueries.scratch(d, "fb_upsert")
        // fresh target per run: replay convergence, not accumulation,
        // is what the oracle checks (idempotence is specced separately)
        graft.engine.io.Storage.deleteFolder(s, target)
        graft.engine.stream.Sinks.replayUpserts(events(s, d), target)
          .orderBy("user_id")
      },
      """SELECT user_id, event_id, t_us, event_type, value FROM (
           SELECT user_id, event_id, epoch_us(ts) AS t_us, event_type,
                  value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id"""),

    // State-store READ-BACK: run a per-type running aggregate as a real
    // AvailableNow streaming query, then read the checkpoint's state
    // store (Spark `statestore` data source) and check it equals the
    // batch aggregate — the rows come from the persisted state files,
    // so this proves what the next restart would resume from. The
    // state-debugging surface of SURVEY §2.8.
    Q("stream_state_read",
      (s, d) => {
        val scratch = IoQueries.scratch(d, "state_read")
        EventOps.aggStateDump(events(s, d), scratch)
          .select(col("event_type"), col("n"),
            round(col("total"), 2).as("total"))
          .orderBy("event_type")
      },
      """SELECT event_type, COUNT(*) AS n,
                ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // Checkpoint RESUME proof: two streaming queries, one checkpoint —
    // the restart must process ONLY the files that arrived after the
    // first run. The oracle (batch aggregate over the full input)
    // catches any resume failure: re-reading phase-1 files would
    // double-count and break the hash.
    Q("stream_restart_resume",
      (s, d) => {
        val scratch = IoQueries.scratch(d, "restart_resume")
        EventOps.aggStateResume(events(s, d), scratch)
          .select(col("event_type"), col("n"),
            round(col("total"), 2).as("total"))
          .orderBy("event_type")
      },
      """SELECT event_type, COUNT(*) AS n,
                ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                  AS total
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // Batch sessionization (gaps-and-islands): a session breaks after
    // 30 minutes of per-user silence — the portable formulation of
    // stream_session (lag → break flag → running sum), on integer
    // epoch-µs. One shuffle on user_id; both windows share it.
    Q("sessionize_batch",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val wOrd = Window.partitionBy("user_id").orderBy("t", "event_id")
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("t"))
          .withColumn("brk",
            when(col("t") - lag(col("t"), 1).over(wOrd) > 1800000000L ||
              lag(col("t"), 1).over(wOrd).isNull, 1L).otherwise(0L))
          .withColumn("session_seq", sum(col("brk")).over(wRun))
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"),
            min(col("t")).as("start_us"), max(col("t")).as("end_us"))
          .orderBy("user_id", "session_seq")
      },
      """WITH ev AS (
           SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
         flagged AS (
           SELECT user_id, event_id, t,
                  CASE WHEN t - LAG(t, 1) OVER w > 1800000000
                         OR LAG(t, 1) OVER w IS NULL
                       THEN 1 ELSE 0 END AS brk
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         sessions AS (
           SELECT user_id, t,
                  CAST(SUM(brk) OVER (PARTITION BY user_id
                    ORDER BY t, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_seq
           FROM flagged)
         SELECT user_id, session_seq, COUNT(*) AS n_events,
                MIN(t) AS start_us, MAX(t) AS end_us
         FROM sessions GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq"""),

    // WATERMARK LATE-DATA AUDIT — what a 10-minute watermark would
    // drop, replayed as deterministic micro-batches: arrival batch =
    // day-of-month tertile, except every event_id%17 row is a
    // straggler delivered ONE BATCH LATE with its original (old)
    // event time. Spark's rule: a late row is discarded when its
    // hour-window END ≤ the watermark computed from the PREVIOUS
    // batch's max event time − 10 min (state already finalized).
    // Declared relation = the 3-row per-batch audit (rows, stragglers,
    // dropped, kept, watermark) — the lateness-budget sizing table you
    // read before choosing a watermark in production. Batch maxes are
    // one 3-row aggregate; the running max is a window over that 3-row
    // relation, then one broadcast join back onto the stream.
    Q("stream_late_drop",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d).select(
          unix_micros(col("ts")).as("t"), col("event_id"),
          expr("""least(CAST(CASE WHEN day(ts) <= 10 THEN 0
                              WHEN day(ts) <= 20 THEN 1 ELSE 2 END
                           + CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END
                         AS BIGINT), 2L)""").as("b"),
          (col("event_id") % 17 === 0).as("straggler"))
        val wm = ev.groupBy("b").agg(max("t").as("bmax"))
          .withColumn("wm_before",
            max("bmax").over(Window.orderBy("b")
              .rowsBetween(Window.unboundedPreceding, -1)) - 600000000L)
          .select("b", "wm_before")
        ev.join(broadcast(wm), Seq("b"))
          .withColumn("dropped",
            col("wm_before").isNotNull &&
              expr("(t div 3600000000 + 1) * 3600000000") <=
                col("wm_before"))
          .groupBy("b")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("straggler"), 1L).otherwise(0L))
              .as("n_stragglers"),
            sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
            sum(when(!col("dropped"), 1L).otherwise(0L)).as("n_kept"),
            first(col("wm_before")).as("watermark_us"))
          .orderBy("b")
      },
      """WITH ev AS (
           SELECT epoch_us(ts) AS t, event_id,
                  least(CAST(CASE WHEN extract(day FROM ts) <= 10 THEN 0
                               WHEN extract(day FROM ts) <= 20 THEN 1
                               ELSE 2 END
                          + CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END
                        AS BIGINT), 2) AS b,
                  event_id % 17 = 0 AS straggler
           FROM events),
         wm AS (SELECT b,
                  max(bmax) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                    PRECEDING AND 1 PRECEDING) - 600000000 AS wm_before
                FROM (SELECT b, max(t) AS bmax FROM ev GROUP BY b)),
         flagged AS (
           SELECT ev.b, straggler,
                  wm_before IS NOT NULL AND
                    (t // 3600000000 + 1) * 3600000000 <= wm_before
                    AS dropped,
                  wm_before
           FROM ev JOIN wm ON ev.b = wm.b)
         SELECT b, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN straggler THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_stragglers,
                CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                CAST(sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
                min(wm_before) AS watermark_us
         FROM flagged GROUP BY b ORDER BY b"""),
  )
}
