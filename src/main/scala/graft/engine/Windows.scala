package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Tables => T}
import graft.engine.Exact._
import graft.ops.{AsOfJoin, RangeJoin, Sessionize}

/** Event-time windowing + temporal join surface (SURVEY.md §2.8): the
  * reference has no streaming, but its event-stamped inserts
  * (`defaultNow()` timestamps, notification fan-out) map to exactly
  * these shapes. Each query here is the batch-equivalent of a
  * Structured Streaming computation (graft.streaming.Streams holds the
  * `readStream` variants), so the DuckDB oracle stays applicable.
  */
object Windows {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Tumbling 1-hour event-time windows.
    "q40_tumbling_window" -> ((s, dir) => {
      import s.implicits._
      T.events(s, dir)
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), msum($"value").as("total_value"))
        .select($"w.start".as("window_start"), $"event_type", $"n", $"total_value")
        .orderBy($"window_start", $"event_type")
    }),

    // Sliding 1-hour windows every 30 minutes (each event in 2 windows).
    "q41_sliding_window" -> ((s, dir) => {
      import s.implicits._
      T.events(s, dir)
        .groupBy(window($"ts", "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), msum($"value").as("total_value"))
        .select($"w.start".as("window_start"), $"n", $"total_value")
        .orderBy($"window_start")
    }),

    // Gap-based sessions (30-min inactivity) via the lag-flag-cumsum
    // construction — semantics of session_window, expressible in both
    // engines (SURVEY.md §7.3).
    "q42_session_window" -> ((s, dir) => {
      import s.implicits._
      Sessionize.withSessionSeq(T.events(s, dir), "user_id", "ts", "event_id",
          gapUs = 30L * 60 * 1000000)
        .groupBy($"user_id", $"session_seq")
        .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
          count(lit(1)).as("n_events"), msum($"value").as("total_value"))
        .orderBy($"user_id", $"session_seq")
    }),

    // Banded range join: strictly-following events within 5 minutes of
    // a purchase by the same user (funnel step) — equi+range via bucket
    // explosion, NOT a nested-loop join (see graft.ops.RangeJoin).
    "q24_range_join" -> ((s, dir) => {
      import s.implicits._
      val e = T.events(s, dir)
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("lead_id"), $"ts".as("lead_ts"))
      val follows = e.select($"user_id", $"event_id".as("follow_id"),
        $"event_type".as("follow_type"), $"ts".as("follow_ts"))
      RangeJoin.following(purchases, follows, Seq("user_id"),
          "lead_ts", "follow_ts", windowUs = 5L * 60 * 1000000)
        .select($"user_id", $"lead_id", $"follow_id", $"follow_type")
        .distinct() // two candidate buckets can both match at the boundary
        .orderBy($"lead_id", $"follow_id")
    }),

    // Backward as-of join: for each purchase, the most recent click by
    // the same user at-or-before it (union-sort-window, single shuffle —
    // see graft.ops.AsOfJoin).
    "q28_asof_join" -> ((s, dir) => {
      import s.implicits._
      val e = T.events(s, dir)
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_event_id"), $"ts".as("click_ts"))
      AsOfJoin.backward(purchases, clicks, Seq("user_id"), "ts", "click_ts",
          tieBreak = "click_event_id",
          payload = Seq("click_event_id" -> "click_event_id", "click_ts" -> "click_ts"))
        .orderBy($"event_id")
    }),

    // True Structured Streaming run (readStream → complete-mode memory
    // sink, drained synchronously) of the q40 tumbling aggregation —
    // same oracle, real streaming plan, on rollup-sized state (at most
    // 3,600 (window, type) keys; Streams.rollupWidth).
    "q43_stream_tumbling" -> ((s, dir) =>
      graft.streaming.Streams.tumblingCounts(s, dir)),

    // Watermarked APPEND-mode streaming with a planted late batch —
    // the §2.8 late-data checkbox as a driver-verified query (the
    // watermark/dedup paths were previously spec-only): three-file
    // replay (bulk on-time → heartbeat → late set), watermark 2 h,
    // tumbling 1 h; the oracle replays the closed form (on-time rows
    // only, windows closed by the final watermark) so the DROPPED
    // late rows are visible as the difference against q40's full
    // counts. See streaming/Streams.lateDataTumbling for why three
    // batches (the late-event watermark lags eviction by one batch).
    // Same rollup-sized state as q43.
    "q239_stream_late_data" -> ((s, dir) =>
      graft.streaming.Streams.lateDataTumbling(s, dir)),

    // Watermarked STREAM-STREAM interval join (clicks ⋈ purchases
    // within 30 min, both sides file-replayed in three time-ordered
    // batches) — the stateful join shape Structured Streaming
    // supports at scale, driver-verified against the batch interval
    // join because the time-ordered replay provably never evicts a
    // partner early (see streaming/Streams.streamStreamAttribution
    // for the watermark-margin argument).
    "q245_stream_stream_join" -> ((s, dir) =>
      graft.streaming.Streams.streamStreamAttribution(s, dir)),

    // Streaming dedup with PLANTED duplicates (two-batch file replay:
    // the full events file, then every 5th event verbatim again) —
    // `dropDuplicates` must match batch-2 rows against batch-1 STATE,
    // so the §2.8 streaming-dedup checkbox lands in the oracle matrix
    // with a non-vacuous input: a broken dedup inflates the counts
    // ~20% and fails the COUNT oracle. See
    // streaming/Streams.streamingDedupPlanted for the determinism and
    // bounded-state (dropDuplicatesWithinWatermark) notes.
    "q257_stream_dedup" -> ((s, dir) =>
      graft.streaming.Streams.streamingDedupPlanted(s, dir)),

    // The NATIVE as-of join (custom LogicalPlan + planner Strategy +
    // SparkPlan, graft.plans.AsOfJoinNative) run against q28's oracle —
    // the full §2.9 extension ladder lands in the driver-verified
    // matrix, not just in specs. Same semantics as q28's
    // union-sort-window operator; the physical plan is one hash
    // shuffle + sort per side feeding a streaming merge that holds ONE
    // buffered right row (O(1) memory per partition, no union
    // materialization). The strategy is injected idempotently via
    // `experimental.extraStrategies` so the operator works in any
    // session, not only one built with GraftExtensions.
    "q131_asof_native" -> ((s, dir) => {
      import s.implicits._
      if (!s.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
        s.experimental.extraStrategies =
          s.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
      val e = T.events(s, dir)
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_event_id"), $"ts".as("click_ts"))
      graft.ops.AsOfJoinNative.backward(purchases, clicks, Seq("user_id"),
          "ts", "click_ts", tieBreak = "click_event_id")
        .toDF("user_id", "event_id", "ts", "r_user_id", "click_event_id", "click_ts")
        .select($"user_id", $"event_id", $"ts", $"click_event_id", $"click_ts")
        .orderBy($"event_id")
    }))

  val oracle: Map[String, String] = Map(
    "q40_tumbling_window" ->
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
         |  count(*) AS n, ${msumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q43_stream_tumbling" ->
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
         |  count(*) AS n, ${msumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Append-mode watermark replay in closed form: only ON-TIME rows
    // (the planted late set — old-half rows with event_id % 7 = 0 —
    // arrives after the late-event watermark passed and is dropped),
    // only windows the final watermark closed (window end ≤
    // max(on-time ts) − 2 h); tail windows stay open in a bounded
    // replay and are never emitted.
    "q239_stream_late_data" ->
      """WITH ontime AS (
        |  SELECT ts, event_type FROM events
        |  WHERE NOT (event_id % 7 = 0 AND epoch_us(ts) * 2 <=
        |    (SELECT min(epoch_us(ts)) + max(epoch_us(ts)) FROM events))),
        |wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM ontime),
        |win AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    count(*) AS n
        |  FROM ontime GROUP BY 1, 2)
        |SELECT window_start, event_type, n FROM win, wm
        |WHERE window_start + INTERVAL 1 HOUR <= wm.w
        |ORDER BY window_start, event_type""".stripMargin,

    // The stream-stream join's time-ordered replay never drops or
    // early-evicts (margin argument in Streams.streamStreamAttribution),
    // so the closed form is the plain batch interval join.
    "q245_stream_stream_join" ->
      """SELECT c.user_id AS user_id,
        |  c.event_id AS click_id, c.ts AS click_ts,
        |  p.event_id AS purchase_id, p.ts AS purchase_ts,
        |  p.value AS amount
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,

    // Closed form of the planted-duplicate replay: dedup removed every
    // batch-2 row, so the counts are the base table's per-type counts
    // (event_id is unique in the base table by construction).
    "q257_stream_dedup" ->
      """SELECT event_type, count(*) AS n_unique
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q41_sliding_window" ->
      s"""SELECT window_start, count(*) AS n, ${msumSql("value")} AS total_value
         |FROM (
         |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
         |  UNION ALL
         |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value FROM events
         |) t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q42_session_window" ->
      s"""WITH x AS (
         |  SELECT user_id, ts, event_id, value,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events),
         |y AS (
         |  SELECT user_id, ts, value,
         |    CAST(sum(CASE WHEN prev IS NULL THEN 0
         |                  WHEN epoch_us(ts) - prev > 1800000000 THEN 1
         |                  ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_seq
         |  FROM x)
         |SELECT user_id, session_seq, min(ts) AS session_start,
         |  max(ts) AS session_end, count(*) AS n_events,
         |  ${msumSql("value")} AS total_value
         |FROM y GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,

    "q24_range_join" ->
      """SELECT DISTINCT e1.user_id, e1.event_id AS lead_id,
        |  e2.event_id AS follow_id, e2.event_type AS follow_type
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id
        | AND epoch_us(e2.ts) > epoch_us(e1.ts)
        | AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
        |WHERE e1.event_type = 'purchase'
        |ORDER BY lead_id, follow_id""".stripMargin,

    // Same oracle as q28 — the native operator must be result-identical
    // to the window-based one.
    "q131_asof_native" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, p.event_id, p.ts, max(c.ts) AS click_ts
        |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
        |      GROUP BY p.user_id, p.event_id, p.ts)
        |SELECT m.user_id, m.event_id, m.ts,
        |  max(c.event_id) AS click_event_id, m.click_ts
        |FROM m LEFT JOIN c ON c.user_id = m.user_id AND c.ts = m.click_ts
        |GROUP BY m.user_id, m.event_id, m.ts, m.click_ts
        |ORDER BY m.event_id""".stripMargin,

    "q28_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
        |m AS (SELECT p.user_id, p.event_id, p.ts, max(c.ts) AS click_ts
        |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
        |      GROUP BY p.user_id, p.event_id, p.ts)
        |SELECT m.user_id, m.event_id, m.ts,
        |  max(c.event_id) AS click_event_id, m.click_ts
        |FROM m LEFT JOIN c ON c.user_id = m.user_id AND c.ts = m.click_ts
        |GROUP BY m.user_id, m.event_id, m.ts, m.click_ts
        |ORDER BY m.event_id""".stripMargin)
}
