package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamingOps

/** Declared queries over the `events` table: Structured Streaming runs
  * (drained under AvailableNow so a batch oracle can check them
  * exactly) plus the equivalent batch sessionization.
  *
  * Timestamp discipline: events.ts has nanosecond precision in parquet;
  * Spark reads microseconds, DuckDB nanoseconds. Every output timestamp
  * is therefore ms-truncated on BOTH engines, and gap logic runs on
  * epoch milliseconds.
  */
object StreamingQueries {

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    QueryDef(
      "q34_stream_hourly",
      "Structured Streaming tumbling-window aggregate in the unbounded-safe shape: readStream -> watermark -> 1h window groupBy -> Append mode -> checkpointed foreachBatch table append; trailing windows closed by a watermark-advancing sentinel restart; exact vs the batch oracle",
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      StreamingOps.hourlyCounts(s, dir)
    },

    // ------------------------------------------------------------------
    QueryDef(
      "q35_sessionization",
      "batch sessionization (30-min gap): lag -> new-session flag -> running sum session id -> per-session aggregate; one shuffle on user_id",
      """WITH e AS (SELECT user_id,
        |    date_trunc('millisecond', ts) AS ts, event_type FROM events),
        |lagged AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
        |sess AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM lagged)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      val e = Tables.events(s, dir).select(col("user_id"),
        date_trunc("millisecond", col("ts")).as("ts"), col("event_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_type"))
      val wRun = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("new_s",
          when(lag(col("ts"), 1).over(w).isNull
            || unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)) > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(wRun))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
    },

    // ------------------------------------------------------------------
    // Native session windows: the built-in session_window(ts, gap)
    // aggregation — one groupBy, no window-function pass; Spark merges
    // overlapping [ts, ts+gap) intervals per key inside the aggregate.
    // Cross-validates the manual q35 pipeline with an INDEPENDENT
    // mechanism (note the boundary difference, encoded in the oracle:
    // the native form starts a new session when the gap is exactly
    // reached — interval end is exclusive — where q35's `>` keeps it).
    // At 100 TB this is one map-side-combinable shuffle on user_id,
    // the same cost shape as any keyed aggregate; the q35 form needs a
    // per-key SORT for its window functions first.
    QueryDef(
      "q101_session_window",
      "native session_window(ts, 30 min) batch aggregation: interval-merge sessions in one keyed aggregate (no window-function sort pass); oracle = lag/running-sum sessionization with exclusive-boundary semantics",
      """WITH e AS (SELECT user_id,
        |    date_trunc('millisecond', ts) AS ts FROM events),
        |lagged AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM lagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), date_trunc("millisecond", col("ts")).as("ts"))
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
    },

    // ------------------------------------------------------------------
    QueryDef(
      "q36_stream_sessions",
      "stateful streaming sessionization via flatMapGroupsWithState with EventTimeTimeout: O(1) open-session state per user, gap-closed sessions emitted by data, trailing sessions flushed by watermark timeouts; hash-matches the SQL sessionization oracle",
      """WITH e AS (SELECT user_id,
        |    date_trunc('millisecond', ts) AS ts, event_type FROM events),
        |lagged AS (SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
        |sess AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM lagged)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      StreamingOps.sessionize(s, dir)
    },

    // ------------------------------------------------------------------
    QueryDef(
      "q45_stream_foreachbatch",
      "streaming ELT via foreachBatch: each micro-batch runs the batch enrichment and appends to a managed table; drained table aggregate equals the pure-batch oracle regardless of batch splits",
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, event_type,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (SELECT date_trunc('millisecond', ts) AS ts, event_type, value FROM events)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      StreamingOps.foreachBatchToTable(s, dir)
    },

    // ------------------------------------------------------------------
    // Sliding event-time windows (batch): every event belongs to
    // windowDuration/slideDuration = 4 overlapping windows. Spark's
    // native window(ts, '1 hour', '15 minutes') does the expansion
    // inside the aggregate; the oracle restates it independently as an
    // explicit 4-way bucket-shift cross join — two implementations of
    // the same alignment arithmetic agreeing exactly. Scale shape: the
    // expansion multiplies rows by 4 BEFORE one map-side-combined
    // groupBy; state is O(windows), not O(events).
    QueryDef(
      "q59_sliding_window",
      "sliding event-time windows via native window(ts, 1h, 15m): 4 overlapping windows per event, one partial-agg groupBy; oracle restates the alignment as an explicit bucket-shift expansion",
      """SELECT window_start, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (SELECT time_bucket(INTERVAL 15 MINUTE, ts)
        |        - k * INTERVAL 15 MINUTE AS window_start,
        |        event_type, value
        |      FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) kk)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total_value"))
    },

    // ------------------------------------------------------------------
    QueryDef(
      "q47_stream_stream_join",
      "stream-stream interval join (attribution): purchases joined to a prior same-user click within 30 min, watermarks both sides + event-time-bounded predicate so state evicts; drained result equals the batch interval join",
      """WITH e AS (SELECT event_id, user_id,
        |    date_trunc('millisecond', ts) AS ts, event_type FROM events),
        |c AS (SELECT user_id, ts AS click_ts, event_id AS click_id FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id AS b_user, ts AS buy_ts, event_id AS buy_id FROM e
        |      WHERE event_type = 'purchase')
        |SELECT user_id, click_id, buy_id, click_ts, buy_ts
        |FROM c JOIN p ON user_id = b_user
        |  AND buy_ts >= click_ts
        |  AND buy_ts <= click_ts + INTERVAL 30 MINUTE""".stripMargin) { (s, dir) =>
      StreamingOps.attributionJoin(s, dir)
    },

    // ------------------------------------------------------------------
    QueryDef(
      "q48_stream_dedup",
      "streaming dropDuplicates on (user_id, event_type): bounded drain emits exactly the distinct key set (only key columns projected, so the arbitrary-survivor row doesn't matter)",
      "SELECT DISTINCT user_id, event_type FROM events") { (s, dir) =>
      StreamingOps.streamingDedup(s, dir)
    },

    // ------------------------------------------------------------------
    QueryDef(
      "q67_streamdim",
      "stream-static enrichment join: event stream joined to a broadcast static dim per micro-batch (stateless — no watermark, no state store); drained table aggregate equals the pure-batch join oracle",
      """SELECT n_name, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      StreamingOps.streamStaticJoin(s, dir)
    })
}
