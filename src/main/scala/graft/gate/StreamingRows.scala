package graft
package gate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming rows (SURVEY §2 D): batch twins run through the streaming code paths. */
object StreamingRows {
  val rows: Seq[GateQuery] = Seq(
    // ---- B27: batch sessionization via LAG + cumulative window (same
    // semantics as the streaming sessionizer, 30-minute gap; microsecond
    // integer arithmetic — engine-portable, no seconds truncation).
    GateQuery("q_sessionize_batch", { (s, dir) =>
      sessionRollup(T(s, dir, "events"))
    }, Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |), t AS (
        |  SELECT user_id, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM s
        |), g AS (
        |  SELECT user_id, session_no, count(*) AS n_events,
        |    CAST(round(sum(CAST(value AS DECIMAL(30,10))),2) AS DOUBLE) AS session_value
        |  FROM t GROUP BY user_id, session_no
        |)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(max(n_events) AS BIGINT) AS max_session_events,
        |  CAST(round(sum(CAST(session_value AS DECIMAL(30,10))),2) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- B58: session-window semantics, round 12: computed by
    // operators.Sessionize — one shuffle + one sort (the same exchange the
    // window formulation pays), then a single O(1)-state streaming pass
    // instead of two WindowExec passes + two hash aggregates. All three
    // formulations are proven equivalent: SessionEquivalenceSpec pins this
    // operator and the LAG rollup (B27's shape) against the native
    // `session_window` aggregate, INCLUDING a planted exact-gap fixture at
    // the one point they could diverge (the native operator merges
    // inclusively at last+gap). Measured at sf10, one window: native 3.7 s,
    // LAG rollup 2.8 s, this pass 1.85 s vs DuckDB 0.96 s paired. The
    // native operator stays the D2 streaming path, where its incremental
    // state is the point.
    GateQuery("q_session_window", { (s, dir) =>
      operators.Sessionize.userSessionStats(T(s, dir, "events"), 1800000000L)
    }, Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN prev_ts IS NULL
        |           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |), t AS (
        |  SELECT user_id, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM s
        |), g AS (
        |  SELECT user_id, session_no, count(*) AS n_events,
        |    CAST(round(sum(CAST(value AS DECIMAL(30,10))),2) AS DOUBLE) AS session_value
        |  FROM t GROUP BY user_id, session_no
        |)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(max(n_events) AS BIGINT) AS max_session_events,
        |  CAST(round(sum(CAST(session_value AS DECIMAL(30,10))),2) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- B29: batch twin of the streaming windowed aggregation (D1): same
    // tumbling-window plan, verified against an independent engine.
    GateQuery("q_stream_windowed_batch", { (s, dir) =>
      // widenIfNarrow on the BATCH side only (round 13): the scan + window
      // bucketing + fixed-point partial agg ran as one task on the
      // one-split events scan (JobProbe: 296 ms of a 0.94 s run at sf0.1).
      // The widening cannot live inside windowedCounts — the streaming
      // path shares it and a streaming DataFrame cannot answer .rdd.
      streaming.EventStreams
        .windowedCounts(
          operators.Spread.widenIfNarrow(T(s, dir, "events"), "user_id")
        )
        .orderBy(col("window_start"), col("event_type"))
    }, Oracle(
      """SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
        | event_type, count(*) AS n,
        | CAST(round(sum(CAST(value AS DECIMAL(30,10))),2) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // ---- D5 batch twin: the streaming interval join's OWN code path
    // (EventStreams.clickAttribution — watermarks are analyzer-eliminated on
    // batch inputs) under the DuckDB gate, mirroring the B27/B29/B58
    // batch-twin pattern: the join predicate the streaming query runs is
    // exactly what DuckDB verifies here.
    GateQuery("q_click_attribution", { (s, dir) =>
      val ev = T(s, dir, "events")
      streaming.EventStreams
        .clickAttribution(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click")
        )
        .select(
          col("user_id"),
          col("view_id"),
          col("click_id"),
          unix_micros(col("view_ts")).as("view_us"),
          unix_micros(col("click_ts")).as("click_us")
        )
        .orderBy("user_id", "view_id", "click_id")
    }, Oracle(
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'
        |), c AS (
        |  SELECT user_id AS c_user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |)
        |SELECT user_id, view_id, click_id,
        |  epoch_us(view_ts) AS view_us, epoch_us(click_ts) AS click_us
        |FROM v JOIN c ON user_id = c_user_id
        |  AND epoch_us(click_ts) >= epoch_us(view_ts)
        |  AND epoch_us(click_ts) < epoch_us(view_ts) + 600000000
        |ORDER BY user_id, view_id, click_id""".stripMargin))
  )
}
