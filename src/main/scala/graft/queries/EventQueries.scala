package graft
package queries

import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Event-time analytics over `events`. */
object EventQueries {
  val specs: Seq[QuerySpec] = Seq(
    // ---- event-time analytics ----
    QuerySpec("events_tumbling", (s, dir) =>
      Events.tumbling(t(s, dir, "events"))
        .orderBy(col("window_start"), col("event_type")), oracleSql =
        """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start, event_type,
          |count(*) AS n_events, round(sum("value"), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),
    QuerySpec("events_sessions", (s, dir) =>
      Events.sessions(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_start")), oracleSql =
        """WITH x AS (SELECT user_id, ts,
          |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
          |       THEN 1 ELSE 0 END AS new_s FROM events),
          |y AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x)
          |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
          |CAST(floor(epoch(max(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS session_end, count(*) AS n_events
          |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin),
    QuerySpec("events_props_json", (s, dir) =>
      Events.propsK(t(s, dir, "events")).orderBy(col("event_type")), oracleSql =
        """SELECT event_type, count(*) AS n,
          |CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
          |CAST(max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    QuerySpec("events_running", (s, dir) =>
      Events.runningTotals(t(s, dir, "events"))
        .orderBy(col("user_id"), col("seq")), oracleSql =
        """SELECT user_id, event_id,
          |round(sum("value") OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2) AS running_value,
          |row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
          |FROM events ORDER BY user_id, seq""".stripMargin),
    QuerySpec("events_funnel", (s, dir) =>
      Events.sessionFunnel(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_start")), oracleSql =
        // same gaps-and-islands session construction as the events_sessions
        // oracle, plus conditional min/max for the ordered-sequence test
        """WITH x AS (SELECT user_id, ts, event_type,
          |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
          |       THEN 1 ELSE 0 END AS new_s FROM events),
          |y AS (SELECT user_id, ts, event_type,
          |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM x),
          |s AS (SELECT user_id, sid, min(ts) AS t0,
          |  min(ts) FILTER (event_type = 'view') AS fv,
          |  max(ts) FILTER (event_type = 'purchase') AS lp,
          |  count(*) AS n_events FROM y GROUP BY user_id, sid)
          |SELECT user_id, CAST(floor(epoch(t0)) AS BIGINT) AS session_start,
          |CAST(fv IS NOT NULL AND lp IS NOT NULL AND fv < lp AS INT) AS converted,
          |n_events FROM s ORDER BY user_id, session_start""".stripMargin),
    QuerySpec("events_neighbors", (s, dir) =>
      Events.neighborContext(t(s, dir, "events"))
        .orderBy(col("user_id"), col("event_id")), oracleSql =
        """SELECT user_id, event_id,
          |lag(event_type, 1) OVER w AS prev_type,
          |lead(event_type, 1) OVER w AS next_type,
          |CAST(floor(epoch(ts)) - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w AS BIGINT) AS gap_secs
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, event_id""".stripMargin),
    QuerySpec("events_sliding_1h", (s, dir) =>
      Events.slidingValueSum(t(s, dir, "events"))
        .orderBy(col("user_id"), col("event_id")), oracleSql =
        // RANGE frame over epoch seconds; integer cents keep the sliding
        // sum engine-order-proof (see Events.slidingValueSum)
        """SELECT user_id, event_id,
          |CAST(sum(CAST(round("value" * 100) AS BIGINT)) OVER (
          |  PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
          |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_1h
          |FROM events ORDER BY user_id, event_id""".stripMargin),
    QuerySpec("events_retention", (s, dir) =>
      // day-cohort retention matrix: of users first active on day d, how
      // many return k days later (k ≤ 7)
      Events.cohortRetention(t(s, dir, "events"), maxDays = 7)
        .orderBy(col("cohort_day"), col("k")), oracleSql =
        """WITH d AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
          |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
          |SELECT CAST(floor(epoch(cohort)) AS BIGINT) AS cohort_day,
          |CAST(date_diff('day', cohort, day) AS INT) AS k, count(*) AS n_users
          |FROM d JOIN c USING (user_id)
          |WHERE date_diff('day', cohort, day) <= 7
          |GROUP BY 1, 2 ORDER BY cohort_day, k""".stripMargin),
    QuerySpec("events_anomaly", (s, dir) =>
      // per-type value outliers (|z| ≥ 2.5) from exact integer moments —
      // see Events.anomalyZScores for why the moments are cents
      Events.anomalyZScores(t(s, dir, "events"), zThreshold = 2.5)
        .orderBy(col("event_id")), oracleSql =
        // same exact-integer-moment construction as Events.anomalyZScores;
        // the z expression is textually identical so every double op is
        // IEEE-identical
        """WITH c AS (SELECT event_id, event_type, CAST(round("value" * 100) AS BIGINT) AS cents FROM events),
          |st AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, CAST(sum(cents) AS DOUBLE) AS s,
          |       CAST(sum(cents * cents) AS DOUBLE) AS q FROM c GROUP BY event_type)
          |SELECT event_id, c.event_type,
          |round((CAST(cents AS DOUBLE) - s / n) / sqrt(q / n - (s / n) * (s / n)), 4) AS z_r
          |FROM c JOIN st USING (event_type)
          |WHERE abs((CAST(cents AS DOUBLE) - s / n) / sqrt(q / n - (s / n) * (s / n))) >= 2.5
          |ORDER BY event_id""".stripMargin),
    QuerySpec("events_scd2", (s, dir) =>
      // CDC compaction: the per-user event_type change log collapsed to
      // SCD2 validity intervals (half-open epoch-second bounds, -1 = the
      // still-current run) — see Events.scd2Compact
      Events.scd2Compact(t(s, dir, "events"))
        .orderBy(col("user_id"), col("seq")), oracleSql =
        // gaps-and-islands replay: change flags, running run numbers,
        // per-run collapse, lead() closes each interval; per-event floor
        // BEFORE min matches Spark's unix_timestamp-then-min order
        """WITH o AS (SELECT user_id, event_type, ts, event_id,
          |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
          |c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END AS chg FROM o),
          |r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run FROM c),
          |g AS (SELECT user_id, run, event_type,
          |      min(CAST(floor(epoch(ts)) AS BIGINT)) AS valid_from, count(*) AS n_events
          |      FROM r GROUP BY 1, 2, 3)
          |SELECT user_id, CAST(run AS BIGINT) AS seq, event_type, valid_from,
          |CAST(coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run), -1) AS BIGINT) AS valid_to,
          |CAST(n_events AS BIGINT) AS n_events
          |FROM g ORDER BY user_id, seq""".stripMargin),
    QuerySpec("events_attribution", (s, dir) =>
      // first/last-touch attribution: purchases credited to the earliest/
      // latest view-or-click by the same user in a 1-hour lookback — one
      // RANGE-frame window, no conversion×touch join (see
      // Events.attribution for the struct-extremum tie contract)
      Events.attribution(t(s, dir, "events"), "purchase",
          Seq("view", "click"), lookbackSecs = 3600L)
        .orderBy(col("conv_id")), oracleSql =
        // the same one-window replay: conditional struct extrema over a
        // seconds-keyed RANGE frame (struct comparison is lexicographic in
        // both engines — ties at one ts break by event_id, verified by the
        // repo's struct-extremum convention), conversions filtered after
        """WITH e AS (SELECT event_id, user_id, event_type,
          |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
          |x AS (SELECT event_id, user_id, event_type, ts_s,
          |  min(CASE WHEN event_type IN ('view', 'click')
          |      THEN {'t': ts_s, 'id': event_id} END) OVER
          |    (PARTITION BY user_id ORDER BY ts_s
          |     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS f,
          |  max(CASE WHEN event_type IN ('view', 'click')
          |      THEN {'t': ts_s, 'id': event_id} END) OVER
          |    (PARTITION BY user_id ORDER BY ts_s
          |     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS l
          |  FROM e)
          |SELECT event_id AS conv_id, user_id, ts_s AS conv_ts_s,
          |  CAST(coalesce(f.id, -1) AS BIGINT) AS first_touch_id,
          |  CAST(coalesce(f.t, -1) AS BIGINT) AS first_touch_ts_s,
          |  CAST(coalesce(l.id, -1) AS BIGINT) AS last_touch_id,
          |  CAST(coalesce(l.t, -1) AS BIGINT) AS last_touch_ts_s
          |FROM x WHERE event_type = 'purchase' ORDER BY conv_id""".stripMargin),
    QuerySpec("events_pattern_seq", (s, dir) =>
      // MATCH_RECOGNIZE-style ordered-sequence detection: first
      // view → click → purchase chain per user (strictly increasing event
      // time, earliest-completion semantics) — see Events.earliestSequence
      // for why greedy stage minima equal full pattern-automaton results
      Events.earliestSequence(t(s, dir, "events"), Seq("view", "click", "purchase"))
        .orderBy(col("user_id")), oracleSql =
        // the same greedy stage-minima construction (see
        // Events.earliestSequence for the optimality argument)
        """WITH v AS (SELECT user_id, min(ts) AS m0 FROM events
          |           WHERE event_type = 'view' GROUP BY user_id),
          |c AS (SELECT e.user_id, v.m0, min(e.ts) AS m1 FROM events e
          |      JOIN v ON e.user_id = v.user_id
          |      WHERE e.event_type = 'click' AND e.ts > v.m0 GROUP BY e.user_id, v.m0),
          |p AS (SELECT e.user_id, c.m0, c.m1, min(e.ts) AS m2 FROM events e
          |      JOIN c ON e.user_id = c.user_id
          |      WHERE e.event_type = 'purchase' AND e.ts > c.m1 GROUP BY e.user_id, c.m0, c.m1)
          |SELECT user_id, CAST(floor(epoch(m0)) AS BIGINT) AS t_0,
          |CAST(floor(epoch(m1)) AS BIGINT) AS t_1,
          |CAST(floor(epoch(m2)) AS BIGINT) AS t_2
          |FROM p ORDER BY user_id""".stripMargin),
  )
}
