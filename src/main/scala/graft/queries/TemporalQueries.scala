package graft.queries

import graft.operators._
import OracleSql._
import QueryDef._

/** Temporal queries (SURVEY.md §2.9–§2.10): sessionization, as-of and
  * range joins, funnels, retention, SCD2 and CDC.
  */
object TemporalQueries {
  val all: Seq[QueryDef] = Seq(
    QueryDef("events_hourly", (s, d) => Temporal.eventsHourly(s, d), sql(hourlySql)),
    QueryDef("sessionize", (s, d) => Temporal.sessionize(s, d), sql(sessionizeSql)),
    QueryDef("window_sliding", (s, d) => Temporal.eventsSliding(s, d), sql(
      """WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |x AS (SELECT event_type, unnest([h, h - INTERVAL 1 HOUR]) AS ws FROM e)
        |SELECT CAST(floor(epoch(ws)) AS BIGINT) AS win_epoch, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("asof_join", (s, d) => Temporal.asofClickView(s, d), sql(
      """WITH c AS (SELECT user_id, ts, event_id AS click_id, CAST(NULL AS BIGINT) AS view_id, 1 AS side
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts, CAST(NULL AS BIGINT) AS click_id, event_id AS view_id, 0 AS side
        |      FROM events WHERE event_type = 'view'),
        |u AS (SELECT * FROM c UNION ALL SELECT * FROM v),
        |m AS (SELECT *, last_value(view_id IGNORE NULLS) OVER (PARTITION BY user_id
        |             ORDER BY ts, side, view_id NULLS FIRST, click_id NULLS FIRST
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_view FROM u)
        |SELECT CAST(click_id AS BIGINT) AS click_id, CAST(user_id AS BIGINT) AS user_id,
        |       CAST(matched_view AS BIGINT) AS matched_view
        |FROM m WHERE side = 1 ORDER BY click_id""".stripMargin)),
    // Overlap semantics replayed as DuckDB's native inequality join — the
    // bucketing is a Spark-side execution strategy, invisible in the result.
    QueryDef("range_join_bucketed", (s, d) => Temporal.rangeJoinBucketed(s, d), sql(
      """WITH ep AS (SELECT user_id, event_id, event_type,
        |            CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
        |s AS (SELECT user_id, ep // 86400 AS day, min(ep) AS s, max(ep) AS e
        |      FROM ep GROUP BY 1, 2),
        |i AS (SELECT event_id AS incident_id, ep - 120 AS a, ep + 120 AS b
        |      FROM ep WHERE event_type = 'error' AND event_id % 199 = 0)
        |SELECT CAST(s.user_id AS BIGINT) AS user_id, CAST(day AS BIGINT) AS day,
        |       CAST(count(*) AS BIGINT) AS n_incidents,
        |       CAST(min(incident_id) AS BIGINT) AS first_incident
        |FROM s JOIN i ON s.s <= i.b AND i.a <= s.e
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // Strict-sequence funnel: each stage's min is conditioned on the prior
    // stage's timestamp, so a click before the first view never counts.
    QueryDef("events_funnel", (s, d) => Temporal.eventsFunnel(s, d), sql(funnelSql)),
    // Cohort retention: signup-week cohorts × week offsets, distinct users.
    QueryDef("events_retention", (s, d) => Temporal.retentionCohorts(s, d), sql(
      """WITH c AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        |SELECT CAST(floor(epoch(cohort_week)) AS BIGINT) AS cohort_week_epoch,
        |       CAST((floor(epoch(w)) - floor(epoch(cohort_week))) // 604800 AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id) WHERE w >= cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // SCD2 interval history: lag-change islands per user, [valid_from,
    // valid_to) bounds via lead, NULL valid_to ⇔ is_current. IS DISTINCT
    // FROM mirrors Spark's null-safe <=> change flag.
    QueryDef("scd2_build", (s, d) => Temporal.scd2Build(s, d), sql(scd2Sql)),
    // Incremental merge of the day-2 slice into the persisted SCD2 base:
    // the oracle is the FULL REBUILD replay, so the hash match proves
    // merge ≡ rebuild (the agg_incremental_refresh convention).
    QueryDef("scd2_merge", (s, d) => Temporal.scd2Merge(s, d), sql(scd2Sql)),
    // Point-in-time lookup: each purchase resolves to the version current
    // JUST BEFORE it (valid_from < t <= valid_to — at-t would vacuously be
    // its own island); first-ever-event purchases report 'none'. Bounds in
    // exact integer microseconds; left join conserves purchases.
    QueryDef("scd2_pit_lookup", (s, d) => Temporal.scd2PitLookup(s, d), sql(scd2PitSql)),
    // The same as-of join reached through the registered SQL views — one
    // strictly-before replay serves both entry surfaces.
    QueryDef("lake_sql_pit", (s, d) => Temporal.sqlPitQuery(s, d), sql(scd2PitSql)),
    // Last-touch attribution: IGNORE NULLS last over the preceding-rows
    // frame pulls the latest non-purchase touch (type + timestamp from the
    // same row); 7-day lookback in exact integer microseconds.
    QueryDef("events_attribution", (s, d) => Temporal.lastTouchAttribution(s, d), sql(
      """WITH base AS (SELECT user_id, ts, event_id, event_type,
        |                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c,
        |                     CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
        |                     CASE WHEN event_type <> 'purchase' THEN ts END AS touch_ts
        |              FROM events),
        |att AS (SELECT *, last_value(touch_type IGNORE NULLS) OVER w AS prev_type,
        |               last_value(touch_ts IGNORE NULLS) OVER w AS prev_ts
        |        FROM base
        |        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT coalesce(CASE WHEN epoch_us(ts) - epoch_us(prev_ts) <= 604800000000
        |                     THEN prev_type END, 'direct') AS channel,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(v_c) AS BIGINT) AS revenue_c
        |FROM att WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // CDC changelog apply: batch windowed form + the real stateful
    // streaming run, one oracle text (the SQL replay of the fold).
    // CDC changelog apply (tombstone = 'error', everything else upserts):
    // the fold replayed as a per-key row_number order, the last-tombstone
    // frontier, and a max_by last-mutation pick. Keys whose log ends in a
    // tombstone are deleted — absent. One text, batch + streaming models.
    QueryDef("cdc_apply", (s, d) => Temporal.cdcApply(s, d), sql(cdcApplySql)),
  )
}
