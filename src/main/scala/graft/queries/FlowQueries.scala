package graft.queries

import graft.operators._
import QueryDef._

/** Flow-CSV pipeline parity (SURVEY.md §2.1–§2.2). */
object FlowQueries {
  val all: Seq[QueryDef] = Seq(
    QueryDef("flow_packet_text", (s, d) => FlowParity.packetText(s, d), sql(
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |       concat_ws(' ', coalesce(CAST(event_id AS VARCHAR), ''), coalesce(CAST(user_id AS VARCHAR), ''),
        |                 coalesce(event_type, ''), coalesce(event_type, ''), coalesce(props, '')) AS packet_text
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("flow_clean_cast", (s, d) => FlowParity.cleanCast(s, d), sql(
      """WITH p AS (SELECT *, try_cast(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k FROM events),
        |r AS (SELECT k, event_id, event_type, row_number() OVER (PARTITION BY k ORDER BY event_id) AS rn
        |      FROM p WHERE k IS NOT NULL)
        |SELECT CAST(k AS BIGINT) AS k, CAST(event_id AS BIGINT) AS event_id, event_type
        |FROM r WHERE rn = 1 ORDER BY k""".stripMargin)),
    QueryDef("flow_synth_packets", (s, d) => FlowParity.synthPackets(s), sql(
      """SELECT CAST(i AS BIGINT) AS frame_number,
        |       printf('192.168.1.%d', i % 256) AS ip_src,
        |       printf('10.0.0.%d', i % 200) AS ip_dst,
        |       CAST((i*10) % 60000 + 1000 AS BIGINT) AS port,
        |       (['TCP','UDP','DNS','ICMP','ARP'])[(i % 5) + 1] AS protocol,
        |       printf('%d 192.168.1.%d TCP packet %d', i, i % 256, i*10) AS packet_text
        |FROM range(500) t(i) ORDER BY frame_number""".stripMargin)),
    QueryDef("flow_split_extract", (s, d) => FlowParity.splitExtract(s, d), sql(
      """SELECT CAST(i AS BIGINT) AS frame_number,
        |       string_split(printf('%d 192.168.1.%d TCP packet %d', i, i % 256, i*10), ' ')[3] AS field3
        |FROM range(500) t(i) ORDER BY frame_number""".stripMargin)),
    QueryDef("flow_offset_resume", (s, d) => FlowParity.offsetResume(s, d), sql(
      """SELECT CAST(event_id AS BIGINT) AS event_id, event_type FROM events
        |ORDER BY event_id LIMIT 1000 OFFSET 500""".stripMargin)),
    QueryDef("flow_resume_keyed", (s, d) => FlowParity.resumeKeyed(s, d), sql(
      """SELECT CAST(event_id AS BIGINT) AS event_id, event_type FROM events
        |WHERE event_id > 500 ORDER BY event_id LIMIT 1000""".stripMargin)),
    QueryDef("flow_json_extract", (s, d) => FlowParity.jsonExtract(s, d), sql(
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |       CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("flow_normalize", (s, d) => FlowParity.normalizeText(s, d), sql(
      """SELECT CAST(i AS BIGINT) AS frame_number,
        |       trim(regexp_replace(regexp_replace(
        |         lower(printf('%d 192.168.1.%d TCP packet %d', i, i % 256, i*10)),
        |         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
        |FROM range(500) t(i) ORDER BY frame_number""".stripMargin)),
    QueryDef("metrics_summary", (s, d) => FlowParity.metricsSummary(s, d), sql(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n, min(value) AS min_value, max(value) AS max_value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2)))*100 AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    QueryDef("metrics_two_level", (s, d) => FlowParity.metricsTwoLevel(s, d), sql(
      """WITH u AS (SELECT event_type, user_id, sum(CAST(value AS DECIMAL(18,2))) AS user_sum
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(max(user_sum)*100 AS BIGINT) AS max_user_sum_c,
        |       CAST(count(*) AS BIGINT) AS n_users, CAST(sum(user_sum)*100 AS BIGINT) AS total_c
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
