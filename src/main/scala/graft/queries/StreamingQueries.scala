package graft.queries

import graft.streaming.StreamOps
import OracleSql._
import QueryDef._

/** Actual Structured Streaming executions (SURVEY.md §2.10), each
  * checked against a batch oracle.
  */
object StreamingQueries {
  val all: Seq[QueryDef] = Seq(
    QueryDef("stream_hourly", (s, d) => StreamOps.streamHourly(s, d), sql(hourlySql), streaming),
    QueryDef("stream_interval_join", (s, d) => StreamOps.streamIntervalJoin(s, d), sql(
      """SELECT CAST(c.event_id AS BIGINT) AS click_id, CAST(v.event_id AS BIGINT) AS view_id,
        |       CAST(c.user_id AS BIGINT) AS user_id
        |FROM events c JOIN events v ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts BETWEEN c.ts - INTERVAL 4 HOUR AND c.ts
        |ORDER BY click_id, view_id""".stripMargin), streaming),
    // The streaming run searches the SAME persisted store with the same
    // k/nprobe/query set — one oracle serves both the batch and the
    // AvailableNow streaming execution.
    QueryDef("stream_knn", (s, d) => StreamOps.streamKnnSearch(s, d), sql(ivfProbedSearchSql()), streaming),
    QueryDef("stream_dedup_ingest", (s, d) => StreamOps.streamDedupIngest(s, d), sql {
      val half = s"${ivfStorePath}_half"
      s"""WITH cents AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |               FROM read_parquet('$half/centroids/*.parquet')),
         |r AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id, embedding
         |      FROM read_parquet('$half/rows/*/*.parquet', hive_partitioning=1)),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id % 2 = 1),
         |qc AS (SELECT q.qid, q.qvec, c.cell_id, ${sqDistCentroidSql("q.qvec", "c.centroid")} AS d2
         |       FROM q CROSS JOIN cents c),
         |pr AS (SELECT qid, qvec, cell_id, row_number() OVER (PARTITION BY qid ORDER BY d2, cell_id) AS cr FROM qc),
         |probed AS (SELECT qid, qvec, cell_id FROM pr WHERE cr <= 10),
         |s AS (SELECT p.qid, r.vec_id, ${dotSql("p.qvec", "r.embedding")} AS sim
         |      FROM r JOIN probed p USING (cell_id) WHERE r.vec_id <> p.qid),
         |rk AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s),
         |n1 AS (SELECT qid, vec_id AS nearest_id, ${microSql("sim")} AS nearest_micro FROM rk WHERE rank = 1)
         |SELECT CAST(q.qid AS BIGINT) AS vec_id,
         |       CAST(coalesce(n1.nearest_id, -1) AS BIGINT) AS nearest_id,
         |       CAST(coalesce(n1.nearest_micro, -1) AS BIGINT) AS nearest_micro
         |FROM q LEFT JOIN n1 ON n1.qid = q.qid
         |WHERE n1.nearest_micro IS NULL OR n1.nearest_micro < 300000
         |ORDER BY vec_id""".stripMargin
    }, streaming),
    // The reference's incremental Add Data loop: per-micro-batch absorb
    // into the clustered store, per-batch searchability asserted in-run.
    // Streaming absorb into the IVF store: the post-stream row set derived
    // IN SQL as half-store rows ∪ argmin-assigned odd rows over the
    // exported even-half artifacts (assignment replayed with the RAW
    // double centroids — the engine's nearest-cell kernel never
    // float-narrows them, unlike the probe ranking which mirrors the
    // plan's `.cast("array<float>")`), then the probed search replayed
    // over that derived set. The hash match proves the wall-clock
    // streaming run absorbed every odd row into the cell the fixed
    // centroids dictate AND that the probed search serves them; valid
    // against the real run because assignment is per-row against FIXED
    // centroids, so the store content is batch-split-independent
    // (spec-asserted).
    QueryDef("stream_store_absorb", (s, d) => StreamOps.streamStoreAbsorb(s, d), sql {
      val half = s"${ivfStorePath}_half"
      s"""WITH cents AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |               FROM read_parquet('$half/centroids/*.parquet')),
         |hr AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id, embedding
         |       FROM read_parquet('$half/rows/*/*.parquet', hive_partitioning=1)),
         |od AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         |oa AS (SELECT cell_id, vec_id, embedding FROM (
         |         SELECT o.vec_id, o.embedding, c.cell_id,
         |                row_number() OVER (PARTITION BY o.vec_id
         |                  ORDER BY ${sqDistSql("o.embedding", "c.centroid")}, c.cell_id) AS ar
         |         FROM od o CROSS JOIN cents c)
         |       WHERE ar = 1),
         |r AS (SELECT cell_id, vec_id, embedding FROM hr
         |      UNION ALL SELECT cell_id, vec_id, embedding FROM oa),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS rows_after FROM r),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |      WHERE vec_id % 2 = 1 AND vec_id < 10),
         |qc AS (SELECT q.qid, q.qvec, c.cell_id, ${sqDistCentroidSql("q.qvec", "c.centroid")} AS d2
         |       FROM q CROSS JOIN cents c),
         |pr AS (SELECT qid, qvec, cell_id, row_number() OVER (PARTITION BY qid ORDER BY d2, cell_id) AS cr FROM qc),
         |probed AS (SELECT qid, qvec, cell_id FROM pr WHERE cr <= 10),
         |s AS (SELECT p.qid, r.vec_id, ${dotSql("p.qvec", "r.embedding")} AS sim
         |      FROM r JOIN probed p USING (cell_id) WHERE r.vec_id <> p.qid),
         |rk AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("sim")} AS sim_micro, n.rows_after
         |FROM rk CROSS JOIN n WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    }),
    // The same Add Data loop landing in the GRAPH index (the reference's
    // actual HNSW collection), per-batch beam-searchability asserted in-run.
    // Streaming absorb into the graph: the walk replay over the EXPORTED
    // post-stream edges of the working clone, queried with the first five
    // ABSORBED (crawl-slice) vectors from the STORE corpus's own entry
    // sample; nodes_after recomputed from the SOURCE table (every store
    // node — even half ∪ crawl — must be an edge src post-stream).
    QueryDef("stream_graph_absorb", (s, d) => StreamOps.streamGraphAbsorb(s, d), sql(graphBeamSearchSql(
      edgesPath = graphStorePath + "_gab",
      qWhere = "vec_id % 10 = 1 AND vec_id < 51",
      entWhere = "(vec_id % 2 = 0 OR vec_id % 10 = 1)",
      auditSelect = ", n.nodes_after",
      auditFrom =
        " CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS nodes_after FROM embeddings" +
          " WHERE vec_id % 2 = 0 OR vec_id % 10 = 1) n"))),
    // ...and in the PQ store (FAISS IndexIVFPQ.add): map-side encode under
    // fixed codebooks, per-batch code presence + bit-exactness asserted.
    // Streaming absorb into the PQ store: ADC replay over the EXPORTED
    // post-stream working store (even half ∪ absorbed odd rows), queried
    // with the first five ABSORBED vectors; codes_after recomputed from
    // the SOURCE table (corpus · m code rows — every row encoded once).
    QueryDef("stream_pq_absorb", (s, d) => StreamOps.streamPqAbsorb(s, d), sql(
      s"""WITH ${pqAdcCtes(s"${pqStorePath}_pab", "vec_id % 2 = 1 AND vec_id < 10")}
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(adc AS BIGINT) AS adc_micro, n.codes_after
         |FROM r CROSS JOIN (SELECT CAST(count(*)*8 AS BIGINT) AS codes_after FROM embeddings) n
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),
    // Streaming partitioned ingest: per-day aggregates are additive across
    // micro-batch appends, so the lake aggregate equals the raw batch one.
    QueryDef("stream_partitioned_ingest", (s, d) => StreamOps.streamPartitionedIngest(s, d), sql(
      """SELECT CAST(ts AS DATE) AS event_date, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin), streaming),
    // Dedup-on-ingest: the odd-half "crawl" kept-set recomputed over the
    // exported even-half corpus store. Valid against the REAL streaming
    // run because the dedup reference is static — the keep set is
    // batch-split-independent (spec-asserted with maxFilesPerTrigger=1).
    // Streaming exact dedup gate: the Bloom sketch is a pruning hint with
    // zero effect on the answer, so the oracle is the plain content
    // anti-join over the batch side — same replay as dedup_bloom's novels.
    QueryDef("stream_bloom_ingest", (s, d) => StreamOps.streamBloomIngest(s, d), sql(
      """SELECT CAST(d.doc_id AS BIGINT) AS doc_id
        |FROM documents d
        |WHERE d.doc_id % 10 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 10 <> 0 AND md5(c.text) = md5(d.text))
        |ORDER BY doc_id""".stripMargin)),
    // Keys-only projection makes the streaming dropDuplicates deterministic:
    // the surviving key set == SELECT DISTINCT regardless of arrival order.
    QueryDef("stream_dedup", (s, d) => StreamOps.streamDedupRun(s, d), sql(
      """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type,
        |       CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch
        |FROM events ORDER BY 1, 2, 3""".stripMargin), streaming),
    // Real flatMapGroupsWithState execution, checked against the batch
    // windowed-SQL sessionize oracle (identical gap rule).
    QueryDef("stream_sessionize", (s, d) => StreamOps.streamSessionize(s, d), sql(sessionizeSql)),
    // Real stateful funnel run, checked against the batch events_funnel
    // oracle (same strict-sequence stage minima).
    QueryDef("stream_funnel", (s, d) => StreamOps.streamFunnel(s, d), sql(funnelSql)),
    QueryDef("stream_cdc_apply", (s, d) => StreamOps.streamCdcApply(s, d), sql(cdcApplySql)),
    // Stream-static enrichment: the batch replay of the broadcast join the
    // stream runs per micro-batch (the result is batch≡stream by design).
    QueryDef("stream_enrich", (s, d) => StreamOps.streamEnrich(s, d), sql(
      """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin), streaming),
    // Sliding-window trending: each event lands in two 2h/1h windows —
    // replayed by unioning the two shifted hour-trunc window starts.
    QueryDef("stream_trending", (s, d) => StreamOps.streamTrending(s, d), sql(
      """WITH w AS (SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS s,
        |                  event_type, value FROM events),
        |x AS (SELECT s AS window_epoch, event_type, value FROM w
        |      UNION ALL SELECT s - 3600, event_type, value FROM w),
        |a AS (SELECT window_epoch, event_type, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |      FROM x GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY window_epoch
        |                                   ORDER BY n DESC, event_type) AS rn FROM a)
        |SELECT window_epoch, event_type, n, sum_value_c, CAST(rn AS BIGINT) AS rank
        |FROM r WHERE rn <= 3 ORDER BY window_epoch, rank""".stripMargin), streaming),
  )
}
