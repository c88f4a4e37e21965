package graft.queries

import graft.operators._
import OracleSql._
import QueryDef._

/** Vector search (SURVEY.md §2.5/§2.7/§2.8), the flagship surface: exact,
  * filtered and multi-vector kNN, and the IVF, graph, PQ and quantized
  * stores with their tombstone, compaction, recall and tuning queries.
  */
object VectorQueries {

  /** Exact top-5 cosine kNN of the first `nq` embeddings, each query
    * excluded from its own result; `basePred` narrows the base side.
    */
  private def exactTopKSql(nq: Int = 5, basePred: String = ""): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < $nq),
       |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
       |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid$basePred),
       |r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
       |       ${microSql("sim")} AS sim_micro
       |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** ADC search replay over the PQ store exported at `store`: rotated
    * queries, per-subspace LUT, coarse-cell term, top 5 by score;
    * `codePred` filters the scanned codes.
    */
  private def pqAdcSql(store: String, codePred: String = ""): String =
    s"""WITH ${pqAdcCtes(store, codePred = codePred)}
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
       |       CAST(adc AS BIGINT) AS adc_micro
       |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("knn_exact", (s, d) => VectorSearch.knnExact(s, d), sql(exactTopKSql()),
      cross("broadcast query batch × base scan")),
    // The SQL-path twin computes the identical result through the
    // injectFunction-registered dot(): same oracle as knn_exact.
    QueryDef("knn_exact_sql", (s, d) => VectorSearch.knnExactSql(s, d), sql(exactTopKSql()),
      cross("the SQL-path twin: same broadcast query cross")),
    // All seven SQL-registered kernels: the l2_normalize mirror multiplies
    // by the double inverse norm and rounds each element THROUGH FLOAT,
    // exactly as the codegen kernel does.
    QueryDef("vec_sql_kernels", (s, d) => VectorSearch.sqlKernelsQuery(s, d), sql(
      s"""WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |                  a.embedding AS va, b.embedding AS vb
         |           FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
         |u AS (SELECT *, CASE WHEN ${dotSql("va", "va")} = 0 THEN 1.0
         |                     ELSE 1.0 / sqrt(${dotSql("va", "va")}) END AS inv FROM p),
         |n AS (SELECT *, list_transform(va, x -> CAST(CAST(x AS DOUBLE) * inv AS FLOAT)) AS ua FROM u)
         |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
         |       ${microSql(dotSql("va", "vb"))} AS dot_micro,
         |       ${microSql(s"sqrt(${sqDistSql("va", "vb")})")} AS l2_micro,
         |       ${microSql(s"${dotSql("va", "vb")} / (sqrt(${dotSql("va", "va")}) * sqrt(${dotSql("vb", "vb")}))")} AS cos_micro,
         |       CAST(floor(CAST(ua[1] AS DOUBLE) * 1000000000.0) AS BIGINT) AS unit0_nano,
         |       ${microSql(s"sqrt(${dotSql("ua", "ua")})")} AS unit_norm_micro,
         |       CAST(bit_count(xor(id_a * 2654435761, id_b * 2654435761)) AS BIGINT) AS ham_bits
         |FROM n ORDER BY id_a""".stripMargin)),
    QueryDef("knn_exact_phys", (s, d) => VectorSearch.knnExactPhysical(s, d), sql(exactTopKSql())),
    QueryDef("knn_batch", (s, d) => VectorSearch.knnBatch(s, d),
      noOracle("its 5000-query batch is Featurizer-made, which SQL cannot replay; KnnJoinSpec " +
        "asserts heap ≡ declarative at that nq, and knn_batch_oracle checks the same " +
        "operator at nq = 200")),
    // The custom KnnJoinExec path at batch size nq=200 with REAL embedding
    // rows as queries — the SQL replay of the heap+merge physical operator
    // (knn_batch's synthetic 5000-query batch is Featurizer-made and not
    // SQL-expressible; this entry closes the oracle gap through the same
    // operator).
    QueryDef("knn_batch_oracle", (s, d) => VectorSearch.knnBatchOracle(s, d), sql(exactTopKSql(nq = 200))),
    // Hard-negative mining: top-k most-similar vectors with a DIFFERENT label.
    QueryDef("knn_hard_negatives", (s, d) => VectorSearch.hardNegatives(s, d), sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
         |           FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, e.vec_id, e.label, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.label <> q.qlabel),
         |r AS (SELECT qid, vec_id, label, sim,
         |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
         |       CAST(label AS BIGINT) AS neg_label, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("sim")} AS sim_micro
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      cross("broadcast query batch × base scan")),
    // Greedy MMR: each pick conditions the next, but k = 5 is a FIXED pick
    // count — the greedy recursion unrolls into 5 CTE argmax steps over the
    // deterministic candidate pool, so it IS oracle-replayable (mmrSql).
    QueryDef("knn_mmr", (s, d) => VectorSearch.mmrRerank(s, d).toDF().orderBy("qid", "rank"), sql(mmrSql),
      cross("broadcast query/anchor batch × base scan")),
    QueryDef("knn_range", (s, d) => VectorSearch.rangeSearch(s, d), sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
         |       ${microSql("sim")} AS sim_micro
         |FROM s WHERE ${microSql("sim")} >= 200000 ORDER BY qid, sim_micro DESC, vec_id""".stripMargin),
      cross("broadcast query batch × base scan")),
    // Radius search replayed over the same exported IVF artifacts: probe
    // the 10 nearest cells, then a micro-threshold cut instead of top-k.
    QueryDef("knn_range_ivf", (s, d) => graft.sources.IndexStore.rangeQuery(s, d), sql(
      s"""WITH cents AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |               FROM read_parquet('$ivfStorePath/centroids/*.parquet')),
         |r AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id, embedding
         |      FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1)),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT q.qid, q.qvec, c.cell_id, ${sqDistCentroidSql("q.qvec", "c.centroid")} AS d2
         |       FROM q CROSS JOIN cents c),
         |pr AS (SELECT qid, qvec, cell_id, row_number() OVER (PARTITION BY qid ORDER BY d2, cell_id) AS cr FROM qc),
         |probed AS (SELECT qid, qvec, cell_id FROM pr WHERE cr <= 10),
         |s AS (SELECT p.qid, r.vec_id, ${dotSql("p.qvec", "r.embedding")} AS sim
         |      FROM r JOIN probed p USING (cell_id) WHERE r.vec_id <> p.qid)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
         |       ${microSql("sim")} AS sim_micro
         |FROM s WHERE ${microSql("sim")} >= 200000 ORDER BY qid, sim_micro DESC, vec_id""".stripMargin)),
    // Index health (num_entities / invlist balance): per-cell counts, key
    // range, integer-mean norm — replayed over the exported clustered rows.
    QueryDef("index_stats", (s, d) => graft.sources.IndexStore.statsQuery(s, d), sql(
      s"""WITH r AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id, embedding
         |           FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1))
         |SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(min(vec_id) AS BIGINT) AS min_vec_id,
         |       CAST(max(vec_id) AS BIGINT) AS max_vec_id,
         |       CAST(sum(${microSql(s"sqrt(${dotSql("embedding", "embedding")})")}) // count(*) AS BIGINT) AS mean_norm_micro
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Scalar-filtered search: the label predicate restricts the BASE side
    // (k fills from qualifying rows only — never post-filter the top-k).
    QueryDef("knn_filtered", (s, d) => VectorSearch.knnFiltered(s, d),
      sql(exactTopKSql(basePred = " AND e.label < 5")),
      cross("broadcast query batch × label-filtered base scan")),
    // RRF hybrid fusion: full-outer join of the bm25 top-20 and the dense
    // top-20 for query vector 0; integer-micro 1e6 // (60 + rank) terms.
    QueryDef("rag_fusion", (s, d) => VectorSearch.ragFusion(s, d), sql(
      s"""WITH $bm25CtesSql,
         |lex AS (SELECT doc_id, lex_rank FROM (
         |          SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |                 CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS lex_rank
         |          FROM bm25agg) WHERE lex_rank <= 20),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 1),
         |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |dense AS (SELECT doc_id, dense_rank FROM (
         |            SELECT CAST(vec_id AS BIGINT) AS doc_id,
         |                   CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS BIGINT) AS dense_rank
         |            FROM s) WHERE dense_rank <= 20),
         |f AS (SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
         |        COALESCE(lex_rank, 0) AS lex_rank, COALESCE(dense_rank, 0) AS dense_rank
         |      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id),
         |g AS (SELECT doc_id, lex_rank, dense_rank,
         |        CAST(CASE WHEN lex_rank > 0 THEN 1000000 // (60 + lex_rank) ELSE 0 END +
         |             CASE WHEN dense_rank > 0 THEN 1000000 // (60 + dense_rank) ELSE 0 END AS BIGINT) AS rrf_micro
         |      FROM f)
         |SELECT doc_id, lex_rank, dense_rank, rrf_micro,
         |       CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS fused_rank
         |FROM g ORDER BY fused_rank""".stripMargin), cross("fuses two ≤k ranked lists")),
    QueryDef("knn_lsh", (s, d) => VectorSearch.knnLsh(s, d), sql(
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding", 8)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qvec, ${bucketSql("embedding", 8)} AS bucket FROM embeddings WHERE vec_id < 10),
         |s AS (SELECT q.qid, b.vec_id, ${dotSql("q.qvec", "b.embedding")} AS sim
         |      FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("sim")} AS sim_micro
         |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    // Multi-probe LSH: home bucket + the buckets reached by flipping the
    // 2 lowest-|margin| bits (margin of bit i = |v[i+1]|, ties → lower i)
    // — probe selection, XOR and scoring are all engine-portable.
    QueryDef("knn_multiprobe", (s, d) => VectorSearch.knnMultiProbe(s, d), sql(
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding", 8)} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qvec, ${bucketSql("embedding", 8)} AS bucket FROM embeddings WHERE vec_id < 10),
         |x AS (SELECT qid, qvec, bucket, i, abs(CAST(qvec[CAST(i + 1 AS INTEGER)] AS DOUBLE)) AS ax
         |      FROM q CROSS JOIN range(0, 8) t(i)),
         |f AS (SELECT qid, qvec, xor(bucket, CAST(pow(2, i) AS BIGINT)) AS bucket,
         |             row_number() OVER (PARTITION BY qid ORDER BY ax, i) AS fr FROM x),
         |p AS (SELECT qid, qvec, bucket FROM q
         |      UNION ALL SELECT qid, qvec, bucket FROM f WHERE fr <= 2),
         |s AS (SELECT p.qid, b.vec_id, ${dotSql("p.qvec", "b.embedding")} AS sim
         |      FROM b JOIN p USING (bucket) WHERE b.vec_id <> p.qid),
         |r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("sim")} AS sim_micro
         |FROM r WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    // Late-interaction MaxSim (ColBERT scoring): docs = vec_id DIV 4
    // token groups; score = Σ over the 4 query slots of the per-slot
    // conditional max — a FIXED left-to-right addition of 4 doubles, so
    // the fold replays bit-identically.
    QueryDef("knn_maxsim", (s, d) => VectorSearch.maxSim(s, d), sql(
      s"""WITH tok AS (SELECT vec_id // 4 AS ddoc, embedding FROM embeddings),
         |qtok AS (SELECT vec_id // 4 AS qdoc, vec_id % 4 AS qslot, embedding AS qvec
         |         FROM embeddings WHERE vec_id // 4 < 5),
         |s AS (SELECT q.qdoc, t.ddoc, q.qslot, ${dotSql("q.qvec", "t.embedding")} AS sim
         |      FROM tok t CROSS JOIN qtok q WHERE t.ddoc <> q.qdoc),
         |a AS (SELECT qdoc, ddoc,
         |             max(CASE WHEN qslot = 0 THEN sim END) AS m0,
         |             max(CASE WHEN qslot = 1 THEN sim END) AS m1,
         |             max(CASE WHEN qslot = 2 THEN sim END) AS m2,
         |             max(CASE WHEN qslot = 3 THEN sim END) AS m3
         |      FROM s GROUP BY qdoc, ddoc),
         |sc AS (SELECT qdoc, ddoc,
         |              ((coalesce(m0, 0.0) + coalesce(m1, 0.0)) + coalesce(m2, 0.0)) + coalesce(m3, 0.0) AS score
         |       FROM a),
         |r AS (SELECT qdoc, ddoc, score, row_number() OVER (PARTITION BY qdoc ORDER BY score DESC, ddoc) AS rank FROM sc)
         |SELECT CAST(qdoc AS BIGINT) AS qdoc, CAST(ddoc AS BIGINT) AS ddoc, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("score")} AS score_micro
         |FROM r WHERE rank <= 5 ORDER BY qdoc, rank""".stripMargin),
      cross("broadcast nqd·tokensPerDoc query-token batch × token scan")),
    // Token-level sign-LSH pruned MaxSim: scoring only on bucket
    // collisions; absent slots coalesce to 0 — deterministic bucketing
    // keeps the approximation engine-exact.
    QueryDef("knn_maxsim_pruned", (s, d) => VectorSearch.maxSimPruned(s, d), sql(
      s"""WITH tok AS (SELECT vec_id // 4 AS ddoc, embedding, ${bucketSql("embedding", 6)} AS bucket FROM embeddings),
         |qtok AS (SELECT vec_id // 4 AS qdoc, vec_id % 4 AS qslot, embedding AS qvec,
         |                ${bucketSql("embedding", 6)} AS bucket
         |         FROM embeddings WHERE vec_id // 4 < 5),
         |s AS (SELECT q.qdoc, t.ddoc, q.qslot, ${dotSql("q.qvec", "t.embedding")} AS sim
         |      FROM tok t JOIN qtok q USING (bucket) WHERE t.ddoc <> q.qdoc),
         |a AS (SELECT qdoc, ddoc,
         |             max(CASE WHEN qslot = 0 THEN sim END) AS m0,
         |             max(CASE WHEN qslot = 1 THEN sim END) AS m1,
         |             max(CASE WHEN qslot = 2 THEN sim END) AS m2,
         |             max(CASE WHEN qslot = 3 THEN sim END) AS m3
         |      FROM s GROUP BY qdoc, ddoc),
         |sc AS (SELECT qdoc, ddoc,
         |              ((coalesce(m0, 0.0) + coalesce(m1, 0.0)) + coalesce(m2, 0.0)) + coalesce(m3, 0.0) AS score
         |       FROM a),
         |r AS (SELECT qdoc, ddoc, score, row_number() OVER (PARTITION BY qdoc ORDER BY score DESC, ddoc) AS rank FROM sc)
         |SELECT CAST(qdoc AS BIGINT) AS qdoc, CAST(ddoc AS BIGINT) AS ddoc, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("score")} AS score_micro
         |FROM r WHERE rank <= 5 ORDER BY qdoc, rank""".stripMargin)),
    // Matryoshka two-stage: coarse prefix-dot (first 16 dims) → top-50
    // pool → exact full-dim rerank. Both stages are the same left-fold
    // dot both engines run, over identical slices.
    QueryDef("knn_matryoshka", (s, d) => VectorSearch.knnMatryoshka(s, d), sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec, embedding[1:16] AS qpre
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT q.qid, q.qvec, e.vec_id, e.embedding,
         |             ${dotSql("q.qpre", "e.embedding[1:16]")} AS coarse
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |p AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY coarse DESC, vec_id) AS crank FROM c),
         |s AS (SELECT qid, vec_id, ${dotSql("qvec", "embedding")} AS sim FROM p WHERE crank <= 50),
         |r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("sim")} AS sim_micro
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      cross("broadcast query batch × prefix scan (stage 1)")),
    // Binary-quantization search: sign codes (two 32-bit words), Hamming
    // candidate scan, exact-dot rerank of the top 50 — every stage is
    // engine-portable integer/float SQL, so the full two-stage pipeline
    // replays without any exported artifact.
    QueryDef("knn_binary", (s, d) => VectorSearch.knnBinary(s, d), sql(
      s"""WITH c AS (SELECT vec_id, embedding, ${bucketSqlAt("embedding", 0, 32)} AS code_lo,
         |             ${bucketSqlAt("embedding", 32, 32)} AS code_hi FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qvec, code_lo AS q_lo, code_hi AS q_hi
         |      FROM c WHERE vec_id < 5),
         |h AS (SELECT q.qid, c.vec_id,
         |        bit_count(xor(c.code_lo, q.q_lo)) + bit_count(xor(c.code_hi, q.q_hi)) AS hamming
         |      FROM c CROSS JOIN q WHERE c.vec_id <> q.qid),
         |cand AS (SELECT qid, vec_id, hamming FROM (
         |  SELECT qid, vec_id, hamming,
         |         row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS cr FROM h)
         |  WHERE cr <= 50),
         |s AS (SELECT cand.qid, cand.vec_id, cand.hamming, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id JOIN q ON q.qid = cand.qid),
         |r AS (SELECT qid, vec_id, hamming, sim,
         |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
         |       CAST(rank AS BIGINT) AS rank, CAST(hamming AS BIGINT) AS hamming,
         |       ${microSql("sim")} AS sim_micro
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),
    QueryDef("knn_ivf", (s, d) => graft.sources.IndexStore.searchQuery(s, d), sql(ivfProbedSearchSql())),
    // HNSW-twin graph search: the unrolled beam walk replayed in SQL over
    // the exported NN-Descent edge list (graph construction is
    // engine-specific; its invariants — degree bound, determinism, recall —
    // are pinned by GraphIndexSpec, and the walk itself is re-derived here).
    QueryDef("knn_graph", (s, d) => graft.sources.GraphIndex.searchQuery(s, d), sql(graphBeamSearchSql())),
    // The three-level (HNSW upper-layer) entry descent, forced on at every
    // sf: top cross → level-2 walk over edges_l2 → level-1 walk over
    // edges_l1 → level-0 walk.
    // Forced three-level entry descent: top cross, level-2 hops over the
    // exported edges_l2, level-1 hops over edges_l1, then the level-0
    // walk — one replay, three layers.
    QueryDef("knn_graph_hier", (s, d) => graft.sources.GraphIndex.searchHierQuery(s, d),
      sql(graphHierSearchSql())),
    // Reference-batch-scale walk (nq=400): frontier past MaxInlineIds, so
    // the DISTRIBUTED (non-inline) hop route runs and is oracle-checked.
    // Reference-batch-scale walk: same unrolled replay with the 400-query
    // CTE — route-independence of the distributed frontier, oracle-pinned.
    QueryDef("knn_graph_batch", (s, d) => graft.sources.GraphIndex.searchBatchQuery(s, d),
      sql(graphBeamSearchSql(qWhere = "vec_id < 400"))),
    // DELETE on the graph index: walk traverses dead nodes, results
    // exclude them below the rank window (HNSW tombstoning).
    // Tombstoned graph search: the SAME unrolled walk (dead nodes still
    // traversed), minus the tombstone set below the rank window.
    QueryDef("graph_tombstone", (s, d) => graft.sources.GraphIndex.searchTombstonedQuery(s, d),
      sql(graphBeamSearchSql(finalWhere = " AND vec_id % 17 <> 3"))),
    // Offline compaction of the tombstoned graph (HNSW delete-repair):
    // dead nodes physically gone, their neighborhoods bridge-relinked.
    // Compacted graph: plain walk over the REPAIRED exported edges (no
    // tombstone filter — dead nodes physically gone), live entry sample;
    // n_nodes recomputed from the source table (every live node keeps a
    // neighbor list through the bridge-relink repair).
    QueryDef("graph_compact", (s, d) => graft.sources.GraphIndex.compactQuery(s, d), sql(graphBeamSearchSql(
      edgesPath = graphStorePath + "_cpt",
      entWhere = "vec_id % 17 <> 3",
      auditSelect = ", n.n_nodes",
      auditFrom =
        " CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM embeddings" +
          " WHERE vec_id % 17 <> 3) n"))),
    // The ef dial measured: recall@5 per beam level, one real walk each.
    // Recall-vs-beam: per-level walk chains + brute-force leg, MATERIALIZED
    // CTEs against DuckDB's per-reference inlining.
    QueryDef("graph_recall_curve", (s, d) => graft.sources.GraphIndex.recallCurve(s, d),
      sql(graphRecallCurveSql())),
    // ...and self-tuned: smallest measured beam clearing the target drives
    // the serve walk (decision cached per build via _tuned_beam marker).
    // Self-tuned walk: the curve, the decision, and the search it drives
    // in ONE statement — the frontier cut is the decision as a scalar
    // subquery (the knn_autotune convention).
    QueryDef("graph_autotune", (s, d) => graft.sources.GraphIndex.autoTuneSearch(s, d),
      sql(graphAutotuneSql())),
    // Out-degree histogram over the same exported edges.
    QueryDef("graph_degree_stats", (s, d) => graft.sources.GraphIndex.degreeStats(s, d), sql(
      s"""SELECT CAST(degree AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM (SELECT src, count(*) AS degree
         |      FROM read_parquet('$graphStorePath/edges/*.parquet') GROUP BY src)
         |GROUP BY degree ORDER BY degree""".stripMargin)),
    // The AnnProbeRewrite-rewritten naive flat query probes the same cells
    // and scores identically — one oracle serves both plans.
    QueryDef("knn_rewrite", (s, d) => graft.sources.IndexStore.rewriteSearchQuery(s, d),
      sql(ivfProbedSearchSql())),
    // The SQL-route twin: spark.sql over the lake_vectors catalog view,
    // rewritten by the same rule into the same probed plan — one oracle
    // serves the DataFrame, rewritten-flat, and SQL entry surfaces.
    QueryDef("lake_sql_ann", (s, d) => graft.sources.IndexStore.sqlAnnQuery(s, d), sql(ivfProbedSearchSql())),
    // SQL route to graph search: the unrolled beam walk as ONE SQL text
    // over the graph_edges/graph_vectors catalog views.
    // The SQL-text route walks the same persisted edges with the same
    // unrolled-hop arithmetic — one oracle serves both surfaces.
    QueryDef("lake_sql_graph", (s, d) => graft.sources.GraphIndex.sqlGraphQuery(s, d),
      sql(graphBeamSearchSql())),
    // SQL route to the THREE-level hierarchical walk — the scale-out SQL
    // surface (lake_sql_graph itself stays flat-pinned like knn_graph).
    // The forced-hier SQL surface is row-identical to knn_graph_hier's
    // forced DataFrame descent — the three-level replay serves both.
    QueryDef("lake_sql_graph_hier", (s, d) => graft.sources.GraphIndex.sqlGraphHierQuery(s, d),
      sql(graphHierSearchSql())),
    // SQL route to compressed ADC search: LUT cross + code join + rank
    // window as ONE SQL text over the pq_codes/pq_codebooks views.
    // SQL route to PQ search: row-identical to knn_pq by construction
    // (same kernel, same micro-before-sum, same tie-breaks), so the same
    // residual ADC replay serves verbatim.
    QueryDef("lake_sql_pq", (s, d) => graft.sources.PqStore.sqlPqQuery(s, d), sql(pqAdcSql(pqStorePath)),
      cross("knn_pq's LUT cross through the one-text SQL route (inline query literals × codebook view)")),
    // Tombstone-aware search: same exported-store replay minus the
    // tombstone set — the anti-join sits below the rank window.
    QueryDef("knn_tombstone", (s, d) => graft.sources.IndexStore.searchTombstoned(s, d),
      sql(ivfProbedSearchSql(" AND r.vec_id % 17 <> 3"))),
    // Recall report: both legs deterministic (exported-store replay vs
    // brute force), so the nprobe recall dial gets an oracle-checked
    // MEASUREMENT; integer floor-division micro.
    QueryDef("knn_recall_report", (s, d) => graft.sources.IndexStore.recallReport(s, d), sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |ex AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s),
         |exact AS (SELECT qid, vec_id FROM ex WHERE rank <= 5),
         |approx AS (SELECT qid, vec_id FROM (${ivfProbedSearchSql()}) t),
         |f AS (SELECT e.qid, count(*) AS n_found
         |      FROM exact e JOIN approx a ON e.qid = a.qid AND e.vec_id = a.vec_id GROUP BY 1),
         |ne AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY 1)
         |SELECT CAST(ne.qid AS BIGINT) AS qid, CAST(COALESCE(n_found, 0) AS BIGINT) AS n_found,
         |       CAST(n_exact AS BIGINT) AS n_exact,
         |       CAST(COALESCE(n_found, 0) * 1000000 // n_exact AS BIGINT) AS recall_micro
         |FROM ne LEFT JOIN f ON ne.qid = f.qid ORDER BY qid""".stripMargin),
      cross("exact leg: broadcast query batch × base scan")),
    // Reciprocal-rank eval: the exact top-1's rank inside the probed
    // top-10 (replayed over the exported store), rr = 10^6 // rank, 0 on
    // a miss — integer arithmetic end to end.
    QueryDef("knn_rank_eval", (s, d) => graft.sources.IndexStore.mrrReport(s, d), sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |ex AS (SELECT qid, vec_id FROM (
         |        SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS xr FROM s)
         |       WHERE xr = 1),
         |pk AS (SELECT qid, vec_id, rank FROM (${ivfProbedSearchSql(k = 10)}) t)
         |SELECT CAST(ex.qid AS BIGINT) AS qid,
         |       CAST(COALESCE(pk.rank, 0) AS BIGINT) AS rank,
         |       CAST(CASE WHEN pk.rank IS NOT NULL THEN 1000000 // pk.rank ELSE 0 END AS BIGINT) AS rr_micro
         |FROM ex LEFT JOIN pk ON ex.qid = pk.qid AND ex.vec_id = pk.vec_id
         |ORDER BY qid""".stripMargin), cross("exact leg: broadcast query batch × base scan")),
    // Split-half centroid drift over the exported clustered rows: offset
    // micros summed exactly, floor-division only on non-negatives.
    QueryDef("embed_centroid_drift", (s, d) => graft.sources.IndexStore.centroidDrift(s, d), sql(
      s"""WITH r AS (SELECT vec_id, embedding, CAST(cell_id AS BIGINT) AS cell_id
         |           FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1)),
         |comp AS (SELECT cell_id, vec_id % 2 = 0 AS even,
         |                generate_subscripts(embedding, 1) AS dim,
         |                CAST(floor((CAST(unnest(embedding) AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT) AS xm
         |         FROM r),
         |sums AS (SELECT cell_id, dim,
         |                sum(CASE WHEN even THEN xm ELSE 0 END) AS se,
         |                sum(CASE WHEN even THEN 1 ELSE 0 END) AS ne,
         |                sum(CASE WHEN NOT even THEN xm ELSE 0 END) AS so,
         |                sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS no
         |         FROM comp GROUP BY 1, 2),
         |d AS (SELECT cell_id, ne, no, (se // ne) - (so // no) AS d
         |      FROM sums WHERE ne > 0 AND no > 0)
         |SELECT CAST(cell_id AS BIGINT) AS cell_id, CAST(max(ne) AS BIGINT) AS n_even,
         |       CAST(max(no) AS BIGINT) AS n_odd, CAST(sum(d * d) AS BIGINT) AS drift_metric
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Drift-driven maintenance decision: the same drift replay feeds the
    // τ rule; rows_after must equal the corpus (both branches end serving
    // every vector). The executed branch's structure is spec-pinned.
    QueryDef("embed_maintain", (s, d) => graft.sources.IndexStore.maintainQuery(s, d), sql(
      s"""WITH r AS (SELECT vec_id, embedding, CAST(cell_id AS BIGINT) AS cell_id
         |           FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1)),
         |comp AS (SELECT cell_id, vec_id % 2 = 0 AS even,
         |                generate_subscripts(embedding, 1) AS dim,
         |                CAST(floor((CAST(unnest(embedding) AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT) AS xm
         |         FROM r),
         |sums AS (SELECT cell_id, dim,
         |                sum(CASE WHEN even THEN xm ELSE 0 END) AS se,
         |                sum(CASE WHEN even THEN 1 ELSE 0 END) AS ne,
         |                sum(CASE WHEN NOT even THEN xm ELSE 0 END) AS so,
         |                sum(CASE WHEN NOT even THEN 1 ELSE 0 END) AS no
         |         FROM comp GROUP BY 1, 2),
         |d AS (SELECT cell_id, ne, no, (se // ne) - (so // no) AS d
         |      FROM sums WHERE ne > 0 AND no > 0),
         |dr AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, CAST(max(ne) AS BIGINT) AS n_even,
         |              CAST(max(no) AS BIGINT) AS n_odd, CAST(sum(d * d) AS BIGINT) AS drift_metric
         |       FROM d GROUP BY 1)
         |SELECT cell_id, n_even, n_odd, drift_metric,
         |       CASE WHEN max(drift_metric) OVER () >= 1000000000000 THEN 'rebuild' ELSE 'absorb' END AS decision,
         |       CAST(1000000000000 AS BIGINT) AS threshold,
         |       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS rows_after
         |FROM dr ORDER BY cell_id""".stripMargin)),
    // nprobe→recall curve: recall@k at level L = |exact ∩ cells(rank≤L)|,
    // so the sweep is one conditional aggregation over each exact hit's
    // cell rank — replayed over the exported store artifacts.
    QueryDef("knn_recall_curve", (s, d) => graft.sources.IndexStore.recallSweep(s, d), sql(
      s"""WITH cents AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |               FROM read_parquet('$ivfStorePath/centroids/*.parquet')),
         |r AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id
         |      FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1)),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT q.qid, c.cell_id, ${sqDistCentroidSql("q.qvec", "c.centroid")} AS d2
         |       FROM q CROSS JOIN cents c),
         |pr AS (SELECT qid, cell_id, row_number() OVER (PARTITION BY qid ORDER BY d2, cell_id) AS cr FROM qc),
         |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |ex AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s),
         |exact AS (SELECT qid, vec_id FROM ex WHERE rank <= 5),
         |hit AS (SELECT e.qid, p.cr FROM exact e
         |        JOIN r ON r.vec_id = e.vec_id
         |        JOIN pr p ON p.qid = e.qid AND p.cell_id = r.cell_id),
         |lv AS (SELECT DISTINCT nprobe FROM
         |       (SELECT unnest([1, 2, 5, 10, (SELECT count(*) FROM cents)]) AS nprobe))
         |SELECT CAST(l.nprobe AS BIGINT) AS nprobe,
         |       CAST(sum(CASE WHEN h.cr <= l.nprobe THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |       CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(sum(CASE WHEN h.cr <= l.nprobe THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_micro
         |FROM lv l CROSS JOIN hit h
         |GROUP BY l.nprobe ORDER BY nprobe""".stripMargin),
      cross("exact leg: broadcast query batch × base scan")),
    // Auto-tuned probed search: the recall curve picks the smallest
    // measured nprobe clearing the target, then the probed search runs at
    // that knob — the whole decision replayed in one statement.
    QueryDef("knn_autotune", (s, d) => graft.sources.IndexStore.autoTuneSearch(s, d), sql(
      s"""WITH cents AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |               FROM read_parquet('$ivfStorePath/centroids/*.parquet')),
         |r AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id, embedding
         |      FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1)),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT q.qid, q.qvec, c.cell_id, ${sqDistCentroidSql("q.qvec", "c.centroid")} AS d2
         |       FROM q CROSS JOIN cents c),
         |pr AS (SELECT qid, qvec, cell_id, row_number() OVER (PARTITION BY qid ORDER BY d2, cell_id) AS cr FROM qc),
         |s0 AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |ex AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s0),
         |exact AS (SELECT qid, vec_id FROM ex WHERE rank <= 5),
         |hit AS (SELECT e.qid, p.cr FROM exact e
         |        JOIN r ON r.vec_id = e.vec_id
         |        JOIN pr p ON p.qid = e.qid AND p.cell_id = r.cell_id),
         |lv AS (SELECT DISTINCT nprobe FROM
         |       (SELECT unnest([1, 2, 5, 10, (SELECT count(*) FROM cents)]) AS nprobe)),
         |curve AS (SELECT l.nprobe,
         |            sum(CASE WHEN h.cr <= l.nprobe THEN 1 ELSE 0 END) * 1000000 // count(*) AS recall_micro
         |          FROM lv l CROSS JOIN hit h GROUP BY 1),
         |tuned AS (SELECT min(nprobe) AS np FROM curve WHERE recall_micro >= 900000),
         |probed AS (SELECT qid, qvec, cell_id FROM pr WHERE cr <= (SELECT np FROM tuned)),
         |sc AS (SELECT p.qid, rr.vec_id, ${dotSql("p.qvec", "rr.embedding")} AS sim
         |       FROM r rr JOIN probed p USING (cell_id) WHERE rr.vec_id <> p.qid),
         |rk AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM sc)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
         |       CAST(rank AS BIGINT) AS rank, ${microSql("sim")} AS sim_micro,
         |       (SELECT CAST(np AS BIGINT) FROM tuned) AS nprobe
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),
    // Residual ADC replay (IndexIVFPQ semantics): score = micro'd
    // dot(q, coarse_cell) + Σ micro'd residual LUT hits — coarse centroids
    // and residual codebooks both read from the exported store.
    QueryDef("knn_pq", (s, d) => graft.sources.PqStore.searchQuery(s, d), sql(pqAdcSql(pqStorePath)),
      cross("broadcast query batch × m·k PQ codebook rows (ADC LUT)")),
    // DELETE on the PQ store: tombstone anti-join below the ADC rank
    // window — the third leg of the delete matrix (IVF knn_tombstone,
    // graph graph_tombstone, PQ here), same vec_id % 17 = 3 victim set.
    QueryDef("knn_pq_tombstone", (s, d) => graft.sources.PqStore.searchTombstoned(s, d),
      sql(pqAdcSql(pqStorePath, " AND c.vec_id % 17 <> 3")),
      cross("knn_pq's LUT cross; the tombstones add only a broadcast anti join")),
    // ...and its maintenance half: fold the tombstones into a compacted
    // sibling store (no retrain — FAISS remove_ids keeps the quantizers),
    // then plain ADC search with no filter anywhere.
    QueryDef("pq_compact", (s, d) => graft.sources.PqStore.compactQuery(s, d),
      sql(pqAdcSql(s"${pqStorePath}_cpt")),
      cross("knn_pq's LUT cross over the compacted store")),
    // Drift-driven PQ maintenance (embed_maintain's PQ twin): code-usage
    // census TV per subspace decides absorb vs retrain; the decision and
    // the acted-on store's conservation census are the result.
    // Drift-driven PQ maintenance: the census TV, threshold, decision and
    // conservation count all recomputed from the EXPORTED maintenance +
    // half stores and the source table (the absorb branch; retrain
    // re-runs k-means and is spec-pinned, the embed_maintain split).
    QueryDef("pq_maintain", (s, d) => graft.sources.PqStore.maintainQuery(s, d), sql(
      s"""WITH mb AS (SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, CAST(vec_id AS BIGINT) AS vec_id
         |            FROM read_parquet('${pqStorePath}_maint/codes/*/*.parquet', hive_partitioning=1)),
         |hbc AS (SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code
         |        FROM read_parquet('${pqStorePath}_half/codes/*/*.parquet', hive_partitioning=1)),
         |bat AS (SELECT sub, code FROM mb WHERE vec_id % 2 = 1),
         |ub AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS n FROM bat GROUP BY 1, 2),
         |ubt AS (SELECT sub, CAST(sum(n) AS BIGINT) AS t FROM ub GROUP BY 1),
         |pbb AS (SELECT ub.sub, ub.code, ub.n * 1000000 // ubt.t AS pb FROM ub JOIN ubt USING (sub)),
         |uc AS (SELECT sub, code, CAST(count(*) AS BIGINT) AS n FROM hbc GROUP BY 1, 2),
         |uct AS (SELECT sub, CAST(sum(n) AS BIGINT) AS t FROM uc GROUP BY 1),
         |pcc AS (SELECT uc.sub, uc.code, uc.n * 1000000 // uct.t AS pc FROM uc JOIN uct USING (sub)),
         |tv AS (SELECT sub, abs(COALESCE(pb, 0) - COALESCE(pc, 0)) AS diff
         |       FROM pbb FULL OUTER JOIN pcc USING (sub, code)),
         |tvs AS (SELECT sub, CAST(sum(diff) AS BIGINT) // 2 AS tv_micro FROM tv GROUP BY 1),
         |nb AS (SELECT count(*) AS n FROM embeddings WHERE vec_id % 2 = 1),
         |tau AS (SELECT CAST(250000 + least(500000, floor(800000 * sqrt(64.0 / n))) AS BIGINT) AS t FROM nb),
         |dec AS (SELECT CASE WHEN (SELECT max(tv_micro) FROM tvs) >= (SELECT t FROM tau)
         |                    THEN 'retrain' ELSE 'absorb' END AS d)
         |SELECT tvs.sub, tvs.tv_micro, dec.d AS decision, tau.t AS threshold_micro,
         |       (SELECT CAST(count(*) * 8 AS BIGINT) FROM embeddings) AS codes_after
         |FROM tvs CROSS JOIN dec CROSS JOIN tau ORDER BY sub""".stripMargin)),
    // Small-files hygiene on the absorb append paths: fragment, audit
    // files-per-cell, compact cells above target, return the audit.
    // Small-files audit over the EXPORTED compacted store: files-per-cell
    // from the parquet filenames themselves, conservation from the source.
    QueryDef("pq_layout_compact", (s, d) => graft.sources.PqStore.layoutCompactQuery(s, d), sql(
      s"""WITH c AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, filename
         |           FROM read_parquet('${pqStorePath}_plc/codes/*/*.parquet', hive_partitioning=1, filename=1)),
         |a AS (SELECT cell_id, CAST(count(DISTINCT filename) AS BIGINT) AS n_files,
         |             CAST(count(*) AS BIGINT) AS n_rows
         |      FROM c GROUP BY 1)
         |SELECT cell_id, n_files, n_rows, n_rows // n_files AS rows_per_file,
         |       (SELECT CAST(count(*) * 8 AS BIGINT) FROM embeddings) AS corpus_codes
         |FROM a ORDER BY cell_id""".stripMargin)),
    QueryDef("ivf_layout_compact", (s, d) => graft.sources.IndexStore.layoutCompactQuery(s, d), sql(
      s"""WITH c AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, filename
         |           FROM read_parquet('${ivfStorePath}_plc/rows/*/*.parquet', hive_partitioning=1, filename=1)),
         |a AS (SELECT cell_id, CAST(count(DISTINCT filename) AS BIGINT) AS n_files,
         |             CAST(count(*) AS BIGINT) AS n_rows
         |      FROM c GROUP BY 1)
         |SELECT cell_id, n_files, n_rows, n_rows // n_files AS rows_per_file,
         |       (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS corpus_rows
         |FROM a ORDER BY cell_id""".stripMargin)),
    QueryDef("knn_doc_join", (s, d) => VectorSearch.knnDocJoin(s, d), sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 3),
         |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(r.qid AS BIGINT) AS qid, CAST(r.vec_id AS BIGINT) AS vec_id, CAST(r.rank AS BIGINT) AS rank,
         |       substr(d.text, 1, 20) AS text_prefix
         |FROM r JOIN documents d ON r.vec_id = d.doc_id WHERE r.rank <= 3 ORDER BY qid, rank""".stripMargin),
      cross("broadcast query batch × base scan")),
    QueryDef("vec_normalize", (s, d) => VectorSearch.normalizeQuery(s, d), sql(
      s"""SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |       ${microSql(s"sqrt(${dotSql("embedding", "embedding")})")} AS norm_micro
         |FROM embeddings ORDER BY vec_id""".stripMargin)),
    QueryDef("vec_quantize", (s, d) => Quantize.quantizeQuery(s, d), sql(
      s"""WITH q AS (SELECT vec_id, embedding, ${codeSql("embedding")} AS code FROM embeddings)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, code[1] AS c0, code[2] AS c1,
         |       ${microSql("sqrt(list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, code), " +
          "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)/127.0)*(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)/127.0))), (acc,x) -> acc+x))")} AS err_micro
         |FROM q ORDER BY vec_id""".stripMargin)),
    QueryDef("knn_quantized", (s, d) => Quantize.knnQuantized(s, d), sql(
      s"""WITH b AS (SELECT vec_id, ${codeSql("embedding")} AS code FROM embeddings),
         |q AS (SELECT vec_id AS qid, code AS qcode FROM b WHERE vec_id < 5),
         |sc AS (SELECT q.qid, b.vec_id,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(list_zip(q.qcode, b.code), z -> z[1]*z[2])), (acc,x) -> acc+x) AS qsim
         |       FROM b CROSS JOIN q WHERE b.vec_id <> q.qid),
         |r AS (SELECT qid, vec_id, qsim, row_number() OVER (PARTITION BY qid ORDER BY qsim DESC, vec_id) AS rank FROM sc)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(qsim AS BIGINT) AS qsim
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      cross("broadcast query batch × quantized base scan")),
    QueryDef("vec_pair_metrics", (s, d) => VectorSearch.pairMetricsQuery(s, d), sql(
      s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings),
         |b AS (SELECT vec_id - 1 AS id_a, vec_id AS id_b, embedding AS vb FROM embeddings)
         |SELECT CAST(a.id_a AS BIGINT) AS id_a, CAST(b.id_b AS BIGINT) AS id_b,
         |       ${microSql(dotSql("a.va", "b.vb"))} AS cos_micro,
         |       ${microSql(s"sqrt(${sqDistSql("a.va", "b.vb")})")} AS l2_micro
         |FROM a JOIN b USING (id_a) ORDER BY id_a""".stripMargin)),
    // IVF-PQ composition: candidates from the probed IVF cells, scores from
    // the PQ ADC tables — both read straight from the exported index stores.
    QueryDef("knn_ivfpq", (s, d) => graft.sources.PqStore.searchIvfPq(s, d), sql(
      s"""WITH cents AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |               FROM read_parquet('$ivfStorePath/centroids/*.parquet')),
         |r AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id
         |      FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1)),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |qc AS (SELECT q.qid, c.cell_id, ${sqDistCentroidSql("q.qvec", "c.centroid")} AS d2
         |       FROM q CROSS JOIN cents c),
         |pr AS (SELECT qid, cell_id, row_number() OVER (PARTITION BY qid ORDER BY d2, cell_id) AS cr FROM qc),
         |probed AS (SELECT qid, cell_id FROM pr WHERE cr <= 10),
         |cand AS (SELECT p.qid, r.vec_id FROM r JOIN probed p USING (cell_id) WHERE r.vec_id <> p.qid),
         |books AS (SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, centroid
         |          FROM read_parquet('$pqStorePath/codebooks/*.parquet')),
         |coarse AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |           FROM read_parquet('$pqStorePath/coarse/*.parquet')),
         |codes AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, CAST(cell_id AS BIGINT) AS cell_id
         |          FROM read_parquet('$pqStorePath/codes/*/*.parquet', hive_partitioning=1)),
         |rot AS (SELECT CAST(i AS BIGINT) AS i, row FROM read_parquet('$pqStorePath/rotation/*.parquet')),
         |rq AS (SELECT q.qid, list(CAST(${dotCentroidSql("q.qvec", "r.row")} AS FLOAT) ORDER BY r.i) AS rqvec
         |       FROM q CROSS JOIN rot r GROUP BY q.qid),
         |lut AS (SELECT rq.qid, b.sub, b.code,
         |          ${microSql(dotCentroidSql("list_slice(rq.rqvec, b.sub*8+1, b.sub*8+8)", "b.centroid"))} AS p_micro
         |        FROM rq CROSS JOIN books b),
         |clut AS (SELECT q.qid, g.cell_id, ${microSql(dotCentroidSql("q.qvec", "g.centroid"))} AS c_micro
         |         FROM q CROSS JOIN coarse g),
         |s AS (SELECT c.qid, c.vec_id, k.cell_id, sum(l.p_micro) AS r_micro
         |      FROM cand c JOIN codes k ON k.vec_id = c.vec_id
         |                  JOIN lut l ON l.qid = c.qid AND l.sub = k.sub AND l.code = k.code
         |      GROUP BY 1, 2, 3),
         |t AS (SELECT s.qid, s.vec_id, s.r_micro + cl.c_micro AS adc
         |      FROM s JOIN clut cl ON cl.qid = s.qid AND cl.cell_id = s.cell_id),
         |rk AS (SELECT qid, vec_id, adc, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rank FROM t)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       CAST(adc AS BIGINT) AS adc_micro
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      cross("broadcast query batch × the ADC coarse-cell term and × m·k PQ codebook rows")),
    // Two-stage refine: PQ ADC shortlist (rank ≤ 20), exact re-rank of only
    // the shortlist's float vectors.
    QueryDef("knn_refine", (s, d) => graft.sources.PqStore.searchRefined(s, d), sql(
      s"""WITH books AS (SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, centroid
         |               FROM read_parquet('$pqStorePath/codebooks/*.parquet')),
         |coarse AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
         |           FROM read_parquet('$pqStorePath/coarse/*.parquet')),
         |codes AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, CAST(cell_id AS BIGINT) AS cell_id
         |          FROM read_parquet('$pqStorePath/codes/*/*.parquet', hive_partitioning=1)),
         |rot AS (SELECT CAST(i AS BIGINT) AS i, row FROM read_parquet('$pqStorePath/rotation/*.parquet')),
         |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |rq AS (SELECT q.qid, list(CAST(${dotCentroidSql("q.qvec", "r.row")} AS FLOAT) ORDER BY r.i) AS rqvec
         |       FROM q CROSS JOIN rot r GROUP BY q.qid),
         |lut AS (SELECT rq.qid, b.sub, b.code,
         |          ${microSql(dotCentroidSql("list_slice(rq.rqvec, b.sub*8+1, b.sub*8+8)", "b.centroid"))} AS p_micro
         |        FROM rq CROSS JOIN books b),
         |clut AS (SELECT q.qid, g.cell_id, ${microSql(dotCentroidSql("q.qvec", "g.centroid"))} AS c_micro
         |         FROM q CROSS JOIN coarse g),
         |s0 AS (SELECT l.qid, c.vec_id, c.cell_id, sum(l.p_micro) AS r_micro
         |       FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
         |       WHERE c.vec_id <> l.qid GROUP BY 1, 2, 3),
         |s AS (SELECT s0.qid, s0.vec_id, s0.r_micro + cl.c_micro AS adc
         |      FROM s0 JOIN clut cl ON cl.qid = s0.qid AND cl.cell_id = s0.cell_id),
         |sl AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS r FROM s),
         |short AS (SELECT qid, vec_id FROM sl WHERE r <= 20),
         |x AS (SELECT sh.qid, sh.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM short sh JOIN embeddings e ON e.vec_id = sh.vec_id JOIN q ON q.qid = sh.qid),
         |rk AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM x)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("sim")} AS sim_micro
         |FROM rk WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      cross("the ADC coarse-cell term and LUT crosses, each over the broadcast query batch")),
    // Adaptive filtered search: label=3 is ~10% selective, under the 20%
    // crossover, so the engine takes the BRUTE branch (exact over the
    // qualifying subset) — the oracle replays that branch and pins the
    // emitted strategy column.
    QueryDef("knn_filtered_adaptive", (s, d) => VectorSearch.knnFilteredAdaptive(s, d), sql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |s AS (SELECT q.qid, e.vec_id, ${dotSql("q.qvec", "e.embedding")} AS sim
         |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid AND e.label = 3),
         |r AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
         |       ${microSql("sim")} AS sim_micro, 'brute' AS strategy
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),
      cross("brute branch: broadcast query batch × filtered subset")),
  )
}
