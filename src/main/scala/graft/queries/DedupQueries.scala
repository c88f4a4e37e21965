package graft.queries

import graft.operators._
import graft.SparkEntry.oracleSfDir
import OracleSql._
import QueryDef._

/** The LLM-pipeline family (SURVEY.md §2.3): exact, near- and
  * substring dedup, then text analysis, sampling and corpus packing, then
  * embedding and multimodal plumbing.
  */
object DedupQueries {

  /** Content-defined chunking of every document: a word whose md5 digest
    * is 0 mod 8 closes its chunk; `ch(doc_id, chunk, chunk_hash)`.
    */
  private val cdcChunkCtes =
    s"""w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
       |           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       |h AS (SELECT doc_id, pos, w, md5('cdc:' || w) AS dg FROM w),
       |b AS (SELECT doc_id, pos, w,
       |        CASE WHEN (${graft.operators.Dedup.hexWordSql("strpos", "dg", 1)}) % 8 = 0
       |             THEN 1 ELSE 0 END AS brk FROM h),
       |c AS (SELECT doc_id, pos, w,
       |        COALESCE(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |      FROM b),
       |ch AS (SELECT doc_id, chunk, md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
       |       FROM c GROUP BY 1, 2)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("dedup_keep_first", (s, d) => Dedup.keepFirst(s, d), sql(
      """WITH r AS (SELECT user_id % 50 AS k, event_id, event_type,
        |                  row_number() OVER (PARTITION BY user_id % 50 ORDER BY event_id) AS rn
        |           FROM events)
        |SELECT CAST(k AS BIGINT) AS k, CAST(event_id AS BIGINT) AS event_id, event_type
        |FROM r WHERE rn = 1 ORDER BY k""".stripMargin)),
    QueryDef("dedup_exact", (s, d) => Dedup.exactDedup(s, d), sql(
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id_kept, CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(length(text) AS BIGINT) AS text_len
        |FROM documents GROUP BY text ORDER BY doc_id_kept""".stripMargin)),
    QueryDef("dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccardPairs(s, d), sql(ngramJaccardSql)),
    // Engine-portable MinHash: one md5 per shingle, Kirsch–Mitzenmacher
    // xxhash64 MinHash banding: the signatures are engine-specific, so the
    // oracle replays the BANDING JOIN over the exported band frame (the
    // knn_ivf exported-artifact pattern; sketch half covered by the md5
    // twin + SketchExpressions specs).
    QueryDef("dedup_minhash_lsh", (s, d) => Dedup.minhashLshPairs(s, d), sql(
      s"""WITH b AS (SELECT doc_id, band, bh
         |           FROM read_parquet('$sketchStorePath/minhash_bands/*.parquet'))
         |SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a, CAST(c.doc_id AS BIGINT) AS id_b
         |FROM b a JOIN b c ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
         |ORDER BY id_a, id_b""".stripMargin)),
    // double-hashed permutations over two nibble-arithmetic 32-bit words,
    // 4 bands × 3 — the exact integer replay of Dedup.minhashMd5Pairs.
    QueryDef("dedup_minhash_md5", (s, d) => Dedup.minhashMd5Pairs(s, d), sql(
      s"""WITH $minhashMd5BandCtesSql
         |SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin)),
    // LSH precision/recall audit: the banded candidate set vs the exact
    // Jaccard truth set — both legs reuse the shared `sh` shingle CTE.
    QueryDef("dedup_lsh_eval", (s, d) => Dedup.lshEval(s, d), sql(
      s"""WITH $minhashMd5BandCtesSql,
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
         |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
         |      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (SELECT id_a, id_b
         |          FROM p JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |          WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.12),
         |hit AS (SELECT count(*) AS n_hit FROM truth JOIN cand USING (id_a, id_b))
         |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |       CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
         |       CAST(n_hit AS BIGINT) AS n_hit,
         |       CAST(n_hit * 1000 // (SELECT count(*) FROM cand) AS BIGINT) AS precision_permille,
         |       CAST(n_hit * 1000 // (SELECT count(*) FROM truth) AS BIGINT) AS recall_permille
         |FROM hit""".stripMargin), cross("1-row truth × 1-row cand × 1-row hit count crosses")),
    // xxhash64 SimHash: chunk-block + bit_count(xor) Hamming verify over
    // the exported signatures — integer SQL end to end.
    QueryDef("dedup_simhash", (s, d) => Dedup.simhashPairs(s, d), sql(
      s"""WITH s AS (SELECT doc_id, simhash
         |           FROM read_parquet('$sketchStorePath/simhash_sigs/*.parquet')),
         |ch AS (SELECT doc_id, simhash, c.chunk, (simhash >> (c.chunk * 8)) & 255 AS cv
         |       FROM s, (SELECT unnest([0, 1, 2, 3]) AS chunk) c),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |             bit_count(xor(a.simhash, b.simhash)) AS hamming
         |      FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id)
         |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
         |       CAST(hamming AS BIGINT) AS hamming
         |FROM p WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin)),
    // Engine-portable SimHash: bit b of a token's hash = integer nibble
    // arithmetic on md5 hex; signature bit = strict per-bit majority.
    QueryDef("dedup_simhash_md5", (s, d) => Dedup.simhashMd5Pairs(s, d), sql {
      val cs = (0 until 32)
        .map(b => s"sum(((strpos('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1) >> ${3 - b % 4}) & 1) AS c$b")
        .mkString(",\n         |        ")
      val sig = (0 until 32)
        .map(b => s"(CASE WHEN c$b*2 > n THEN (1::BIGINT << $b) ELSE 0 END)")
        .mkString(" +\n         |        ")
      s"""WITH t AS (SELECT doc_id, substr(md5(w), 1, 8) AS h
         |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
         |s AS (SELECT doc_id, count(*) AS n,
         |        $cs
         |      FROM t GROUP BY 1),
         |g AS (SELECT doc_id,
         |        $sig AS sh
         |      FROM s),
         |chunks AS (SELECT doc_id, sh, c AS chunk, (sh >> (c*8)) & 255 AS cv
         |           FROM g, (SELECT unnest([0,1,2,3]) AS c)),
         |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.sh, b.sh)) AS hamming
         |      FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id)
         |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM p WHERE hamming <= 6 ORDER BY id_a, id_b""".stripMargin
    }),
    // Asymmetric containment near-dup: same inverted index, score =
    // common / min(|A|,|B|), cut on the floored micro (engine-exact).
    QueryDef("dedup_containment", (s, d) => Dedup.containmentPairs(s, d), sql(
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ws)-2, 0)),
        |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |c AS (SELECT id_a, id_b, sa.n_sh AS n_a, sb.n_sh AS n_b, common,
        |        CAST(floor(CAST(common AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) * 1000000.0) AS BIGINT) AS containment_micro
        |      FROM p JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
        |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST(common AS BIGINT) AS common, containment_micro,
        |       CAST(CASE WHEN n_a < n_b THEN id_a WHEN n_b < n_a THEN id_b
        |                 ELSE least(id_a, id_b) END AS BIGINT) AS contained_id
        |FROM c WHERE containment_micro >= 500000 ORDER BY id_a, id_b""".stripMargin)),
    // Threshold dial: the full candidate-pair set once, per-level counts
    // as conditional aggregates — pairs at each τ plus docs whose BEST
    // pair clears τ.
    QueryDef("dedup_threshold_curve", (s, d) => Dedup.thresholdCurve(s, d), sql(
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ws)-2, 0)),
        |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b,
        |             CAST(floor(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) * 1000000.0) AS BIGINT) AS jm
        |      FROM p JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b),
        |d AS (SELECT doc_id, max(jm) AS ms
        |      FROM (SELECT id_a AS doc_id, jm FROM j UNION ALL SELECT id_b AS doc_id, jm FROM j)
        |      GROUP BY 1),
        |lv AS (SELECT unnest([120000, 200000, 300000, 500000, 800000]) AS tau_micro)
        |SELECT CAST(l.tau_micro AS BIGINT) AS tau_micro,
        |       CAST((SELECT count(*) FROM j WHERE jm >= l.tau_micro) AS BIGINT) AS n_pairs,
        |       CAST((SELECT count(*) FROM d WHERE ms >= l.tau_micro) AS BIGINT) AS n_docs_flagged
        |FROM lv l ORDER BY tau_micro""".stripMargin), cross("1-row pair-counts × 1-row doc-counts cross")),
    // Incremental probe: incoming batch (doc_id%10=0) vs the corpus band
    // index (the rest). Band rows are per-doc, so filtering the shared
    // bands CTE by side replays Dedup.incrementalNearDup exactly.
    QueryDef("dedup_incremental", (s, d) => Dedup.incrementalNearDup(s, d), sql(
      s"""WITH $minhashMd5BandCtesSql
         |SELECT DISTINCT CAST(q.doc_id AS BIGINT) AS incoming_id,
         |       CAST(c.doc_id AS BIGINT) AS corpus_id
         |FROM bands q JOIN bands c ON q.band = c.band AND q.bk = c.bk
         |WHERE q.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |ORDER BY incoming_id, corpus_id""".stripMargin)),
    // Bloom-pruned incremental EXACT dedup: the Bloom filter is a pure
    // pruning hint (no false negatives; false positives die in the exact
    // confirm join), so the oracle is the plain md5-content left join the
    // query is provably equivalent to.
    QueryDef("dedup_bloom", (s, d) => Dedup.bloomIncrementalDedup(s, d), sql(
      """WITH ck AS (SELECT md5(text) AS w, min(doc_id) AS dup_of, count(*) AS n_copies
        |            FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1),
        |b AS (SELECT doc_id, md5(text) AS w FROM documents WHERE doc_id % 10 = 0)
        |SELECT CAST(b.doc_id AS BIGINT) AS doc_id, CAST(ck.dup_of AS BIGINT) AS dup_of,
        |       CAST(coalesce(ck.n_copies, 0) AS BIGINT) AS n_copies
        |FROM b LEFT JOIN ck USING (w) ORDER BY doc_id""".stripMargin)),
    // Content-defined chunking dedup: word-gear cut points (boundary after
    // any word whose md5 gear word is ≡0 mod 8), chunk text re-assembled
    // ORDER BY pos, duplication = one hash aggregate over the chunk table.
    QueryDef("dedup_cdc", (s, d) => Dedup.cdcDedup(s, d), sql(
      s"""WITH $cdcChunkCtes,
         |occ AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY 1)
         |SELECT CAST(ch.doc_id AS BIGINT) AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN occ.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |       CAST(sum(CASE WHEN occ.n_docs >= 2 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS dup_permille
         |FROM ch JOIN occ USING (chunk_hash) GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Staged dedup funnel: each stage reuses its operator's exact
    // survivor rule; the near-dup stage drops the LARGER side of every
    // banded candidate pair (the shared minhash CTE fragments).
    QueryDef("dedup_funnel", (s, d) => Dedup.dedupFunnel(s, d), sql(
      s"""WITH $minhashMd5BandCtesSql,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |          FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |exact_kept AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |near_kept AS (SELECT doc_id FROM exact_kept
         |              WHERE doc_id NOT IN (SELECT id_b FROM pairs)),
         |q_kept AS (SELECT n.doc_id FROM near_kept n JOIN documents d ON d.doc_id = n.doc_id
         |           WHERE d.n_chars >= 50)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_no, 'raw' AS stage,
         |         CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
         |  UNION ALL SELECT 2, 'exact_dedup', CAST((SELECT count(*) FROM exact_kept) AS BIGINT)
         |  UNION ALL SELECT 3, 'near_dup', CAST((SELECT count(*) FROM near_kept) AS BIGINT)
         |  UNION ALL SELECT 4, 'length_floor', CAST((SELECT count(*) FROM q_kept) AS BIGINT)
         |) ORDER BY stage_no""".stripMargin)),
    // Cross-snapshot CDC containment: chunking is per-doc independent, so
    // chunking the whole table then splitting by side replays both legs.
    QueryDef("dedup_cdc_incremental", (s, d) => Dedup.cdcIncremental(s, d), sql(
      s"""WITH $cdcChunkCtes,
         |corpus AS (SELECT DISTINCT chunk_hash FROM ch WHERE doc_id % 10 <> 0),
         |batch AS (SELECT * FROM ch WHERE doc_id % 10 = 0)
         |SELECT CAST(batch.doc_id AS BIGINT) AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN corpus.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known_chunks,
         |       CAST(sum(CASE WHEN corpus.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS known_permille
         |FROM batch LEFT JOIN corpus USING (chunk_hash)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Passage-exact dedup with reconstruction: non-overlapping 10-word
    // segments, global keep-first by (doc_id, seg_no), docs rebuilt from
    // surviving segments in order. COALESCE matches Spark's '' on a doc
    // whose every segment duplicated an earlier one.
    QueryDef("dedup_paragraph", (s, d) => Dedup.paragraphDedup(s, d), sql(
      """WITH segs0 AS (SELECT doc_id,
        |                      unnest(range(CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS seg_no, ws
        |               FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |segs AS (SELECT doc_id, seg_no,
        |                array_to_string(list_slice(ws, seg_no*10 + 1, seg_no*10 + 10), ' ') AS seg
        |         FROM segs0),
        |ranked AS (SELECT doc_id, seg_no, seg,
        |                  row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
        |           FROM segs)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_no), '') AS text_kept
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // Suffix-array-style span dedup (Lee et al. 2021): positional 5-gram
    // anchors, diagonal gaps-and-islands, maximal shared runs >= 8 words.
    // The oracle joins on the gram STRING where the engine joins on its
    // xxhash64 — same no-collision contract as the shingle family.
    QueryDef("dedup_substring", (s, d) => Dedup.substringRuns(s, d), sql(
      s"""WITH $substringRunsCteSql
         |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
         |       CAST(pos_a AS BIGINT) AS pos_a, CAST(pos_b AS BIGINT) AS pos_b,
         |       CAST(span_words AS BIGINT) AS span_words
         |FROM runs WHERE span_words >= 8 ORDER BY id_a, id_b, pos_a, pos_b""".stripMargin)),
    // Per-doc coverage of duplicated spans: both endpoints contribute an
    // interval, running-max island merge unions overlaps, frac in micro.
    QueryDef("dedup_substring_stats", (s, d) => Dedup.substringStats(s, d), sql(
      s"""WITH $substringRunsCteSql,
         |fr AS (SELECT * FROM runs WHERE span_words >= 8),
         |iv AS (SELECT id_a AS doc_id, pos_a AS s, pos_a + span_words - 1 AS e FROM fr
         |       UNION ALL
         |       SELECT id_b, pos_b, pos_b + span_words - 1 FROM fr),
         |o AS (SELECT doc_id, s, e,
         |             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |      FROM iv),
         |grp AS (SELECT doc_id, s, e,
         |               sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
         |                 OVER (PARTITION BY doc_id ORDER BY s, e) AS g
         |        FROM o),
         |mrg AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM grp GROUP BY doc_id, g),
         |agg AS (SELECT doc_id, count(*) AS dup_spans, sum(e - s + 1) AS dup_words
         |        FROM mrg GROUP BY doc_id),
         |nw AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM documents)
         |SELECT CAST(agg.doc_id AS BIGINT) AS doc_id, CAST(n_words AS BIGINT) AS n_words,
         |       CAST(dup_spans AS BIGINT) AS dup_spans, CAST(dup_words AS BIGINT) AS dup_words,
         |       CAST(floor(CAST(dup_words AS DOUBLE) / CAST(n_words AS DOUBLE) * 1000000.0) AS BIGINT) AS dup_frac_micro
         |FROM agg JOIN nw ON nw.doc_id = agg.doc_id ORDER BY doc_id""".stripMargin)),
    // Span-removal action (keep-first by doc_id: every run survives only
    // in its lowest-id doc). The oracle cuts covered positions with a
    // correlated NOT EXISTS and rebuilds text with an ordered string_agg.
    QueryDef("dedup_substring_prune", (s, d) => Dedup.substringPrune(s, d), sql(
      s"""WITH $substringRunsCteSql,
         |fr AS (SELECT * FROM runs WHERE span_words >= 8),
         |iv AS (SELECT id_b AS doc_id, pos_b AS s, pos_b + span_words - 1 AS e FROM fr),
         |p AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM w),
         |kp AS (SELECT p.doc_id, pos, ws[pos] AS word FROM p
         |       WHERE NOT EXISTS (SELECT 1 FROM iv
         |                         WHERE iv.doc_id = p.doc_id AND pos BETWEEN iv.s AND iv.e)),
         |ag AS (SELECT doc_id, count(*) AS n_kept,
         |              string_agg(word, ' ' ORDER BY pos) AS text_kept
         |       FROM kp GROUP BY doc_id)
         |SELECT CAST(w.doc_id AS BIGINT) AS doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         |       coalesce(text_kept, '') AS text_kept
         |FROM w LEFT JOIN ag ON ag.doc_id = w.doc_id ORDER BY doc_id""".stripMargin)),
    // Cross-source contamination matrix over the same runs (unordered
    // source pair, canonicalized source_a <= source_b).
    QueryDef("dedup_source_matrix", (s, d) => Dedup.substringSourceMatrix(s, d), sql(
      s"""WITH $substringRunsCteSql,
         |fr AS (SELECT * FROM runs WHERE span_words >= 8),
         |src AS (SELECT doc_id, source FROM documents),
         |e AS (SELECT least(sa.source, sb.source) AS source_a,
         |             greatest(sa.source, sb.source) AS source_b, span_words
         |      FROM fr JOIN src sa ON sa.doc_id = fr.id_a
         |              JOIN src sb ON sb.doc_id = fr.id_b)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_runs,
         |       CAST(sum(span_words) AS BIGINT) AS dup_words
         |FROM e GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),
    // Integer fixed-point PageRank over the near-dup graph: 5 unrolled
    // power-iteration CTEs replaying the engine's exact micro/floor-div
    // recurrence (long addition is order-independent, so the sums agree).
    QueryDef("graph_pagerank", (s, d) => Dedup.dupPagerank(s, d), sql {
      val iters = 5
      val steps = (1 to iters).map { i =>
        s"pr$i AS (SELECT e.dst AS node, CAST(150000 + (85 * sum(p.pr_micro // e.out_deg)) // 100 AS BIGINT) AS pr_micro " +
          s"FROM g e JOIN pr${i - 1} p ON e.src = p.node GROUP BY e.dst)"
      }.mkString(",\n")
      s"""WITH pairs AS (SELECT id_a, id_b FROM ($ngramJaccardSql)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
         |g AS (SELECT e.src, e.dst, d.out_deg FROM edges e JOIN deg d ON e.src = d.src),
         |pr0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr_micro FROM deg),
         |$steps
         |SELECT CAST(p.node AS BIGINT) AS node, p.pr_micro,
         |       CAST(d.out_deg AS BIGINT) AS degree
         |FROM pr$iters p JOIN deg d ON p.node = d.src ORDER BY node""".stripMargin
    }),
    // Deterministic synchronous LPA replay: the same fixed rounds unrolled
    // as CTEs — the self-vote is a self-loop edge (as in the engine), so
    // each round reads the previous one exactly ONCE (linear CTE chain,
    // not 2^rounds re-derivations); argmax via QUALIFY with the
    // smallest-label tie-break.
    QueryDef("graph_label_prop", (s, d) => Dedup.dupLabelProp(s, d), sql {
      val rounds = 3
      val steps = (1 to rounds).map { i =>
        s"""l$i AS (SELECT e.dst AS node, p.label, count(*) AS c
           |        FROM edges e JOIN l${i - 1} p ON e.src = p.node GROUP BY 1, 2
           |        QUALIFY row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, p.label) = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (SELECT id_a, id_b FROM ($ngramJaccardSql)),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |        UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |edges AS (SELECT src, dst FROM sym
         |          UNION ALL SELECT DISTINCT src, src FROM sym),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
         |$steps,
         |sizes AS (SELECT label, count(*) AS community_size FROM l$rounds GROUP BY 1)
         |SELECT CAST(l.node AS BIGINT) AS node, CAST(l.label AS BIGINT) AS label,
         |       CAST(s.community_size AS BIGINT) AS community_size
         |FROM l$rounds l JOIN sizes s ON l.label = s.label ORDER BY node""".stripMargin
    }),
    // Edit-distance near-dup: blocked candidates (>=2 common shingles),
    // exact Levenshtein verify, normalized integer-micro cut.
    QueryDef("dedup_edit_distance", (s, d) => Dedup.editDistancePairs(s, d), sql(
      """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ws)-2, 0)),
        |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        |      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |c AS (SELECT id_a, id_b FROM p WHERE common >= 3),
        |l AS (SELECT id_a, id_b, CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
        |             greatest(length(da.text), length(db.text)) AS mx
        |      FROM c JOIN documents da ON da.doc_id = id_a JOIN documents db ON db.doc_id = id_b)
        |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, lev,
        |       CAST(lev * 1000000 // mx AS BIGINT) AS lev_micro
        |FROM l WHERE lev * 1000000 // mx <= 300000 ORDER BY 1, 2""".stripMargin)),
    QueryDef("dedup_clusters", (s, d) => Dedup.nearDupClusters(s, d), sql(
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($ngramJaccardSql)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
         |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(min(node) AS BIGINT) AS min_member, CAST(max(node) AS BIGINT) AS max_member
         |FROM cc GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),
    // Keep-best dedup: same recursive-CTE components as dedup_clusters,
    // same quality score as text_quality, argmax survivor per cluster.
    QueryDef("dedup_keep_best", (s, d) => Dedup.keepBestDedup(s, d), sql(
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($ngramJaccardSql)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
         |t AS (SELECT doc_id, len(ws) AS nw, len(list_distinct(ws)) AS nd,
         |         list_max(list_transform(list_distinct(ws), tk -> len(list_filter(ws, w -> w = tk)))) AS mf
         |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         |q AS (SELECT doc_id, CAST(floor(((CAST(least(nw, 50) AS DOUBLE)/50.0
         |         + CAST(nd AS DOUBLE)/CAST(nw AS DOUBLE)
         |         + 1.0 - CAST(mf AS DOUBLE)/CAST(nw AS DOUBLE))/3.0)*1000000.0) AS BIGINT) AS score_micro
         |      FROM t),
         |lab AS (SELECT q.doc_id, coalesce(cc.cluster_id, q.doc_id) AS cluster_id, q.score_micro
         |        FROM q LEFT JOIN cc ON cc.node = q.doc_id),
         |r AS (SELECT cluster_id, doc_id, score_micro,
         |             row_number() OVER (PARTITION BY cluster_id ORDER BY score_micro DESC, doc_id) AS rk,
         |             count(*) OVER (PARTITION BY cluster_id) AS n_members
         |      FROM lab)
         |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, CAST(doc_id AS BIGINT) AS survivor_id,
         |       CAST(n_members AS BIGINT) AS n_members, score_micro
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin)),
    // Library-default auto-bits (~64 vectors per sign-LSH bucket): the
    // oracle replays the same bits-from-count formula in SQL, so the
    // anchored query IS the scale path — a pinned small bits value would
    // make the in-bucket self-join quadratic at corpus scale. (bits=4 is
    // exercised as a spec-only case in DedupSpec.)
    QueryDef("dedup_embedding", (s, d) => Dedup.embeddingNearDup(s, d), sql(
      // Replays Dedup.embeddingNearDup's auto-bits formula exactly:
      // n = max(1, count), bits = clamp(64 - nlz(n/64), 4, 20) — for
      // n/64 >= 1 that is floor(log2(n/64)) + 1, and the n/64 = 0 branch
      // clamps to 4 either way. The bucket is then the dynamic-width sign
      // pattern over the first `bits` coordinates.
      s"""WITH nb AS (SELECT least(20, greatest(4,
         |        CAST(floor(log2(greatest(1, count(*) // 64))) AS BIGINT) + 1)) AS bits
         |      FROM embeddings),
         |e AS (SELECT vec_id, embedding,
         |        list_reduce(list_prepend(0::BIGINT, list_transform(range(1, bits + 1),
         |          i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0
         |                    THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)),
         |          (acc, x) -> acc + x) AS bucket
         |      FROM embeddings CROSS JOIN nb),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${dotSql("a.embedding", "b.embedding")} AS sim
         |      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, ${microSql("sim")} AS sim_micro
         |FROM p WHERE sim >= 0.30 ORDER BY id_a, id_b""".stripMargin)),
    QueryDef("dedup_embedding_banded", (s, d) => Dedup.embeddingNearDupBanded(s, d), sql(
      s"""WITH e AS (SELECT vec_id, embedding,
         |             ${bucketSqlAt("embedding", 0, 8)} AS b0, ${bucketSqlAt("embedding", 8, 8)} AS b1,
         |             ${bucketSqlAt("embedding", 16, 8)} AS b2, ${bucketSqlAt("embedding", 24, 8)} AS b3
         |           FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${dotSql("a.embedding", "b.embedding")} AS sim
         |      FROM e a JOIN e b ON a.vec_id < b.vec_id
         |       AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
         |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, ${microSql("sim")} AS sim_micro
         |FROM p WHERE sim >= 0.30 ORDER BY id_a, id_b""".stripMargin)),
    // Semantic decontamination: exact cosine of every train row (vec_id % 97
    // <> 0) against the broadcast eval holdout (vec_id % 97 = 0).
    QueryDef("decontam_embedding", (s, d) => Dedup.embeddingDecontam(s, d), sql(
      s"""WITH p AS (SELECT t.vec_id AS vec_id, q.vec_id AS eval_id,
         |             ${dotSql("t.embedding", "q.embedding")} AS sim
         |           FROM embeddings t JOIN embeddings q
         |             ON t.vec_id % 97 <> 0 AND q.vec_id % 97 = 0)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(count(*) AS BIGINT) AS n_eval_matches,
         |       ${microSql("max(sim)")} AS max_sim_micro, CAST(min(eval_id) AS BIGINT) AS first_eval_id
         |FROM p WHERE sim >= 0.30 GROUP BY 1 ORDER BY 1""".stripMargin), cross("broadcast eval holdout")),
    // SemDeDup over the persisted IVF clustering: within-cell self-join on
    // the exported store rows (the cluster IS the index's coarse quantizer),
    // keep-the-earliest eviction — replayed over the same artifacts the
    // knn_ivf oracle reads.
    QueryDef("dedup_semantic", (s, d) => Dedup.semanticDedup(s, d), sql(
      s"""WITH r AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, vec_id, embedding
         |           FROM read_parquet('$ivfStorePath/rows/*/*.parquet', hive_partitioning=1)),
         |p AS (SELECT a.vec_id AS aid, b.vec_id AS vec_id, b.cell_id AS cell_id,
         |        ${dotSql("a.embedding", "b.embedding")} AS cos
         |      FROM r a JOIN r b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(min(aid) AS BIGINT) AS dup_of,
         |       CAST(cell_id AS BIGINT) AS cell_id, ${microSql("max(cos)")} AS cos_micro
         |FROM p WHERE cos >= 0.30 GROUP BY vec_id, cell_id ORDER BY vec_id""".stripMargin)),
    // Novelty decay: distinct 3-grams attributed to their first document,
    // per-decile first-seen share.
    QueryDef("text_novelty_decay", (s, d) => TextAnalysis.noveltyDecay(s, d), sql(
      """WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(ws)-2, 0)),
        |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS g
        |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |m AS (SELECT max(doc_id) AS mx FROM documents)
        |SELECT CAST(least(9, doc_id * 10 // (mx + 1)) AS BIGINT) AS decile,
        |       CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS novelty_permille
        |FROM sh JOIN f USING (g) CROSS JOIN m
        |GROUP BY 1 ORDER BY 1""".stripMargin), cross("1-row broadcast max-id scalar cross")),
    // Quality-dial token budget: one-pass conditional sums over the same
    // score construction as text_quality, priced at every tau at once.
    QueryDef("text_quality_curve", (s, d) => TextAnalysis.qualityBudgetCurve(s, d), sql {
      val taus = Seq(600000L, 700000L, 750000L, 800000L, 850000L)
      val rows = taus.map(t =>
        s"SELECT CAST($t AS BIGINT) AS tau_micro, " +
          s"CAST(sum(CASE WHEN sm >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept, " +
          s"CAST(sum(CASE WHEN sm >= $t THEN nw ELSE 0 END) AS BIGINT) AS tokens_kept FROM s")
        .mkString("\n|UNION ALL ")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |t AS (SELECT doc_id, len(ws) AS nw, len(list_distinct(ws)) AS nd,
         |         list_max(list_transform(list_distinct(ws), tk -> len(list_filter(ws, w -> w = tk)))) AS mf
         |      FROM d),
         |s AS (SELECT doc_id, nw,
         |         CAST(floor(((CAST(least(nw, 50) AS DOUBLE)/50.0 + CAST(nd AS DOUBLE)/CAST(nw AS DOUBLE)
         |          + 1.0 - CAST(mf AS DOUBLE)/CAST(nw AS DOUBLE))/3.0)*1000000.0) AS BIGINT) AS sm
         |      FROM t)
         |SELECT * FROM ($rows) ORDER BY tau_micro""".stripMargin
    }),
    QueryDef("text_stats", (s, d) => TextAnalysis.textStats(s, d), sql(
      """WITH d AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, length(text) AS n_chars_calc, n_chars, len(ws) AS n_words,
        |             list_reduce(list_prepend(0::BIGINT, list_transform(ws, w -> CAST(length(w) AS BIGINT))), (acc,x) -> acc+x) AS sum_word_len,
        |             len(list_filter(ws, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS n_stopwords
        |      FROM d)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars_calc AS BIGINT) AS n_chars_calc,
        |       CAST(n_chars AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words,
        |       CAST(sum_word_len AS BIGINT) AS sum_word_len, CAST(n_stopwords AS BIGINT) AS n_stopwords,
        |       CAST(floor(CAST(n_stopwords AS DOUBLE)/CAST(n_words AS DOUBLE)*1000000.0) AS BIGINT) AS stopword_ratio_micro
        |FROM t ORDER BY doc_id""".stripMargin)),
    QueryDef("text_lang_id", (s, d) => TextAnalysis.langId(s, d), sql(
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, lang,
        |             len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS score_en,
        |             len(list_filter(ws, w -> list_contains(['el','la','de','que'], w))) AS score_es,
        |             len(list_filter(ws, w -> list_contains(['der','die','und','das'], w))) AS score_de,
        |             len(list_filter(ws, w -> list_contains(['le','la','et','les'], w))) AS score_fr,
        |             len(list_filter(ws, w -> list_contains(['的','了','是','在'], w))) AS score_zh
        |      FROM d),
        |g AS (SELECT *, greatest(score_en, score_es, score_de, score_fr, score_zh) AS mx FROM s)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |       CASE WHEN score_en = mx AND mx > 0 THEN 'en'
        |            WHEN score_es = mx AND mx > 0 THEN 'es'
        |            WHEN score_de = mx AND mx > 0 THEN 'de'
        |            WHEN score_fr = mx AND mx > 0 THEN 'fr'
        |            WHEN score_zh = mx AND mx > 0 THEN 'zh'
        |            ELSE 'unk' END AS lang_pred,
        |       CAST(score_en AS BIGINT) AS score_en, CAST(score_es AS BIGINT) AS score_es
        |FROM g ORDER BY doc_id""".stripMargin)),
    // Confusion matrix: the same scoring CTE aggregated to (lang, pred)
    // cells — off-diagonal mass localizes where the heuristic fails.
    QueryDef("text_lang_confusion", (s, d) => TextAnalysis.langConfusion(s, d), sql(
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, lang,
        |             len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS score_en,
        |             len(list_filter(ws, w -> list_contains(['el','la','de','que'], w))) AS score_es,
        |             len(list_filter(ws, w -> list_contains(['der','die','und','das'], w))) AS score_de,
        |             len(list_filter(ws, w -> list_contains(['le','la','et','les'], w))) AS score_fr,
        |             len(list_filter(ws, w -> list_contains(['的','了','是','在'], w))) AS score_zh
        |      FROM d),
        |g AS (SELECT *, greatest(score_en, score_es, score_de, score_fr, score_zh) AS mx FROM s),
        |p AS (SELECT lang,
        |       CASE WHEN score_en = mx AND mx > 0 THEN 'en'
        |            WHEN score_es = mx AND mx > 0 THEN 'es'
        |            WHEN score_de = mx AND mx > 0 THEN 'de'
        |            WHEN score_fr = mx AND mx > 0 THEN 'fr'
        |            WHEN score_zh = mx AND mx > 0 THEN 'zh'
        |            ELSE 'unk' END AS lang_pred
        |      FROM g)
        |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("text_token_count", (s, d) => TextAnalysis.tokenCount(s, d), sql(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("text_fingerprint", (s, d) => TextAnalysis.fingerprint(s, d), sql(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       list_reduce(list_prepend(0::BIGINT, list_transform(range(length(text)),
        |                   i -> CAST(ascii(text[i+1]) AS BIGINT))), (acc,x) -> (acc*31+x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("text_bigram_top", (s, d) => TextAnalysis.bigramTop(s, d), sql(
      """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT unnest(list_transform(range(greatest(len(ws)-1, 0)), i -> ws[i+1] || ' ' || ws[i+2])) AS bigram FROM d)
        |SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),
    QueryDef("text_quality", (s, d) => TextAnalysis.qualityGate(s, d), sql(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, len(ws) AS nw, len(list_distinct(ws)) AS nd,
        |         list_max(list_transform(list_distinct(ws), tk -> len(list_filter(ws, w -> w = tk)))) AS mf
        |      FROM d),
        |s AS (SELECT doc_id, nw, nd, mf,
        |         (CAST(least(nw, 50) AS DOUBLE)/50.0 + CAST(nd AS DOUBLE)/CAST(nw AS DOUBLE)
        |          + 1.0 - CAST(mf AS DOUBLE)/CAST(nw AS DOUBLE))/3.0 AS score
        |      FROM t)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(nw AS BIGINT) AS n_words,
        |       CAST(nd AS BIGINT) AS n_distinct, CAST(mf AS BIGINT) AS max_tok,
        |       CAST(floor(score*1000000.0) AS BIGINT) AS score_micro
        |FROM s WHERE score >= 0.75 ORDER BY doc_id""".stripMargin)),
    QueryDef("text_tfidf", (s, d) => TextAnalysis.tfIdf(s, d), sql(
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT doc_id, tf.term, tf, df, CAST(tf * 1000000 * n_docs // df AS BIGINT) AS score
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 AND doc_id % 20 = 0 ORDER BY doc_id, rank""".stripMargin),
      cross("1-row scalar totals cross")),
    // Gopher/C4 decontamination: 4-gram overlap vs the doc_id%97 eval set.
    QueryDef("text_decontaminate", (s, d) => TextAnalysis.decontaminate(s, d), sql(
      """WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(greatest(len(ws)-3, 0)),
        |             i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]))) AS gram
        |           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        |SELECT CAST(g.doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |FROM g JOIN e USING (gram) WHERE g.doc_id % 97 <> 0
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // Unigram-LM commonness (perplexity-proxy): per-token (c*1e6) DIV total
    // micros, integer mean per doc — identical BIGINT folds on both engines.
    QueryDef("text_commonness", (s, d) => TextAnalysis.commonness(s, d), sql(
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
        |s AS (SELECT doc_id, count(*) AS n_tokens, sum(c.c * 1000000 // n.total) AS sm
        |      FROM t JOIN c USING (w) CROSS JOIN n GROUP BY 1)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(sm // n_tokens AS BIGINT) AS common_micro
        |FROM s ORDER BY doc_id""".stripMargin), cross("1-row scalar totals cross")),
    // Conditional bigram LM with add-one smoothing, integer micros — same
    // BIGINT folds as text_commonness so both engines agree bit-for-bit.
    QueryDef("text_lm_score", (s, d) => TextAnalysis.lmScore(s, d), sql(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(greatest(len(ws)-1, 0)),
        |        i -> ws[i+1] || ' ' || ws[i+2])) AS bg FROM w),
        |bc AS (SELECT bg, CAST(count(*) AS BIGINT) AS cab FROM b GROUP BY 1),
        |pc AS (SELECT split_part(bg, ' ', 1) AS pfx, CAST(count(*) AS BIGINT) AS ca
        |       FROM b GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT t.w) AS BIGINT) AS v
        |      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t),
        |s AS (SELECT doc_id, (cab + 1) * 1000000 // (ca + v) AS m
        |      FROM b JOIN bc ON b.bg = bc.bg
        |      JOIN pc ON split_part(b.bg, ' ', 1) = pc.pfx
        |      CROSS JOIN v)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(m) // count(*) AS BIGINT) AS lm_micro
        |FROM s GROUP BY 1 ORDER BY doc_id""".stripMargin), cross("1-row scalar totals cross")),
    QueryDef("text_redact", (s, d) => TextAnalysis.redactQuery(s), sql(
      """WITH p AS (SELECT i, printf('%d 192.168.1.%d TCP packet %d', i, i % 256, i*10) AS t
        |           FROM range(500) t(i))
        |SELECT CAST(i AS BIGINT) AS frame_number,
        |       regexp_replace(regexp_replace(regexp_replace(t,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |         '\b\d{4,}\b', '<NUM>', 'g') AS redacted,
        |       CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
        |       CAST(len(regexp_extract_all(t, '\b\d{4,}\b')) AS BIGINT) AS n_nums,
        |       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails
        |FROM p ORDER BY frame_number""".stripMargin)),
    // Gopher repetition signals: dup-word fraction + top-bigram fraction as
    // integer micros. The oracle computes the bigram mode the relational way
    // (unnest + group + max) — same value as the Spark side's sorted-run fold.
    QueryDef("text_repetition", (s, d) => TextAnalysis.repetitionSignals(s, d), sql(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |        CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
        |        list_transform(range(greatest(len(ws)-1, 0)), i -> ws[i+1] || ' ' || ws[i+2]) AS bs
        |      FROM w),
        |m AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n
        |      FROM (SELECT doc_id, bg, count(*) AS c
        |            FROM (SELECT doc_id, unnest(bs) AS bg FROM b) GROUP BY 1, 2)
        |      GROUP BY 1)
        |SELECT CAST(b.doc_id AS BIGINT) AS doc_id, n_words, n_distinct,
        |       CAST((n_words - n_distinct) * 1000000 // n_words AS BIGINT) AS dup_word_micro,
        |       CAST(len(bs) AS BIGINT) AS n_bigrams,
        |       CAST(COALESCE(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |       CAST(CASE WHEN len(bs) > 0 THEN top_bigram_n * 1000000 // len(bs) ELSE 0 END AS BIGINT) AS top_bigram_micro
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id ORDER BY doc_id""".stripMargin)),
    // Tokenizer-prep vocabulary census: top-N words, mass share + running
    // coverage in integer micros; windows run over the limited N rows only.
    QueryDef("text_vocab", (s, d) => TextAnalysis.vocabReport(s, d), sql(
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
        |top AS (SELECT word, n, total FROM c CROSS JOIN n ORDER BY n DESC, word LIMIT 50),
        |r AS (SELECT word, n, n * 1000000 // total AS share_micro,
        |        CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rank
        |      FROM top)
        |SELECT rank, word, n, CAST(share_micro AS BIGINT) AS share_micro,
        |       CAST(sum(share_micro) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_share_micro
        |FROM r ORDER BY rank""".stripMargin), cross("1-row vocab-size scalar cross")),
    // BPE trainer replay: unrolled merge rounds over the bounded word-type
    // table; greedy non-overlap via the gaps-and-islands parity rule.
    QueryDef("text_bpe_merges", (s, d) => TextAnalysis.bpeMerges(s, d), sql(bpeSql())),
    // Unigram-LM trainer: 3 unrolled EM rounds, forward DP + backward walk
    // per round as recursive CTEs under the exact integer objective.
    QueryDef("text_unigram_lm", (s, d) => TextAnalysis.unigramLm(s, d), sql(unigramLmSql())),
    // BPE apply replay: the learned pair sequence re-applied to the full
    // type table, token counts joined back per doc.
    QueryDef("text_bpe_encode", (s, d) => TextAnalysis.bpeEncode(s, d), sql(bpeEncodeSql())),
    // Sliding-window chunking: starts = range(0, n, stride) (same set as
    // Spark's sequence(0, n-1, stride)); DuckDB list_slice is inclusive-end.
    QueryDef("text_chunk", (s, d) => TextAnalysis.chunk(s, d), sql(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1), 30)) AS st FROM w)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(st // 30 AS BIGINT) AS chunk_idx,
        |       CAST(len(list_slice(ws, st + 1, st + 40)) AS BIGINT) AS n_words,
        |       array_to_string(list_slice(ws, st + 1, st + 40), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),
    // Okapi BM25 (k1 = 1, b = 0.75, linear idf): every constant is exactly
    // representable and every op is IEEE +*/ in mirrored order, so the
    // doubles replay bit-identically; per-term micros sum as BIGINT.
    QueryDef("text_bm25", (s, d) => TextAnalysis.bm25(s, d), sql(
      s"""WITH $bm25CtesSql
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, score_micro, n_terms,
         |       CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
         |FROM bm25agg ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin),
      cross("1-row avgdl scalar cross")),
    // Positional phrase search: per-term posting-list legs, anchor-aligned
    // equi-join — replayed with the same shifted-position join.
    QueryDef("text_phrase_search", (s, d) => TextAnalysis.phraseSearch(s, d), sql(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, pos, ws[pos + 1] AS w
        |      FROM (SELECT doc_id, unnest(range(len(ws))) AS pos, ws FROM d)),
        |l0 AS (SELECT doc_id, pos AS p0 FROM t WHERE w = 'table'),
        |l1 AS (SELECT doc_id, pos - 1 AS p0 FROM t WHERE w = 'value')
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |       CAST(min(p0) AS BIGINT) AS first_pos
        |FROM l0 JOIN l1 USING (doc_id, p0)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("pipeline_clean_corpus", (s, d) => TextAnalysis.cleanCorpus(s, d),
      sql((cleanCorpusSql + "\nORDER BY doc_id"))),
    // Composite curation: quality gate -> exact dedup keep-first ->
    // per-source cap -> manifest, replayed stage by stage.
    QueryDef("pipeline_curate", (s, d) => TextAnalysis.curatePipeline(s, d), sql(
      """WITH d AS (SELECT doc_id, text, lang, source, string_split(text, ' ') AS ws FROM documents),
        |q AS (SELECT doc_id, text, lang, source, len(ws) AS n_words,
        |             len(list_filter(ws, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS n_stop
        |      FROM d),
        |f AS (SELECT * FROM q WHERE n_words >= 5 AND CAST(n_stop AS DOUBLE)/CAST(n_words AS DOUBLE) < 0.5),
        |s AS (SELECT text, min(doc_id) AS doc_id FROM f GROUP BY text),
        |sv AS (SELECT f.doc_id, f.lang, f.source, f.n_words FROM f JOIN s ON f.doc_id = s.doc_id),
        |c AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM sv)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens
        |FROM c WHERE rn <= 15 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("pipeline_corpus_stats", (s, d) => TextAnalysis.corpusStats(s, d), sql(
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_words
         |FROM ($cleanCorpusSql) GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Collocation lift: integer micro ratio widened to HUGEINT (the
    // corpus_budget overflow precedent), rank-equivalent to PMI.
    QueryDef("text_phrase_lift", (s, d) => TextAnalysis.phraseLift(s, d), sql(
      """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(ws) AS w FROM d) GROUP BY 1),
        |n AS (SELECT sum(c) AS n_words FROM uni),
        |bi AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_ab FROM (
        |         SELECT unnest(list_transform(range(greatest(len(ws)-1, 0)),
        |                  i -> ws[i+1] || ' ' || ws[i+2])) AS bigram FROM d)
        |       GROUP BY 1 HAVING count(*) >= 5)
        |SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
        |       CAST((CAST(c_ab AS HUGEINT) * n.n_words * 1000000) // (ua.c * ub.c) AS BIGINT) AS lift_micro
        |FROM bi
        |JOIN uni ua ON ua.w = string_split(bigram, ' ')[1]
        |JOIN uni ub ON ub.w = string_split(bigram, ' ')[2]
        |CROSS JOIN n
        |ORDER BY lift_micro DESC, bigram LIMIT 50""".stripMargin),
      cross("1-row broadcast n_words scalar cross")),
    // RAKE keyphrases: stopword gaps-and-islands candidates, integer
    // degree/frequency word scores summed per phrase.
    QueryDef("text_keyphrases", (s, d) => TextAnalysis.keyphrases(s, d), sql(
      """WITH toks AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        |              FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |t2 AS (SELECT doc_id, pos, w,
        |              (w IN ('the','a','of','and','to','in','is') OR w = '') AS is_stop FROM toks),
        |runs AS (SELECT doc_id, pos, w, is_stop,
        |           sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |         FROM t2),
        |cand AS (SELECT doc_id, grp, pos, w FROM runs WHERE NOT is_stop),
        |phrases AS (SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
        |                   CAST(count(*) AS BIGINT) AS plen
        |            FROM cand GROUP BY 1, 2),
        |wl AS (SELECT c.doc_id, c.grp, c.w, p.plen FROM cand c JOIN phrases p USING (doc_id, grp)),
        |wstats AS (SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen) AS BIGINT) AS degree
        |           FROM wl GROUP BY 1),
        |wscore AS (SELECT w, degree * 1000000 // freq AS word_score FROM wstats),
        |sc AS (SELECT wl.doc_id, wl.grp, CAST(sum(word_score) AS BIGINT) AS score_micro
        |       FROM wl JOIN wscore USING (w) GROUP BY 1, 2)
        |SELECT p.phrase, CAST(max(p.plen) AS BIGINT) AS n_words,
        |       CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(max(sc.score_micro) AS BIGINT) AS score_micro
        |FROM phrases p JOIN sc USING (doc_id, grp)
        |GROUP BY 1 ORDER BY score_micro DESC, phrase LIMIT 25""".stripMargin)),
    // Heaps'-law curve: cumulative vocabulary vs token mass at nested
    // hash-bucket fractions; a word counts at its min (first) bucket.
    QueryDef("text_heaps_curve", (s, d) => TextAnalysis.heapsCurve(s, d), sql(
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |bkt AS (SELECT word,
        |          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':heaps'), 1, 6) AS BIGINT) % 4 AS b
        |        FROM t),
        |fs AS (SELECT minb AS b, CAST(count(*) AS BIGINT) AS new_words
        |       FROM (SELECT word, min(b) AS minb FROM bkt GROUP BY 1) GROUP BY 1),
        |tk AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens FROM bkt GROUP BY 1)
        |SELECT CAST(tk.b AS BIGINT) AS fraction_bucket,
        |       CAST(sum(tk.n_tokens) OVER (ORDER BY tk.b) AS BIGINT) AS cum_tokens,
        |       CAST(sum(coalesce(fs.new_words, 0)) OVER (ORDER BY tk.b) AS BIGINT) AS cum_vocab
        |FROM tk LEFT JOIN fs USING (b) ORDER BY 1""".stripMargin)),
    QueryDef("sample_split", (s, d) => Sampling.trainTestSplit(s, d), sql(
      """WITH h AS (SELECT doc_id,
        |             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 100 AS bucket
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(bucket AS BIGINT) AS bucket,
        |       CASE WHEN bucket < 80 THEN 'train' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin)),
    // Contamination-safe split: the bucket hash runs over the CONTENT key
    // (md5 of text), so verbatim copies always land in one split.
    QueryDef("sample_split_grouped", (s, d) => Sampling.groupedSplit(s, d), sql(
      """WITH h AS (SELECT doc_id,
        |             CAST('0x' || substr(md5(md5(text) || ':gsplit'), 1, 6) AS BIGINT) % 100 AS bucket
        |           FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(bucket AS BIGINT) AS bucket,
        |       CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin)),
    // Cluster-aware split: same recursive-CTE components as dedup_clusters,
    // split hash over the component representative (singletons = self).
    QueryDef("sample_split_cluster", (s, d) => Sampling.clusterSplit(s, d), sql(
      s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($ngramJaccardSql)),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
         |cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
         |lab AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
         |h AS (SELECT doc_id, cluster_id,
         |        CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || ':csplit'), 1, 6) AS BIGINT) % 100 AS bucket
         |      FROM lab)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
         |       CAST(bucket AS BIGINT) AS bucket,
         |       CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin)),
    // Global token offsets: the oracle runs the NAIVE single-window global
    // prefix sum; Spark computes the same numbers as a two-phase per-shard
    // prefix sum (no global sort) — the hash equality is the proof.
    QueryDef("corpus_offsets", (s, d) => Sampling.globalOffsets(s, d), sql(
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |             md5(CAST(doc_id AS VARCHAR) || ':ep1') AS ord
        |           FROM documents),
        |s AS (SELECT *, CAST(((strpos('0123456789abcdef', substr(ord, 1, 1)) - 1) * 16 +
        |                      strpos('0123456789abcdef', substr(ord, 2, 1)) - 1) % 8 AS BIGINT) AS shard
        |      FROM d)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, shard, n_tokens,
        |       CAST(sum(n_tokens) OVER (ORDER BY shard, ord, doc_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            - n_tokens AS BIGINT) AS start_offset
        |FROM s ORDER BY start_offset""".stripMargin)),
    QueryDef("sample_uniform", (s, d) => Sampling.uniformSample(s, d), sql(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
        |FROM documents ORDER BY h8, doc_id LIMIT 50""".stripMargin)),
    QueryDef("sample_stratified", (s, d) => Sampling.stratifiedSample(s, d), sql(
      """WITH d AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM d)
        |SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin)),
    QueryDef("sample_domain_cap", (s, d) => Sampling.domainCap(s, d), sql(
      """WITH r AS (SELECT source, doc_id, n_chars,
        |             row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |           FROM documents)
        |SELECT source, CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin)),
    // Language-mix resampling: per-language quota fill in salted-hash order.
    QueryDef("sample_mix", (s, d) => Sampling.mixSample(s, d), sql(
      """WITH d AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR) || ':mix') AS h FROM documents),
        |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn FROM d)
        |SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 40 WHEN 'de' THEN 30
        |                             WHEN 'fr' THEN 20 WHEN 'zh' THEN 10 ELSE 0 END
        |ORDER BY lang, rn""".stripMargin)),
    // Quality-tier quota sample: same score CTE as text_quality, fixed
    // micro-threshold tiers (map-side, no global ntile), salted-hash fill.
    QueryDef("sample_quality_tiers", (s, d) => Sampling.qualityTierSample(s, d), sql(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, len(ws) AS nw, len(list_distinct(ws)) AS nd,
        |         list_max(list_transform(list_distinct(ws), tk -> len(list_filter(ws, w -> w = tk)))) AS mf
        |      FROM d),
        |s AS (SELECT doc_id,
        |         CAST(floor((CAST(least(nw, 50) AS DOUBLE)/50.0 + CAST(nd AS DOUBLE)/CAST(nw AS DOUBLE)
        |              + 1.0 - CAST(mf AS DOUBLE)/CAST(nw AS DOUBLE))/3.0*1000000.0) AS BIGINT) AS score_micro
        |      FROM t),
        |b AS (SELECT doc_id, score_micro, least(score_micro // 250000, 3) AS tier,
        |             md5(CAST(doc_id AS VARCHAR) || ':qtier') AS h
        |      FROM s),
        |r AS (SELECT tier, doc_id, score_micro,
        |             row_number() OVER (PARTITION BY tier ORDER BY h, doc_id) AS rn
        |      FROM b)
        |SELECT CAST(tier AS BIGINT) AS tier, CAST(doc_id AS BIGINT) AS doc_id,
        |       score_micro, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 50 ORDER BY tier, rn""".stripMargin)),
    QueryDef("corpus_pack", (s, d) => Sampling.packSequences(s, d), sql(
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |             md5(CAST(doc_id AS VARCHAR) || ':pack') AS ord
        |           FROM documents),
        |s AS (SELECT *, CAST(strpos('0123456789abcdef', substr(ord, 1, 1)) - 1 AS BIGINT) AS shard FROM d),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM s)
        |SELECT shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // Seeded epoch shuffle: md5(doc_id || ':ep1') order, first-byte shard,
    // dense within-shard positions — replayed verbatim.
    QueryDef("corpus_shuffle", (s, d) => Sampling.epochShuffle(s, d), sql(
      """WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':ep1') AS ord FROM documents),
        |s AS (SELECT doc_id, ord,
        |         CAST(((strpos('0123456789abcdef', substr(ord, 1, 1)) - 1) * 16 +
        |               strpos('0123456789abcdef', substr(ord, 2, 1)) - 1) % 8 AS BIGINT) AS shard
        |      FROM d)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin)),
    QueryDef("corpus_budget_plan", (s, d) => Sampling.budgetPlan(s, d), sql(
      """WITH m AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS mass FROM documents GROUP BY 1),
        |t AS (SELECT *, sum(mass) OVER () AS total FROM m),
        |b AS (SELECT *, (CAST(1000000 AS HUGEINT) * mass) // total AS base, (CAST(1000000 AS HUGEINT) * mass) % total AS rem FROM t),
        |l AS (SELECT *, 1000000 - sum(base) OVER () AS leftover,
        |             row_number() OVER (ORDER BY rem DESC, lang) AS rr FROM b)
        |SELECT lang, mass, CAST(base AS BIGINT) AS base,
        |       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM l ORDER BY lang""".stripMargin)),
    // DSIR importance selection: identical hashed-unigram bucket (md5 hex
    // prefix mod 1024), identical Laplace-smoothed log-ratio model, top-100
    // by weight — the float weight stays internal to the ORDER BY; only
    // integer columns are emitted (see Sampling.dsirSelect's contract).
    QueryDef("sample_dsir", (s, d) => Sampling.dsirSelect(s, d), sql(
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |tk AS (SELECT doc_id, lang, CAST('0x' || substr(md5(w), 1, 6) AS BIGINT) % 1024 AS b
        |       FROM t WHERE length(w) > 0),
        |dc AS (SELECT doc_id, lang, b, count(*) AS c FROM tk GROUP BY 1, 2, 3),
        |cnt AS (SELECT b, sum(c) AS cr,
        |          sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS ct
        |        FROM dc GROUP BY b),
        |llr AS (SELECT b,
        |          ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 1024 AS DOUBLE)) -
        |          ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 1024 AS DOUBLE)) AS llr
        |        FROM (SELECT *, sum(cr) OVER () AS nr, sum(ct) OVER () AS nt FROM cnt)),
        |sc AS (SELECT dc.doc_id, dc.lang, sum(dc.c) AS n_tokens,
        |         sum(CAST(dc.c AS DOUBLE) * llr.llr) AS weight
        |       FROM dc JOIN llr USING (b) GROUP BY dc.doc_id, dc.lang),
        |sel AS (SELECT doc_id, lang, n_tokens FROM sc ORDER BY weight DESC, doc_id LIMIT 100)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM sel ORDER BY doc_id""".stripMargin)),
    // Efraimidis-Spirakis weighted sample: identical hash-uniform draw and
    // ln(u)/w priority key; only the selected integer id set is emitted.
    QueryDef("sample_weighted", (s, d) => Sampling.weightedSample(s, d), sql(
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |             ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) + 1.0)
        |                / 16777216.0) / CAST(n_chars AS DOUBLE) AS k
        |           FROM documents),
        |sel AS (SELECT doc_id, lang, n_chars FROM d ORDER BY k DESC, doc_id LIMIT 100)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM sel ORDER BY doc_id""".stripMargin)),
    // Hamilton apportionment: floor shares + largest-remainder top-up so
    // integer allocations sum exactly to the budget; all-integer replay.
    // budget*mass widened to HUGEINT (128-bit, = the Scala DECIMAL(38,0)
    // path) so the product can't overflow BIGINT at 100 TB-scale masses.
    // Neyman allocation: exact-decimal power sums → one IEEE sqrt per
    // stratum → the same all-integer Hamilton tail as corpus_budget_plan.
    QueryDef("sample_neyman", (s, d) => Sampling.neymanPlan(s, d), sql(
      """WITH s AS (SELECT lang, count(*) AS n, sum(CAST(n_chars AS HUGEINT)) AS s1,
        |                  sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2
        |           FROM documents GROUP BY 1),
        |w AS (SELECT lang, n, CAST(floor(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS share FROM s),
        |t AS (SELECT *, sum(share) OVER () AS total FROM w),
        |b AS (SELECT *, (CAST(10000 AS HUGEINT) * share) // total AS base,
        |             (CAST(10000 AS HUGEINT) * share) % total AS rem FROM t),
        |l AS (SELECT *, 10000 - sum(base) OVER () AS leftover,
        |             row_number() OVER (ORDER BY rem DESC, lang) AS rr FROM b)
        |SELECT lang, CAST(n AS BIGINT) AS n, share AS neyman_w,
        |       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM l ORDER BY lang""".stripMargin)),
    // Temperature mixing plan (alpha = 1/2): integer shares floor(1e6*sqrt(mass))
    // -- sqrt is correctly rounded per IEEE 754, so both engines agree exactly;
    // Hamilton tail identical to corpus_budget_plan (same HUGEINT widening:
    // share ~ 1e6*sqrt(mass) makes the BIGINT product overflow even sooner).
    QueryDef("corpus_budget_temperature", (s, d) => Sampling.temperaturePlan(s, d), sql(
      """WITH m AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS mass FROM documents GROUP BY 1),
        |s AS (SELECT lang, mass, CAST(floor(sqrt(CAST(mass AS DOUBLE)) * 1000000.0) AS BIGINT) AS share FROM m),
        |t AS (SELECT *, sum(share) OVER () AS total FROM s),
        |b AS (SELECT *, (CAST(1000000 AS HUGEINT) * share) // total AS base, (CAST(1000000 AS HUGEINT) * share) % total AS rem FROM t),
        |l AS (SELECT *, 1000000 - sum(base) OVER () AS leftover,
        |             row_number() OVER (ORDER BY rem DESC, lang) AS rr FROM b)
        |SELECT lang, mass, CAST(share AS BIGINT) AS share, CAST(base AS BIGINT) AS base,
        |       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM l ORDER BY lang""".stripMargin)),
    QueryDef("embed_docs", (s, d) => EmbedQueries.embedDocs(s, d),
      noOracle("the hashing featurizer is not SQL; FeaturizerSpec pins norm, determinism and batch shape")),
    QueryDef("embed_dim_stats", (s, d) => EmbedQueries.dimStats(s, d), sql(
      """WITH x AS (SELECT embedding, unnest(range(len(embedding))) AS i FROM embeddings),
        |v AS (SELECT CAST(i AS BIGINT) AS dim,
        |             CAST(floor(CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE)*1000000.0) AS BIGINT) AS vm
        |      FROM x)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(vm) AS BIGINT) AS sum_micro,
        |       min(vm) AS min_micro, max(vm) AS max_micro
        |FROM v GROUP BY dim ORDER BY dim""".stripMargin)),
    // Upper-triangle Gram matrix: per-term micro floors BEFORE the sum
    // (the dim-stats rule), so the reduction is pure BIGINT.
    QueryDef("embed_gram", (s, d) => EmbedQueries.gramMatrix(s, d), sql(
      """SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(floor(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
        |                           * CAST(embedding[CAST(j + 1 AS INTEGER)] AS DOUBLE)
        |                           * 1000000.0) AS BIGINT)) AS BIGINT) AS gram_sum_micro
        |FROM embeddings CROSS JOIN range(0, 16) ti(i) CROSS JOIN range(0, 16) tj(j)
        |WHERE i <= j GROUP BY i, j ORDER BY i, j""".stripMargin)),
    // Power iteration on the micro-integer Gram matrix, 5 rounds unrolled
    // (the pagerank trick): matvec sums are exact BIGINT, re-quantization
    // is max-norm FLOOR division built from truncating ops —
    // (u − pmod(u, d)) is an exact multiple of d, so `//`/DIV agree at
    // every sign and the replay is bit-identical.
    QueryDef("embed_top_eigen", (s, d) => EmbedQueries.topEigen(s, d), sql(topEigenSql()),
      cross("1-row max-norm / λ / trace scalar crosses per round")),
    QueryDef("media_meta", (s, d) => Multimodal.mediaMeta(s, d), sql(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |       CAST(ascii(text) AS BIGINT) AS first_cp
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("media_decode", (s, d) => EmbedQueries.mediaDecode(s, d),
      noOracle("the decode stub is a UDF over binary payloads; OperatorSpec checks its metadata contract")),
    // Real-codec round-trip: the Spark side PNG-encodes an image with these
    // formula dimensions, decodes it with javax.imageio, resizes to 12x9 and
    // decodes again — the oracle replays the formulas arithmetically, so a
    // hash match proves a real encoder+decoder ran on every row.
    QueryDef("media_decode_real", (s, d) => Multimodal.realDecodeQuery(s, d), sql(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(8 + doc_id % 16 AS BIGINT) AS width,
        |       CAST(8 + doc_id % 7 AS BIGINT) AS height,
        |       'png' AS format,
        |       CAST(12 AS BIGINT) AS rs_width, CAST(9 AS BIGINT) AS rs_height
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // Perceptual hash: the dHash bit rule is the SAME generated SQL on
    // both engines, evaluated over the exported grays artifact — only the
    // decode+block-average step (non-SQL by nature) is trusted to the
    // export, and even that is bit-deterministic integer arithmetic.
    QueryDef("media_phash", (s, d) => Multimodal.phashQuery(s, d), sql {
      val lo = graft.operators.Multimodal.dhashSql("grays", 0, base = 1)
      val hi = graft.operators.Multimodal.dhashSql("grays", 1, base = 1)
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST($lo AS BIGINT) AS phash_lo,
         |       CAST($hi AS BIGINT) AS phash_hi,
         |       CAST(bit_count(CAST($lo AS BIGINT)) + bit_count(CAST($hi AS BIGINT)) AS BIGINT) AS n_ones
         |FROM read_parquet('${graft.operators.Multimodal.graysPath(oracleSfDir)}/grays/*.parquet')
         |ORDER BY doc_id""".stripMargin
    }),
    // Multi-index Hamming pairs with the AUTO-SCALED band layout. The
    // pair SET is layout-independent (every feasible layout is complete
    // for the tau cut by pigeonhole), so the oracle replays it with the
    // fixed 8-byte-band layout; the LAYOUT DECISION is replayed from the
    // same measured statistics (corpus size + per-width collision mass,
    // all integer) and attached as the audit columns — the hash match
    // proves both the pairs and that the engine chose the cost argmin.
    QueryDef("media_phash_pairs", (s, d) => Multimodal.phashPairsQuery(s, d), sql {
      val lo = graft.operators.Multimodal.dhashSql("grays", 0, base = 1)
      val hi = graft.operators.Multimodal.dhashSql("grays", 1, base = 1)
      // probes/band per width for the default tau=7 — layout constants,
      // computed by the same combinatorics the engine uses. Emitted from
      // the FEASIBILITY-FILTERED set (probesPerBand ≤ 2²⁰, the same cut
      // chooseHammingLayout applies) so the oracle's argmin draws from
      // structurally the same candidates as the engine's at any tau
      // (ADVICE r12 — at tau=7 all of {8,16,32} happen to be feasible).
      val feas = graft.operators.Multimodal.feasibleWidths(7)
      val pCase = feas.map { w =>
        val p = graft.operators.Multimodal.probeBitsFor(w, 7)
        s"WHEN $w THEN ${graft.operators.Multimodal.probesPerBand(w, p)}"
      }.mkString(" ")
      val pbCase = feas.map { w =>
        s"WHEN $w THEN ${graft.operators.Multimodal.probeBitsFor(w, 7)}"
      }.mkString(" ")
      val feasIn = feas.mkString(", ")
      s"""WITH h AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |                  CAST($lo AS BIGINT) AS lo, CAST($hi AS BIGINT) AS hi
         |           FROM read_parquet('${graft.operators.Multimodal.graysPath(oracleSfDir)}/grays/*.parquet')),
         |b AS (SELECT doc_id, i,
         |             CASE WHEN i < 4 THEN (lo >> (8 * i)) & 255
         |                  ELSE (hi >> (8 * (i - 4))) & 255 END AS bv
         |      FROM h CROSS JOIN (SELECT unnest(range(8)) AS i)),
         |allb AS (SELECT 8 AS w, i,
         |                CASE WHEN i < 4 THEN (lo >> (8 * i)) & 255
         |                     ELSE (hi >> (8 * (i - 4))) & 255 END AS bv
         |         FROM h CROSS JOIN (SELECT unnest(range(8)) AS i)
         |         UNION ALL
         |         SELECT 16, i,
         |                CASE WHEN i < 2 THEN (lo >> (16 * i)) & 65535
         |                     ELSE (hi >> (16 * (i - 2))) & 65535 END
         |         FROM h CROSS JOIN (SELECT unnest(range(4)) AS i)
         |         UNION ALL
         |         SELECT 32, i,
         |                CASE WHEN i = 0 THEN lo & 4294967295 ELSE hi & 4294967295 END
         |         FROM h CROSS JOIN (SELECT unnest(range(2)) AS i)),
         |cm AS (SELECT w, SUM(c * c) AS coll
         |       FROM (SELECT w, i, bv, COUNT(*) AS c FROM allb GROUP BY 1, 2, 3)
         |       GROUP BY w),
         |nn AS (SELECT COUNT(*) AS n FROM h),
         |pick AS (SELECT w, 64 // w AS m, CASE w $pbCase END AS p
         |         FROM (SELECT w,
         |                      n * (64 // w) * (CASE w $pCase END)
         |                        + (CASE w $pCase END) * coll AS cost
         |               FROM cm CROSS JOIN nn
         |               WHERE w IN ($feasIn))
         |         ORDER BY cost, w LIMIT 1),
         |hot AS (SELECT count(*) AS n_hot
         |        FROM (SELECT w, i, bv, COUNT(*) AS c FROM allb GROUP BY 1, 2, 3) g
         |        JOIN pick ON g.w = pick.w
         |        WHERE g.c > ${graft.operators.Multimodal.HotBucketCap}),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |         FROM b a JOIN b b2 ON a.i = b2.i AND a.bv = b2.bv AND a.doc_id < b2.doc_id),
         |v AS (SELECT id_a, id_b,
         |             CAST(bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi)) AS BIGINT) AS hamming
         |      FROM cand JOIN h ha ON ha.doc_id = id_a JOIN h hb ON hb.doc_id = id_b)
         |SELECT id_a, id_b, hamming,
         |       CAST(pick.w AS BIGINT) AS band_w, CAST(pick.m AS BIGINT) AS n_bands,
         |       CAST(pick.p AS BIGINT) AS probe_bits, CAST(nn.n AS BIGINT) AS n_hashes,
         |       CAST(hot.n_hot AS BIGINT) AS n_hot_buckets
         |FROM v CROSS JOIN pick CROSS JOIN nn CROSS JOIN hot WHERE hamming <= 7
         |ORDER BY id_a, id_b""".stripMargin
    }),
    // Cross-modal curation: the md5 MinHash banding (text leg) and the
    // 8-band Hamming replay over the grays export (image leg, within-τ
    // pairs mapped to documents through the variant-offset link,
    // same-document pairs dropped), united by a full-outer flag join.
    QueryDef("dedup_crossmodal", (s, d) => Multimodal.crossModalQuery(s, d), sql {
      val lo = graft.operators.Multimodal.dhashSql("grays", 0, base = 1)
      val hi = graft.operators.Multimodal.dhashSql("grays", 1, base = 1)
      val off = graft.operators.Multimodal.VariantOffset
      s"""WITH $minhashMd5BandCtesSql,
         |tp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |       FROM bands a JOIN bands b
         |         ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |td AS (SELECT DISTINCT doc_id FROM (SELECT id_a AS doc_id FROM tp
         |                                    UNION ALL SELECT id_b FROM tp)),
         |ph AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |              CAST($lo AS BIGINT) AS lo, CAST($hi AS BIGINT) AS hi
         |       FROM read_parquet('${graft.operators.Multimodal.graysPath(oracleSfDir)}/grays/*.parquet')),
         |pb AS (SELECT doc_id, i,
         |              CASE WHEN i < 4 THEN (lo >> (8 * i)) & 255
         |                   ELSE (hi >> (8 * (i - 4))) & 255 END AS bv
         |       FROM ph CROSS JOIN (SELECT unnest(range(8)) AS i)),
         |pc AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
         |       FROM pb a JOIN pb b2 ON a.i = b2.i AND a.bv = b2.bv AND a.doc_id < b2.doc_id),
         |pv AS (SELECT id_a, id_b FROM pc
         |       JOIN ph ha ON ha.doc_id = pc.id_a JOIN ph hb ON hb.doc_id = pc.id_b
         |       WHERE bit_count(xor(ha.lo, hb.lo)) + bit_count(xor(ha.hi, hb.hi)) <= 7),
         |pl AS (SELECT CASE WHEN id_a >= $off THEN id_a - $off ELSE id_a END AS doc_a,
         |              CASE WHEN id_b >= $off THEN id_b - $off ELSE id_b END AS doc_b
         |       FROM pv),
         |idv AS (SELECT DISTINCT doc_id FROM (
         |          SELECT doc_a AS doc_id FROM pl WHERE doc_a <> doc_b
         |          UNION ALL SELECT doc_b FROM pl WHERE doc_a <> doc_b)),
         |fl AS (SELECT coalesce(td.doc_id, idv.doc_id) AS doc_id,
         |              CASE WHEN td.doc_id IS NULL THEN 0 ELSE 1 END AS text_dup,
         |              CASE WHEN idv.doc_id IS NULL THEN 0 ELSE 1 END AS image_dup
         |       FROM td FULL OUTER JOIN idv ON td.doc_id = idv.doc_id)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |       CAST(text_dup AS BIGINT) AS text_dup,
         |       CAST(image_dup AS BIGINT) AS image_dup,
         |       CASE WHEN text_dup = 1 AND image_dup = 1 THEN 'both'
         |            WHEN text_dup = 1 THEN 'text_only'
         |            ELSE 'image_only' END AS curation
         |FROM fl ORDER BY doc_id""".stripMargin
    }),
    QueryDef("media_frames", (s, d) => Multimodal.framesQuery(s, d), sql(
      """WITH b AS (SELECT doc_id, encode(text) AS media FROM documents),
        |f AS (SELECT doc_id, unnest(range(greatest(octet_length(media) // 256 - 1, 0) + 1)) AS frame_no,
        |      media FROM b)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(frame_no AS BIGINT) AS frame_no,
        |       CAST(least(greatest(octet_length(media) - frame_no*256, 0), 64) AS BIGINT) AS frame_len
        |FROM f ORDER BY doc_id, frame_no""".stripMargin)),
    QueryDef("media_resize", (s, d) => Multimodal.resizeQuery(s, d), sql(
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(least(greatest(strlen(text), 1), 64) AS BIGINT) AS resized_len
        |FROM documents ORDER BY doc_id""".stripMargin)),
  )
}
