package graft.queries

import graft.SparkEntry.oracleSfDir

/** SQL pieces the oracle texts share: DuckDB mirrors of the engine's
  * kernels (`dotSql`, `microSql`, `bucketSql`, ...), the exported store
  * paths, and the replay texts that more than one query uses. Every store
  * path is a `def`, so it follows [[graft.SparkEntry.oracleSfDir]] when
  * the text is built.
  */
private[graft] object OracleSql {

  /** Sequential left-fold dot product in DuckDB, mirroring Spark's
    * `aggregate(zip_with(...))` accumulation order exactly (both are
    * element-order left folds in double precision ⇒ bit-identical).
    */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
      s"s -> CAST(s[1] AS DOUBLE)*CAST(s[2] AS DOUBLE))), (acc,x) -> acc+x)"

  def sqDistSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
      s"s -> (CAST(s[1] AS DOUBLE)-CAST(s[2] AS DOUBLE))*(CAST(s[1] AS DOUBLE)-CAST(s[2] AS DOUBLE)))), (acc,x) -> acc+x)"

  /** sqDist where the right side is a stored ARRAY<DOUBLE> centroid that the
    * Spark probe first narrows to float (`graft.sources.IvfProbe`) —
    * mirror the double→float→double round-trip for bit-exactness.
    */
  def sqDistCentroidSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
      s"s -> (CAST(s[1] AS DOUBLE)-CAST(CAST(s[2] AS FLOAT) AS DOUBLE))*(CAST(s[1] AS DOUBLE)-CAST(CAST(s[2] AS FLOAT) AS DOUBLE)))), (acc,x) -> acc+x)"

  /** Where graft.sources.IndexStore persists the IVF index the driver's
    * Verify run builds — the oracle replays the probed search over these
    * exported centroid/assignment artifacts in pure SQL. A `def` (not a
    * `val`): each oracle text re-derives it from `oracleSfDir` on each call.
    */
  def ivfStorePath = graft.sources.IndexStore.defaultPath(oracleSfDir)
  def partStorePath = graft.sources.PartitionedStore.defaultPath(oracleSfDir)

  /** Where graft.sources.PqStore persists the PQ codebooks/codes the
    * Verify run builds — the oracle replays the ADC search over them.
    */
  def pqStorePath = graft.sources.PqStore.defaultPath(oracleSfDir)

  /** Where graft.sources.GraphIndex persists the NN-Descent kNN graph the
    * Verify run builds — the oracle replays the unrolled beam walk over the
    * exported edge list in pure SQL.
    */
  def graphStorePath = graft.sources.GraphIndex.defaultPath(oracleSfDir)

  /** Fixed-hop beam search replayed in SQL over the exported kNN-graph
    * edges — the HNSW-twin `knn_graph` query. Hop h: take the beam best
    * visited per query (window rank over v(h-1)), expand their out-edges,
    * score the destinations (same left-fold dot, same float payloads —
    * the edge list stores the unchanged embedding values), and fold into
    * the visited set with the (qid, vec_id) max-sim dedupe. Entry set,
    * beam, hop count, self-exclusion and tie-breaks mirror
    * GraphIndex.search exactly.
    */
  def graphBeamSearchSql(beam: Int = 32, hops: Int = 4, k: Int = 5,
                                 edgesPath: String = null,
                                 qWhere: String = "vec_id < 5",
                                 finalWhere: String = "",
                                 auditSelect: String = "",
                                 auditFrom: String = "",
                                 entWhere: String = "TRUE"): String = {
    val stride = graft.sources.GraphIndex.entryStride
    val ep = if (edgesPath == null) graphStorePath else edgesPath
    val hopCtes = (1 to hops).map { h =>
      s"""f$h AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS fr FROM v${h - 1})
         |  WHERE fr <= $beam),
         |n$h AS (SELECT f$h.qid, e.dst AS vec_id, ${dotSql("q.qvec", "b.embedding")} AS sim
         |        FROM f$h JOIN e ON e.src = f$h.vec_id
         |        JOIN embeddings b ON b.vec_id = e.dst
         |        JOIN q ON q.qid = f$h.qid),
         |v$h AS (SELECT qid, vec_id, max(sim) AS sim
         |        FROM (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM n$h) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |           FROM read_parquet('$ep/edges/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE $qWhere),
       |ent AS (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % $stride = 0 AND $entWhere),
       |v0 AS (SELECT q.qid, ent.vec_id, ${dotSql("q.qvec", "ent.embedding")} AS sim
       |       FROM q CROSS JOIN ent),
       |$hopCtes
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       |       CAST(rank AS BIGINT) AS rank, ${microSql("sim")} AS sim_micro$auditSelect
       |FROM (SELECT qid, vec_id, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |      FROM v$hops WHERE vec_id <> qid$finalWhere)$auditFrom
       |WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Three-level walk replay for `knn_graph_hier`: v0 is the LEVEL-2 sample
    * cross (every (stride·l1Factor²)-th vec_id — HNSW's top layer), hops
    * 1..l1Hops expand over the exported LEVEL-2 edges (`edges_l2`, the
    * coarse-node graph GraphIndex.ensureLevel derives once per build), the
    * next l1Hops over the LEVEL-1 edges (`edges_l1`, the stride-node
    * graph), and the remaining hops walk the level-0 edges — same window
    * tie-breaks, same max-sim dedupe, so the replay is row-identical to
    * the forced hierarchical DataFrame walk.
    */
  def graphHierSearchSql(beam: Int = 32, hops: Int = 4, k: Int = 5): String = {
    val stride = graft.sources.GraphIndex.entryStride
    val l1Factor = graft.sources.GraphIndex.l1Factor
    val coarseStride = stride.toLong * l1Factor * l1Factor
    val l1Hops = graft.sources.GraphIndex.l1Hops
    val hopCtes = (1 to (2 * l1Hops + hops)).map { h =>
      val edgeCte = if (h <= l1Hops) "el2" else if (h <= 2 * l1Hops) "el" else "e"
      s"""f$h AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS fr FROM v${h - 1})
         |  WHERE fr <= $beam),
         |n$h AS (SELECT f$h.qid, x.dst AS vec_id, ${dotSql("q.qvec", "b.embedding")} AS sim
         |        FROM f$h JOIN $edgeCte x ON x.src = f$h.vec_id
         |        JOIN embeddings b ON b.vec_id = x.dst
         |        JOIN q ON q.qid = f$h.qid),
         |v$h AS (SELECT qid, vec_id, max(sim) AS sim
         |        FROM (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM n$h) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |           FROM read_parquet('$graphStorePath/edges/*.parquet')),
       |el AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |       FROM read_parquet('$graphStorePath/edges_l1/*.parquet')),
       |el2 AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |        FROM read_parquet('$graphStorePath/edges_l2/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $coarseStride = 0),
       |v0 AS (SELECT q.qid, c.vec_id, ${dotSql("q.qvec", "c.embedding")} AS sim
       |       FROM q CROSS JOIN c),
       |$hopCtes
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       |       CAST(rank AS BIGINT) AS rank, ${microSql("sim")} AS sim_micro
       |FROM (SELECT qid, vec_id, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |      FROM v${2 * l1Hops + hops} WHERE vec_id <> qid)
       |WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Recall-vs-beam replay for `graph_recall_curve`: one unrolled walk
    * chain PER beam level over the same exported edges (a narrower beam
    * walks a different frontier — no membership shortcut exists, unlike
    * the IVF cell-rank curve), an exact brute-force leg, and a membership
    * count per level. Every multiply-referenced CTE is MATERIALIZED —
    * DuckDB inlines CTE plans per reference, and 3 beam chains × 4 hops
    * of doubly-referenced visited sets would otherwise re-execute the
    * recursion exponentially (the text_unigram_lm lesson).
    */
  def graphRecallCurveSql(beams: Seq[Int] = Seq(4, 8, 32),
                                  hops: Int = 4, k: Int = 5): String = {
    val unionHits = beams.map(b => s"SELECT * FROM hit_$b").mkString(" UNION ALL ")
    s"""WITH ${graphCurveCtes(beams, hops, k)}
       |SELECT h.beam, h.n_found, ne.n_exact,
       |       CAST(h.n_found * 1000000 // ne.n_exact AS BIGINT) AS recall_micro
       |FROM ($unionHits) h CROSS JOIN ne ORDER BY h.beam""".stripMargin
  }

  /** Self-tuned beam search replay for `graph_autotune`: the curve CTEs,
    * the decision (smallest beam clearing the target, widest as the
    * infeasible fallback — the graph is approximate at any ef), and one
    * more walk chain whose per-hop frontier cut is the DECISION as a
    * scalar subquery, so the replay audits knob derivation AND the
    * search it drives in one statement (the knn_autotune convention).
    */
  def graphAutotuneSql(beams: Seq[Int] = Seq(4, 8, 32),
                               hops: Int = 4, k: Int = 5,
                               targetMicro: Long = 900000L): String = {
    val unionHits = beams.map(b => s"SELECT * FROM hit_$b").mkString(" UNION ALL ")
    val hopCtes = (1 to hops).map { h =>
      s"""f${h}_t AS MATERIALIZED (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS fr FROM v${h - 1}_t)
         |  WHERE fr <= (SELECT chosen FROM pick)),
         |n${h}_t AS (SELECT f.qid, e.dst AS vec_id, ${dotSql("q.qvec", "bb.embedding")} AS sim
         |        FROM f${h}_t f JOIN e ON e.src = f.vec_id
         |        JOIN embeddings bb ON bb.vec_id = e.dst
         |        JOIN q ON q.qid = f.qid),
         |v${h}_t AS MATERIALIZED (SELECT qid, vec_id, max(sim) AS sim
         |        FROM (SELECT * FROM v${h - 1}_t UNION ALL SELECT * FROM n${h}_t) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${graphCurveCtes(beams, hops, k)},
       |curve AS (SELECT h.beam, CAST(h.n_found * 1000000 // ne.n_exact AS BIGINT) AS recall_micro
       |          FROM ($unionHits) h CROSS JOIN ne),
       |pick AS (SELECT COALESCE(
       |           (SELECT min(beam) FROM curve WHERE recall_micro >= $targetMicro),
       |           (SELECT max(beam) FROM curve)) AS chosen),
       |v0_t AS (SELECT * FROM v0),
       |$hopCtes
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       |       CAST(rank AS BIGINT) AS rank, ${microSql("sim")} AS sim_micro,
       |       (SELECT chosen FROM pick) AS beam
       |FROM (SELECT qid, vec_id, sim,
       |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |      FROM v${hops}_t WHERE vec_id <> qid)
       |WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /** Shared WITH-body for the graph curve replays: edges, queries, entry
    * sample, hop-0 scores, the brute-force exact leg, and one unrolled
    * walk chain + membership count PER beam level.
    */
  def graphCurveCtes(beams: Seq[Int], hops: Int, k: Int): String = {
    val stride = graft.sources.GraphIndex.entryStride
    val chains = beams.map { b =>
      val hopCtes = (1 to hops).map { h =>
        s"""f${h}_$b AS MATERIALIZED (SELECT qid, vec_id FROM (
           |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS fr FROM v${h - 1}_$b)
           |  WHERE fr <= $b),
           |n${h}_$b AS (SELECT f.qid, e.dst AS vec_id, ${dotSql("q.qvec", "bb.embedding")} AS sim
           |        FROM f${h}_$b f JOIN e ON e.src = f.vec_id
           |        JOIN embeddings bb ON bb.vec_id = e.dst
           |        JOIN q ON q.qid = f.qid),
           |v${h}_$b AS MATERIALIZED (SELECT qid, vec_id, max(sim) AS sim
           |        FROM (SELECT * FROM v${h - 1}_$b UNION ALL SELECT * FROM n${h}_$b) GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""v0_$b AS (SELECT * FROM v0),
         |$hopCtes,
         |top_$b AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
         |  FROM v${hops}_$b WHERE vec_id <> qid) WHERE rank <= $k),
         |hit_$b AS (SELECT CAST($b AS BIGINT) AS beam, CAST(count(*) AS BIGINT) AS n_found
         |  FROM top_$b t JOIN exact x ON x.qid = t.qid AND x.vec_id = t.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""e AS MATERIALIZED (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |           FROM read_parquet('$graphStorePath/edges/*.parquet')),
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |ent AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $stride = 0),
       |v0 AS MATERIALIZED (SELECT q.qid, ent.vec_id, ${dotSql("q.qvec", "ent.embedding")} AS sim
       |       FROM q CROSS JOIN ent),
       |s AS (SELECT q.qid, b2.vec_id, ${dotSql("q.qvec", "b2.embedding")} AS sim
       |      FROM embeddings b2 CROSS JOIN q WHERE b2.vec_id <> q.qid),
       |exact AS MATERIALIZED (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
       |  WHERE rank <= $k),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
       |$chains""".stripMargin
  }

  /** Where graft.operators.Dedup exports the xxhash64 sketch frames — the
    * oracle replays the banding / Hamming joins over the exports (the
    * sketch construction itself is engine-specific; its correctness is
    * pinned by the md5 twins + specs).
    */
  def sketchStorePath = graft.operators.Dedup.sketchStorePath(oracleSfDir)

  /** dot where the right side is a stored ARRAY<DOUBLE> centroid the Spark
    * plan narrows to float first — mirror the double→float→double round-trip.
    */
  def dotCentroidSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
      s"s -> CAST(s[1] AS DOUBLE)*CAST(CAST(s[2] AS FLOAT) AS DOUBLE))), (acc,x) -> acc+x)"

  def microSql(x: String): String =
    s"CAST(floor(($x)*1000000.0) AS BIGINT)"

  /** Unrolled power-iteration replay for `embed_top_eigen`: the Gram CTE
    * (same arithmetic as the `embed_gram` oracle), symmetrized edges, and
    * `rounds` matvec+renormalize steps in pure integer arithmetic —
    * signed floor division expressed as (u − ((u % d + d) % d)) // d,
    * which equals Spark's (u − pmod(u, d)) DIV d at every sign because
    * the numerator is an exact multiple of d.
    */
  def topEigenSql(dims: Int = 16, rounds: Int = 5): String = {
    val head =
      s"""WITH g AS (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |       CAST(sum(CAST(floor(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)
         |                           * CAST(embedding[CAST(j + 1 AS INTEGER)] AS DOUBLE)
         |                           * 1000000.0) AS BIGINT)) AS BIGINT) AS w
         |     FROM embeddings CROSS JOIN range(0, $dims) ti(i) CROSS JOIN range(0, $dims) tj(j)
         |     WHERE i <= j GROUP BY i, j),
         |e AS (SELECT i, j, w FROM g UNION ALL SELECT j AS i, i AS j, w FROM g WHERE i <> j),
         |v0 AS (SELECT CAST(i AS BIGINT) AS j, CAST(1000 AS BIGINT) AS v FROM range(0, $dims) t(i))""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""u$r AS (SELECT e.i AS i, CAST(sum(e.w * v.v) AS BIGINT) AS u
         |        FROM e JOIN v${r - 1} v ON e.j = v.j GROUP BY e.i),
         |d$r AS (SELECT greatest(CAST(max(abs(u)) AS BIGINT) // 1000, 1) AS d FROM u$r),
         |v$r AS (SELECT u.i AS j, CAST((u - (((u % d) + d) % d)) // d AS BIGINT) AS v
         |        FROM u$r u, d$r)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""uf AS (SELECT e.i AS i, CAST(sum(e.w * v.v) AS BIGINT) AS u
         |       FROM e JOIN v$rounds v ON e.j = v.j GROUP BY e.i),
         |lam AS (SELECT greatest(CAST(max(abs(u)) AS BIGINT) // 1000, 1) AS lambda_micro FROM uf),
         |tr AS (SELECT CAST(sum(w) AS BIGINT) AS trace_micro FROM g WHERE i = j)
         |SELECT v.j AS comp, v.v AS eigvec_milli, lambda_micro, trace_micro,
         |       CAST(lambda_micro * 1000 // trace_micro AS BIGINT) AS top_share_permille
         |FROM v$rounds v, lam, tr ORDER BY comp""".stripMargin
    s"$head,\n$steps,\n$tail"
  }

  /** Greedy MMR (λ = 0.7, k = 5, pool 30) unrolled into 5 CTE argmax steps
    * — the same replay trick that oracle'd the graph beam walk: the pick
    * count is fixed, so "each pick conditions the next" unrolls into a
    * static chain. Step i scores every unpicked pool row as
    * 0.7·rel − (1−0.7)·max(pairwise sim vs picks so far) and takes the
    * argmax (ties → lower vec_id), exactly the mapGroups loop in
    * [[graft.operators.VectorSearch.mmrRerank]]; rel and the pairwise sims
    * are the identical left-fold doubles both engines compute bit-for-bit,
    * and 0.7/(1.0-0.7) parse to the same IEEE doubles in both engines, so
    * every comparison and the floored micro output agree exactly.
    */
  def mmrSql: String = {
    val score = "0.7*rel - (1.0-0.7)*red"
    val steps = (2 to 5).map { i =>
      s"""r$i AS (SELECT c.qid, c.vec_id, c.rel, max(pr.psim) AS red
         |      FROM pool c JOIN pairs pr ON pr.qid = c.qid AND pr.v1 = c.vec_id
         |      JOIN k${i - 1} kk ON kk.qid = pr.qid AND kk.vec_id = pr.v2
         |      WHERE NOT EXISTS (SELECT 1 FROM k${i - 1} x WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
         |      GROUP BY 1, 2, 3),
         |p$i AS (SELECT qid, vec_id, score FROM (
         |      SELECT qid, vec_id, $score AS score,
         |             row_number() OVER (PARTITION BY qid ORDER BY $score DESC, vec_id) AS rn FROM r$i)
         |      WHERE rn = 1),
         |k$i AS (SELECT * FROM k${i - 1} UNION ALL SELECT qid, vec_id FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
       |s AS (SELECT q.qid, e.vec_id, e.embedding, ${dotSql("q.qvec", "e.embedding")} AS rel
       |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
       |pool AS (SELECT qid, vec_id, embedding, rel FROM (
       |      SELECT qid, vec_id, embedding, rel,
       |             row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS pr FROM s)
       |      WHERE pr <= 30),
       |pairs AS (SELECT a.qid, a.vec_id AS v1, b.vec_id AS v2, ${dotSql("a.embedding", "b.embedding")} AS psim
       |      FROM pool a JOIN pool b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
       |p1 AS (SELECT qid, vec_id, 0.7*rel AS score FROM (
       |      SELECT qid, vec_id, rel, row_number() OVER (PARTITION BY qid ORDER BY 0.7*rel DESC, vec_id) AS rn FROM pool)
       |      WHERE rn = 1),
       |k1 AS (SELECT qid, vec_id FROM p1),
       |$steps,
       |allp AS (SELECT qid, vec_id, 1 AS rank, score FROM p1
       |  UNION ALL SELECT qid, vec_id, 2, score FROM p2
       |  UNION ALL SELECT qid, vec_id, 3, score FROM p3
       |  UNION ALL SELECT qid, vec_id, 4, score FROM p4
       |  UNION ALL SELECT qid, vec_id, 5, score FROM p5)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id,
       |       CAST(rank AS BIGINT) AS rank, ${microSql("score")} AS mmr_micro
       |FROM allp ORDER BY qid, rank""".stripMargin
  }

  /** Unrolled BPE merge-round replay (TextAnalysis.bpeMerges): each round
    * is a CTE block — pair count over the current segmentation, 1-row
    * lexicographic argmax, gaps-and-islands parity selection (greedy
    * non-overlapping left-to-right merge), re-segment + renumber. All
    * integer arithmetic and string equality, so the hash is exact.
    */
  def bpeSelResegSql(prevSeg: String, best: String, sel: String,
                             seg: String): String =
    s"""$sel AS (SELECT *, is_cand AND
       |        (row_number() OVER (PARTITION BY word, is_cand, grp ORDER BY pos) - 1) % 2 = 0 AS selected
       |      FROM (SELECT *, pos - row_number() OVER (PARTITION BY word, is_cand ORDER BY pos) AS grp
       |            FROM (SELECT x.*, b.left_sym, b.right_sym,
       |                         (nxt IS NOT NULL AND sym = b.left_sym AND nxt = b.right_sym) AS is_cand
       |                  FROM (SELECT word, n, pos, sym,
       |                               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |                        FROM $prevSeg) x CROSS JOIN $best b))),
       |$seg AS (SELECT word, n,
       |        CAST(row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS BIGINT) AS pos,
       |        CASE WHEN selected THEN left_sym || right_sym ELSE sym END AS sym
       |      FROM (SELECT *, COALESCE(lag(selected) OVER (PARTITION BY word ORDER BY pos), false) AS consumed
       |            FROM $sel)
       |      WHERE NOT consumed)""".stripMargin

  /** Shared train-side CTEs: corpus word count, bounded type table,
    * char segmentation, and per-round (best, sel, seg) chain.
    */
  def bpeTrainCtes(rounds: Int, topWords: Int): String = {
    val blocks = (1 to rounds).map { r =>
      s"""best$r AS (SELECT sym AS left_sym, nxt AS right_sym,
         |        CAST(sum(n) AS BIGINT) AS pair_count
         |      FROM (SELECT word, n, pos, sym,
         |                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |            FROM seg${r - 1})
         |      WHERE nxt IS NOT NULL GROUP BY 1, 2
         |      ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1),
         |""".stripMargin +
        bpeSelResegSql(s"seg${r - 1}", s"best$r", s"sel$r", s"seg$r")
    }.mkString(",\n")
    s"""w0 AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w0
       |      WHERE length(word) >= 2 GROUP BY 1
       |      ORDER BY n DESC, word LIMIT $topWords),
       |seg0 AS (SELECT word, n, CAST(pos AS BIGINT) AS pos, substr(word, pos + 1, 1) AS sym
       |      FROM (SELECT word, n, unnest(range(length(word))) AS pos FROM wc)),
       |$blocks""".stripMargin
  }

  def bpeSql(rounds: Int = 4, topWords: Int = 300): String = {
    val sums = (1 to rounds).map { r =>
      s"""sum$r AS (SELECT CAST($r AS BIGINT) AS merge_round, b.left_sym, b.right_sym, b.pair_count,
         |        (SELECT CAST(count(*) AS BIGINT) FROM sel$r WHERE selected) AS merge_sites,
         |        (SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) FROM sel$r WHERE selected) AS merged_mass,
         |        (SELECT CAST(count(DISTINCT sym) AS BIGINT) FROM seg$r) AS vocab_size,
         |        (SELECT CAST(count(*) AS BIGINT) FROM seg$r) AS n_positions,
         |        (SELECT CAST(sum(n * length(sym)) AS BIGINT) FROM seg$r) AS char_mass
         |      FROM best$r b)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map(r => s"SELECT * FROM sum$r").mkString("\n  UNION ALL ")
    s"""WITH ${bpeTrainCtes(rounds, topWords)},
       |$sums
       |SELECT * FROM ($union) ORDER BY merge_round""".stripMargin
  }

  /** Unigram-LM trainer replay — the bounded type table, the
    * substring-census seed inventory, then `rounds` unrolled EM rounds:
    * forward Viterbi DP and backward reconstruction as RECURSIVE CTEs per
    * round (the exact integer objective of `TextAnalysis.viterbiPieces` —
    * fewest pieces via the 10¹² penalty, then max Σ count, longest-piece
    * tie-break as the CASE cascade), usage recount, char-floored inventory
    * update. Entirely integer, so the final census hashes identically.
    */
  def unigramLmSql(rounds: Int = 3, topWords: Int = 300,
                           topK: Int = 50): String = {
    // The DP carry width (b0..b3) and substring join legs (q1..q4) below
    // are generated for exactly this piece length; the engine pins it as a
    // constant so the two can't silently diverge (ADVICE r12).
    require(graft.operators.TextAnalysis.UnigramMaxPieceLen == 4,
      "unigramLmSql's recursive-CTE replay is structurally generated for maxPieceLen=4")
    val big = "1000000000000"
    def dpCte(r: Int): String = {
      val p = s"p${r - 1}"
      s"""dp$r AS MATERIALIZED (
         |  SELECT word, len(word) AS wl, 0 AS j,
         |         CAST(0 AS BIGINT) AS b0, CAST(NULL AS BIGINT) AS b1,
         |         CAST(NULL AS BIGINT) AS b2, CAST(NULL AS BIGINT) AS b3
         |  FROM wc
         |  UNION ALL
         |  SELECT d.word, d.wl, d.j + 1,
         |         greatest(
         |           CASE WHEN q1.cnt IS NOT NULL THEN d.b0 + q1.cnt END,
         |           CASE WHEN q2.cnt IS NOT NULL THEN d.b1 + q2.cnt END,
         |           CASE WHEN q3.cnt IS NOT NULL THEN d.b2 + q3.cnt END,
         |           CASE WHEN q4.cnt IS NOT NULL THEN d.b3 + q4.cnt END) - $big AS b0,
         |         d.b0, d.b1, d.b2
         |  FROM dp$r d
         |  LEFT JOIN $p q1 ON q1.piece = substring(d.word, d.j + 1, 1)
         |  LEFT JOIN $p q2 ON d.j >= 1 AND q2.piece = substring(d.word, d.j, 2)
         |  LEFT JOIN $p q3 ON d.j >= 2 AND q3.piece = substring(d.word, d.j - 1, 3)
         |  LEFT JOIN $p q4 ON d.j >= 3 AND q4.piece = substring(d.word, d.j - 2, 4)
         |  WHERE d.j < d.wl)""".stripMargin
    }
    def wkCte(r: Int): String = {
      val p = s"p${r - 1}"
      s"""wk$r AS MATERIALIZED (
         |  SELECT word, len(word) AS j, CAST(NULL AS VARCHAR) AS piece FROM wc
         |  UNION ALL
         |  SELECT word, j - lb, substring(word, j - lb + 1, lb)
         |  FROM (
         |    SELECT w.word, w.j,
         |           CASE WHEN w.j >= 4 AND q4.cnt IS NOT NULL AND d4.b0 + q4.cnt - $big = dj.b0 THEN 4
         |                WHEN w.j >= 3 AND q3.cnt IS NOT NULL AND d3.b0 + q3.cnt - $big = dj.b0 THEN 3
         |                WHEN w.j >= 2 AND q2.cnt IS NOT NULL AND d2.b0 + q2.cnt - $big = dj.b0 THEN 2
         |                ELSE 1 END AS lb
         |    FROM wk$r w
         |    JOIN dp$r dj ON dj.word = w.word AND dj.j = w.j
         |    LEFT JOIN dp$r d2 ON d2.word = w.word AND d2.j = w.j - 2
         |    LEFT JOIN dp$r d3 ON d3.word = w.word AND d3.j = w.j - 3
         |    LEFT JOIN dp$r d4 ON d4.word = w.word AND d4.j = w.j - 4
         |    LEFT JOIN $p q2 ON q2.piece = substring(w.word, w.j - 1, 2)
         |    LEFT JOIN $p q3 ON q3.piece = substring(w.word, w.j - 2, 3)
         |    LEFT JOIN $p q4 ON q4.piece = substring(w.word, w.j - 3, 4)
         |    WHERE w.j > 0))""".stripMargin
    }
    def updCtes(r: Int): String =
      s"""u$r AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS u
         |      FROM wk$r JOIN wc USING (word) WHERE piece IS NOT NULL GROUP BY 1),
         |p$r AS MATERIALIZED (SELECT piece, CAST(CASE WHEN s = 0 THEN 1 ELSE s END AS BIGINT) AS cnt
         |      FROM (SELECT piece, sum(u) AS s
         |            FROM (SELECT piece, u FROM u$r
         |                  UNION ALL SELECT piece, 0 FROM ch) GROUP BY 1))""".stripMargin
    val roundCtes = (1 to rounds)
      .map(r => Seq(dpCte(r), wkCte(r), updCtes(r)).mkString(",\n")).mkString(",\n")
    s"""WITH RECURSIVE
       |w0 AS MATERIALIZED (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w0
       |      WHERE length(word) >= 2 GROUP BY 1
       |      ORDER BY n DESC, word LIMIT $topWords),
       |p0 AS MATERIALIZED (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (
       |        SELECT unnest(flatten(list_transform(range(1, len(word) + 1), s ->
       |                 list_transform(range(1, 5), l ->
       |                   CASE WHEN s + l - 1 <= len(word) THEN substring(word, s, l) END)))) AS piece,
       |               n
       |        FROM wc)
       |      WHERE piece IS NOT NULL GROUP BY 1),
       |ch AS MATERIALIZED (SELECT DISTINCT unnest(list_transform(range(1, len(word) + 1),
       |                s -> substring(word, s, 1))) AS piece FROM wc),
       |$roundCtes
       |SELECT CAST(row_number() OVER (ORDER BY u DESC, piece) AS BIGINT) AS rank,
       |       piece, CAST(len(piece) AS BIGINT) AS piece_len, CAST(u AS BIGINT) AS usage
       |FROM u$rounds ORDER BY rank LIMIT $topK""".stripMargin
  }

  /** BPE apply-side replay: the train chain re-derives each round's merge
    * pair, then the same sel/re-segment blocks run over the FULL word-type
    * table; per-doc counts come from the token-per-type join.
    */
  def bpeEncodeSql(rounds: Int = 4, topWords: Int = 300): String = {
    val blocks = (1 to rounds).map { r =>
      bpeSelResegSql(s"eseg${r - 1}", s"best$r", s"esel$r", s"eseg$r")
    }.mkString(",\n")
    s"""WITH ${bpeTrainCtes(rounds, topWords)},
       |ew AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w0
       |      WHERE length(word) >= 1 GROUP BY 1),
       |eseg0 AS (SELECT word, n, CAST(pos AS BIGINT) AS pos, substr(word, pos + 1, 1) AS sym
       |      FROM (SELECT word, n, unnest(range(length(word))) AS pos FROM ew)),
       |$blocks,
       |tok AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens FROM eseg$rounds GROUP BY 1)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
       |       CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
       |       CAST((sum(length(d.word)) - sum(t.n_tokens)) * 1000000 // sum(length(d.word)) AS BIGINT) AS saved_micro
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
       |JOIN tok t ON d.word = t.word
       |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin
  }

  /** Sign-LSH bucket over coordinates [offset, offset+bits), mirroring
    * `VectorFunctions.signLshBucketAt`.
    */
  def bucketSqlAt(v: String, offset: Int, bits: Int): String =
    (0 until bits)
      .map(i => s"(CASE WHEN CAST($v[${offset + i + 1}] AS DOUBLE) > 0.0 THEN ${1L << i} ELSE 0 END)")
      .mkString("(", " + ", ")")

  def bucketSql(v: String, bits: Int): String = bucketSqlAt(v, 0, bits)

  /** Symmetric int8 scalar quantization, mirroring `Quantize.quantize`. */
  def codeSql(v: String): String =
    s"list_transform($v, x -> least(127, greatest(-127, CAST(round(CAST(x AS DOUBLE)*127.0) AS BIGINT))))"

  val discPrice =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"

  /** Gap-rule sessionization as windowed SQL — shared by the batch query
    * (`sessionize`) and its stateful streaming twin (`stream_sessionize`).
    */
  val sessionizeSql =
    """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
      |l AS (SELECT *, lag(ep) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ep FROM e),
      |f AS (SELECT *, CASE WHEN prev_ep IS NULL OR ep - prev_ep > 1800 THEN 1 ELSE 0 END AS ns FROM l),
      |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
      |SELECT CAST(user_id AS BIGINT) AS user_id, CAST(session_id AS BIGINT) AS session_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
      |       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch
      |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  /** CDC changelog apply replayed in SQL — shared by the batch query
    * (`cdc_apply`) and its stateful streaming twin (`stream_cdc_apply`):
    * per-key (ts, event_id) replay order via row_number, the last `error`
    * tombstone as a deletion frontier (state restarts after it; a key
    * whose log ends in a tombstone is absent), exact cents, last mutation
    * by max_by, tombstone count as key metadata.
    */
  val cdcApplySql =
    """WITH base AS (SELECT user_id, ts, event_id, event_type,
      |                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
      |              FROM events),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |        FROM base),
      |tomb AS (SELECT user_id, max(rn) AS del_rn, count(*) AS n_tomb
      |         FROM ord WHERE event_type = 'error' GROUP BY 1),
      |live AS (SELECT o.* FROM ord o LEFT JOIN tomb t USING (user_id)
      |         WHERE o.event_type <> 'error' AND o.rn > coalesce(t.del_rn, 0)),
      |agg AS (SELECT user_id, count(*) AS n_events, sum(v_c) AS sum_value_c,
      |               max_by(event_type, rn) AS last_type,
      |               CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ep
      |        FROM live GROUP BY 1)
      |SELECT CAST(a.user_id AS BIGINT) AS user_id, CAST(n_events AS BIGINT) AS n_events,
      |       CAST(sum_value_c AS BIGINT) AS sum_value_c, last_type, last_ep,
      |       CAST(coalesce(t.n_tomb, 0) AS BIGINT) AS n_tombstones
      |FROM agg a LEFT JOIN tomb t USING (user_id) ORDER BY user_id""".stripMargin

  /** SCD2 interval history replayed in SQL — shared by the full build
    * (`scd2_build`) and the incremental merge (`scd2_merge`, whose hash
    * match against this full-rebuild replay IS the merge-correctness
    * proof): lag-change islands per user (IS DISTINCT FROM mirrors
    * Spark's null-safe `<=>` flag), `[valid_from, valid_to)` bounds via
    * lead, NULL valid_to ⇔ is_current.
    */
  val scd2Sql =
    """WITH ord AS (SELECT user_id, ts, event_id, event_type,
      |                    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c,
      |                    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |                         THEN 1 ELSE 0 END AS chg
      |             FROM events
      |             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |isl AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |        FROM ord),
      |grp AS (SELECT user_id, version, min(event_type) AS event_type, min(ts) AS t0,
      |               count(*) AS n_events, sum(v_c) AS sum_value_c
      |        FROM isl GROUP BY 1, 2)
      |SELECT CAST(user_id AS BIGINT) AS user_id, CAST(version AS BIGINT) AS version,
      |       event_type,
      |       CAST(floor(epoch(t0)) AS BIGINT) AS valid_from_ep,
      |       CAST(floor(epoch(lead(t0) OVER wv)) AS BIGINT) AS valid_to_ep,
      |       CAST(CASE WHEN lead(t0) OVER wv IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
      |       CAST(n_events AS BIGINT) AS n_events,
      |       CAST(sum_value_c AS BIGINT) AS sum_value_c
      |FROM grp WINDOW wv AS (PARTITION BY user_id ORDER BY version)
      |ORDER BY user_id, version""".stripMargin

  /** SCD2 point-in-time lookup replay (strictly-before interval join) —
    * shared by the DataFrame path (`scd2_pit_lookup`) and its registered
    * SQL-view surface (`lake_sql_pit`).
    */
  val scd2PitSql =
    """WITH ord AS (SELECT user_id, ts, event_id, event_type,
      |                    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |                         THEN 1 ELSE 0 END AS chg
      |             FROM events
      |             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |isl AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |        FROM ord),
      |grp AS (SELECT user_id, version, min(event_type) AS event_type,
      |               min(epoch_us(ts)) AS from_us, count(*) AS n_events
      |        FROM isl GROUP BY 1, 2),
      |iv AS (SELECT *, lead(from_us) OVER (PARTITION BY user_id ORDER BY version) AS to_us
      |       FROM grp),
      |q AS (SELECT user_id AS q_user, event_id AS purchase_event, epoch_us(ts) AS q_us
      |      FROM events WHERE event_type = 'purchase')
      |SELECT CAST(q.q_user AS BIGINT) AS user_id,
      |       CAST(purchase_event AS BIGINT) AS purchase_event,
      |       CAST(q_us // 1000000 AS BIGINT) AS at_ep,
      |       CAST(coalesce(version, 0) AS BIGINT) AS version,
      |       coalesce(event_type, 'none') AS state_type,
      |       CAST(from_us // 1000000 AS BIGINT) AS valid_from_ep,
      |       CAST(coalesce(n_events, 0) AS BIGINT) AS version_n_events
      |FROM q LEFT JOIN iv ON iv.user_id = q.q_user
      |               AND iv.from_us < q.q_us
      |               AND (iv.to_us IS NULL OR q.q_us <= iv.to_us)
      |ORDER BY user_id, purchase_event""".stripMargin

  /** Strict view→click→purchase funnel as correlated stage minima —
    * shared by the batch query (`events_funnel`) and its stateful
    * streaming twin (`stream_funnel`).
    */
  val funnelSql =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1)
      |SELECT CAST(v.user_id AS BIGINT) AS user_id,
      |       CAST(floor(epoch(v.t_view)) AS BIGINT) AS view_epoch,
      |       CAST(floor(epoch(c.t_click)) AS BIGINT) AS click_epoch,
      |       CAST(floor(epoch(p.t_purchase)) AS BIGINT) AS purchase_epoch,
      |       CAST(1 + (c.user_id IS NOT NULL)::INT + (p.user_id IS NOT NULL)::INT AS BIGINT) AS stages_reached
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |ORDER BY 1""".stripMargin

  val hourlySql =
    """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch, event_type,
      | CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(value AS DECIMAL(18,2)))*100 AS BIGINT) AS sum_value_c
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Probed IVF search replayed in SQL over the exported store artifacts —
    * shared by `knn_ivf` (batch) and `stream_knn` (the AvailableNow
    * streaming execution of the same search). A `def`: [[ivfStorePath]]
    * re-derives from the pinned oracle sf dir on each call.
    */
  /** Inline replay of the lake MERGE changeset against the raw table —
    * the hash match proves merge ≡ full recompute. Shared by
    * `partitioned_merge` (DataFrame copy-on-write route) and
    * `lake_sql_merge` (the INSERT OVERWRITE DML route over catalog views):
    * both apply the same raw-derived changeset to their own store clones.
    */
  val partitionedMergeReplaySql: String =
    """WITH r AS (SELECT event_id, event_type, value, CAST(ts AS DATE) AS d FROM events),
      |b AS (SELECT min(d) AS lo FROM r),
      |keep AS (SELECT event_type, value FROM r, b
      |         WHERE NOT (d = b.lo + 1 AND event_id % 7 = 0)
      |           AND NOT (d = b.lo + 2 AND event_type = 'click')),
      |upd AS (SELECT event_type, value * 2 AS value FROM r, b
      |        WHERE d = b.lo + 2 AND event_type = 'click'),
      |ins AS (SELECT event_type, value FROM r, b
      |        WHERE d = b.lo AND event_id % 5 = 0),
      |m AS (SELECT * FROM keep UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  def ivfProbedSearchSql(extraRowPred: String = "", k: Int = 5): String =
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
       |      FROM r JOIN probed p USING (cell_id) WHERE r.vec_id <> p.qid$extraRowPred),
       |rk AS (SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM s)
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank,
       |       ${microSql("sim")} AS sim_micro
       |FROM rk WHERE rank <= $k ORDER BY qid, rank""".stripMargin

  /** Okapi BM25 CTE chain (k1 = 1, b = 0.75, linear idf; per-term integer
    * micros) ending in `bm25agg(doc_id, score_micro, n_terms)` — shared by
    * the `text_bm25` oracle and the `rag_fusion` lexical leg.
    */
  val bm25CtesSql =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
      |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_words FROM lens),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, unnest(ws) AS term FROM w)
      |       WHERE term IN ('vector', 'spark', 'stream') GROUP BY 1, 2),
      |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |pt AS (SELECT tf.doc_id,
      |         CAST(floor(((CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
      |           (CAST(tf AS DOUBLE) * 2.0) /
      |           (CAST(tf AS DOUBLE) + (0.25 + 0.75 *
      |             (CAST(dl AS DOUBLE) / (CAST(total_words AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
      |           * 1000000.0) AS BIGINT) AS score_micro
      |       FROM tf JOIN dfr USING (term) JOIN lens USING (doc_id) CROSS JOIN corpus),
      |bm25agg AS (SELECT doc_id, CAST(sum(score_micro) AS BIGINT) AS score_micro,
      |          CAST(count(*) AS BIGINT) AS n_terms
      |        FROM pt GROUP BY 1)""".stripMargin

  /** Shared MinHash construction CTEs ending in `bands(doc_id, band, bk)` —
    * one md5 per shingle, Kirsch–Mitzenmacher double-hashed permutations,
    * 4 bands × 3 rows. Used by `dedup_minhash_md5` (self-join) and
    * `dedup_incremental` (incoming-vs-corpus probe).
    */
  def minhashMd5BandCtesSql: String = {
    val p = graft.operators.Dedup.MinhashP32
    val mins = (0 until 12)
      .map(j => s"min((h1 + $j*h2) % $p) AS m$j")
      .mkString(",\n      |        ")
    val bandRows = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, m${b * 3}::VARCHAR || '|' || m${b * 3 + 1}::VARCHAR || '|' || m${b * 3 + 2}::VARCHAR AS bk FROM sig")
      .mkString("\n      |  UNION ALL ")
    s"""sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ws)-2, 0)),
      |               i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
      |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |dgt AS (SELECT doc_id, md5('mh:' || unnest(sh)) AS dg FROM sh),
      |hw AS (SELECT doc_id,
      |         ${graft.operators.Dedup.hexWordSql("strpos", "dg", 1)} AS h1,
      |         ${graft.operators.Dedup.hexWordSql("strpos", "dg", 9)} AS h2 FROM dgt),
      |sig AS (SELECT doc_id, $mins FROM hw GROUP BY 1),
      |bands AS (
      |  $bandRows)""".stripMargin
  }

  /** N-gram Jaccard near-dup pairs (inverted-index formulation), shared by
    * the pair query and the clusters query's recursive-CTE replay.
    */
  val ngramJaccardSql =
    """WITH sh AS (SELECT doc_id, list_distinct(list_transform(range(greatest(len(ws)-2, 0)),
      |                     i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
      |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
      |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      |      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b,
      |             CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
      |      FROM p JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b)
      |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
      |       CAST(floor(jaccard*1000000.0) AS BIGINT) AS jaccard_micro
      |FROM j WHERE jaccard >= 0.12 ORDER BY id_a, id_b""".stripMargin

  /** Shared CTE block of the suffix-array-style span-dedup pair: positional
    * word 5-grams (1-based pos, every occurrence kept), count ≥ 2 prune,
    * cross-doc self-join on the gram, and maximal diagonal runs via
    * gaps-and-islands — the SQL replay of `Dedup.substringRuns`. Ends with
    * a `runs(id_a, id_b, pos_a, pos_b, span_words)` CTE.
    */
  val substringRunsCteSql =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g0 AS (SELECT doc_id, unnest(range(1, greatest(len(ws) - 3, 1))) AS pos, ws FROM w),
      |g AS (SELECT doc_id, pos,
      |             ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] || ' ' || ws[pos+3] || ' ' || ws[pos+4] AS gram
      |      FROM g0),
      |keep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      |m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
      |      FROM (SELECT g.* FROM g JOIN keep USING (gram)) a
      |      JOIN (SELECT g.* FROM g JOIN keep USING (gram)) b
      |        ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |isl AS (SELECT *, pa - row_number() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS i
      |        FROM m),
      |runs AS (SELECT id_a, id_b, min(pa) AS pos_a, min(pb) AS pos_b,
      |                max(pa) - min(pa) + 5 AS span_words
      |         FROM isl GROUP BY id_a, id_b, pa - pb, i)""".stripMargin

  /** The composite corpus-clean pipeline, shared by its two oracle
    * entries: quality gate → keep-first exact dedup → lang-consistency
    * filter.
    */
  val cleanCorpusSql =
    """WITH d AS (SELECT doc_id, text, lang, string_split(text, ' ') AS ws FROM documents),
      |q AS (SELECT doc_id, text, lang, len(ws) AS n_words,
      |             len(list_filter(ws, w -> list_contains(['the','a','of','and','to','in','is'], w))) AS n_stop
      |      FROM d),
      |f AS (SELECT * FROM q WHERE n_words >= 5 AND CAST(n_stop AS DOUBLE)/CAST(n_words AS DOUBLE) < 0.5),
      |s AS (SELECT text, min(doc_id) AS doc_id FROM f GROUP BY text),
      |sv AS (SELECT f.doc_id, f.text, f.lang, f.n_words FROM f JOIN s ON f.doc_id = s.doc_id),
      |g AS (SELECT doc_id, lang, n_words,
      |        len(list_filter(ws, w -> list_contains(['the','a','of','and'], w))) AS score_en,
      |        len(list_filter(ws, w -> list_contains(['el','la','de','que'], w))) AS score_es,
      |        len(list_filter(ws, w -> list_contains(['der','die','und','das'], w))) AS score_de,
      |        len(list_filter(ws, w -> list_contains(['le','la','et','les'], w))) AS score_fr,
      |        len(list_filter(ws, w -> list_contains(['的','了','是','在'], w))) AS score_zh
      |      FROM (SELECT doc_id, lang, n_words, string_split(text, ' ') AS ws, text FROM sv)),
      |p AS (SELECT doc_id, lang, n_words,
      |             greatest(score_en, score_es, score_de, score_fr, score_zh) AS mx,
      |             score_en, score_es, score_de, score_fr, score_zh FROM g)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, CAST(n_words AS BIGINT) AS n_words
      |FROM p
      |WHERE CASE WHEN score_en = mx AND mx > 0 THEN 'en'
      |           WHEN score_es = mx AND mx > 0 THEN 'es'
      |           WHEN score_de = mx AND mx > 0 THEN 'de'
      |           WHEN score_fr = mx AND mx > 0 THEN 'fr'
      |           WHEN score_zh = mx AND mx > 0 THEN 'zh'
      |           ELSE 'unk' END = lang""".stripMargin

  /** The ADC search replay's CTEs over the PQ store exported at `store`,
    * ending in the ranked `r(qid, vec_id, adc, rank)`: the `qWhere`
    * queries rotated, the per-subspace LUT and the coarse-cell term;
    * `codePred` filters the scanned codes.
    */
  def pqAdcCtes(store: String, qWhere: String = "vec_id < 5", codePred: String = ""): String =
    s"""books AS (SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, centroid
       |               FROM read_parquet('$store/codebooks/*.parquet')),
       |coarse AS (SELECT CAST(cell_id AS BIGINT) AS cell_id, centroid
       |           FROM read_parquet('$store/coarse/*.parquet')),
       |codes AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, CAST(cell_id AS BIGINT) AS cell_id
       |          FROM read_parquet('$store/codes/*/*.parquet', hive_partitioning=1)),
       |rot AS (SELECT CAST(i AS BIGINT) AS i, row FROM read_parquet('$store/rotation/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE $qWhere),
       |rq AS (SELECT q.qid, list(CAST(${dotCentroidSql("q.qvec", "r.row")} AS FLOAT) ORDER BY r.i) AS rqvec
       |       FROM q CROSS JOIN rot r GROUP BY q.qid),
       |lut AS (SELECT rq.qid, b.sub, b.code,
       |          ${microSql(dotCentroidSql("list_slice(rq.rqvec, b.sub*8+1, b.sub*8+8)", "b.centroid"))} AS p_micro
       |        FROM rq CROSS JOIN books b),
       |clut AS (SELECT q.qid, g.cell_id, ${microSql(dotCentroidSql("q.qvec", "g.centroid"))} AS c_micro
       |         FROM q CROSS JOIN coarse g),
       |s AS (SELECT l.qid, c.vec_id, c.cell_id, sum(l.p_micro) AS r_micro
       |      FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |      WHERE c.vec_id <> l.qid$codePred GROUP BY 1, 2, 3),
       |t AS (SELECT s.qid, s.vec_id, s.r_micro + cl.c_micro AS adc
       |      FROM s JOIN clut cl ON cl.qid = s.qid AND cl.cell_id = s.cell_id),
       |r AS (SELECT qid, vec_id, adc, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rank FROM t)""".stripMargin
}
