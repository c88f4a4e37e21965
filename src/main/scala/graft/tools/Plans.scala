package graft.tools

import java.nio.file.{Files, Paths}
import graft.GraftSession

/** Dumps formatted physical plans of the flagship queries to PLANS.md —
  * reviewable evidence of the scale design (broadcasts, pushdown, codegen
  * spans, the custom operator) without running the workload.
  */
object Plans {
  /** The flagship queries, each with what to look for in its plan. */
  val Picks: Seq[(String, String)] = Seq(
    "knn_exact" -> "exact kNN: broadcast query batch, codegen dot, WindowGroupLimit top-k",
    "pq_maintain" -> "drift-decided PQ maintenance (r16): map-side broadcast-codebook encode of the incoming batch (one pass serves census AND absorb), m·k-bounded usage aggregates, ≤m-row TV report — batch bytes never shuffle; the acted-on store is reused per (half generation, decision)",
    "pq_layout_compact" -> "small-files hygiene on the absorb append path (r16): files-per-cell audit from parquet filenames, needy cells rewritten via dynamic partition overwrite (untouched cells keep their bytes); timed path is the metadata-scale audit",
    "knn_exact_phys" -> "exact kNN through the custom KnnJoinExec (bounded heaps, winners-only shuffle)",
    "knn_ivf" -> "probed IVF search over the PERSISTED clustered index — static PartitionFilters INSET on cell_id prunes unprobed cells' files",
    "q3_shipping" -> "fact-fact shuffle join + broadcast dim + TakeOrderedAndProject",
    "q5_local_supplier" -> "6-table join: every dimension broadcast",
    "dedup_minhash_lsh" -> "single-pass minhash sketch + banding equi-join",
    "crud_point_lookup" -> "key predicate pushed to the parquet scan",
    "window_top_orders" -> "per-group top-k via WindowGroupLimit",
    "agg_salted" -> "skew-safe two-phase aggregation",
    "knn_quantized" -> "top-k in int8 code space: codegen integer dot, broadcast query side",
    "text_quality" -> "linear quality gate: explode → two map-combined aggregations (token stats in O(words) per doc, no quadratic HOF)",
    "pipeline_clean_corpus" -> "composite corpus-clean pipeline (quality gate → dedup → lang filter)",
    "events_hourly" -> "tumbling window aggregate",
    "knn_ivfpq" -> "IVF-PQ composition: ONE statically pruned scan of the cell-clustered code table (PartitionFilters INSET on cell_id; float vectors never read) feeds the broadcast-LUT ADC aggregation",
    "sample_domain_cap" -> "per-domain quota: WindowGroupLimit drops each domain's losers map-side",
    "corpus_pack" -> "sharded token packing: hash-shard window prefix sum, never a single-partition global sort",
    "dedup_minhash_md5" -> "oracle-exact MinHash banding: uniform (band,key) shuffle, null band keys drop at the join",
    "knn_batch" -> "batch-scale kNN (nq=5000): KnnJoinExec heap path — only nq·k winners reach the rank exchange, never scored rows",
    "metrics_combined" -> "7-model × 4-op × 6-size sweep: model axis is a column through ONE embed scan per op, size axis is conditional aggregation, candidates a broadcast dimension table — 4 scans total, not 168 branches",
    "knn_range" -> "range search (FAISS range_search): radius cut is a pure map-side FILTER after the broadcast score join — no rank window, no per-query state",
    "text_repetition" -> "Gopher repetition signals: per-row sorted-run fold computes the bigram mode scan-bound — no explode/groupBy shuffle of per-doc bigrams",
    "text_bm25" -> "BM25 term-query ranking: explode prunes to query terms map-side, df + corpus stats broadcast, top-k via TakeOrderedAndProject (rank numbered after the limit)",
    "sample_mix" -> "language-mix resampling: literal quota map projection + WindowGroupLimit quota fill per language",
    "knn_filtered" -> "scalar-filtered kNN (Milvus expr surface): the label predicate reaches the parquet scan as PushedFilters BELOW the score join — k fills from qualifying rows only",
    "rag_fusion" -> "RRF hybrid retrieval: full-outer join of two bounded top-k legs (BM25 lexical + dense kNN), integer-micro rank fusion",
    "dedup_containment" -> "asymmetric containment near-dup: shared memoized shingle cache + inverted-index self-join on 8-byte hashed keys, df>=2 prune",
    "range_join_bucketed" -> "interval-overlap range join: epoch-bucket equi-join with bounded fan-out — no cartesian, no nested loop",
    "decontam_embedding" -> "semantic decontamination: broadcast eval holdout, map-side broadcast-nested-loop scoring, partial agg before the only exchange",
    "dedup_keep_best" -> "keep-best dedup: quality-argmax survivor via max(struct(score, -id)) — one map-side-combined hash agg, no window state",
    "knn_hard_negatives" -> "hard-negative mining: broadcast anchor batch, label-mismatch filter below the TopK",
    "events_funnel" -> "strict-sequence funnel: running window minima resolve stage ordering in ONE user_id exchange, final agg reuses the window partitioning",
    "events_retention" -> "cohort retention: (user, week) grid pre-distinct'd map-side before the cohort join",
    "quality_audit" -> "expectations gate: conditional aggregates stacked per table — exactly one scan per audited table",
    "dedup_paragraph" -> "passage-exact dedup: map-side-combined min-struct keep-first (hot segments can't pin a window task), AQE-splittable equi-join, two full-bytes exchanges total",
    "join_salted_skew" -> "explicit-salting skew join: salt in the SortMergeJoin keys, dim replicated S ways — the manual fallback where AQE skew-split can't apply",
    "profile_columns" -> "one-pass ANALYZE: single scan, single scalar exchange, stack-unpivoted per-column report",
    "pipeline_curate" -> "composite curation (quality gate → dedup keep-first → per-source cap → manifest) as ONE plan — column pruning crosses stage boundaries",
    "text_phrase_search" -> "positional phrase search: per-term posting legs, anchor-aligned equi-joins — shuffles bounded by posting sizes",
    "q8_market_share" -> "TPC-H Q8 shape: one big lineitem⋈orders shuffle, every dimension broadcast, conditional-aggregate market-share ratio",
    "knn_binary" -> "binary-quantization kNN: 8-byte sign-code scan (bit_count(xor) POPCNT in codegen), WindowGroupLimit Hamming pool cut, exact-dot rerank joins back only nq·rerank rows",
    "dedup_semantic" -> "SemDeDup over the persisted IVF clustering: within-cell self-join equi-joins on the STORAGE partition key — the quadratic step bounded inside clusters, no corpus-wide shuffle",
    "sample_dsir" -> "DSIR selection: one tokenize pass collapsed to (doc,bucket) counts, 1024-row log-ratio model broadcast back, TakeOrderedAndProject top-n",
    "text_bpe_merges" -> "BPE trainer rounds: corpus work is ONE map-combined word count; each merge round is two windows over the bounded type table + a 1-row broadcast argmax, all rounds one lazy DAG",
    "text_bpe_encode" -> "BPE apply: learned pair sequence over the FULL word-type table, per-type token counts join back on the word key — shuffle sized to the vocabulary, never positions × corpus",
    "dedup_bloom" -> "bloom-pruned incremental exact dedup: might_contain literal gate splits the batch map-side — the definite-novel branch union-bypasses the single md5 confirm join",
    "corpus_offsets" -> "global token offsets: per-shard window prefix sums + 8-row shard-base cumsum broadcast back — the naive global-ORDER-BY window is never planned",
    "knn_maxsim" -> "late-interaction MaxSim: broadcast query-token batch, BOTH reduction levels (per-slot conditional max + fixed-order sum) in ONE map-combined hash aggregate, TopK",
    "knn_maxsim_pruned" -> "LSH-pruned MaxSim: token-bucket equi-join replaces the broadcast cross — only colliding tokens score, same one-aggregate reduce",
    "knn_matryoshka" -> "MRL two-stage: coarse prefix-dot rank (¼ vector bytes), candidates carry the full vector out of stage 1 — the rerank is a projection, never a refetch",
    "knn_multiprobe" -> "multi-probe LSH: (1+probes)·nq probe rows broadcast into ONE bucket equi-join — recall of flipping low-margin bits without more tables",
    "embed_gram" -> "distributed Gram matrix: nested-explode fan-out keeps the stage in whole-stage codegen; map-combined into ≤136 cells, shuffle = partitions × cells",
    "q6_forecast_revenue" -> "TPC-H Q6 shape: the scan IS the plan — three pushed range predicates, 3-of-11-column read, one partial-combined scalar",
    "sorted_prune" -> "zone-map pruned range scan: the manifest (ONE tiny parquet) picks the file set; the scan opens only intersecting files",
    "join_size_estimate" -> "join-size preflight: md5-nibble key sample BELOW the per-key aggregates — the estimate branch shuffles 1/16 of the key domain",
    "partitioned_dpp" -> "dynamic partition pruning: the calendar-dim join plants a dynamicpruning subquery on the fact scan's event_date PartitionFilters",
    "partitioned_hidden" -> "hidden partitioning: the user's to_date(ts) predicate, mirrored onto event_date by HiddenPartitionRewrite — static PartitionFilters from a data-column filter",
    "dedup_cdc" -> "content-defined chunking: per-doc token window cut, chunk reassembly via sort_array(collect_list), duplication = ONE hash aggregate over the chunk table",
    "graph_label_prop" -> "label propagation: self-loop self-vote keeps each unrolled round single-reference (linear lineage); argmax = max(struct) hash agg, no per-node window",
    "text_phrase_lift" -> "collocation lift: two map-combined count aggs, vocab-sized broadcast joins, DECIMAL(38,0)-widened integer ratio, TakeOrderedAndProject top-K",
    "orders_pareto" -> "revenue Pareto (r11 rewrite): range-sharded two-phase prefix sum — per-shard windows + ≤shards-row base-offset broadcast; NO partition-less global Window survives in the plan",
    "lake_sql_hidden" -> "SQL-surface hidden partitioning: a plain SQL ts-range over the lake_events view, rewritten to event_date PartitionFilters by HiddenPartitionRewrite",
    "cdc_apply" -> "CDC changelog apply: ONE user-key shuffle — per-key row_number replay order, tombstone-frontier self-join, max_by final-state aggregate",
    "scd2_build" -> "SCD2 interval history: ONE user-key shuffle — lag-change islands, per-island aggregate reusing the window partitioning (subset rule), valid_to lead",
    "events_attribution" -> "last-touch attribution: IGNORE-NULLS last over a preceding-rows frame, never a purchases-to-touches join; tiny per-channel rollup",
    "scd2_merge" -> "incremental SCD2 merge: ONE raw scan (the delta slice), closed history passes through from the persisted base unshuffled, open rows seed the fold",
    "scd2_pit_lookup" -> "point-in-time feature lookup: user-key equi-join with interval residual predicates — per-key purchases x versions, never a global range join",
    "lake_sql_ann" -> "SQL route to ANN: every union arm's naive ORDER BY dot(...) LIMIT k over the lake_vectors view is rewritten at optimization time into the probed form — static cell_id INSET PartitionFilters on each arm's scan",
    "media_phash_pairs" -> "multi-index Hamming pairs (r13 core): hash frame repartitioned BEFORE the probe explosion (the whole candidate stream never serializes through one scan task), exact-Hamming verify streams inside whole-stage codegen, DISTINCT only on verified survivors — the candidate multiset never hits a blocking operator",
    "lake_sql_merge" -> "lake MERGE through SQL DML: changeset views over the raw log, INSERT OVERWRITE staging (no self-read), dynamic partition overwrite of only the changeset's date directories; this dump shows the post-merge report plan over the rows view",
    "graph_tombstone" -> "graph-index DELETE (r14): the beam walk's hops are unchanged (dead nodes still traversed — HNSW connectivity), the tombstone anti-join sits BELOW the final TopK so k fills from live rows; look for BroadcastHashJoin LeftAnti under the TopK",
    "lake_sql_graph" -> "SQL route to graph search (r14): the whole unrolled beam walk as ONE SQL text over catalog views — chained CTEs stay SHARED (hop h never re-executes hops 0..h-1), dot() on the injected codegen kernel, same row output as the DataFrame walk",
    "knn_pq_tombstone" -> "PQ-store DELETE (r14): the ADC scan and LUT join are unchanged, the tombstone anti-join sits BELOW the final TopK so k fills from live rows — look for BroadcastHashJoin LeftAnti between the ADC aggregate and the TopK",
    "pq_compact" -> "compacted PQ store (r14): plain ADC scan over the compacted codes — NO tombstone filter anywhere in the plan, the dead code rows are physically gone; codebooks broadcast as the LUT side exactly as knn_pq",
    "lake_sql_pq" -> "SQL route to compressed ADC search (r15 fix): one SQL text over the pq_codes/pq_codebooks/pq_coarse views — the BROADCAST hints now reference the CTEs UNALIASED so they BIND (r14's aliased hint silently inverted to broadcasting the corpus-sized code table); look for BroadcastHashJoin with the LUT/coarse sides under BroadcastExchange and the codes scan streamed",
    "knn_graph_hier" -> "three-level entry descent (r15/r16): v0 crosses only the 1/(97·32²) top sample, two hops over the persisted edges_l2 coarse-node graph, two over edges_l1, then the level-0 hops — no serve term stays corpus-linear (v0 is N/99328, every hop bounded nq·beam·M); each level engages automatically past HierFlatBound entries, forced on here",
    "knn_graph_batch" -> "reference-batch-scale walk (r17, nq=400): nq·beam = 12 800 exceeds MaxInlineIds, so every hop's frontier stays a DISTRIBUTED frame and equi-joins the sorted edge table (no literal IN-list, no driver collect of the frontier); the returned plan is the final rank window over the eagerly-folded visited set — the hop joins themselves run inside the per-hop checkpoints",
    "lake_sql_graph_hier" -> "SQL surface of the three-level descent (r17): the 2·l1Hops+hops chained CTEs over graph_edges_l2/graph_edges_l1/graph_edges views in ONE text, v0 crossing only the 1/(97·32²) sample; sqlGraphQuery itself emits this text past HierFlatBound entries, so the SQL route tracks the engine default at corpus scale")

  def main(args: Array[String]): Unit = {
    val sfDir = "/root/testdata/sf0.01"
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of flagship queries\n\n")
    sb.append("Generated by `graft.tools.Plans` at sf0.01 (plans are scale-\n")
    sb.append("independent; row counts in stats are not). Things to look for:\n")
    sb.append("`BroadcastHashJoin` on every dimension side, `PushedFilters` /\n")
    sb.append("`ReadSchema` pruning at scans, `WindowGroupLimit` under rank\n")
    sb.append("filters, `*(n)` whole-stage-codegen spans around the vector\n")
    sb.append("kernels, and `KnnJoin` as a first-class physical operator.\n")
    Picks.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      val full = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // The operator-tree header shows the plan SHAPE; per-node detail
      // blocks repeat it. Deeply unrolled plans (the 4-round BPE chain)
      // produce 10k+ detail lines — cap each dump so the artifact stays
      // reviewable; the header is never truncated.
      // Cap line LENGTH too: a literal-bearing expression (dedup_bloom's
      // 1 MiB serialized sketch) renders as one multi-megabyte hex line.
      val lines = full.linesIterator.toSeq.map(l =>
        if (l.length <= 500) l else l.take(500) + s" … [line truncated, ${l.length} chars]")
      val cap = 400
      if (lines.size <= cap) sb.append(lines.mkString("\n"))
      else sb.append(lines.take(cap).mkString("\n"))
        .append(s"\n… truncated (${lines.size} lines total; header above shows the full operator tree)\n")
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${Picks.size} plans)")
    spark.stop()
  }
}
