package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Suite-wide scale lint: every registered query's physical plan is checked
  * for the two patterns that do not survive a 100× scale-up —
  * `CartesianProduct` (unbounded quadratic, never acceptable) and
  * `BroadcastNestedLoopJoin` outside an explicit allowlist of deliberate,
  * bounded broadcast crosses (small query batch × base, 7-row model table,
  * 1-row scalar totals, broadcast eval holdout). Per-query PlanSpec tests pin
  * the shapes we *want*; this lint pins the absence of the shapes we must
  * never get, across the whole `SparkEntry.queries` surface, so a new query
  * or a refactor cannot silently reintroduce a scale-killer.
  */
class PlanLintSpec extends SparkSpec {

  /** Real streaming runs: building the DataFrame executes the stream, and
    * their plan shapes are asserted in StreamingSpec — skip here.
    */
  private val streamingRuns =
    Set("stream_hourly", "stream_interval_join", "stream_knn", "stream_dedup",
      "stream_enrich", "stream_trending", "stream_dedup_ingest",
      "stream_partitioned_ingest")

  /** Queries whose ONE nested-loop join is a deliberate broadcast of a
    * provably bounded side (≤ query batch / model table / scalar totals /
    * eval holdout — each justified at its operator's Scaladoc).
    */
  private val broadcastCrossOk = Set(
    "knn_exact",
    "knn_exact_sql",      // the SQL-path twin: same broadcast query cross
    "knn_doc_join", "knn_refine", "knn_filtered",
    "knn_range", "knn_hard_negatives",
    "knn_mmr",            // broadcast query/anchor batch × base scan
    "knn_maxsim",         // broadcast nqd·tokensPerDoc query-token batch × token scan
    "knn_matryoshka",     // broadcast query batch × prefix scan (stage 1)
    "knn_ivf", "knn_ivfpq", "knn_pq", "knn_quantized",
    "knn_pq_tombstone", "pq_compact", // knn_pq's bounded LUT cross (5-query
                                      // batch × m·k codebook rows); tombstone
                                      // adds only a broadcast ANTI join,
                                      // compact changes only the scanned path
    "lake_sql_pq",                    // the same bounded LUT cross through
                                      // the one-text SQL route (inline query
                                      // literals × codebook view)
    "knn_tombstone",      // same bounded centroid cross as knn_ivf
    "knn_recall_report",  // exact leg: broadcast query batch; approx leg: centroid cross
    "knn_recall_curve",   // same two bounded crosses, one conditional agg
    "knn_autotune",       // curve's bounded crosses + the tuned probe's centroid cross
    "knn_range_ivf",      // broadcast probe batch / ≤100 centroids / 8×256 LUT
    // (knn_binary's bounded query-code cross runs inside its eager
    // candidate checkpoint, so it no longer appears in the lazy plan
    // this lint walks — its shape is pinned by PlanSpec instead)
    "rag_fusion",         // fuses two ≤k ranked lists
    "decontam_embedding", // broadcast eval holdout
    "metrics_combined",   // 7-row model table cross
    "text_lm_score", "text_commonness", "text_tfidf", // 1-row scalar totals cross
    "text_bm25", "text_vocab",         // 1-row avgdl / vocab-size scalar cross
    // (text_bpe_merges trains driver-side since the bounded-collect rework:
    // its plan is a LocalTableScan + sort, no nested loop to allowlist)
    "agg_winsorized",                  // 1-row broadcast percentile bounds
    "stats_skew_report",               // 1-row broadcast totals cross (winsorized idiom)
    "join_size_estimate",              // 1-row exact × 1-row estimate × 1-row inputs crosses
    "dedup_lsh_eval",                  // 1-row truth × 1-row cand × 1-row hit count crosses
    "embed_top_eigen",                 // 1-row max-norm / λ / trace scalar crosses per round
    "dedup_threshold_curve",           // 1-row pair-counts × 1-row doc-counts cross
    "agg_heavy_hitters",               // 1-row broadcast total-tokens scalar cross
    "agg_countmin",                    // 1-row broadcast stream-length scalar cross
    "q22_idle_customers",              // 1-row broadcast balance-threshold cross
    "q11_important_parts",             // 1-row broadcast nation-total scalar cross
    "graph_triangles",                 // 1-row census scalar crosses

    "events_gapfill",                  // hour-grid × distinct-types bounded cross
    "text_phrase_lift",                // 1-row broadcast n_words scalar cross
    "basket_pairs",                    // 1-row broadcast n_orders scalar cross
    "events_changepoint",              // 1-row broadcast (total, days) scalar cross
    "knn_rank_eval",                   // exact leg query-batch cross + probed centroid cross
    "knn_filtered_adaptive",           // brute branch: broadcast query batch × filtered subset
    "events_wau",                      // ≤|calendar| day list × activity grid range cross
    "text_novelty_decay",              // 1-row broadcast max-id scalar cross
    "orders_pareto"                    // 1-row broadcast bounds/totals scalar crosses
    // (lake_sql_graph's bounded hop-0 entry cross now runs inside the
    // per-hop materialized chain's eager checkpoints — invisible to this
    // lazy-plan lint, exactly like lake_sql_graph_hier's and knn_graph's)
  )

  /** Runs `body` and returns what Spark's HintErrorLogger warned meanwhile
    * — a hint naming a relation that is not in scope is dropped with only
    * that warning, and the plan silently loses the join strategy it asked for.
    */
  private def hintWarnings[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("plan-lint-hints", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try (body, seen.asScala.toSeq)
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  /** Every registered query's physical plan, planned once for both checks. */
  private lazy val planned: (Seq[(String, String)], Seq[String]) = hintWarnings {
    SparkEntry.queries.toSeq
      .filterNot { case (name, _) => streamingRuns(name) }
      .sortBy(_._1)
      .map { case (name, q) => name -> q(spark, sfDir).queryExecution.executedPlan.toString }
  }

  test("no registered query plans a CartesianProduct or an un-allowlisted nested-loop join") {
    val plans = planned._1
    val cartesian = plans.collect { case (n, p) if p.contains("CartesianProduct") => n }
    assert(cartesian.isEmpty, s"CartesianProduct in: ${cartesian.mkString(", ")}")
    // exact-set compare: an un-allowlisted nested loop is a scale regression,
    // and a stale allowlist entry means the lint has drifted from the code —
    // both fail, so the allowlist stays an audited inventory, not a wildcard
    val nested = plans.collect { case (n, p) if p.contains("BroadcastNestedLoopJoin") => n }.toSet
    assert((nested -- broadcastCrossOk).isEmpty,
      s"un-allowlisted BroadcastNestedLoopJoin in: ${(nested -- broadcastCrossOk).mkString(", ")}")
    assert((broadcastCrossOk -- nested).isEmpty,
      s"stale allowlist entries (no nested loop planned): ${(broadcastCrossOk -- nested).mkString(", ")}")
  }

  test("no registered query carries a hint Spark drops") {
    val dropped = planned._2
    assert(dropped.isEmpty, s"HintErrorLogger warnings while planning: ${dropped.mkString("; ")}")
  }
}
