package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Time-series operators over `events` (SURVEY.md §2.9–2.10 batch forms):
  * tumbling-window aggregation, gap-based sessionization, as-of join.
  * The streaming equivalents live in graft.streaming.StreamOps and are
  * tested for batch≡stream agreement.
  */
object Temporal {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Tumbling 1-hour window aggregate (T-window surface; batch twin of the
    * Structured Streaming version). Output keys are epoch seconds so the
    * comparison is timestamp-precision-agnostic (the source is ns parquet;
    * Spark reads µs).
    */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(dec2(col("value"))) * 100).cast("long").as("sum_value_c"))
      .select(unix_timestamp(col("w.start")).as("hour_epoch"), col("event_type"),
        col("n"), col("sum_value_c"))
      .orderBy(col("hour_epoch"), col("event_type"))

  /** Sliding 2-hour windows advancing hourly: each event lands in two
    * windows (the W-window streaming surface, batch twin). Spark's window()
    * aligns to the epoch in UTC, so a window starting at hour H covers
    * events with hour(ts) ∈ {H, H+1}.
    */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("win_epoch"), col("event_type"), col("n"))
      .orderBy(col("win_epoch"), col("event_type"))

  /** Gap-based sessionization (gap > 30 min ⇒ new session): the classic
    * lag → flag → running-sum pattern; one shuffle on user_id.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_timestamp(min(col("ts"))).as("start_epoch"),
        unix_timestamp(max(col("ts"))).as("end_epoch"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Interval-overlap range join, bucketed — the no-equi-key join family
    * ([[asofClickView]] is its ordered-point sibling). Joins per-user daily
    * activity spans [min ts, max ts] against sampled global incident
    * windows [ts−120 s, ts+120 s] on interval OVERLAP (s ≤ b ∧ a ≤ e):
    * there is NO equi key, so the naive plan is a nested-loop cartesian —
    * O(|spans|·|incidents|) at corpus scale. The scale path bucketizes
    * time: each interval explodes to the epoch buckets it covers (spans ≤
    * 25 per day at 1 h buckets, incidents ≤ 2), the join becomes an
    * equi-join on the bucket id (uniform keys — time-partitioned, no
    * skew), and the exact overlap predicate filters bucket-collision
    * false positives before a distinct collapses multi-bucket pairs.
    * Fan-out is bounded by interval-length/bucket-width, not by the other
    * side's cardinality. PlanSpec pins the no-cartesian claim.
    */
  def rangeJoinBucketed(spark: SparkSession, dir: String,
                        bucketSecs: Long = 3600L): DataFrame = {
    val ev = Tables.events(spark, dir)
    val spans = ev
      .select(col("user_id"), unix_timestamp(col("ts")).as("ep"))
      .withColumn("day", expr("ep DIV 86400"))
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("ep")).as("s"), max(col("ep")).as("e"))
    val incidents = ev
      .filter(col("event_type") === "error" && col("event_id") % 199 === 0)
      .select(col("event_id").as("incident_id"),
        (unix_timestamp(col("ts")) - 120L).as("a"),
        (unix_timestamp(col("ts")) + 120L).as("b"))
    val sb = spans.withColumn("bucket",
      explode(expr(s"sequence(s DIV $bucketSecs, e DIV $bucketSecs)")))
    val ib = incidents.withColumn("bucket",
      explode(expr(s"sequence(a DIV $bucketSecs, b DIV $bucketSecs)")))
    sb.join(ib, "bucket")
      .filter(col("s") <= col("b") && col("a") <= col("e"))
      .select(col("user_id"), col("day"), col("incident_id")).distinct()
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_incidents"),
        min(col("incident_id")).as("first_incident"))
      .orderBy(col("user_id"), col("day"))
  }

  /** As-of join: for every `click` event, the latest `view` event of the
    * same user at or before it. Spark lacks a native as-of join; rather
    * than a range join (O(n·m) blow-up) this uses the scalable union-tag
    * trick: one shuffle+sort per user, last_value(ignoreNulls) over the
    * interleaved stream. DuckDB's native ASOF JOIN is the oracle.
    */
  def asofClickView(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
        lit(null).cast("long").as("view_id"), lit(1).as("side"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("click_id"),
        col("event_id").as("view_id"), lit(0).as("side"))
    // at equal ts the view sorts first (side 0 < 1) ⇒ "at or before" (>=)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("view_id"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(views)
      .withColumn("matched_view", last(col("view_id"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("click_id"), col("user_id"), col("matched_view"))
      .orderBy(col("click_id"))
  }

  /** Ordered-funnel analysis: per user, the earliest view, the earliest
    * click AT OR AFTER that view, and the earliest purchase at or after
    * that click — the strict-sequence conversion funnel (a click before
    * the first view does not count).
    *
    * Single-pass shape: the sequence constraint is resolved with running
    * window minima over ONE user_id shuffle+sort — a click qualifies iff
    * some view precedes it in the sorted stream (`v_run` non-null), a
    * purchase iff some qualifying click precedes it. The final per-user
    * aggregate reuses the window's hash partitioning, so the whole funnel
    * costs exactly one exchange of the (type-filtered, column-pruned)
    * events scan. The naive form — one conditional aggregate per stage,
    * re-joined — scans and shuffles per stage and recomputes earlier
    * stages; a collect_list fold would bound per-user events by executor
    * memory. Equal timestamps: views sort before clicks before purchases,
    * preserving the at-or-after (>=) semantics.
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("view", "click", "purchase"))
    val stageRank = when(col("event_type") === "view", 0)
      .when(col("event_type") === "click", 1).otherwise(2)
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), stageRank)
      .rowsBetween(Window.unboundedPreceding, 0)
    val staged = e
      .withColumn("v_run", min(when(col("event_type") === "view", col("ts"))).over(wRun))
      .withColumn("c_q",
        when(col("event_type") === "click" && col("v_run").isNotNull, col("ts")))
      .withColumn("c_run", min(col("c_q")).over(wRun))
      .withColumn("p_q",
        when(col("event_type") === "purchase" && col("c_run").isNotNull, col("ts")))
    staged.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(col("c_q")).as("t_click"),
        min(col("p_q")).as("t_purchase"))
      .filter(col("t_view").isNotNull)
      .select(col("user_id"),
        unix_timestamp(col("t_view")).as("view_epoch"),
        unix_timestamp(col("t_click")).as("click_epoch"),
        unix_timestamp(col("t_purchase")).as("purchase_epoch"),
        (lit(1L) + when(col("t_click").isNotNull, 1L).otherwise(0L)
          + when(col("t_purchase").isNotNull, 1L).otherwise(0L)).as("stages_reached"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention: users grouped by signup week, counted as retained in
    * every week-offset where they have ANY event at or after the cohort
    * week. The companion report to [[eventsFunnel]] — funnel measures one
    * conversion path, retention measures comeback over time.
    *
    * Scale shape: the (user, week) activity grid is pre-distinct'd BEFORE
    * the cohort join — the map-side-combined distinct collapses each user's
    * events to ≤ weeks-observed rows, so the join and the final count see
    * user×week cardinality, never raw-event cardinality. The final
    * count(DISTINCT user) per (cohort, offset) cell is exact; its expansion
    * is bounded by the already-distinct input.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(date_trunc("week", col("ts"))).as("cohort_week"))
    val active = e.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    active.join(cohort, "user_id")
      .filter(col("w") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        ((unix_timestamp(col("w")) - unix_timestamp(col("cohort_week")))
          / lit(604800L)).cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(unix_timestamp(col("cohort_week")).as("cohort_week_epoch"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week_epoch"), col("week_offset"))
  }

  /** CDC changelog apply — materialize the current per-key state from an
    * event log with tombstones (the Debezium/"apply a change stream to a
    * snapshot" operation every lake pipeline runs; the reference's
    * delete+re-insert upsert cycle, `Milvus/stream1.py:219-247`, IS this
    * with the tombstone inlined). Semantics: events replay per user in
    * (ts, event_id) order; `error` is a DELETE tombstone that drops all
    * accumulated state for the key (the tombstone COUNT survives as key
    * metadata, as a CDC consumer's op log would); every other type
    * UPSERTs — bumps the event count, adds exact cents, takes over
    * last_type/last_ep. Keys whose log ends in a tombstone (no mutation
    * after the last `error`) are absent — deleted — from the result.
    *
    * Scale shape: ONE user-key shuffle; the replay order is a per-key
    * `row_number` window (bounded by events-per-user, never global), the
    * tombstone frontier a ≤|users|-row self-aggregate joined back on the
    * same key, and the fold collapses to one hash aggregate with
    * `max_by` — no driver state, no global sort.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("v_c"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ord = base.withColumn("rn", row_number().over(w))
    val tomb = ord.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("t_user"))
      .agg(max(col("rn")).as("del_rn"), count(lit(1)).as("n_tomb"))
    val live = ord.filter(col("event_type") =!= "error")
      .join(tomb, col("user_id") === col("t_user"), "left")
      .filter(col("del_rn").isNull || col("rn") > col("del_rn"))
    live.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v_c")).as("sum_value_c"),
        max_by(col("event_type"), col("rn")).as("last_type"),
        floor(max(unix_micros(col("ts"))) / 1000000L).cast("long").as("last_ep"),
        coalesce(first(col("n_tomb")), lit(0L)).as("n_tombstones"))
      .orderBy(col("user_id"))
  }

  /** SCD type-2 dimension build — fold the event log into an interval
    * history per key (the warehouse "slowly changing dimension" table the
    * reference's full-row update cycle approximates by overwrite,
    * `FAISS/PlainDemo/pipeline.py:208-214`; here every historical version
    * is kept with its validity range). The tracked attribute is
    * `event_type`: each maximal run of consecutive equal values per user
    * becomes one version row with `[valid_from, valid_to)` bounds,
    * `valid_to` = the next version's start (NULL on the current row),
    * plus run metadata (event count, exact cents).
    *
    * Scale shape: ONE user-key shuffle for the whole build — the
    * change-flag lag window, the island running sum, the per-island
    * aggregate (grouping keys (user, version) are a superset of the
    * window's partition key, so `HashPartitioning(user)` already
    * satisfies the aggregate's `ClusteredDistribution` and Spark inserts
    * no second Exchange), and the valid_to lead window all ride the same
    * partitioning. Island numbering is the classic lag→flag→running-sum
    * (the [[sessionize]] pattern), per-key bounded, never global.
    */
  def scd2Build(spark: SparkSession, dir: String): DataFrame =
    scd2Report(scd2IntervalsUs(Tables.events(spark, dir)))

  /** µs-precision interval rows shared by [[scd2Build]] and the persisted
    * base of [[scd2Merge]]: `(user_id, version, event_type, valid_from_us,
    * valid_to_us (null = current), n_events, sum_value_c)`.
    */
  private def scd2IntervalsUs(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ord = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("v_c"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w) <=> col("event_type"), 0L).otherwise(1L))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val grp = ord.groupBy(col("user_id"), col("version"))
      .agg(first(col("event_type")).as("event_type"),
        min(unix_micros(col("ts"))).as("valid_from_us"),
        count(lit(1)).as("n_events"),
        sum(col("v_c")).as("sum_value_c"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
    grp.withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wv))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("n_events"), col("sum_value_c"))
  }

  /** Present µs intervals in the `scd2_build` oracle schema. */
  private def scd2Report(iv: DataFrame): DataFrame =
    iv.select(col("user_id"), col("version"), col("event_type"),
      floor(col("valid_from_us") / 1000000L).cast("long").as("valid_from_ep"),
      floor(col("valid_to_us") / 1000000L).cast("long").as("valid_to_ep"),
      when(col("valid_to_us").isNull, 1L).otherwise(0L).as("is_current"),
      col("n_events"), col("sum_value_c"))
      .orderBy(col("user_id"), col("version"))

  /** The historical SCD2 table PERSISTED once per source generation — the
    * first 24 days of the log folded by [[scd2IntervalsUs]], with the
    * day-2 cutoff carried as a constant `cut_us` column so the merge
    * never re-derives it from the raw log. Fingerprint-keyed like
    * Relational.ensureAggBase: a regenerated source gets a fresh base.
    */
  private[graft] def ensureScd2Base(spark: SparkSession, dir: String): String = {
    val table = "graft_scd2_base_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + java.lang.Long.toHexString(graft.Tables.dirFingerprint(dir))
    if (!spark.catalog.tableExists(table)) {
      // in-memory-catalog vs durable-warehouse mismatch: drop a stale
      // directory before CTAS
      graft.sources.Artifact.warehouseTableDir(spark, table)
        .foreach(graft.streaming.StreamOps.rmTree)
      val e = Tables.events(spark, dir)
      val cutUs = e.agg(min(unix_micros(col("ts")))).head().getLong(0) +
        24L * 86400L * 1000000L
      scd2IntervalsUs(e.filter(unix_micros(col("ts")) < cutUs))
        .withColumn("cut_us", lit(cutUs))
        .write.mode("overwrite").format("parquet").saveAsTable(table)
    }
    table
  }

  /** Incremental SCD2 merge — apply the day-2 slice of the log to the
    * PERSISTED interval history without rebuilding it (the MERGE a lake
    * pipeline runs nightly; the maintenance twin of [[scd2Build]] exactly
    * as Relational.incrementalRefresh is of the full rollup). Closed
    * versions pass through untouched; each key's open (current) row is
    * re-aggregated together with the delta's events — the current row
    * participates as a seed row of the same fold (island 0 = "type
    * unchanged since the base"), so a delta that continues the current
    * run extends it (counts and cents add, valid_from keeps), a type
    * change closes it and appends versions numbered from the base's
    * high-water mark, and a key absent from the delta passes through as
    * still-current. Result is row-identical to the full [[scd2Build]]
    * rebuild — the oracle replays the full rebuild, so the hash match IS
    * the merge-correctness proof (the agg_incremental_refresh /
    * corpus_offsets two-phase convention).
    *
    * Scale shape: the raw log is scanned ONCE, filtered to the delta at
    * the parquet scan (spec-asserted); history arrives via the persisted
    * base, whose closed rows are never shuffled — only current rows (≤ 1
    * per key) and delta events pay the user-key exchange. Refresh cost
    * grows with the day's batch, not with corpus age.
    */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.table(ensureScd2Base(spark, dir))
    val cutUs = base.agg(max(col("cut_us"))).head().getLong(0)
    val closed = base.filter(col("valid_to_us").isNotNull).drop("cut_us")
    val cur = base.filter(col("valid_to_us").isNull)
      .select(col("user_id").as("c_user"), col("version").as("c_version"),
        col("event_type").as("c_type"), col("valid_from_us").as("c_from_us"),
        col("n_events").as("c_n"), col("sum_value_c").as("c_cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // the ONLY raw-events scan: the delta slice, pruned at the scan
    val ord = Tables.events(spark, dir)
      .filter(unix_micros(col("ts")) >= cutUs)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("v_c"))
      .join(cur, col("user_id") === col("c_user"), "left")
      .withColumn("prev_type",
        coalesce(lag(col("event_type"), 1).over(w), col("c_type")))
      .withColumn("chg",
        when(col("prev_type") <=> col("event_type"), 0L).otherwise(1L))
      .withColumn("rel", sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val deltaRows = ord.select(col("user_id"), col("rel"), col("event_type"),
      unix_micros(col("ts")).as("from_us"), lit(1L).as("n"), col("v_c").as("cents"),
      coalesce(col("c_version"), lit(0L)).as("vbase"))
    // the open row joins the fold as island 0's seed: min(from) keeps its
    // valid_from, the sums absorb it, max(vbase) is the version offset
    val seedRows = cur.select(col("c_user").as("user_id"), lit(0L).as("rel"),
      col("c_type").as("event_type"), col("c_from_us").as("from_us"),
      col("c_n").as("n"), col("c_cents").as("cents"), col("c_version").as("vbase"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
    val open = seedRows.unionByName(deltaRows)
      .groupBy(col("user_id"), col("rel"))
      .agg(max(col("event_type")).as("event_type"),
        min(col("from_us")).as("valid_from_us"),
        sum(col("n")).as("n_events"),
        sum(col("cents")).as("sum_value_c"),
        max(col("vbase")).as("vbase"))
      .select(col("user_id"), (col("vbase") + col("rel")).as("version"),
        col("event_type"), col("valid_from_us"), col("n_events"), col("sum_value_c"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wv))
    scd2Report(closed.unionByName(open.select(
      col("user_id"), col("version"), col("event_type"), col("valid_from_us"),
      col("valid_to_us"), col("n_events"), col("sum_value_c"))))
  }

  /** Point-in-time lookup against the SCD2 history — the feature-store
    * "state as of event time" join that makes interval histories useful
    * (train-serve skew dies exactly here: a model must see the version
    * that was CURRENT at the example's timestamp, never a later one).
    * Query points are the log's purchases, each resolving to the version
    * current JUST BEFORE its timestamp (`valid_from < t ≤ valid_to` — the
    * state the user was in when they decided to buy; looking up AT t
    * would vacuously return the purchase's own island). The tiling
    * invariant makes the match unique; a purchase that is its user's
    * very first event has no prior state and reports `none` (left join —
    * every purchase emits exactly one row, conservation spec-asserted).
    *
    * Scale shape: an equi-join on the user key with the interval bounds
    * as residual predicates — per-key work is purchases × versions of
    * that key only (the [[asofClickView]] class), never a global range
    * join; both sides shuffle once on the same key.
    */
  def scd2PitLookup(spark: SparkSession, dir: String): DataFrame = {
    val iv = scd2IntervalsUs(Tables.events(spark, dir))
    val q = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("q_user"), col("event_id").as("purchase_event"),
        unix_micros(col("ts")).as("q_us"))
    q.join(iv, col("q_user") === col("user_id") &&
        col("valid_from_us") < col("q_us") &&
        (col("valid_to_us").isNull || col("q_us") <= col("valid_to_us")), "left")
      .select(col("q_user").as("user_id"), col("purchase_event"),
        floor(col("q_us") / 1000000L).cast("long").as("at_ep"),
        coalesce(col("version"), lit(0L)).as("version"),
        coalesce(col("event_type"), lit("none")).as("state_type"),
        floor(col("valid_from_us") / 1000000L).cast("long").as("valid_from_ep"),
        coalesce(col("n_events"), lit(0L)).as("version_n_events"))
      .orderBy(col("user_id"), col("purchase_event"))
  }

  /** The `lake_sql_pit` named query — [[scd2PitLookup]]'s SQL surface:
    * the SCD2 interval history registered as a catalog view
    * (`lake_scd2_history`, the lake_events/lake_vectors pattern) and the
    * feature-store as-of join written as plain interval-join SQL text, so
    * `spark.sql("… FROM purchases q LEFT JOIN lake_scd2_history v ON
    * v.user_id = q.user_id AND v.valid_from_us < q.q_us …")` is the whole
    * client surface — the `AS OF`-style lookup reachable without any
    * DataFrame code. Plans into the same user-key equi-join with interval
    * residuals as the DataFrame path (per-key bounded, never a global
    * range join); shares scd2_pit_lookup's strictly-before DuckDB replay.
    */
  def sqlPitQuery(spark: SparkSession, dir: String): DataFrame = {
    scd2IntervalsUs(Tables.events(spark, dir))
      .createOrReplaceTempView("lake_scd2_history")
    Tables.events(spark, dir).createOrReplaceTempView("lake_events_log")
    spark.sql(
      """SELECT q.user_id, q.purchase_event,
        |       CAST(FLOOR(q.q_us / 1000000) AS BIGINT) AS at_ep,
        |       COALESCE(v.version, 0L) AS version,
        |       COALESCE(v.event_type, 'none') AS state_type,
        |       CAST(FLOOR(v.valid_from_us / 1000000) AS BIGINT) AS valid_from_ep,
        |       COALESCE(v.n_events, 0L) AS version_n_events
        |FROM (SELECT user_id, event_id AS purchase_event, unix_micros(ts) AS q_us
        |      FROM lake_events_log WHERE event_type = 'purchase') q
        |LEFT JOIN lake_scd2_history v
        |  ON v.user_id = q.user_id AND v.valid_from_us < q.q_us
        |     AND (v.valid_to_us IS NULL OR q.q_us <= v.valid_to_us)
        |ORDER BY user_id, purchase_event""".stripMargin)
  }

  /** Last-touch marketing attribution — credit each `purchase` to the
    * most recent PRECEDING non-purchase event (the "channel") when that
    * touch is within a 7-day lookback, else to `direct`; report per
    * channel purchase counts and exact-cents revenue. The classic
    * event-analytics credit assignment (single-touch form of the
    * multi-touch family).
    *
    * Scale shape: ONE user-key shuffle; the preceding touch is an
    * `IGNORE NULLS last` frame over `rows between unbounded preceding
    * and 1 preceding` (type and timestamp pulled through the SAME frame,
    * so they come from the same touch row), per-key bounded; the final
    * per-channel rollup is a map-combined hash aggregate over ≤|types|+1
    * groups. Never a purchases×touches join.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val sevenDaysUs = 7L * 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("v_c"))
      .withColumn("touch_type",
        when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("touch_us",
        when(col("event_type") =!= "purchase", unix_micros(col("ts"))))
      .withColumn("prev_type", last(col("touch_type"), ignoreNulls = true).over(w))
      .withColumn("prev_us", last(col("touch_us"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        coalesce(when(unix_micros(col("ts")) - col("prev_us") <= sevenDaysUs,
          col("prev_type")), lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("v_c")).as("revenue_c"))
      .orderBy(col("channel"))
  }
}
