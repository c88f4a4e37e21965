package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}

/** Date-partitioned lake layout for the event stream — the third leg of
  * the layout triad ([[SortedLayout]] 1-D range, [[ZOrderLayout]] 2-D
  * curve, this: hive-style directory partitioning on the one column every
  * time-series query filters by). The reference appends flow CSVs in
  * arrival order (`Milvus/stream1.py:255-260`), so every time-window query
  * re-reads the whole history; at 100 TB the standard fix is
  * `partitionBy(event_date)` — the directory tree IS the index, and two
  * pruning modes fall out of the plan with zero per-query work:
  *
  *  - STATIC pruning: a literal date predicate becomes `PartitionFilters`
  *    on the scan — unmatched date directories are never even listed into
  *    the file index ([[pruneQuery]]);
  *  - DYNAMIC partition pruning: a join against a filtered dimension
  *    (here: the calendar sidecar) plants a `dynamicpruning` subquery on
  *    the fact scan, so partitions are pruned by the dim filter's RESULT
  *    at runtime — the selective-dim-join pattern every warehouse query
  *    uses ([[dppQuery]]).
  *
  * Store layout: `path/rows/event_date=*` (the fact), `path/calendar`
  * (one row per distinct date with its day-of-month — the tiny dim a real
  * lake keeps as a calendar table). Same `_src_fp` staleness cascade as
  * [[IndexStore]]: the driver regenerates the testdata between rounds and
  * a stale store must rebuild, not serve the previous generation.
  */
object PartitionedStore {

  def defaultPath(dir: String): String =
    Artifact.storeDir("part_store", dir)

  /** Build the partitioned layout + calendar dim. The fact write pays one
    * shuffle-free pass (dynamic partition write); the calendar is a
    * |dates|-row aggregate coalesced to one file.
    */
  def write(spark: SparkSession, dir: String, path: String): Unit =
    ensureAt(spark, dir, path, force = true)

  /** Build once per source-content generation (IndexStore contract). A
    * rebuilt layout must not serve the previous generation's cached
    * store-detection verdict (HiddenPartitionRewrite memoizes per path),
    * so a build drops it once the new stamp is in place.
    */
  private def ensureAt(spark: SparkSession, dir: String, path: String,
                       force: Boolean = false): Unit =
    if (Artifact.ensureSource(path, dir, Seq("calendar"), force)(layout(spark, dir, path)))
      graft.plans.HiddenPartitionRewrite.invalidatePath(s"$path/rows")

  private def layout(spark: SparkSession, dir: String, path: String): Unit = {
    val e = Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))
    // partitionBy over an empty frame writes no readable files at all —
    // degrade to a plain (empty, schema-bearing) parquet so readers and
    // both query shapes still flow to correct empty results.
    if (e.isEmpty)
      e.write.mode("overwrite").parquet(s"$path/rows")
    else
      e.write.mode("overwrite").partitionBy("event_date").parquet(s"$path/rows")
    e.select(col("event_date")).distinct()
      .withColumn("dom", dayofmonth(col("event_date")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/calendar")
  }

  def ensure(spark: SparkSession, dir: String): String = {
    val path = defaultPath(dir)
    ensureAt(spark, dir, path)
    path
  }

  /** First-3-days activity summary over the partitioned store. The range
    * bounds come from the calendar sidecar (two driver-side scalars), so
    * the fact predicate is LITERAL dates and the scan's `PartitionFilters`
    * prunes 27 of 30 date directories before reading a byte — the plan
    * shape PartitionedStoreSpec asserts. The oracle replays the same
    * window on the RAW table: layout may only change what is scanned.
    */
  def pruneQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = ensure(spark, dir)
    val rows = graft.Tables.storeParquet(spark, s"$path/rows")
    val lo = graft.Tables.storeParquet(spark, s"$path/calendar")
      .agg(min(col("event_date"))).head().getDate(0)
    val filtered =
      if (lo == null) rows.filter(lit(false)) // empty store: no partitions to prune
      else rows.filter(col("event_date").between(lit(lo), date_add(lit(lo), 2)))
    filtered
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("event_type"))
  }

  /** The HIDDEN-partitioning query shape: the user filters on the DATA
    * column (`to_date(ts)`) and never mentions `event_date` — exactly how
    * someone who doesn't know the layout writes the query. `to_date` is
    * not a pushable predicate, so without help this scans every
    * partition; [[graft.plans.HiddenPartitionRewrite]] mirrors the date
    * comparisons onto the partition column at optimization time and the
    * scan prunes directories statically (plan + file-subset
    * spec-asserted). Days 4–6 of the corpus, so the result differs from
    * [[pruneQuery]]'s days 1–3.
    */
  def hiddenRouteQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = ensure(spark, dir)
    val rows = graft.Tables.storeParquet(spark, s"$path/rows")
    val lo = graft.Tables.storeParquet(spark, s"$path/calendar")
      .agg(min(col("event_date"))).head().getDate(0)
    val filtered =
      if (lo == null) rows.filter(lit(false))
      else rows.filter(to_date(col("ts"))
        .between(lit(java.sql.Date.valueOf(lo.toLocalDate.plusDays(3))),
          lit(java.sql.Date.valueOf(lo.toLocalDate.plusDays(5)))))
    filtered
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("event_type"))
  }

  /** SQL-first entry to the lake layout: the fact and its calendar dim
    * registered as datasource-backed views (`USING parquet OPTIONS
    * (path …)`), so plain `spark.sql("SELECT … FROM lake_events WHERE
    * event_date …")` plans through the SAME HadoopFsRelation — partition
    * discovery, static PartitionFilters, DPP, and the hidden-partition
    * rewrite all fire exactly as on the DataFrame path (spec-asserted).
    * Registered per call (cheap: view DDL is catalog-only) so the views
    * always track the current dir's store generation.
    */
  def ensureSqlViews(spark: SparkSession, dir: String): String = {
    val path = ensure(spark, dir)
    SqlViews.ensureParquetView(spark, "lake_events", s"$path/rows")
    SqlViews.ensureParquetView(spark, "lake_calendar", s"$path/calendar")
    path
  }

  private def emptyReport(spark: SparkSession): DataFrame =
    spark.range(0).selectExpr("CAST(NULL AS STRING) AS event_type",
      "CAST(NULL AS BIGINT) AS n", "CAST(NULL AS BIGINT) AS sum_value_c")

  /** [[pruneQuery]]'s SQL twin over the `lake_events` view — the query a
    * SQL user writes against a lake table, pruning 27 of 30 date
    * directories through static PartitionFilters. Same oracle as
    * partitioned_prune: layout and entry surface may only change what is
    * scanned, never the result.
    */
  def sqlPruneQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureSqlViews(spark, dir)
    val lo = graft.Tables.storeParquet(spark, s"$path/calendar")
      .agg(min(col("event_date"))).head().getDate(0)
    if (lo == null) return emptyReport(spark) // empty store: no partition dirs
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
         |FROM lake_events
         |WHERE event_date BETWEEN DATE'$lo' AND DATE'${lo.toLocalDate.plusDays(2)}'
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** [[hiddenRouteQuery]]'s SQL twin: the layout-ignorant timestamp-range
    * query (`WHERE ts >= … AND ts < …` — no mention of the partition
    * column) written in plain SQL against the `lake_events` view. The
    * optimizer-time [[graft.plans.HiddenPartitionRewrite]] mirrors the ts
    * bounds onto `event_date`, so the SQL user gets static directory
    * pruning without knowing the store is partitioned — Iceberg's hidden
    * partitioning promise, on the SQL path (spec-asserted).
    * Same days-4–6 slice and oracle as `partitioned_hidden`.
    */
  def sqlHiddenQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureSqlViews(spark, dir)
    val lo = graft.Tables.storeParquet(spark, s"$path/calendar")
      .agg(min(col("event_date"))).head().getDate(0)
    if (lo == null) return emptyReport(spark)
    val (a, b) = (lo.toLocalDate.plusDays(3), lo.toLocalDate.plusDays(6))
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
         |FROM lake_events
         |WHERE ts >= TIMESTAMP'$a 00:00:00' AND ts < TIMESTAMP'$b 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** [[dppQuery]]'s SQL twin: fact × filtered calendar dim through the
    * views, pruned at runtime by dynamic partition pruning — the
    * "join fact to filtered dim" query every warehouse runs, written in
    * SQL against catalog names instead of paths.
    */
  def sqlDppQuery(spark: SparkSession, dir: String): DataFrame = {
    ensureSqlViews(spark, dir)
    spark.sql(
      """SELECT /*+ BROADCAST(c) */ e.event_type, count(*) AS n,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM lake_events e JOIN lake_calendar c ON e.event_date = c.event_date
        |WHERE c.dom % 2 = 0
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)
  }

  /** Dynamic partition-overwrite backfill — the day-2 lake operation that
    * motivates directory partitioning in the first place: a correction
    * arrives for ONE day (late data, a fixed parser, a re-crawl) and only
    * that day's directory is rewritten; every other partition's files are
    * untouched (spec-asserted by mtime). Without
    * `partitionOverwriteMode=dynamic`, mode=overwrite would truncate the
    * whole table to rewrite one day — at 100 TB that is the difference
    * between a minutes-long backfill and re-writing the lake.
    *
    * Runs against its OWN store clone (`defaultPath + "_bf"`) so the
    * shared store's raw contents keep matching the other queries'
    * oracles. The correction (day-2 values doubled, recomputed from the
    * RAW table each run) is idempotent: overwriting the same partition
    * with the same derivation yields the same bytes-equivalent rows.
    */
  def backfillQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir) + "_bf"
    ensureAt(spark, dir, path)
    val cal = graft.Tables.storeParquet(spark, s"$path/calendar")
    val lo = cal.agg(min(col("event_date"))).head().getDate(0)
    if (lo != null) {
      val day2 = java.sql.Date.valueOf(lo.toLocalDate.plusDays(1))
      val corrected = Tables.events(spark, dir)
        .withColumn("event_date", to_date(col("ts")))
        .filter(col("event_date") === lit(day2))
        .withColumn("value", col("value") * 2)
      corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(s"$path/rows")
    }
    graft.Tables.storeParquet(spark, s"$path/rows")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("event_type"))
  }

  /** Row-level MERGE into the date-partitioned lake — the keyed
    * upsert+delete the vector store answers with tombstones/rebuild
    * ([[IndexStore.searchTombstoned]]/[[IndexStore.rebuild]]) and Crud
    * answers table→table ([[graft.operators.Crud.upsert]]), answered
    * lake-side: apply a changeset (deletes + keyed upserts, reference
    * semantics `Milvus/stream1.py:370-371` upsert + tombstone delete) via
    * COPY-ON-WRITE of only the affected `event_date=` directories. The
    * [[backfillQuery]] machinery generalized from recompute-a-day to
    * apply-a-changeset:
    *
    *  1. affected partitions = the changeset's distinct dates (driver-side,
    *     ≤ |dates| — bounded metadata);
    *  2. current rows of ONLY those partitions are read (literal date
    *     IN-list → static `PartitionFilters`), anti-joined on the key to
    *     drop deleted rows AND stale versions of upserted keys;
    *  3. survivors ∪ upsert rows rewrite those directories under
    *     `partitionOverwriteMode=dynamic` — every untouched partition's
    *     files keep their bytes (mtime spec-asserted).
    *
    * At 100 TB this is the difference between touching two directories
    * and rewriting the lake; the changeset is derived from the RAW table
    * each run (delete day-2 keys ≡ 0 mod 7; re-derive day-3 click values
    * ×2; insert day-1 keys ≡ 0 mod 5 shifted to day 3 under fresh ids),
    * so re-applying is IDEMPOTENT — the scd2_merge recompute-from-source
    * idiom. The oracle replays the whole changeset against the raw table:
    * the hash match proves merge ≡ full recompute. Runs on its own store
    * clone (`_mg`) so the shared store keeps matching the other queries'
    * oracles.
    */
  def mergeQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir) + "_mg"
    ensureAt(spark, dir, path)
    val lo = graft.Tables.storeParquet(spark, s"$path/calendar")
      .agg(min(col("event_date"))).head().getDate(0)
    if (lo != null) {
      val day1 = java.sql.Date.valueOf(lo.toLocalDate)
      val day2 = java.sql.Date.valueOf(lo.toLocalDate.plusDays(1))
      val day3 = java.sql.Date.valueOf(lo.toLocalDate.plusDays(2))
      val raw = Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))
      val maxId = raw.agg(max(col("event_id"))).head().getLong(0)
      // the changeset: (op, full payload for upserts) — derived from raw,
      // so a re-apply recomputes the same target state
      val deletes = raw
        .filter(col("event_date") === lit(day2) && col("event_id") % 7 === 0)
        .select(col("event_id"), col("event_date"))
      val updates = raw
        .filter(col("event_date") === lit(day3) && col("event_type") === "click")
        .withColumn("value", col("value") * 2)
      val inserts = raw
        .filter(col("event_date") === lit(day1) && col("event_id") % 5 === 0)
        .withColumn("event_id", col("event_id") + lit(maxId + 1L))
        .withColumn("ts", expr("ts + INTERVAL 2 DAYS"))
        .withColumn("event_date", to_date(col("ts")))
      val upserts = updates.unionByName(inserts)
      val changeKeys = deletes.select(col("event_id"))
        .unionByName(upserts.select(col("event_id")))
      val affected = deletes.select(col("event_date"))
        .unionByName(upserts.select(col("event_date")))
        .distinct().collect().map(_.getDate(0)) // ≤ |dates| rows
      val current = graft.Tables.storeParquet(spark, s"$path/rows")
        .filter(col("event_date").isin(affected.toIndexedSeq: _*))
      // No broadcast hint on the anti-join: the changeset is data-sized
      // (three days' worth of keys grows with the lake), so forcing a
      // broadcast would risk driver/executor OOM at production scale where
      // degrading to a shuffled join is the correct behavior — AQE picks
      // broadcast anyway whenever the runtime size is actually small.
      val survivors = current
        .join(changeKeys, Seq("event_id"), "left_anti")
      val merged = survivors
        .unionByName(upserts.select(survivors.columns.map(col): _*))
        .localCheckpoint() // Spark refuses lazy self-overwrite
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(s"$path/rows")
      val outDates = merged.select(col("event_date")).distinct()
        .collect().map(_.getDate(0).toString).toSet
      dropEmptiedPartitions(s"$path/rows", affected.iterator.map(_.toString).toSeq, outDates)
    }
    graft.Tables.storeParquet(spark, s"$path/rows")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("event_type"))
  }

  /** Dynamic partition overwrite only rewrites partitions PRESENT in the
    * output: an affected partition whose every row was deleted emits no
    * rows, its directory is never rewritten, and the deleted rows would
    * silently resurface. Unreachable from [[mergeQuery]]'s built-in mod-7
    * changeset, but MERGE semantics are general — so after the write,
    * every affected `event_date=` directory that produced zero
    * survivor+upsert rows is dropped (driver-side over the ≤ |dates|
    * sets; unit-testable in isolation since no changeset reaches it).
    */
  private[graft] def dropEmptiedPartitions(rowsPath: String, affected: Seq[String],
                                           outDates: Set[String]): Unit =
    affected.filterNot(outDates).foreach { d =>
      graft.streaming.StreamOps.rmTree(new java.io.File(s"$rowsPath/event_date=$d"))
    }

  /** [[mergeQuery]]'s SQL DML twin — the day-2 lake MERGE reachable
    * without DataFrame code, completing the `lake_sql_*` surface on the
    * WRITE side the way `lake_sql_ann`/`lake_sql_pit` closed the read
    * side. Every step of the changeset apply is SQL text over catalog
    * views (the view registration itself is engine plumbing, exactly as
    * in [[ensureSqlViews]]):
    *
    *  1. `lake_merge_upserts` / `lake_merge_keys` — the changeset derived
    *     from the raw log in SQL (same deletes/updates/inserts rule as
    *     [[mergeQuery]], maxId as an inline scalar subquery);
    *  2. `INSERT OVERWRITE lake_merge_stage` — survivors of ONLY the
    *     affected partitions (literal date IN-list → static
    *     `PartitionFilters` on the view's scan; `NOT EXISTS` anti-join
    *     drops deleted rows and stale versions) unioned with the upserts.
    *     The stage hop exists because Spark (correctly) refuses a SQL
    *     INSERT that reads the path it overwrites — the DataFrame route
    *     breaks the cycle with localCheckpoint, SQL stages through a
    *     sibling path;
    *  3. `INSERT OVERWRITE lake_merge_rows` from the stage under
    *     `partitionOverwriteMode=dynamic` — only the partitions present
    *     in the stage (the changeset's dates) are rewritten; every other
    *     directory keeps its bytes (same mtime spec as the DataFrame
    *     route).
    *
    * Shares [[mergeQuery]]'s caveat: dynamic overwrite only rewrites
    * partitions PRESENT in the output, so a changeset that empties a
    * partition needs the explicit directory cleanup the DataFrame route
    * performs (not reachable from the built-in mod-7 changeset). Runs on
    * its own clone (`_mgs`) so the DataFrame route's store and oracles
    * stay untouched; idempotent for the same reason mergeQuery is — the
    * changeset is re-derived from the raw log each run.
    */
  def sqlMergeQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir) + "_mgs"
    ensureAt(spark, dir, path)
    val lo = graft.Tables.storeParquet(spark, s"$path/calendar")
      .agg(min(col("event_date"))).head().getDate(0)
    if (lo == null) return emptyReport(spark)
    val day1 = lo.toLocalDate
    val (day2, day3) = (day1.plusDays(1), day1.plusDays(2))
    Tables.events(spark, dir).createOrReplaceTempView("lake_merge_raw")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_merge_rows " +
      s"USING parquet OPTIONS (path '$path/rows')")
    // seed the stage with the rows schema so its view resolves on run 1
    graft.Tables.storeParquet(spark, s"$path/rows").limit(0)
      .write.mode("overwrite").parquet(s"$path/stage")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW lake_merge_stage " +
      s"USING parquet OPTIONS (path '$path/stage')")
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW lake_merge_upserts AS
         |SELECT event_id, ts, user_id, event_type, value * 2 AS value, props,
         |       CAST(ts AS DATE) AS event_date
         |FROM lake_merge_raw
         |WHERE CAST(ts AS DATE) = DATE'$day3' AND event_type = 'click'
         |UNION ALL
         |SELECT event_id + (SELECT max(event_id) FROM lake_merge_raw) + 1 AS event_id,
         |       ts + INTERVAL 2 DAYS AS ts, user_id, event_type, value, props,
         |       CAST(ts + INTERVAL 2 DAYS AS DATE) AS event_date
         |FROM lake_merge_raw
         |WHERE CAST(ts AS DATE) = DATE'$day1' AND event_id % 5 = 0""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW lake_merge_keys AS
         |SELECT event_id FROM lake_merge_raw
         |WHERE CAST(ts AS DATE) = DATE'$day2' AND event_id % 7 = 0
         |UNION ALL
         |SELECT event_id FROM lake_merge_upserts""".stripMargin)
    spark.sql(
      s"""INSERT OVERWRITE TABLE lake_merge_stage
         |SELECT event_id, ts, user_id, event_type, value, props, event_date
         |FROM (
         |  SELECT r.event_id, r.ts, r.user_id, r.event_type, r.value, r.props, r.event_date
         |  FROM lake_merge_rows r
         |  WHERE r.event_date IN (DATE'$day2', DATE'$day3')
         |    AND NOT EXISTS (SELECT 1 FROM lake_merge_keys k WHERE k.event_id = r.event_id)
         |  UNION ALL
         |  SELECT event_id, ts, user_id, event_type, value, props, event_date
         |  FROM lake_merge_upserts
         |)""".stripMargin)
    GraftSession.withConf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic") {
      spark.sql(
        s"""INSERT OVERWRITE TABLE lake_merge_rows
           |SELECT event_id, ts, user_id, event_type, value, props, event_date
           |FROM lake_merge_stage""".stripMargin)
    }
    spark.sql(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_value_c
        |FROM lake_merge_rows GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** Per-partition layout audit — the small-files report every lake runs
    * before deciding what to compact: rows and distinct files per date
    * directory. One scan with `input_file_name()`; the oracle replays it
    * over the SAME exported artifact (`read_parquet(filename=true)`), so
    * even the file attribution is hash-checked, not just the row counts.
    * At 100 TB this table is what a compaction scheduler consumes — the
    * decision input, produced without touching file contents beyond the
    * scan already needed for row counts.
    */
  def layoutStats(spark: SparkSession, dir: String): DataFrame = {
    val path = ensure(spark, dir)
    graft.Tables.storeParquet(spark, s"$path/rows")
      .select(col("event_date"), input_file_name().as("f")) // project first:
      // non-deterministic expressions may not appear inside an aggregate
      .groupBy(col("event_date"))
      .agg(countDistinct(col("f")).as("n_files"),
        count(lit(1)).as("n_rows"))
      .withColumn("rows_per_file", expr("n_rows DIV n_files"))
      .orderBy(col("event_date"))
  }

  /** Partition compaction — the ACTION the [[layoutStats]] audit feeds:
    * every date directory holding more than `targetFiles` files is
    * rewritten (via the same dynamic partition overwrite as
    * [[backfillQuery]] — untouched partitions keep their bytes) into one
    * file per date, `repartition(col("event_date"))` guaranteeing each
    * date lands in exactly one task. The rewrite set is localCheckpointed
    * first: Spark (correctly) refuses to overwrite a path it is lazily
    * reading from. Idempotent — a second run finds nothing above target.
    * Runs on its own clone (`_cp`); returns the post-compaction audit.
    */
  def compactQuery(spark: SparkSession, dir: String, targetFiles: Int = 1): DataFrame = {
    val path = defaultPath(dir) + "_cp"
    ensureAt(spark, dir, path)
    def audit() = graft.Tables.storeParquet(spark, s"$path/rows")
      .select(col("event_date"), input_file_name().as("f"))
      .groupBy(col("event_date"))
      .agg(countDistinct(col("f")).as("n_files"), count(lit(1)).as("n_rows"))
    val needy = audit().filter(col("n_files") > targetFiles)
      .select(col("event_date")).collect().map(_.getDate(0)) // ≤ |dates| rows
    if (needy.nonEmpty) {
      graft.Tables.storeParquet(spark, s"$path/rows")
        .filter(col("event_date").isin(needy.toIndexedSeq: _*))
        .repartition(needy.length, col("event_date"))
        .localCheckpoint()
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(s"$path/rows")
    }
    audit().orderBy(col("event_date"))
  }

  /** Manifest-based TIME TRAVEL — the versioned-read leg of the
    * lakehouse triad this store demonstrates (backfill = mutation,
    * retention = vacuum, this = snapshot isolation): a correction is
    * APPENDED as new files (never a physical delete — that is exactly
    * what breaks time travel under [[backfillQuery]]'s dynamic
    * overwrite), and tiny version manifests record which files belong
    * to which snapshot — v1 the original layout, v2 the original minus
    * the corrected day's files plus the correction. Reading "as of v1"
    * AFTER the correction landed reproduces the pre-correction result
    * bit-for-bit (the Delta/Iceberg log idea reduced to its mechanism:
    * membership lists over immutable files).
    *
    * Both versions aggregate in ONE output frame keyed by `version`, so
    * the oracle checks the isolation property itself: v1 equals the raw
    * table, v2 equals the corrected one.
    */
  /** Every data file currently under `path/rows` (the physical census the
    * manifests select from — and the walk [[vacuum]] diffs against the
    * surviving manifests).
    */
  private[graft] def listParquet(path: String): Seq[String] = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator.single(f)
    walk(new java.io.File(s"$path/rows"))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq.sorted
  }

  /** Build (once per source generation) the VERSIONED store at `path`:
    * the partitioned layout, an APPENDED day-2 correction (never a
    * physical delete), and the v1/v2 manifests that give each snapshot
    * its immutable file list — the mechanism [[timeTravelQuery]] reads
    * through and [[vacuumQuery]] expires.
    */
  private[graft] def ensureVersioned(spark: SparkSession, dir: String,
                                     path: String): Unit = {
    val vdir = new java.io.File(s"$path/_versions")
    val built = Artifact.ensureSource(path, dir, Seq("calendar", "_versions/v2.txt")) {
      graft.streaming.StreamOps.rmTree(vdir)
      layout(spark, dir, path)
      val v1 = listParquet(path)
      val lo = graft.Tables.storeParquet(spark, s"$path/calendar")
        .agg(min(col("event_date"))).head().getDate(0)
      val v2 =
        if (lo == null) v1
        else {
          val day2 = lo.toLocalDate.plusDays(1)
          Tables.events(spark, dir)
            .withColumn("event_date", to_date(col("ts")))
            .filter(col("event_date") === lit(java.sql.Date.valueOf(day2)))
            .withColumn("value", col("value") * 2)
            .write.mode("append").partitionBy("event_date").parquet(s"$path/rows")
          val appended = listParquet(path).toSet -- v1.toSet
          v1.filterNot(_.contains(s"event_date=$day2")) ++ appended.toSeq.sorted
        }
      vdir.mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(vdir.getPath, "v1.txt"),
        v1.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(vdir.getPath, "v2.txt"),
        v2.mkString("\n").getBytes("UTF-8"))
    }
    if (built) graft.plans.HiddenPartitionRewrite.invalidatePath(s"$path/rows")
  }

  /** Read snapshot `v` of the versioned store at `path` — membership list
    * over immutable files, nothing else.
    */
  private[graft] def readVersion(spark: SparkSession, path: String, v: Int): DataFrame = {
    val files = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_versions", s"v$v.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq
    spark.read.option("basePath", s"$path/rows").parquet(files: _*)
      .select(lit(v.toLong).as("version"), col("event_type"), col("value"))
  }

  def timeTravelQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir) + "_tt"
    ensureVersioned(spark, dir, path)
    readVersion(spark, path, 1).unionByName(readVersion(spark, path, 2))
      .groupBy(col("version"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("version"), col("event_type"))
  }

  /** What [[vacuum]] did: survivors kept, files physically deleted with
    * their byte mass, and which manifest versions were expired.
    */
  private[graft] case class VacuumReport(filesKept: Long, filesDeleted: Long,
                                         bytesDeleted: Long, expired: Seq[Int])

  /** Snapshot EXPIRY + orphan-file vacuum — the day-2 half the time-travel
    * mechanism needs at 100 TB (Iceberg `expire_snapshots` / Delta
    * `VACUUM`; reference analog: drop-collection hygiene,
    * `Milvus/stream1.py:512-536`): corrections APPEND files and every
    * manifest keeps its file set alive forever, so superseded versions
    * accumulate storage that nothing will ever read again. Vacuum
    * (1) expires all but the newest `keepLatest` manifests, then
    * (2) deletes every data file under `rows/` referenced by NO surviving
    * manifest — which reclaims both the superseded-version files and true
    * orphans (crashed-write debris that never made it into any manifest).
    *
    * Two production guards:
    *  - '''staleness''': a `_src_fp` mismatch means a rebuild from newer
    *    source content is (or was) in flight — its freshly-written files
    *    are not yet in any manifest here and would look exactly like
    *    orphans, so vacuum REFUSES rather than race it;
    *  - '''grace''': orphans younger than `orphanGraceMs` survive (an
    *    in-flight writer's staged files), mirroring Delta's
    *    retention-hours floor. Expired-manifest files are exempt from
    *    grace — their manifest proves no writer owns them.
    *
    * O(files) metadata work + O(deleted) unlink calls; never reads or
    * rewrites a surviving row, so the post-vacuum current read is
    * bit-for-bit the pre-vacuum one ([[vacuumQuery]]'s verdict).
    */
  private[graft] def vacuum(spark: SparkSession, dir: String, path: String,
                            keepLatest: Int = 1,
                            orphanGraceMs: Long = 0L): VacuumReport = {
    if (!Artifact.sourceCurrent(path, dir))
      throw new IllegalStateException(
        s"refusing to vacuum $path: store was built from a different " +
          "source generation (source stamp mismatch) — a concurrent rebuild's " +
          "fresh files would be deleted as orphans")
    val vdir = new java.io.File(s"$path/_versions")
    val manifests = Option(vdir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("v\\d+\\.txt"))
      .sortBy(f => f.getName.stripPrefix("v").stripSuffix(".txt").toInt)
    val (expire, keep) = manifests.splitAt(math.max(0, manifests.length - keepLatest))
    def filesOf(m: java.io.File): Set[String] =
      new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSet
    val surviving = keep.map(filesOf).foldLeft(Set.empty[String])(_ ++ _)
    val expiredFiles = expire.map(filesOf).foldLeft(Set.empty[String])(_ ++ _)
    val now = System.currentTimeMillis()
    var deleted = 0L; var bytes = 0L
    listParquet(path).foreach { p =>
      if (!surviving.contains(p)) {
        val f = new java.io.File(p)
        // grace applies to true orphans only — an expired manifest is
        // positive proof the file belonged to a now-dead snapshot
        if (expiredFiles.contains(p) || f.lastModified() < now - orphanGraceMs) {
          bytes += f.length(); deleted += 1; f.delete()
        }
      }
    }
    // drop date directories the deletions emptied (same hygiene as the
    // merge's dropEmptiedPartitions — an empty dir is metadata noise)
    Option(new java.io.File(s"$path/rows").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("event_date="))
      .filter(d => Option(d.listFiles()).forall(_.isEmpty))
      .foreach(graft.streaming.StreamOps.rmTree)
    val expiredVs = expire.map(_.getName.stripPrefix("v").stripSuffix(".txt").toInt).toSeq
    expire.foreach(_.delete())
    VacuumReport(surviving.count(p => new java.io.File(p).exists()),
      deleted, bytes, expiredVs)
  }

  /** Per-run working clone of a versioned store: file copy plus a manifest
    * REWRITE — the v*.txt lists carry absolute paths, which must point
    * into the clone or its vacuum would stat (and spare) the pristine
    * store's files.
    */
  private[graft] def cloneVersioned(from: String, to: String): Unit = {
    IndexStore.cloneStore(from, to)
    val vdir = new java.io.File(s"$to/_versions")
    Option(vdir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("v\\d+\\.txt")).foreach { m =>
        val txt = new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8")
        java.nio.file.Files.write(m.toPath, txt.replace(from, to).getBytes("UTF-8"))
      }
  }

  /** The named `partitioned_vacuum` query — snapshot expiry + orphan
    * vacuum, verdict-checked: on a fresh clone of the versioned store
    * (plus one planted orphan file standing in for crashed-write debris)
    * it expires v1, vacuums, and surfaces the POST-vacuum current read
    * with three oracle-checked verdicts: the current read is bit-for-bit
    * the pre-vacuum one (vacuum never touches live data), the expired
    * version is provably gone (manifest deleted AND its exclusive files
    * unlinked), and something was actually reclaimed. The oracle replays
    * the corrected-table aggregate (the v2 leg of `partitioned_time_travel`)
    * with the verdicts as constants.
    */
  def vacuumQuery(spark: SparkSession, dir: String): DataFrame = {
    val tt = defaultPath(dir) + "_tt"
    ensureVersioned(spark, dir, tt)
    val path = defaultPath(dir) + "_vac"
    cloneVersioned(tt, path) // per-run reset: idempotent invocation
    // plant deterministic crashed-write debris: a file in the rows tree
    // that no manifest references (never read — snapshot reads are
    // manifest file lists, exactly why it is vacuum's job to find it)
    Option(new java.io.File(s"$path/rows").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("event_date="))
      .sortBy(_.getName).headOption.foreach { d =>
        java.nio.file.Files.write(
          new java.io.File(d, "orphan-debris.parquet").toPath,
          "crashed-write debris".getBytes("UTF-8"))
      }
    val v1Files = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_versions", "v1.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSet
    val v2Files = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_versions", "v2.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSet
    def currentRead(): DataFrame =
      readVersion(spark, path, 2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
    def snap(): Set[(String, Long, Long)] = currentRead().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val pre = snap()
    val report = vacuum(spark, dir, path)
    val post = snap()
    val v1Exclusive = v1Files -- v2Files
    val expiredGone =
      !new java.io.File(s"$path/_versions/v1.txt").exists() &&
        v1Exclusive.forall(p => !new java.io.File(p).exists())
    currentRead()
      .withColumn("post_equals_pre", lit(if (post == pre) 1L else 0L))
      .withColumn("expired_gone", lit(if (expiredGone) 1L else 0L))
      .withColumn("files_deleted_gt0", lit(if (report.filesDeleted > 0) 1L else 0L))
      .orderBy(col("event_type"))
  }

  /** Retention enforcement by PARTITION DROP — expiring old data on a
    * date-partitioned layout is a directory delete, an O(partitions)
    * metadata operation that never reads or rewrites a row (contrast a
    * non-partitioned lake, where retention is a full rewrite with an
    * anti-filter). Keeps the most recent `keepDays` dates; runs on its
    * own store clone (`_ret`) so the shared store keeps matching the
    * other queries' oracles. Idempotent: re-running drops nothing new.
    */
  def retentionQuery(spark: SparkSession, dir: String, keepDays: Int = 7): DataFrame = {
    val path = defaultPath(dir) + "_ret"
    ensureAt(spark, dir, path)
    val hi = graft.Tables.storeParquet(spark, s"$path/calendar")
      .agg(max(col("event_date"))).head().getDate(0)
    if (hi != null) {
      val cutoff = hi.toLocalDate.minusDays(keepDays.toLong - 1)
      val rowsDir = new java.io.File(s"$path/rows")
      Option(rowsDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
        .filter { f =>
          val d = java.time.LocalDate.parse(f.getName.stripPrefix("event_date="))
          d.isBefore(cutoff)
        }
        .foreach(graft.streaming.StreamOps.rmTree)
    }
    graft.Tables.storeParquet(spark, s"$path/rows")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("event_type"))
  }

  /** Even-day-of-month activity via a calendar-dim join — the shape that
    * exercises DYNAMIC partition pruning: the dim filter (`dom % 2 = 0`)
    * is not a literal date set at plan time, so Catalyst plants a
    * `dynamicpruning` subquery on the fact scan's `event_date` partition
    * column and prunes odd-day directories with the broadcast dim's
    * runtime result. At 100 TB this is every "join fact to filtered dim"
    * query; without DPP the fact scan reads all partitions.
    */
  def dppQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = ensure(spark, dir)
    val rows = graft.Tables.storeParquet(spark, s"$path/rows")
    val dim = graft.Tables.storeParquet(spark, s"$path/calendar")
      .filter(col("dom") % 2 === 0)
      .select(col("event_date"))
    rows.join(broadcast(dim), Seq("event_date"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long").as("sum_value_c"))
      .orderBy(col("event_type"))
  }
}
