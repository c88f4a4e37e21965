package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sorted, size-bounded parquet layout — the write-side half of data
  * skipping (companion to [[BucketedStore]], which solves join
  * co-location; this solves RANGE-predicate pruning and the small-files
  * problem).
  *
  * The reference re-reads its whole CSV corpus per run
  * (`FAISS/PlainDemo/pipeline.py:268-277`); at 100 TB the dominant cost of
  * every downstream query is how much of the lake a scan can SKIP. Parquet
  * stores per-file and per-row-group min/max statistics, but they only
  * prune when values are clustered: `repartitionByRange` gives disjoint
  * key ranges per output task (equal keys can't straddle files),
  * `sortWithinPartitions` clusters row groups inside each file, and
  * `maxRecordsPerFile` bounds file size so a 1000-executor write can't
  * emit multi-GB stragglers. A range predicate then touches
  * ceil(selectivity × files) files instead of all of them.
  *
  * One shuffle (the range exchange, driven by sampled split points) paid
  * at write time, amortized over every subsequent range scan.
  */
object SortedLayout {

  /** Persist `df` range-clustered by `key`: `numFiles` range partitions,
    * each internally sorted, each split at `maxRecordsPerFile` rows.
    */
  def write(df: DataFrame, path: String, key: String, numFiles: Int = 8,
            maxRecordsPerFile: Long = 1000000L): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    graft.Tables.storeParquet(spark, path)

  /** Per-file (min, max, rows) of `key` — the clustering audit: a sorted
    * layout has pairwise-disjoint file ranges, which is exactly the
    * property parquet min/max pruning needs. Distributed (one agg over the
    * scan, grouped by `input_file_name`); used by the spec.
    */
  def fileRanges(spark: SparkSession, path: String, key: String): DataFrame =
    graft.Tables.storeParquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(key)).as("lo"), max(col(key)).as("hi"),
        count(lit(1)).as("rows"))
      .orderBy(col("lo"))

  // ------------------------------------------- zone-map manifest store --

  def docStorePath(dir: String): String =
    Artifact.storeDir("sorted_store", dir)

  /** doc_id-sorted documents store WITH a persisted zone-map manifest —
    * the Iceberg/Delta file-skipping pattern made explicit: parquet's own
    * min/max footers prune only after the planner has already listed and
    * footer-read every file, but a manifest read is ONE tiny parquet (≤
    * numFiles rows) regardless of lake size. At 100 TB the difference is
    * a metadata query vs a million NameNode+footer round-trips per plan.
    * The manifest is computed once at write time (the ranges are a
    * by-product of the write's range exchange) and invalidated by the
    * same `_src_fp` staleness cascade every other derived store uses.
    */
  def ensureDocStore(spark: SparkSession, dir: String): String = {
    val path = docStorePath(dir)
    Artifact.ensureSource(path, dir, Seq("zonemap")) {
      write(graft.Tables.documents(spark, dir), s"$path/data", "doc_id",
        numFiles = 8, maxRecordsPerFile = 1000000L)
      fileRanges(spark, s"$path/data", "doc_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/zonemap")
    }
    path
  }

  /** Data files whose [lo, hi] zone intersects [lo, hi] — read from the
    * manifest, never by listing data files. Driver-side BOUNDED metadata
    * (≤ numFiles manifest rows, the same contract as IndexStore's probed
    * cell ids); returns (kept files, total files) so callers and specs
    * can audit the skip rate.
    */
  private[graft] def overlappingFiles(spark: SparkSession, path: String,
                                      lo: Long, hi: Long): (Seq[String], Int) = {
    val zm = graft.Tables.storeParquet(spark, s"$path/zonemap")
      .select(col("file"), col("lo"), col("hi")).collect()
    val keep = zm.filter(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
      .map(_.getString(0)).toSeq
    (keep, zm.length)
  }

  /** Range aggregation over the manifest-pruned file set: the scan's
    * input is only the files whose zones can hold the range (pruning is
    * conservative ⇒ the post-filter result is EXACTLY the full-table
    * filter, which is what the oracle replays). Row-group skipping inside
    * the kept files still applies on top (the layout is sorted within
    * files too).
    */
  def rangeQuery(spark: SparkSession, dir: String,
                 lo: Long = 100L, hi: Long = 299L): DataFrame =
    rangeAgg(spark, ensureDocStore(spark, dir), lo, hi)

  private def rangeAgg(spark: SparkSession, path: String, lo: Long, hi: Long): DataFrame = {
    val (files, _) = overlappingFiles(spark, path, lo, hi)
    val scan =
      if (files.isEmpty) graft.Tables.storeParquet(spark, s"$path/data").limit(0)
      else spark.read.parquet(files: _*)
    scan.filter(col("doc_id") >= lo && col("doc_id") <= hi)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  /** Day-2 ingest into a zone-mapped store WITHOUT touching existing
    * files: the delta is range-written to a staging dir (its OWN sorted
    * files — ingest batches at 100 TB must not force a merge-rewrite of
    * the lake), its per-file zones computed from the staging scan alone
    * (old data is never re-read), the part-files moved in, and the
    * manifest rewritten as old rows + delta rows — a tiny driver-side
    * union, exactly how Iceberg commits append manifests. New zones may
    * overlap old ones; pruning stays conservative-correct, and a later
    * full rewrite (the compaction sibling, [[write]]) restores
    * disjointness. Returns the number of files absorbed.
    */
  def absorb(spark: SparkSession, path: String, delta: DataFrame, key: String,
             numFiles: Int = 2, maxRecordsPerFile: Long = 1000000L): Int = {
    val staging = s"$path/staging"
    delta.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(staging)
    val staged = fileRanges(spark, staging, key).collect()
    val dataDir = new java.io.File(s"$path/data")
    val moved = staged.map { r =>
      val src = new java.io.File(new java.net.URI(r.getString(0)))
      val dst = new java.io.File(dataDir, src.getName)
      require(src.renameTo(dst), s"absorb: rename failed $src -> $dst")
      (dst.toURI.toString, r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // manifest commit: old rows (collected — the manifest is ≤ files rows
    // by contract) + the delta's rows, rewritten as one tiny parquet
    val old = graft.Tables.storeParquet(spark, s"$path/zonemap")
      .select(col("file"), col("lo"), col("hi"), col("rows")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    import spark.implicits._
    (old ++ moved).toSeq.toDF("file", "lo", "hi", "rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/zonemap")
    graft.streaming.StreamOps.rmTree(new java.io.File(staging))
    moved.length
  }

  /** The absorb lifecycle as a REGISTERED query: a store built from the
    * even-doc_id half, the odd half absorbed as a day-2 ingest batch,
    * then a manifest-pruned range aggregation — which must equal the
    * full-table filter (what the oracle replays), proving absorbed rows
    * are immediately visible through the pruned path.
    */
  def ensureAbsorbStore(spark: SparkSession, dir: String): String = {
    val path = docStorePath(dir) + "_absorb"
    Artifact.ensureSource(path, dir, Seq("zonemap")) {
      graft.streaming.StreamOps.rmTree(new java.io.File(path))
      val docs = graft.Tables.documents(spark, dir)
      write(docs.filter(col("doc_id") % 2 === 0), s"$path/data", "doc_id",
        numFiles = 4, maxRecordsPerFile = 1000000L)
      fileRanges(spark, s"$path/data", "doc_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/zonemap")
      absorb(spark, path, docs.filter(col("doc_id") % 2 === 1), "doc_id", numFiles = 4)
    }
    path
  }

  def absorbQuery(spark: SparkSession, dir: String,
                  lo: Long = 300L, hi: Long = 599L): DataFrame =
    rangeAgg(spark, ensureAbsorbStore(spark, dir), lo, hi)
}
