package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Readers for the driver testdata (see TESTDATA.md): TPC-H-ish star schema
  * plus `events` (stream-shaped), `documents` (text corpus) and `embeddings`
  * (vector table, ARRAY<FLOAT> dim 64, L2-normalized).
  *
  * All reads are plain parquet scans so Catalyst predicate pushdown and
  * column pruning apply to every downstream query.
  */
object Tables {
  /** Fingerprint-keyed memo of the base-table DataFrames. `spark.read
    * .parquet` pays a driver-side file listing plus a footer schema
    * inference on EVERY call (~5-40 ms each); the bench executes every
    * query twice and most queries read 1-3 base tables per call, so the
    * suite pays that fixed cost thousands of times for tables that never
    * change mid-run. The memo returns the previously analyzed (lazy,
    * unexecuted) DataFrame while the path's content fingerprint is
    * unchanged — the exact staleness contract SqlViews.ensureParquetView
    * established for the SQL-route views (re-list/re-infer IFF the files
    * changed), so a regenerated testdata dir still invalidates. This is
    * plan reuse, NOT result caching: no rows are persisted; every action
    * on the returned frame re-scans the parquet files.
    *
    * One entry per path: a read from another session replaces the entry,
    * so a per-run child session (streaming runs read through their own)
    * stays reachable only until the next session reads that path.
    */
  private[graft] val tableMemo =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, Long, DataFrame)]

  /** Per-run temp locations (StreamOps sinks, zorder scratch) are
    * write-once-read-once — memoizing them would only grow the map.
    */
  private val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir", "/tmp")).getAbsolutePath

  /** `path` lies under `root` on a path boundary (`/tmpdata` is not under `/tmp`). */
  private[graft] def under(root: String, path: String): Boolean =
    path == root || path.startsWith(root + java.io.File.separator)

  private def memoizedRead(spark: SparkSession, path: String): DataFrame = {
    if (under(tmpRoot, path)) return spark.read.parquet(path)
    val gen = dirFingerprint(path)
    tableMemo.get(path) match {
      case Some((s, g, df)) if (s eq spark) && g == gen => df
      case _ =>
        val df = spark.read.parquet(path)
        tableMemo(path) = (spark, gen, df)
        df
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Profiling.timed("tableRead") { memoizedRead(spark, s"$dir/$name.parquet") }

  /** [[table]]'s twin for derived-store paths (`data/...` index stores,
    * partitioned stores, sketch exports): fingerprint-keyed memo of the
    * lazy DataFrame. Store paths — unlike the read-only testdata — are
    * REWRITTEN by lifecycle ops (absorb/compact/merge/maintain), which is
    * why every serve path re-read them per call; the content fingerprint
    * gives the same per-call staleness guarantee (a rewrite flips file
    * lengths/mtimes/footers ⇒ new fingerprint ⇒ re-list + re-infer) at
    * ~0.4 ms instead of a listing + footer schema inference. Plan reuse
    * only — never result caching.
    */
  private[graft] def storeParquet(spark: SparkSession, path: String): DataFrame =
    Profiling.timed("storeRead") { memoizedRead(spark, path) }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  /** The driver regenerates the testdata between rounds and the `ts`
    * physical type has varied across generations, so the reader normalizes
    * every flavor to a session-tz TIMESTAMP (every graft session pins UTC,
    * and DuckDB treats the naive values as UTC — same epoch either way):
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as a
    *    LongType of epoch-nanos, converted via integer division (`DIV`,
    *    not `/` — double division could round across a µs boundary) to
    *    epoch-micros, matching DuckDB's ns→µs truncation exactly;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ, which downstream epoch casts reject — cast to
    *    TIMESTAMP (UTC session tz ⇒ identical instant);
    *  - TIMESTAMP(MICROS, adjusted): already the target type.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** Flavor-adaptive `ts` normalization shared by the batch reader and the
    * streaming events source (StreamOps.readEventsStream).
    */
  def normalizeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      raw.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => raw
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The engine's one delete set: an id is deleted iff `id % 17 = 3`.
    * Every tombstone and compaction query deletes this set (`vec_id` on
    * the IVF, PQ and graph stores, `doc_id` on the CRUD corpus), so the
    * stores' delete semantics compare directly.
    */
  def deleted(id: Column): Column = id % 17 === 3

  /** The deleted `vec_id`s of `d`'s embeddings: [[deleted]] as a frame. */
  def deletedVecIds(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).filter(deleted(col("vec_id"))).select(col("vec_id"))

  /** Cheap content fingerprint of a data dir: a fold over every file's
    * path, length, and mtime (recursive — the table dirs are shallow and
    * contain a handful of parquet part-files, so this is a metadata-only
    * driver-side walk). Shared by every persisted derived artifact
    * (sketch exports, IVF/PQ/graph index stores) so that regenerated
    * source data invalidates the artifact instead of serving stale
    * derivations — the driver rebuilds the testdata between rounds, and
    * an existence-only `ensure` would keep probing an index built from a
    * corpus that no longer exists.
    */
  private[graft] def dirFingerprint(dir: String): Long = Profiling.timed("dirFingerprint") {
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator.single(f)
    // Sorted so the fold is independent of listFiles() enumeration order
    // (unspecified per the JDK), and folded with a tail-bytes content token
    // so a regeneration that preserves every file's size within the
    // filesystem's mtime granularity still flips the fingerprint.
    walk(new java.io.File(dir)).toArray.sortBy(_.getPath).foldLeft(17L) { (acc, f) =>
      (((acc * 31 + f.getPath.hashCode) * 31 + f.length()) * 31 + f.lastModified()) * 31 + tailToken(f)
    }
  }

  /** Ceiling on ids a search path may collect to the driver and inline as
    * a literal IN filter. Below it, inlining wins: the id list pushes into
    * the parquet scan (`PushedFilters: [In(...)]`) and prunes row groups.
    * Above it — the reference batches up to 30k queries, and nq·beam or
    * nq·rerank literal lists become ~10⁶-term plans — the same candidate
    * set must stay distributed and join (broadcast semi-join on ids)
    * instead. Every collect-and-inline site checks this bound rather than
    * relying on small-nq convention.
    */
  private[graft] val MaxInlineIds: Int = 10000

  /** Hint-broadcast a frame only while its COUNTED size fits the bound —
    * the conditional twin of the [[MaxInlineIds]] inline contract, for
    * join sides that are "usually tiny" but corpus-proportional in the
    * worst case (tombstone/dead sets: real deletes are a sliver, a bulk
    * delete can tombstone a corpus-scale slice). An unconditional
    * `broadcast()` hint overrides AQE and forces a driver-side hash
    * relation of whatever the set happens to be; this helper
    * localCheckpoints the frame (every caller consumes it at least once
    * more, so the materialization is shared, and checkpointing erases
    * the naive size estimate that would otherwise let the static planner
    * re-broadcast it), counts it, and hints only within the bound. Past
    * the bound the frame stays distributed and the join degrades to a
    * shuffled anti-join — correct at any delete volume, with AQE free to
    * re-pick from true runtime sizes.
    */
  private[graft] def boundedBroadcast(df: DataFrame,
                                      bound: Long = MaxInlineIds.toLong): DataFrame = {
    val d = df.localCheckpoint()
    if (d.count() <= bound) org.apache.spark.sql.functions.broadcast(d) else d
  }

  /** CRC32 of the file's last 64 bytes — for parquet that covers the
    * footer length, the "PAR1" magic and the tail of the serialized footer
    * (statistics/row-group metadata), which moves with any content change;
    * an in-place rewrite that preserved name, size, mtime tick AND the
    * last 64 footer bytes is the only residual staleness window. Same
    * cost as the previous 8-byte token: one seek+read per file.
    */
  private def tailToken(f: java.io.File): Long = {
    val len = f.length()
    val n = math.min(len, 64L).toInt
    if (n <= 0) len
    else {
      val buf = new Array[Byte](n)
      val raf = new java.io.RandomAccessFile(f, "r")
      try { raf.seek(len - n); raf.readFully(buf) } finally raf.close()
      val crc = new java.util.zip.CRC32
      crc.update(buf)
      crc.getValue
    }
  }
}
