package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.VectorSearch
import graft.functions.VectorFunctions._

/** The persisted form of the IVF "index" (SURVEY.md §1.2): a clustered
  * parquet layout plus a tiny centroid table (`path/centroids`).
  *
  * This is what "vector index" means on a lake at 100 TB: not a mutable
  * in-memory structure (`index.add`, `FAISS/PlainDemo/pipeline.py:321`) but
  * a partitioned materialization whose directory layout IS the coarse
  * quantizer — a probed query equi-joins on `cell_id` and the scan planner
  * prunes to nprobe/nlist of the files (`PartitionFilters` in the plan),
  * the same data-skipping FAISS gets from its inverted lists.
  *
  * The rows live in two parts, and [[read]] serves their union:
  *
  *  - `path/rows/cell_id=*` — the clustered cells, written by [[writeFrom]],
  *    [[rebuild]] and [[compact]];
  *  - `path/segments/` — one parquet file per [[absorb]] call, sorted by
  *    `cell_id`, which is a data column there: the probed `cell_id IN (…)`
  *    is a pushed filter that skips row groups by their statistics. This
  *    is the Milvus shape (each insert+flush, `Milvus/stream1.py:282-283`,
  *    becomes one new segment, compacted later): an absorb costs one file
  *    however many cells its batch touches, where an append into the cells
  *    cost one file per touched cell and every later read listed them all.
  *
  * [[compact]] folds the segments back into their cells. Failure modes
  * (no atomic publication, [[Artifact]]): a fold interrupted after its
  * cell rewrite and before its segment deletes leaves those rows in a cell
  * AND in a segment, so [[read]] serves them twice (and a later fold
  * would write both copies into the cell) until the store is rebuilt.
  */
object IndexStore {

  /** Build and persist the clustered index: rows under
    * `path/rows/cell_id=*` and centroids under `path/centroids`, plus a
    * `_build_id` marker stamped fresh per build — dependent artifacts
    * (PqStore's codes, which bake in this index's cell assignment) record
    * the marker they were built against and compare CONTENT, not
    * filesystem mtimes (directory mtimes are not preserved across
    * copy/restore and only change on direct-child writes).
    */
  def write(spark: SparkSession, dir: String, path: String): Unit =
    build(spark, dir, path, force = true)

  private def build(spark: SparkSession, dir: String, path: String, force: Boolean): Unit =
    Artifact.ensureSource(path, dir, Seq("centroids", Artifact.BuildId.name), force) {
      writeFrom(Tables.embeddings(spark, dir), path)
    }

  /** Build and persist a store from an explicit vector frame (subset /
    * ingest-side stores), dropping any segments an earlier generation
    * absorbed. Stamps `_build_id` only — callers that derive
    * the frame from a data dir add their own `_src_fp` staleness marker
    * ([[write]], [[ensureSubset]]).
    */
  def writeFrom(vectors: DataFrame, path: String): Unit = {
    val (assigned, centroids) = VectorSearch.ivfBuildFrom(vectors)
    assigned.write.mode("overwrite")
      .partitionBy("cell_id")
      .parquet(s"$path/rows")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    dropSegments(path)
    Artifact.stampBuildId(path)
  }

  /** Where [[absorb]] lands its segments. */
  private def segmentsDir(path: String): String = s"$path/segments"

  /** The segment data files of the store at `path` (Spark's hidden-file
    * rule: `_`/`.` names are bookkeeping, not data).
    */
  private def segmentFiles(path: String): Seq[java.io.File] =
    Option(new java.io.File(segmentsDir(path)).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** A rebuilt store must not union in rows assigned under its old centroids. */
  private def dropSegments(path: String): Unit =
    graft.streaming.StreamOps.rmTree(new java.io.File(segmentsDir(path)))

  /** Day-2 maintenance: absorb new vectors into an EXISTING store without
    * re-clustering — assign each to its nearest current centroid (the same
    * assignment rule queries probe by) and append the batch as ONE new
    * segment under `path/segments/`, sorted by `cell_id`. This is what FAISS
    * `index.add` does post-train (`pipeline.py:321-323` adds to a trained
    * index): centroids stay fixed, so probed search finds the new rows with
    * zero rebuild; the documented drift contract is that cells slowly
    * unbalance as data drifts and a periodic [[rebuild]] re-trains, while
    * [[compact]] folds the segments into their cells. One writer task and
    * one Spark job per call, with no shuffle: the cells under `rows/` are
    * never touched, so their file listing stays valid for every later read.
    * A fresh `_build_id` is stamped so dependent artifacts (PqStore codes,
    * the planner's memoized store detection) see the content change and
    * re-derive instead of serving a row set they never encoded.
    */
  def absorb(spark: SparkSession, path: String, vectors: DataFrame): Unit = {
    VectorSearch.assignCells(vectors, IvfProbe.centroids(spark, path))
      .coalesce(1)
      .sortWithinPartitions(col("cell_id"))
      .write.mode("append").parquet(segmentsDir(path))
    Artifact.stampBuildId(path)
  }

  /** Fold the segments [[absorb]] landed back into the clustered cells:
    * read the cells the listed segments touch ∪ those segments, rewrite
    * each touched cell as one file (dynamic partition overwrite — untouched
    * cells keep their files), then delete exactly the segment files listed
    * before the fold. A segment an absorb lands during the fold is kept for
    * the next one. The row set, and so `_build_id`, does not change. An
    * interruption between the cell rewrite and the deletes leaves rows in
    * both places (see the object header). Folds in one JVM run one at a
    * time; nothing excludes a fold in another JVM.
    */
  def compact(spark: SparkSession, path: String): Unit = synchronized {
    val segs = segmentFiles(path)
    if (segs.nonEmpty) {
      val folded = spark.read.parquet(segs.map(_.getPath): _*)
      val touched = folded.select(col("cell_id")).distinct().collect().map(_.get(0)) // ≤ nlist
      if (touched.nonEmpty)
        graft.Tables.storeParquet(spark, s"$path/rows")
          .filter(col("cell_id").isin(touched.toIndexedSeq: _*))
          .unionByName(folded)
          .repartition(touched.length, col("cell_id"))
          .localCheckpoint()
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell_id")
          .parquet(s"$path/rows")
      segs.foreach { f =>
        f.delete()
        new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
      }
      // the dir goes once it holds no segment (a delete of a non-empty dir
      // fails, so an absorb's in-flight output keeps it)
      if (segmentFiles(path).isEmpty) {
        val dir = new java.io.File(segmentsDir(path))
        Seq("_SUCCESS", "._SUCCESS.crc").foreach(n => new java.io.File(dir, n).delete())
        dir.delete()
      }
    }
  }

  /** The absorb → [[compact]] cycle as a query (`ivf_layout_compact`), the
    * twin of `PqStore.layoutCompactQuery`: land three deterministic absorb
    * chunks of the odd half as segments on a working clone of the even-half
    * store, fold them, and return the post-fold files-per-cell audit plus
    * a source-recomputed conservation column. Build-once per half-store
    * generation; re-executions pay the audit scan only.
    */
  def layoutCompactQuery(spark: SparkSession, dir: String): DataFrame = {
    val half = ensureCorpusHalf(spark, dir)
    val work = defaultPath(dir) + "_plc"
    Artifact.ensure(work, Artifact.generation(half), Seq("rows")) {
      cloneStore(half, work)
      val odd = Tables.embeddings(spark, dir).filter(col("vec_id") % 2 === 1)
      (0 until 3).foreach { i =>
        absorb(spark, work, odd.filter((col("vec_id") / 2).cast("long") % 3 === i))
      }
      compact(spark, work)
    }
    val corpusRows = Tables.embeddings(spark, dir).count()
    read(spark, work)._1
      .select(col("cell_id").cast("long").as("cell_id"), input_file_name().as("f"))
      .groupBy(col("cell_id"))
      .agg(countDistinct(col("f")).as("n_files"), count(lit(1)).as("n_rows"))
      .withColumn("rows_per_file", expr("n_rows DIV n_files"))
      .withColumn("corpus_rows", lit(corpusRows))
      .orderBy(col("cell_id"))
  }

  /** Reset `to` as a byte-for-byte copy of the store at `from` — the
    * per-run working-copy idiom shared by [[maintain]] and the streaming
    * absorb run (each invocation acts on a fresh clone so the operation is
    * idempotent per run and the pristine store keeps serving its oracles).
    */
  private[graft] def cloneStore(from: String, to: String): Unit = {
    graft.streaming.StreamOps.rmTree(new java.io.File(to))
    copyTree(new java.io.File(from), new java.io.File(to))
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drift-DRIVEN day-2 maintenance — the consumer of the
    * [[centroidDrift]] monitor: measure, decide, act. The decision rule a
    * serving cluster runs nightly is `absorb` while the index still
    * represents its data (max split-half cell drift below τ — cheap
    * append into current cells, centroids fixed) and `rebuild` once any
    * cell has drifted past τ (full re-train over live ∪ incoming — the
    * expensive off-peak job). Acts on a MAINTENANCE COPY seeded from the
    * even-id half (the [[ensureCorpusHalf]] day-1/day-2 split: odd ids
    * play the incoming crawl), reset at every invocation so the operation
    * is idempotent per run; returns the path that would now SERVE
    * (blue/green: absorb serves the same store, rebuild serves the
    * re-trained one).
    */
  def maintain(spark: SparkSession, dir: String, decision: String): String = {
    val maintPath = defaultPath(dir) + "_maint"
    val emb = Tables.embeddings(spark, dir)
    // day-1 reset: file-copy the pristine clustered even half into place
    cloneStore(ensureCorpusHalf(spark, dir), maintPath)
    val incoming = emb.filter(col("vec_id") % 2 =!= 0)
    decision match {
      case "absorb" =>
        absorb(spark, maintPath, incoming)
        maintPath
      case _ =>
        absorb(spark, maintPath, incoming) // land the batch, then re-train
        val rb = maintPath + "_rb"
        rebuild(spark, maintPath, rb, emb.select(col("vec_id")).limit(0))
        rb
    }
  }

  /** The registered maintenance query (`embed_maintain`): the canonical
    * store's oracle-proven drift report drives the τ decision, the
    * decided action actually runs against the maintenance copy, and the
    * report surfaces the decision as a column (the knn_filtered_adaptive
    * idiom — the plan's chosen branch is part of the result). `rows_after`
    * re-reads the serving store post-action: both branches must end
    * serving every vector (|even| + |odd| = |embeddings|), which the
    * oracle checks as the corpus count while the branch-specific
    * structure (centroids fixed vs re-trained) is spec-pinned. The only
    * driver-side scalar is the max over the ≤nlist-row drift report.
    *
    * τ calibration: drift_metric = Σ over 64 dims of (split-half
    * per-dim mean diff in micros)², so pure sampling noise for a cell of
    * n/2-per-parity ≈ 64·(σ·10⁶)²·(2/n) with σ≈0.3 — about 10¹⁰ at
    * hundreds of rows per cell and FALLING as cells fill. The 10¹²
    * default sits an order above the noise floor of even the small test
    * SFs: crossing it requires the per-dim means to move ~10⁻¹ in
    * embedding units — structural drift, not noise.
    */
  def maintainQuery(spark: SparkSession, dir: String,
                    tauMicroSq: Long = 1000000000000L): DataFrame = {
    // ≤nlist-row report: localCheckpoint (not cache) — materializes once
    // for the two consumers and its blocks are reclaimed by the context
    // cleaner when the frame goes out of scope, so repeated maintenance
    // calls in a long-lived session can't accumulate pinned cached blocks.
    val drift = centroidDrift(spark, dir).localCheckpoint(eager = false)
    val maxDrift = drift.agg(max(col("drift_metric"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val decision = if (maxDrift >= tauMicroSq) "rebuild" else "absorb"
    // The ACTION is a pure function of (half store, source, decision) —
    // the pq_maintain `_maint_from` convention: a completed maintenance
    // store is reused across executions, so re-executions pay the drift
    // census (the query's actual semantics) plus a marker check and the
    // audit count, never a re-clone + re-absorb per call.
    val maintPath = defaultPath(dir) + "_maint"
    val half = ensureCorpusHalf(spark, dir)
    val servingPath = if (decision == "absorb") maintPath else maintPath + "_rb"
    Artifact.ensure(maintPath, Artifact.generation(half) + s" decision=$decision",
      Seq(s"$servingPath/rows"), Artifact.MaintFrom)(maintain(spark, dir, decision))
    val rowsAfter = read(spark, servingPath)._1.count()
    drift
      .withColumn("decision", lit(decision))
      .withColumn("threshold", lit(tauMicroSq))
      .withColumn("rows_after", lit(rowsAfter))
      .orderBy(col("cell_id"))
  }

  /** The even-vec_id half of a dir's embeddings as its own persisted
    * store — the "existing corpus" the streaming dedup-ingest probes and
    * the day-1 state [[maintain]] clones (the odd half plays the incoming
    * crawl); it is only ever read or cloned. Same canonical-path and
    * content-fingerprint contract as the full store.
    */
  def corpusHalfPath(dir: String): String = defaultPath(dir) + "_half"

  /** Build the even-half store once per source-content generation. */
  def ensureCorpusHalf(spark: SparkSession, dir: String): String = {
    val path = corpusHalfPath(dir)
    Artifact.ensureSource(path, dir, Seq("centroids")) {
      writeFrom(Tables.embeddings(spark, dir).filter(col("vec_id") % 2 === 0), path)
    }
    path
  }

  /** The build marker of the store at `path`, if present. */
  def buildId(path: String): Option[String] = Artifact.BuildId.read(path)

  /** Open the index: (every row, centroids). The rows are the clustered
    * cells ∪ the absorb segments, by name in the cells' column order;
    * without segments, the cells' frame as is (a never-absorbed store
    * plans exactly as before). The `cell_id` filter of a probed search is
    * a `PartitionFilters` on the cells arm and a pushed data filter on the
    * segments arm.
    */
  def read(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val cells = graft.Tables.storeParquet(spark, s"$path/rows")
    val rows =
      if (segmentFiles(path).isEmpty) cells
      else cells.unionByName(graft.Tables.storeParquet(spark, segmentsDir(path)))
    (rows, graft.Tables.storeParquet(spark, s"$path/centroids"))
  }

  /** Probed search against the PERSISTED index: identical query shape to
    * VectorSearch.ivfSearch, but the equi-join key is now also the storage
    * partition key, so the parquet source prunes unprobed cells' files
    * before reading a byte.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             k: Int = 5, nprobe: Int = 10): DataFrame = {
    val (rows, centroids) = read(spark, path)
    VectorSearch.ivfSearch(rows, centroids, queries, k, nprobe)
  }

  /** Canonical on-disk location of the index for a given data dir
    * ([[Artifact.storeDir]]), so "build once, search many" callers (and the
    * DuckDB oracle, which replays the probed search over these artifacts)
    * agree on the path without coordination.
    */
  def defaultPath(dir: String): String =
    Artifact.storeDir("ivf_store", dir)

  /** Build the index only if its artifacts don't exist yet OR were built
    * from different source content (`_src_fp_*` mismatch — the driver
    * regenerates the testdata between rounds, and an existence-only check
    * would keep serving an index of the previous corpus). A store missing
    * either marker rebuilds once and records both.
    */
  def ensure(spark: SparkSession, dir: String, path: String): Unit =
    graft.Profiling.timed("IndexStore.ensure")(build(spark, dir, path, force = false))

  /** [[ensure]] the canonical store of `dir`; returns its path. */
  private def ensured(spark: SparkSession, dir: String): String = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    path
  }

  /** Probed search with STATIC partition pruning: the probed cell set is
    * tiny driver-side metadata (≤ nq·nprobe ints — the same coarse-quantizer
    * lookup FAISS does before touching inverted lists,
    * `FAISS/PlainDemo/pipeline.py:257` `index.nprobe = 10`), so it is
    * inlined as a literal IN-list and the parquet source prunes unprobed
    * cells' directories at planning time (`PartitionFilters` in the scan).
    * At 100 TB this is the difference between scanning nprobe/nlist of the
    * files and scanning all of them. The rank tail is the only window.
    */
  def searchPruned(spark: SparkSession, path: String, queries: DataFrame,
                   k: Int = 5, nprobe: Int = 10,
                   rowPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // An optional scalar predicate on the stored rows (the Milvus `expr`
    // surface over the probed path): applied pre-rank, and Catalyst
    // pushes it through the score join into the pruned scan.
    VectorSearch.rankTopK(rowPred.foldLeft(scoreProbed(spark, path, queries, nprobe))(_.filter(_)), k)
  }

  /** Shared probe+score front half of every persisted-index query: probe
    * map-side ([[IvfProbe]]), inline the probed cells as a literal IN-list
    * (static `PartitionFilters`), equi-join the pruned rows to the exploded
    * probe and score — no window, no shuffle. Callers choose the tail:
    * top-k ([[searchPruned]]) or a radius filter ([[rangeSearchPruned]]).
    */
  private def scoreProbed(spark: SparkSession, path: String, queries: DataFrame,
                          nprobe: Int): DataFrame = {
    val cents = IvfProbe.centroids(spark, path)
    val cells = IvfProbe.probedCells(queries, cents, nprobe)
    read(spark, path)._1.filter(col("cell_id").isin(cells.toIndexedSeq: _*))
      .join(broadcast(IvfProbe.probed(queries, cents, nprobe)), "cell_id")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot(col("qvec"), col("embedding")))
  }

  /** Tombstone-aware probed search — DELETE without rebuild. FAISS
    * `remove_ids` (`FAISS/PlainDemo/pipeline.py:110-112`) mutates its
    * inverted lists eagerly; a lake store cannot, and doesn't need to:
    * deletes accumulate in a (tiny) tombstone set that broadcast
    * anti-joins the scored candidates at query time, UNDER the same
    * static partition pruning — k then fills from live rows only (the
    * anti-join sits below the top-k, never post-filtering a
    * short top-k). Compaction/rebuild becomes an offline maintenance
    * choice instead of a write-path blocker. Tombstones are the delete
    * set [[graft.Tables.deleted]].
    */
  def searchTombstoned(spark: SparkSession, dir: String,
                       k: Int = 5, nprobe: Int = 10): DataFrame = {
    val tombstones = graft.Tables.deletedVecIds(spark, dir)
    // Counted, not assumed (graft.Tables.boundedBroadcast): past the
    // inline bound the anti-join degrades to a shuffle instead of forcing
    // a driver-side multi-GB hash build on a bulk delete.
    val scored = scoreProbed(spark, ensured(spark, dir), VectorSearch.querySet(spark, dir, 5), nprobe)
      .join(graft.Tables.boundedBroadcast(tombstones), Seq("vec_id"), "left_anti")
    VectorSearch.rankTopK(scored, k)
  }

  /** Self-evaluating recall report — the quality metric the reference's
    * benchmark loop tracks for its ANN configurations: per-query
    * recall@k of the probed store search against the exact brute-force
    * top-k, computed IN the engine (a left-semi membership join of the
    * two ≤ nq·k ranked lists, then one tiny aggregate). Both legs are
    * deterministic, so the report is DuckDB-replayable end to end —
    * the recall dial (nprobe) gets an oracle-checked measurement, not
    * just a spec-side assertion.
    */
  def recallReport(spark: SparkSession, dir: String,
                   k: Int = 5, nq: Int = 5, nprobe: Int = 10): DataFrame = {
    val approx = searchPruned(spark, ensured(spark, dir), VectorSearch.querySet(spark, dir, nq), k, nprobe)
      .select(col("qid"), col("vec_id"))
    val exact = VectorSearch.knnExact(spark, dir, k, nq)
      .select(col("qid"), col("vec_id"))
    val hits = exact.join(approx, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_found"))
    exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_found"), lit(0L)).as("n_found"), col("n_exact"))
      .withColumn("recall_micro", expr("(n_found * 1000000) DIV n_exact"))
      .orderBy(col("qid"))
  }

  /** Reciprocal-rank eval of the probed search — recall@k asks "did the
    * true neighbors show up"; MRR asks "how HIGH did the true nearest
    * neighbor land", the rank-position metric retrieval evals report
    * (RAG-style serving cares about position, not just membership).
    * Per query: the exact top-1's rank in the probed top-`k` list,
    * rr_micro = 10⁶ DIV rank (0 if missed) — exact integer arithmetic,
    * no libm, so the DuckDB oracle replays it over the exported store.
    *
    * Scale shape: the probed leg is the standard partition-pruned store
    * search; the exact leg is one nq-row top-1; the comparison is an
    * (nq)-row left join. Nothing beyond the searches themselves touches
    * the corpus.
    */
  def mrrReport(spark: SparkSession, dir: String,
                k: Int = 10, nq: Int = 5, nprobe: Int = 10): DataFrame = {
    val probed = searchPruned(spark, ensured(spark, dir), VectorSearch.querySet(spark, dir, nq), k, nprobe)
      .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"))
    val exact1 = VectorSearch.knnExact(spark, dir, 1, nq)
      .select(col("qid"), col("vec_id"))
    exact1.join(probed, Seq("qid", "vec_id"), "left")
      .select(col("qid"), coalesce(col("rank"), lit(0L)).as("rank"))
      .withColumn("rr_micro",
        when(col("rank") > 0, expr("1000000 DIV rank")).otherwise(lit(0L)))
      .orderBy(col("qid"))
  }

  /** Per-cell centroid DRIFT — the "when to re-train" signal for the
    * [[absorb]]/[[rebuild]] maintenance cycle: as data drifts, cells
    * unbalance and their true centroids move off the trained ones.
    * Measured as the squared distance between the per-dimension means of
    * the even- and odd-id halves of each cell (a split-half estimate of
    * within-cell drift: a stable cell's halves agree; a drifting or
    * bimodal cell's don't). Pure integer arithmetic end to end —
    * components are offset (+1, normalized vectors ⇒ positive) and
    * floored to micros BEFORE any division, so engine floor-division
    * semantics never meet a negative operand (Spark `DIV` truncates,
    * DuckDB `//` floors — they agree only on non-negatives).
    *
    * Scale shape: ONE scan of the clustered store exploded by dimension,
    * a (cell, dim)-keyed map-combined aggregate, and a ≤ nlist-row
    * report. No pairwise anything.
    */
  def centroidDrift(spark: SparkSession, dir: String): DataFrame = {
    val (rows, _) = read(spark, ensured(spark, dir))
    val comp = rows
      .select(col("cell_id"), (col("vec_id") % 2 === 0).as("even"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("xm", floor((col("x").cast("double") + lit(1.0)) * 1e6).cast("long"))
    comp.groupBy(col("cell_id"), col("dim"))
      .agg(sum(when(col("even"), col("xm")).otherwise(0L)).as("se"),
        sum(when(col("even"), 1L).otherwise(0L)).as("ne"),
        sum(when(!col("even"), col("xm")).otherwise(0L)).as("so"),
        sum(when(!col("even"), 1L).otherwise(0L)).as("no"))
      .filter(col("ne") > 0 && col("no") > 0)
      .withColumn("d", expr("(se DIV ne) - (so DIV no)"))
      .groupBy(col("cell_id").cast("long").as("cell_id"))
      .agg(max(col("ne")).as("n_even"), max(col("no")).as("n_odd"),
        sum(expr("d * d")).as("drift_metric"))
      .orderBy(col("cell_id"))
  }

  /** nprobe → recall CURVE in one query — the recall dial as a table,
    * matching the reference's index-quality intent (Milvus ef=128 search
    * knob, `Milvus/stream1.py:161-162`; FAISS nprobe sweeps). Uses the
    * identity |topk_probed(L) ∩ exact| = |exact ∩ cells(rank ≤ L)|: an
    * exact-top-k member beaten by < k rows globally is beaten by < k rows
    * in any candidate subset containing it, so it always survives the
    * probed top-k — recall@k at level L needs only each exact hit's CELL
    * RANK for its query, not a re-run of the search per level. One
    * conditional aggregation over the (nq·k)-row exact-hit table does the
    * whole sweep: the corpus-scale work is the exact leg (inherent to
    * measuring recall) plus one broadcast lookup of the hits' cell
    * assignments; levels (default 1,2,5,10,nlist) explode only the tiny
    * hit table. Monotone in nprobe by the same identity (spec-asserted).
    */
  def recallSweep(spark: SparkSession, dir: String,
                  k: Int = 5, nq: Int = 5,
                  baseLevels: Seq[Int] = Seq(1, 2, 5, 10)): DataFrame = {
    val path = ensured(spark, dir)
    val cents = IvfProbe.centroids(spark, path)
    val levels = (baseLevels :+ cents.nlist).distinct.sorted
    // every cell's probe rank per query, 1-based
    val cellRank = VectorSearch.querySet(spark, dir, nq)
      .select(col("qid"), posexplode(IvfProbe.cells(cents, cents.nlist)(col("qvec"))))
      .select(col("qid"), col("col").as("cell_id"), (col("pos") + 1).as("cr"))
    val exact = VectorSearch.knnExact(spark, dir, k, nq).select(col("qid"), col("vec_id"))
    // hits' cell assignments: broadcast the nq·k exact hits against the
    // store rows — a lookup join, never a corpus shuffle
    val withCell = read(spark, path)._1.select(col("vec_id"), col("cell_id"))
      .join(broadcast(exact), "vec_id")
      .join(broadcast(cellRank), Seq("qid", "cell_id"))
    withCell
      .select(col("cr"), explode(lit(levels.toArray)).as("nprobe"))
      .groupBy(col("nprobe").cast("long").as("nprobe"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("cr") <= col("nprobe"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall_micro", expr("n_found * 1000000 DIV n_exact"))
      .select(col("nprobe"), col("n_found"), col("n_exact"), col("recall_micro"))
      .orderBy(col("nprobe"))
  }

  /** Self-tuning probed search: pick the SMALLEST measured nprobe whose
    * recall@k clears the target ([[recallSweep]]'s curve — recall at
    * nprobe = nlist is 1.0 by construction, so a feasible level always
    * exists for target ≤ 1.0), then run the partition-pruned search with
    * that knob. This is the auto-tune loop every vector DB wraps around
    * its ef/nprobe dial (Milvus ef, FAISS nprobe), done the database way:
    * derive the knob from MEASURED statistics on the persisted artifact,
    * not from a hand-tuned constant. The curve costs one bounded sweep
    * (nq·k hit rows), the decision is a driver-side min over ≤ |levels|
    * rows, and the search itself stays the static-INSET pruned scan.
    * The chosen knob is surfaced as a column so callers (and the oracle)
    * can audit the decision.
    */
  def autoTuneSearch(spark: SparkSession, dir: String, k: Int = 5, nq: Int = 5,
                     targetRecallMicro: Long = 900000L): DataFrame = {
    val np = recallSweep(spark, dir, k, nq) // ensures the store
      .filter(col("recall_micro") >= targetRecallMicro)
      .agg(min(col("nprobe"))).head.getLong(0)
    searchPruned(spark, defaultPath(dir),
      VectorSearch.querySet(spark, dir, nq), k, nprobe = np.toInt)
      .withColumn("nprobe", lit(np))
  }

  /** Offline compaction/rebuild — the maintenance half of
    * [[searchTombstoned]]: fold the tombstones in (drop dead rows),
    * RETRAIN the coarse quantizer on the live set (cluster drift after
    * heavy deletes is exactly why vector DBs rebuild rather than only
    * filter), rewrite the clustered layout (the source's segments folded
    * in, none at the target), and stamp a fresh `_build_id`
    * so dependent artifacts (PqStore codes) detect the change. Runs
    * against the persisted store only — the original corpus is not
    * re-read; on a cluster this is the off-peak job that turns
    * query-time tombstone filtering back into pure partition pruning.
    */
  def rebuild(spark: SparkSession, path: String, rebuiltPath: String,
              tombstones: DataFrame): Unit = {
    val (rows, _) = read(spark, path)
    val live = rows.drop("cell_id")
      .join(graft.Tables.boundedBroadcast(tombstones.select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
    val n = live.count()
    val nlist = math.max(1, math.min(100, math.sqrt(n.toDouble).toInt))
    // Cached for the two consumers (assignment + write); unpersisted in a
    // finally so a failed write can't leak the cached blocks into the
    // session for the store's lifetime.
    val centroids = VectorSearch.kmeansFit(live, nlist, knownCount = Some(n)).cache()
    try {
      VectorSearch.assignCells(live, centroids).write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(s"$rebuiltPath/rows")
      centroids.write.mode("overwrite").parquet(s"$rebuiltPath/centroids")
      dropSegments(rebuiltPath)
      Artifact.stampBuildId(rebuiltPath)
    } finally centroids.unpersist(blocking = false)
  }

  /** The V5 named query, build-once / search-many: ensure the persisted
    * index exists for `dir`, then run the partition-pruned probed search.
    * First execution pays the k-means build (`index.train+add`,
    * `pipeline.py:315-321`); every later execution is search-only against
    * the clustered layout — the shape a serving cluster actually runs.
    */
  def searchQuery(spark: SparkSession, dir: String): DataFrame = {
    searchPruned(spark, ensured(spark, dir), VectorSearch.querySet(spark, dir, 5))
  }

  /** The NAIVE flat nearest-neighbor query over the persisted clustered
    * rows — "ORDER BY distance LIMIT k" with no knowledge of probing, the
    * exact query a FAISS `IndexFlatL2` user writes
    * (`FAISS/PlainDemo/pipeline.py:232`). [[graft.plans.AnnProbeRewrite]]
    * recognizes this shape over the store layout and injects the static
    * `cell_id IN (<nprobe nearest cells>)` filter at planning time, so
    * this flat scan executes as the partition-pruned probed search —
    * querying THROUGH the index opts into index (approximate) semantics,
    * exactly as in FAISS/Milvus; exact search reads the base table. Over a
    * store with absorb segments the rule does not fire (its match does not
    * see through [[read]]'s union), so the flat query runs exact.
    */
  def flatTopK(spark: SparkSession, path: String, qid: Long,
               qvec: Array[Float], k: Int = 5): DataFrame = {
    val (rows, _) = read(spark, path)
    rows.filter(col("vec_id") =!= lit(qid))
      .select(lit(qid).as("qid"), col("vec_id"),
        dot(typedlit[Seq[Float]](qvec.toSeq), col("embedding")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The `knn_rewrite` named query: the naive [[flatTopK]] plan for each of
    * the 5 standard query vectors, rewritten by AnnProbeRewrite into the
    * probed form — row-identical to [[searchQuery]] (`knn_ivf`), and
    * replayed by the SAME exported-store DuckDB oracle. The per-query
    * plans union; the rank column is recomputed over the ≤ nq·k winners.
    */
  def rewriteSearchQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = ensured(spark, dir)
    val qs = VectorSearch.querySet(spark, dir, 5).orderBy(col("qid")).collect()
    val per = qs.map(r => flatTopK(spark, path, r.getLong(0), r.getSeq[Float](1).toArray))
    VectorSearch.rankTopK(per.reduce(_ unionAll _), Int.MaxValue)
  }

  /** SQL-first entry to the vector store: the clustered rows ([[compact]]ed
    * first, so the view over `rows` holds every row) registered as a
    * datasource-backed catalog view (the `lake_events` pattern of
    * [[PartitionedStore.ensureSqlViews]]), so plain `spark.sql` over
    * `lake_vectors` plans through the SAME HadoopFsRelation the DataFrame
    * path reads — including [[graft.plans.AnnProbeRewrite]]'s store
    * detection, which keys on the relation's `rows` root + sibling
    * markers and is entry-surface-agnostic. Registration is
    * generation-keyed ([[SqlViews.ensureParquetView]]) so the view
    * tracks the current store content without re-paying schema
    * inference on every call.
    */
  def ensureSqlView(spark: SparkSession, dir: String): String = {
    val path = ensured(spark, dir)
    compact(spark, path)
    SqlViews.ensureParquetView(spark, "lake_vectors", s"$path/rows")
    path
  }

  /** The `lake_sql_ann` named query — the reference's client surface
    * (`Milvus/stream1.py:161-162` search-by-expression) for SQL users:
    * the NAIVE `ORDER BY dot(<literal qvec>, embedding) DESC … LIMIT k`
    * text over the `lake_vectors` view, one arm per standard query
    * vector. Nothing in the SQL mentions cells or probing — the
    * optimizer-time [[graft.plans.AnnProbeRewrite]] recognizes each
    * arm's sorted-limit shape over the store layout and injects the
    * static `cell_id IN (<nprobe nearest cells>)` filter, so the SQL
    * user gets the partition-pruned probed plan (`PartitionFilters`
    * INSET on every arm's scan, spec-asserted) exactly as the DataFrame
    * path does. Row-identical to `knn_ivf`, replayed by the SAME
    * exported-store DuckDB oracle. Query vectors are inlined as double
    * literals narrowed to float — Float.toString round-trips through a
    * double literal bit-exactly.
    */
  def sqlAnnQuery(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    ensureSqlView(spark, dir)
    val qs = VectorSearch.querySet(spark, dir, 5).orderBy(col("qid")).collect()
    val arms = qs.map { r =>
      val qid = r.getLong(0)
      val vec = r.getSeq[Float](1).map(f => s"${f}D").mkString(", ")
      s"""(SELECT CAST($qid AS BIGINT) AS qid, vec_id,
         |        dot(CAST(array($vec) AS ARRAY<FLOAT>), embedding) AS sim
         | FROM lake_vectors WHERE vec_id <> $qid
         | ORDER BY sim DESC, vec_id LIMIT $k)""".stripMargin
    }
    spark.sql(
      s"""SELECT qid, vec_id,
         |       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank,
         |       CAST(FLOOR(sim * 1000000.0D) AS BIGINT) AS sim_micro
         |FROM (${arms.mkString("\nUNION ALL\n")})
         |ORDER BY qid, rank""".stripMargin)
  }

  /** Radius (range) search over the persisted pruned index — the scale
    * path of [[graft.operators.VectorSearch.rangeSearch]]: probe the
    * nprobe nearest cells exactly as [[searchPruned]] does (static IN-list
    * `PartitionFilters` — unprobed cells' files are never read), then cut
    * on the integer micro radius instead of ranking top-k. No rank window
    * at all: selection stays a map-side filter over the pruned scan, so
    * per-query state never accumulates however many hits the radius
    * admits. Approximate exactly like FAISS IVF range_search: hits outside
    * probed cells are missed — the same nprobe recall dial.
    */
  def rangeSearchPruned(spark: SparkSession, path: String, queries: DataFrame,
                        thresholdMicro: Long = 200000L, nprobe: Int = 10): DataFrame =
    scoreProbed(spark, path, queries, nprobe)
      .withColumn("sim_micro", micro(col("sim")))
      .filter(col("sim_micro") >= thresholdMicro)
      .select(col("qid"), col("vec_id"), col("sim_micro"))
      .orderBy(col("qid"), col("sim_micro").desc, col("vec_id"))

  /** Range search over the persisted index as a named query. */
  def rangeQuery(spark: SparkSession, dir: String): DataFrame = {
    rangeSearchPruned(spark, ensured(spark, dir), VectorSearch.querySet(spark, dir, 5))
  }

  /** Index-health statistics — the `collection.num_entities` /
    * inverted-list-balance surface every vector DB exposes
    * (`Milvus/stream1.py:201,227,238` gates its loads on entity counts;
    * FAISS ops watch invlist imbalance because one hot cell serializes
    * probes). Per cell: entity count, key range, and integer-mean vector
    * norm (Σ floor(1e6·‖v‖) DIV n — fold-order-free). One map-combined
    * aggregation over the clustered layout; at 100 TB each partition
    * aggregates its own file split, no row ever moves except the ≤ nlist
    * partial buffers.
    */
  def statsQuery(spark: SparkSession, dir: String): DataFrame = {
    val (rows, _) = read(spark, ensured(spark, dir))
    rows
      .select(col("cell_id").cast("long").as("cell_id"), col("vec_id"),
        micro(norm2(col("embedding"))).as("nm"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"),
        expr("sum(nm) DIV count(1)").as("mean_norm_micro"))
      .orderBy(col("cell_id"))
  }
}
