package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.VectorKernels

/** The IVF probe, stated once: the `nprobe` cells a query visits. Like
  * FAISS's in-memory coarse quantizer (`FAISS/PlainDemo/pipeline.py:257`),
  * a store's centroids are read once per content into a driver-side memo,
  * and the ranking runs map-side per query row — no centroid cross join,
  * no window, no shuffle. Every probed path, `AnnProbeRewrite` included,
  * ranks through [[Centroids.nearest]]: squared L2 against the centroid
  * narrowed to float, folded left to right in double, ties (and every cell
  * of a NULL query) to the lower `cell_id`, `min(nprobe, nlist)` cells
  * (`pipeline+ui.py:227-230`); a dimension mismatch fails in `checkDims`.
  */
object IvfProbe {

  /** Cell ids ascending; centroids as stored (double, the assignment
    * rule's) and narrowed to float (the probe's). */
  final class Centroids private[IvfProbe] (val ids: Array[Int], val raw: Array[Array[Double]])
      extends Serializable {
    private val narrowed: Array[Array[Float]] = raw.map(_.map(_.toFloat))

    def nlist: Int = ids.length

    /** The `min(n, nlist)` cells nearest to `q`, nearest first. */
    def nearest(q: Array[Float], n: Int): Array[Int] = {
      val m = math.max(0, math.min(n, nlist))
      if (q == null) return ids.take(m)
      val d = narrowed.map { c =>
        val dim = VectorKernels.checkDims(q.length, c.length)
        var s = 0.0; var i = 0
        while (i < dim) { val t = q(i).toDouble - c(i).toDouble; s += t * t; i += 1 }
        s
      }
      // a stable sort over ascending ids: ties go to the lower cell_id
      Array.range(0, nlist).sortBy(d)(Ordering.Double.TotalOrdering).take(m).map(ids)
    }
  }

  /** Collect a `(cell_id INT, centroid ARRAY<DOUBLE>)` table (≤ nlist rows). */
  def collect(centroids: DataFrame): Centroids = {
    val rows = centroids.select("cell_id", "centroid").collect().sortBy(_.getInt(0))
    new Centroids(rows.map(_.getInt(0)), rows.map(_.getSeq[Double](1).toArray))
  }

  /** One entry per store path, keyed on the content fingerprint of
    * `path/centroids`: an absorb never rewrites centroids, so it keeps the
    * entry; a rebuild or compaction flips the fingerprint and replaces it.
    */
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, (Long, Centroids)]()

  /** Centroid reads that missed the memo (each one Spark job). */
  private[graft] val loads = new java.util.concurrent.atomic.AtomicLong()

  /** Store paths with a memo entry. */
  private[graft] def memoKeys: Set[String] = memo.keySet.toArray(Array.empty[String]).toSet

  /** The memoized centroids of the IVF store at `path`. */
  def centroids(spark: SparkSession, path: String): Centroids = {
    val key = new java.io.File(new Path(path).toUri.getPath).getAbsolutePath
    val dir = s"$key/centroids"
    // fingerprint first: a rewrite racing the read is re-read next call
    val fp = graft.Tables.dirFingerprint(dir)
    memo.get(key) match {
      case (f, c) if f == fp => c
      case _ =>
        loads.incrementAndGet()
        val c = collect(spark.read.parquet(dir))
        // bounded: drop stores deleted since (test and scratch stores)
        if (memo.size > 64)
          memo.keySet.removeIf(k => !new java.io.File(s"$k/centroids").exists())
        memo.put(key, (fp, c))
        c
    }
  }

  /** Per probed cell, the positions in `qvecs` of the queries whose
    * [[Centroids.nearest]] `nprobe` cells hold it, ascending. Its keys are
    * the static `cell_id` IN-list of a probed scan, and
    * [[graft.plans.KnnJoinExec]] scores each row against its cell's
    * queries only ([[graft.plans.KnnJoinApi.probed]]). A NULL query
    * (`null`) probes the lowest cell ids.
    */
  def byCell(cents: Centroids, qvecs: Array[Array[Float]], nprobe: Int): Map[Int, Array[Int]] =
    qvecs.indices.flatMap(i => cents.nearest(qvecs(i), nprobe).map(_ -> i))
      .groupMap(_._1)(_._2).map { case (c, qis) => c -> qis.toArray }

  /** `ARRAY<INT>` of the `nprobe` cells nearest to `qvec`, nearest first;
    * the ≤ nlist·dim floats ride in the expression, and over a local query
    * batch the optimizer folds it into planning (`ConvertToLocalRelation`).
    * `qvec` arrives as `Array[Float]`, the vector-kernel input contract
    * (`VectorSearch.nearestCellUdf`); a NULL query arrives as `null`.
    */
  def cells(cents: Centroids, nprobe: Int)(qvec: Column): Column =
    udf((q: Array[Float]) => cents.nearest(q, nprobe))
      .apply(qvec)

  /** `(qid, qvec, cell_id)`: one row per probed cell of each query. */
  def probed(queries: DataFrame, cents: Centroids, nprobe: Int): DataFrame =
    queries.select(col("qid"), col("qvec"),
      explode(cells(cents, nprobe)(col("qvec"))).as("cell_id"))

  /** Distinct probed cells, ascending: the static `cell_id` IN-list behind
    * `PartitionFilters`. Collects ≤ nq·nprobe ints. */
  def probedCells(queries: DataFrame, cents: Centroids, nprobe: Int): Array[Int] =
    queries.select(cells(cents, nprobe)(col("qvec"))).collect()
      .flatMap(_.getSeq[Int](0)).distinct.sorted
}
