package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.VectorSearch
import graft.functions.VectorFunctions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the compression layer of FAISS's
  * `IndexIVFPQ` family (the reference trains flat/IVF indexes,
  * `FAISS/PlainDemo/pipeline.py:315-321`; PQ is how the same library scales
  * past RAM), re-expressed lake-first and RESIDUAL-encoded, exactly as
  * `IndexIVFPQ` does it: what gets quantized is v − coarse_centroid(cell(v)),
  * not the raw vector — at a fixed bit budget the codebooks only have to
  * span the (much smaller) within-cell residual ball, which is most of
  * IVFPQ's accuracy (measured here at the same 48-bit budget, recall@5
  * over 20 queries: 0.32 raw → 0.55 residual at sf0.01, 0.26 → 0.39 at
  * sf0.1 — `graft.tools.RecallProbe`; PqStoreSpec pins residual ≥ raw).
  *
  *  - TRAIN: residuals are OPQ-ROTATED (Ge et al., CVPR 2013 — see the
  *    rotation section below) and split into `m` subspaces of D/m
  *    coordinates; an independent k-means (k=`nCodes`) runs per subspace →
  *    a codebook table `(sub, code, centroid)` of m·k tiny rows. The
  *    coarse centroids the residuals were taken against persist alongside
  *    (`coarse/`), and the rotation as `rotation/`, making every store
  *    self-contained for search, compaction and the oracle.
  *  - ENCODE: one map-side pass — nearest-cell assignment (broadcast coarse
  *    centroids), residual subtraction (`zip_with`), and a broadcast-
  *    codebook argmin UDF; no shuffle — replaces each vector with m
  *    one-byte codes: a 64-float embedding becomes 4 bytes plus its cell.
  *  - SEARCH (ADC, asymmetric distance computation): inner product
  *    decomposes exactly as dot(q, v) ≈ dot(q, coarse_cell) + Σ_s
  *    dot(q_s, r_s(code)). The query builds a (sub, code) residual LUT of
  *    m·k entries plus a (cell) coarse LUT of nlist entries — both
  *    driver-free broadcast crosses — and the scan reconstructs every
  *    candidate's score as m+1 table hits: an equi-join on (sub, code), a
  *    map-combined groupBy(qid, vec_id, cell_id), one broadcast join on
  *    the cell term. No float vector is ever read at search time; the
  *    coarse term costs nothing extra because the codes are already
  *    clustered by cell.
  *
  * Partial similarities are fixed-point-projected to micros BEFORE the sum,
  * so the ADC score is pure BIGINT — fold-order-free, hence identical under
  * any partitioning and replayable by the DuckDB oracle over the exported
  * coarse/codebook/code tables.
  */
object PqStore {

  /** Subspace count and codes per subspace. dim 64 → 8 subspaces × 8 dims,
    * 64 codes each ⇒ 48-bit codes: ~42× compression of the 256-byte float32
    * embedding. Recall-vs-bits, measured (`graft.tools.RecallProbe`,
    * recall@5 over 20 queries; 16/32/48-bit = nCodes 4/16/64; r16 numbers,
    * every store built through the measured rotation selection):
    *
    *   residual: 0.33 / 0.36 / 0.55 at sf0.01 — 0.20 / 0.30 / 0.39 at sf0.1
    *   raw 48-bit baseline:   0.42 at sf0.01 — 0.26 at sf0.1
    *
    * Synthetic near-uniform embeddings are PQ's hardest case; residual
    * encoding beats the raw scheme at EVERY bit budget, and the exact
    * re-rank path ([[searchRefined]]) recovers the rest where serving
    * needs it. The rotation selection's two measured facts: on the
    * RESIDUAL store the identity wins (coarse subtraction already
    * whitened the structure; forcing PCA-permutation read 0.47 < 0.55 at
    * sf0.01), while on the RAW twin — no coarse quantizer to absorb the
    * structure — the selected rotation lifts 0.32 → 0.42 at sf0.01,
    * OPQ's textbook case appearing exactly where theory says it should.
    */
  val M = 8
  val NCodes = 64

  private def dsub(dim: Int): Int = dim / M

  // ------------------------------------------------------------ rotation --
  //
  // OPQ rotation (Ge et al., "Optimized Product Quantization", CVPR 2013 —
  // the non-parametric PCA-permutation init, public knowledge; FAISS ships
  // the same idea as OPQMatrix): one orthogonal d×d matrix R applied to
  // every residual BEFORE the subspace split. PQ's per-subspace k-means
  // wastes budget when variance concentrates in a few subspaces; rotating
  // into the residuals' eigenbasis and then PERMUTING the eigen-directions
  // so each subspace receives a balanced variance PRODUCT (eigenvalue
  // allocation) equalizes the quantization load. Because R is orthogonal,
  // dot(q, r) = dot(R·q, R·r) exactly — ADC decomposes as before with the
  // QUERY rotated once per search (64 bounded dot products), and the coarse
  // term is untouched. R is trained once per build from the residual
  // second-moment matrix, persisted as 64 `(i, row)` parquet rows, and the
  // DuckDB oracle replays the query rotation as a literal matrix join over
  // that export with the same left-fold dot kernel — bit-identical.

  /** Deterministic residual second-moment matrix (uncentered — k-means
    * residuals are near-zero-mean by construction): per-partition
    * sequential upper-triangle accumulation, partitions folded IN INDEX
    * ORDER on the driver so the float summation order — and therefore the
    * eigenbasis and every downstream code — is identical across rebuilds
    * (the build-determinism spec). Driver payload: one d² array per
    * partition, independent of corpus size.
    */
  private def secondMoment(residuals: DataFrame, dim: Int): Array[Array[Double]] = {
    val parts = residuals.select(col("residual")).rdd
      .mapPartitionsWithIndex { (idx, it) =>
        val acc = new Array[Double](dim * dim)
        it.foreach { row =>
          val v = row.getSeq[Float](0)
          var i = 0
          while (i < dim) {
            val vi = v(i).toDouble
            var j = i
            while (j < dim) { acc(i * dim + j) += vi * v(j); j += 1 }
            i += 1
          }
        }
        Iterator((idx, acc))
      }.collect().sortBy(_._1)
    val total = new Array[Double](dim * dim)
    parts.foreach { case (_, a) =>
      var k = 0; while (k < total.length) { total(k) += a(k); k += 1 }
    }
    Array.tabulate(dim, dim)((i, j) =>
      if (i <= j) total(i * dim + j) else total(j * dim + i))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (classic
    * textbook algorithm — Golub & Van Loan §8.5): deterministic sweep
    * order, so rebuilds produce bit-identical eigenpairs. Returns
    * (eigenvalues, eigenvector COLUMNS). d=64 ⇒ sub-millisecond driver
    * work, independent of corpus size.
    */
  private def jacobiEigSym(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = i + 1; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    // Convergence is RELATIVE to the matrix's Frobenius norm: the input is
    // an unnormalized second-moment SUM whose entries scale with corpus
    // size, so an absolute cutoff would never fire on large corpora and
    // the loop would always run the full sweep cap (and the eigenvalue
    // log-products would shift with scale). ~1e-14·‖A‖²_F ≈ double-ulp²
    // slack at d=64.
    val fro2 = {
      var s = 0.0
      var i = 0
      while (i < n) { var j = 0; while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-14 * fro2) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq; a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk; a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq; v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** OPQ's eigenvalue allocation: eigen-directions sorted by variance
    * descending, greedily dealt to the M subspaces — each next direction
    * goes to the non-full subspace with the smallest variance log-product,
    * balancing the per-subspace quantization load. Signs normalized (first
    * largest-|·| component positive) so the basis — and every code — is
    * unique and rebuild-stable. Returns R row-major: rotated[i] = R(i)·x.
    */
  private def eigenAllocation(eigVals: Array[Double], eigVecs: Array[Array[Double]],
                              dim: Int): Array[Array[Double]] = {
    val cap = dim / M
    val order = (0 until dim).sortBy(i => (-eigVals(i), i))
    val logs = new Array[Double](M)
    val buckets = Array.fill(M)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { e =>
      val b = (0 until M).filter(buckets(_).length < cap)
        .minBy(b => (logs(b), b))
      buckets(b) += e
      logs(b) += math.log(math.max(eigVals(e), 1e-12))
    }
    buckets.flatten.map { e =>
      val row = Array.tabulate(dim)(r => eigVecs(r)(e))
      var mi = 0
      var i = 1
      while (i < dim) { if (math.abs(row(i)) > math.abs(row(mi))) mi = i; i += 1 }
      if (row(mi) < 0) row.map(x => -x) else row
    }.toArray
  }

  /** Mean squared quantization error of a codebook set over a (rotated)
    * residual frame — the k-means objective the rotation selection
    * minimizes: Σ_s min_c ‖r_s − c‖², summed map-side per row against the
    * broadcast codebooks, one distributed agg scalar. Like every PQ UDF
    * here it takes the residual as `Array[Float]`, the vector-kernel input
    * contract (`VectorSearch.nearestCellUdf`): a `Seq[Float]` arrives as an
    * `immutable.List`, whose `res(i)` walks the list.
    */
  private[graft] def quantError(rotRes: DataFrame, codebooks: DataFrame): Double = {
    val books: Array[Array[Array[Double]]] =
      codebooks.orderBy(col("sub"), col("code")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    val bc = rotRes.sparkSession.sparkContext.broadcast(books)
    val errUdf = udf((res: Array[Float]) => {
      val bs = bc.value
      var total = 0.0
      var s = 0
      while (s < bs.length) {
        val cents = bs(s)
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var dist = 0.0; var i = 0
          while (i < cent.length) {
            val t = res(s * cent.length + i) - cent(i); dist += t * t; i += 1
          }
          if (dist < bestD) bestD = dist
          c += 1
        }
        total += bestD
        s += 1
      }
      total
    })
    rotRes.agg(avg(errUdf(col("residual")))).head().getDouble(0)
  }

  /** The rotation CANDIDATES, cheapest structure first:
    *
    *   1. identity (plain residual PQ — the floor; ties prefer it),
    *   2. variance-allocation PERMUTATION (coordinate basis, per-dim
    *      variances dealt to subspaces by balanced log-product — OPQ's
    *      allocation without basis mixing),
    *   3. PCA + eigenvalue allocation (the full non-parametric OPQ init,
    *      Ge et al. CVPR 2013).
    */
  private[graft] def rotationCandidates(residuals: DataFrame,
                                        dim: Int): Seq[(String, Array[Array[Double]])] = {
    val moment = secondMoment(residuals, dim)
    val identity = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val perm = eigenAllocation(Array.tabulate(dim)(i => moment(i)(i)), identity, dim)
    val (vals, vecs) = jacobiEigSym(moment)
    val pca = eigenAllocation(vals, vecs, dim)
    Seq("identity" -> identity, "perm" -> perm, "pca" -> pca)
  }

  private def rmTree(f: java.io.File): Unit =
    graft.streaming.StreamOps.rmTree(f)

  /** Choose the rotation by the MEASURED END METRIC, not a proxy: each
    * candidate is trained and encoded end-to-end into a scratch store and
    * ADC-searched with a held-out deterministic query sample (every id
    * ≡ 3 mod 7, capped at 32 — disjoint from the serve-path `vec_id < nq`
    * query sets, so the selection never grades itself on serving
    * queries); the candidate with the highest recall@5 against the exact
    * dot wins, ties to the earlier (simpler) candidate. Selecting on
    * k-means MSE instead is the tempting shortcut and it is WRONG here,
    * measured: on this corpus PCA-permutation lowers training MSE yet
    * drops serving recall 0.55 → 0.47 at sf0.01 — squared residual error
    * is isotropic, but ADC ranking error is dot(q, r − r̂), weighted by
    * the real query distribution. Cost: two extra train+encode+search
    * passes ONCE PER BUILD (the scratch stores are deleted), never at
    * query time. Deterministic end to end (deterministic moment, Jacobi,
    * k-means, sample and tie-breaks). Returns (kind, R); the kind lands
    * in `_rotation_kind` for observability.
    */
  private def selectRotation(spark: SparkSession, path: String,
                             vectors: DataFrame, res: DataFrame,
                             dim: Int, nCodes: Int): (String, Array[Array[Double]]) = {
    import spark.implicits._
    val candidates = rotationCandidates(res, dim)
    val qs = vectors.filter(col("vec_id") % 7 === 3)
      .orderBy(col("vec_id")).limit(32)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .localCheckpoint()
    val exact = VectorSearch.knnDeclarative(qs, vectors, 5)
      .select(col("qid"), col("vec_id")).localCheckpoint()
    val nExact = exact.count()
    if (nExact == 0) return candidates.head
    val scored = candidates.zipWithIndex.map { case ((kind, r), idx) =>
      val tmp = s"${path}_rotsel_$kind"
      // try/finally: an exception mid-candidate (train/encode/search) must
      // not leave the `_rotsel_*` scratch store on disk next to the real
      // store.
      try {
        spark.read.parquet(s"$path/coarse")
          .write.mode("overwrite").parquet(s"$tmp/coarse")
        r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
          .toDF("i", "row").repartition(1)
          .write.mode("overwrite").parquet(s"$tmp/rotation")
        val rotRes = rotateResiduals(res, r)
        val books = trainFrom(rotRes, dim, nCodes).cache()
        books.write.mode("overwrite").parquet(s"$tmp/codebooks")
        encodeResiduals(rotRes, books)
          .write.mode("overwrite").partitionBy("cell_id").parquet(s"$tmp/codes")
        books.unpersist(blocking = false)
        val hits = search(spark, tmp, qs, 5, dim).select(col("qid"), col("vec_id"))
        val rec = hits.join(exact, Seq("qid", "vec_id"), "left_semi").count().toDouble / nExact
        (rec, -idx, kind, r)
      } finally rmTree(new java.io.File(tmp))
    }
    val best = scored.maxBy(s => (s._1, s._2))
    (best._3, best._4)
  }

  /** Apply R to a residual frame map-side: broadcast 64×64 matrix, one
    * batched matmul UDF (the encode-UDF convention — a native expression
    * buys nothing here because the output feeds the argmin UDF anyway).
    * The residual arrives as `Array[Float]`: the loop reads it dim² times
    * per row, which over a `Seq[Float]` (a decoded `List`) cost O(dim³).
    */
  private[graft] def rotateResiduals(residuals: DataFrame, r: Array[Array[Double]]): DataFrame = {
    val bc = residuals.sparkSession.sparkContext.broadcast(r)
    val rotUdf = udf((res: Array[Float]) => {
      val m = bc.value
      val n = m.length
      Array.tabulate(n) { i =>
        val row = m(i)
        var acc = 0.0; var j = 0
        while (j < n) { acc += res(j).toDouble * row(j); j += 1 }
        acc.toFloat
      }
    })
    residuals.select(col("vec_id"), col("cell_id"),
      rotUdf(col("residual")).as("residual"))
  }

  /** Fingerprint-keyed memo of a store's collected rotation matrix. The
    * rotation is 64 rows of bounded driver metadata (the codebook-collect
    * contract), but re-reading it per serve call cost a file listing +
    * footer inference + an orderBy job + a collect job (~0.2 s measured at
    * r17, every PQ query, every run). The memo re-collects IFF the
    * `rotation/` dir's content fingerprint changed — the staleness
    * contract of [[Tables.storeParquet]], so absorb/compact/maintain
    * rewrites still invalidate.
    */
  private val rotationMemo =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Array[Array[Float]])]

  private[graft] def rotationMatrix(spark: SparkSession, path: String): Array[Array[Float]] = {
    val rotPath = s"$path/rotation"
    val gen = Tables.dirFingerprint(rotPath)
    rotationMemo.get(rotPath) match {
      case Some((g, m)) if g == gen => m
      case _ =>
        val m = spark.read.parquet(rotPath).orderBy(col("i")).collect()
          .map(_.getSeq[Double](1).map(_.toFloat).toArray)
        rotationMemo(rotPath) = (gen, m)
        m
    }
  }

  /** Rotate the QUERY side with the exact-replay arithmetic the oracle
    * mirrors: rotated[i] = dot(qvec, float-narrowed R row i) via the same
    * codegen dot kernel DuckDB's `dotCentroidSql` replicates, narrowed to
    * float. The rotation is a 64-row CONSTANT (bounded driver metadata,
    * the codebook-collect contract), so the rotated query is a pure
    * MAP-SIDE literal projection — 64 inlined dot kernels in one
    * `array(...)` select, no join, no shuffle. The projection is
    * MATERIALIZED before it is returned (localCheckpoint — nq rows of 64
    * floats, bounded at any serve batch size): left lazy, the optimizer
    * collapses it into the downstream LUT crossJoin and re-derives the
    * whole 64×64-literal array per LUT row — a single-task 1.0 s stage
    * inside every PQ serve call at r17 bench config; materialized, the
    * same kernel computes each rqvec exactly once and the LUT slices a
    * plain column (stage drops to ~30 ms). Returns `(qid, rqvec)`.
    */
  private def rotatedQueries(queries: DataFrame, rows: Array[Array[Float]]): DataFrame = {
    val elems = rows.map(row => dot(col("qvec"), lit(row)).cast("float"))
    queries.select(col("qid"), array(elems.toIndexedSeq: _*).as("rqvec"))
      // lazy: the LogicalRDD barrier (what stops the optimizer collapsing
      // the projection into the LUT crossJoin) exists either way, but
      // eager=false defers the materialization jobs to first action — so
      // building a serve PLAN (explain/PlanDump/lint) runs no Spark jobs
      .localCheckpoint(eager = false)
  }

  /** Residualize a vector frame against coarse centroids, MAP-SIDE ONLY:
    * nearest-cell assignment via the broadcast-argmin UDF (the same rule
    * `searchIvfPq` probes by, so encoded rows land where probes look),
    * then a `zip_with` subtraction against the broadcast (≤ nlist rows)
    * centroid table. At 100 TB the base table is never shuffled to be
    * encoded — it is annotated and re-written clustered. Returns
    * `(vec_id, cell_id, residual ARRAY<FLOAT>)`; the float narrowing of
    * the stored double centroid mirrors the search-time cast, so the
    * residual is computed against exactly the value ADC adds back.
    */
  private[graft] def residualized(vectors: DataFrame, coarse: DataFrame): DataFrame =
    VectorSearch.withCellId(vectors.select(col("vec_id"), col("embedding")),
      IvfProbe.collect(coarse), "embedding")
      .join(broadcast(coarse.select(col("cell_id"),
        col("centroid").cast("array<float>").as("_cent"))), "cell_id")
      .select(col("vec_id"), col("cell_id"),
        zip_with(col("embedding"), col("_cent"), (x, y) => x - y).as("residual"))

  /** Train the m per-subspace codebooks over RESIDUALS (`IndexIVFPQ`
    * semantics — the codebooks span the within-cell residual ball, not the
    * whole space): m independent runs of the engine's own deterministic
    * k-means over residual coordinate slices. Returns
    * `(sub INT, code INT, centroid ARRAY<DOUBLE>)` — m·k rows.
    */
  private[graft] def trainFrom(residuals: DataFrame, dim: Int = 64,
                               nCodes: Int = NCodes): DataFrame = {
    val d = dsub(dim)
    (0 until M).map { s =>
      val sliced = residuals.select(col("vec_id"),
        slice(col("residual"), s * d + 1, d).as("embedding"))
      VectorSearch.kmeansFit(sliced, nCodes)
        .select(lit(s).as("sub"), col("cell_id").as("code"), col("centroid"))
    }.reduce(_ unionByName _)
  }

  /** Encode every vector as its cell plus m residual codes in ONE scan:
    * [[residualized]] assignment/subtraction, the store's OPQ rotation,
    * and a broadcast-codebook UDF computing all m argmins per row —
    * map-side end to end, exploded to the long form
    * `(vec_id, cell_id, sub, code)` the ADC join wants. `rotation` is the
    * store's 64-row `(i, row)` export (bounded driver metadata).
    */
  def encode(vectors: DataFrame, codebooks: DataFrame, coarse: DataFrame,
             rotation: DataFrame, dim: Int = 64): DataFrame = {
    val r = rotation.orderBy(col("i")).collect()
      .map(row => row.getSeq[Double](1).toArray)
    encodeResiduals(rotateResiduals(residualized(vectors, coarse), r), codebooks)
  }

  /** [[encode]] over an already-residualized frame — [[writeFrom]] shares
    * one checkpointed residual pass between train and encode. The encode
    * UDF takes the residual as `Array[Float]` (see [[quantError]]).
    */
  private def encodeResiduals(residuals: DataFrame, codebooks: DataFrame): DataFrame = {
    // m × k × d dense codebook matrix, ordered by (sub, code)
    val books: Array[Array[Array[Double]]] =
      codebooks.orderBy(col("sub"), col("code")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    val bc = residuals.sparkSession.sparkContext.broadcast(books)
    val encodeUdf = udf((res: Array[Float]) => {
      val bs = bc.value
      Array.tabulate(bs.length) { s =>
        val cents = bs(s)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var dist = 0.0; var i = 0
          while (i < cent.length) {
            val t = res(s * cent.length + i) - cent(i); dist += t * t; i += 1
          }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        best
      }
    })
    residuals.select(col("vec_id"), col("cell_id"),
      posexplode(encodeUdf(col("residual"))).as(Seq("sub", "code")))
  }

  /** Build and persist: codebooks under `path/codebooks`, long-form codes
    * under `path/codes` CLUSTERED BY the IVF coarse cell
    * (`partitionBy(cell_id)` — known at encode time from the IVF store's
    * assignment, like FAISS's IVFPQ storing codes inside inverted lists).
    * The directory layout is what lets [[searchIvfPq]] prune the code scan
    * to nprobe/nlist of the files statically; full-corpus readers
    * ([[search]]) just ignore the partition column.
    */
  def write(spark: SparkSession, dir: String, path: String): Unit =
    build(spark, dir, path, force = true)

  /** The build behind [[write]] and [[ensure]]. Refreshes the coarse
    * quantizer first: IndexStore.ensure rebuilds it (with a fresh
    * `_build_id`) when the SOURCE DATA changed, and the `_ivf_build_id`
    * marker — WHICH IVF build the codes' cells came from, compared by
    * content, never by directory mtime — then invalidates these codes too,
    * so the ADC scan never serves codebooks trained on a corpus that no
    * longer exists.
    */
  private def build(spark: SparkSession, dir: String, path: String, force: Boolean): Unit = {
    val ivfPath = IndexStore.defaultPath(dir)
    IndexStore.ensure(spark, dir, ivfPath)
    Artifact.ensure(path, Artifact.BuildId.key(ivfPath),
        Seq("codebooks", "coarse", "rotation", Artifact.RotationKind, "codes"),
        Artifact.IvfBuildId, force) {
      writeFrom(spark, path,
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        IndexStore.read(spark, ivfPath)._2)
    }
  }

  /** Build a PQ store from an explicit vector frame against an explicit
    * coarse quantizer — the subset twin of [[write]] (the day-2 [[absorb]]
    * spec's half-corpus seed builds through here with the same rules).
    * Persists the coarse centroids (`coarse/`), the residual codebooks
    * (`codebooks/`) and the clustered codes (`codes/cell_id=*`) — the
    * store is self-contained: search, absorb, compaction and the DuckDB
    * oracle all read residual context from the store itself, never from
    * the (possibly later-rebuilt) IVF store.
    */
  private[graft] def writeFrom(spark: SparkSession, path: String,
                               vectors: DataFrame, coarse: DataFrame,
                               dim: Int = 64, nCodes: Int = NCodes,
                               rotate: Boolean = true): Unit = {
    import spark.implicits._
    coarse.select(col("cell_id"), col("centroid"))
      .write.mode("overwrite").parquet(s"$path/coarse")
    val coarseBack = spark.read.parquet(s"$path/coarse")
    val res = residualized(vectors, coarseBack).localCheckpoint()
    // OPQ rotation trained on THIS store's residuals (identity for the
    // no-rotation twin); persisted before the codebooks so the store is
    // self-contained for search, absorb and the oracle.
    val (kind, r) =
      if (rotate) selectRotation(spark, path, vectors, res, dim, nCodes)
      else ("identity", Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0))
    r.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "row").repartition(1)
      .write.mode("overwrite").parquet(s"$path/rotation")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, Artifact.RotationKind), kind)
    val rotRes = rotateResiduals(res, r)
    val books = trainFrom(rotRes, dim, nCodes).cache()
    books.write.mode("overwrite").parquet(s"$path/codebooks")
    encodeResiduals(rotRes, books)
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$path/codes")
    books.unpersist(blocking = false)
  }

  /** Where the even-vec_id half PQ store persists — the day-1 store the
    * streaming absorb run ([[graft.streaming.StreamOps.streamPqAbsorb]])
    * clones per run, mirroring [[IndexStore.corpusHalfPath]].
    */
  def corpusHalfPath(dir: String): String = defaultPath(dir) + "_half"

  /** Build (once per source generation) the half-corpus PQ store the
    * streaming absorb starts from: codebooks trained on even vec_ids
    * only, cells assigned from the even-half IVF store's centroids (the
    * same coarse quantizer the absorb assigns against — absorbed rows
    * must land where that store's probes look), stamped with the
    * `_src_fp` staleness marker.
    */
  def ensureCorpusHalf(spark: SparkSession, dir: String): String = {
    val path = corpusHalfPath(dir)
    val ivfHalf = IndexStore.ensureCorpusHalf(spark, dir)
    Artifact.ensureSource(path, dir,
        Seq("codebooks", "coarse", "rotation", Artifact.RotationKind)) {
      val even = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"))
      writeFrom(spark, path, even, IndexStore.read(spark, ivfHalf)._2)
    }
    path
  }

  /** Day-2 absorb — encode an incoming batch under the EXISTING codebooks
    * and append into the clustered code layout, completing the lifecycle
    * symmetry with [[IndexStore.absorb]] (vector rows), `GraphIndex.absorb`
    * (edges) and `Dedup.bandIndexAbsorb` (sketches): until now the PQ
    * store only rebuilt via the `_ivf_build_id` cascade, so every arrival
    * re-paid train+encode over the whole corpus. This is FAISS's
    * `IndexIVFPQ.add` — codes for new vectors are computed against the
    * codebooks trained at build time (quantization error on the batch can
    * drift until the next retrain; ADC scores stay exact over whatever
    * codes are stored, so searches are correct, just coarser on drifted
    * data — the same contract as the IVF absorb's fixed centroids).
    *
    * Map-side only: the broadcast-codebook encode annotates the batch (no
    * corpus read, no shuffle beyond the batch-sized cell append), cells
    * and residuals come from the STORE'S OWN persisted coarse quantizer
    * (`coarse/` — the same centroids `searchIvfPq` probes by and ADC adds
    * back, so absorbed rows are immediately probe-reachable and their
    * scores exact over their stored codes). Appending into
    * `codes/cell_id=*` accumulates small files per batch; compaction is
    * the existing offline story
    * ([[graft.sources.PartitionedStore.compactQuery]]'s shape).
    */
  def absorb(spark: SparkSession, path: String,
             batch: DataFrame, dim: Int = 64): Unit = {
    val books = Tables.storeParquet(spark, s"$path/codebooks")
    val coarse = Tables.storeParquet(spark, s"$path/coarse")
    val rotation = Tables.storeParquet(spark, s"$path/rotation")
    encode(batch.select(col("vec_id"), col("embedding")), books, coarse,
      rotation, dim)
      // cluster by cell before the partitioned append: the encode inherits
      // the batch scan's split count, and tasks×cells tiny files make every
      // later probe/count over codes/ re-pay the listing (AQE coalesces
      // the tiny shuffle, so this lands ~one file per cell per batch)
      .repartition(col("cell_id"))
      .write.mode("append").partitionBy("cell_id").parquet(s"$path/codes")
  }

  /** Canonical on-disk location for a data dir (same convention as
    * IndexStore.defaultPath — the DuckDB oracle replays the ADC search over
    * these artifacts).
    */
  def defaultPath(dir: String): String =
    Artifact.storeDir("pq_store", dir)

  /** Build only if the artifacts don't exist yet or were built against a
    * DIFFERENT IVF build than the current one — a rebuilt coarse quantizer
    * must invalidate the codes, or searchIvfPq would probe new centroids
    * against stale baked cell_ids and silently return wrong candidates.
    * Staleness is decided by comparing explicit `_build_id` markers
    * written at build time (directory mtimes change on any direct-child
    * write and don't survive copy/restore, so they can both miss a rebuild
    * and force spurious ones); a PQ store with no recorded marker rebuilds
    * once and records it.
    */
  def ensure(spark: SparkSession, dir: String, path: String): Unit =
    graft.Profiling.timed("PqStore.ensure")(build(spark, dir, path, force = false))

  /** ADC top-k search against the persisted codes — the one PQ search
    * path. `queries` carries (qid, qvec); every stored code row
    * reconstructs its similarity to every query as a sum of m LUT hits,
    * and scores are integer ADC similarities (sum of m micro'd subspace
    * dots plus the coarse term — higher is better, matching the
    * inner-product metric of the exact search).
    *
    *  - `deleted`: a delete set of `vec_id`s, anti-joined BELOW the rank
    *    window so k fills from live rows (the `rowPred` role of
    *    [[IndexStore.searchPruned]]). The broadcast is counted, not
    *    assumed ([[Tables.boundedBroadcast]]): past the inline bound the
    *    anti-join degrades to a shuffle instead of a driver-side
    *    multi-GB hash build on a bulk delete.
    *  - `probe`: IVF centroids and nprobe. Only each query's nprobe
    *    nearest cells score: the probed cells inline as a literal IN-list
    *    (static `PartitionFilters` on the cell-clustered codes, so the
    *    scan reads nprobe/nlist of the code files) and the (qid, cell_id)
    *    probe joins below the LUT.
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             k: Int = 5, dim: Int = 64, deleted: Option[DataFrame] = None,
             probe: Option[(IvfProbe.Centroids, Int)] = None): DataFrame = {
    val d = dsub(dim)
    val books = Tables.storeParquet(spark, s"$path/codebooks")
    val coarse = Tables.storeParquet(spark, s"$path/coarse")
    val codes = Tables.storeParquet(spark, s"$path/codes")
    // m·k-entry residual LUT per query: partial similarity of the ROTATED
    // query's s-th slice against residual codebook centroid (sub, code) —
    // dot(q, r) = dot(R·q, R·r) exactly, R orthogonal — plus an
    // nlist-entry coarse LUT: the EXACT dot of the whole (unrotated) query
    // against the cell centroid the stored residual was taken from. The
    // double→float round-trip on the stored centroids mirrors what the
    // oracle can express exactly; both terms micro BEFORE the sum so the
    // score stays fold-order-free BIGINT.
    val rq = rotatedQueries(queries, rotationMatrix(spark, path))
    val lut = rq.crossJoin(broadcast(books))
      .select(col("qid"), col("sub"), col("code"),
        micro(dot(slice(col("rqvec"), col("sub") * d + 1, lit(d)),
          col("centroid").cast("array<float>"))).as("p_micro"))
    val cellLut = queries.crossJoin(broadcast(coarse))
      .select(col("qid"), col("cell_id"),
        micro(dot(col("qvec"), col("centroid").cast("array<float>"))).as("c_micro"))
    val hits = probe match {
      case None => codes.join(broadcast(lut), Seq("sub", "code"))
      case Some((cents, nprobe)) =>
        val cells = IvfProbe.probedCells(queries, cents, nprobe)
        codes.filter(col("cell_id").isin(cells.toIndexedSeq: _*))
          .join(broadcast(IvfProbe.probed(queries, cents, nprobe)
            .select(col("qid"), col("cell_id"))), "cell_id")
          .join(broadcast(lut), Seq("qid", "sub", "code"))
    }
    val scored = hits.filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"), col("cell_id"))
      .agg(sum(col("p_micro")).as("r_micro"))
      .join(broadcast(cellLut), Seq("qid", "cell_id"))
      .select(col("qid"), col("vec_id"),
        (col("r_micro") + col("c_micro")).as("adc_micro"))
    val live = deleted.fold(scored)(t =>
      scored.join(Tables.boundedBroadcast(t), Seq("vec_id"), "left_anti"))
    VectorSearch.rankTopK(live, k, "adc_micro",
      Seq(col("qid"), col("vec_id"), col("rank"), col("adc_micro")))
  }

  /** Tombstone-aware ADC search — DELETE on the PQ store without touching
    * the codes, completing the delete leg of the lifecycle matrix (IVF:
    * [[IndexStore.searchTombstoned]]; graph:
    * [[GraphIndex.searchTombstonedQuery]]). FAISS `IndexIVFPQ.remove_ids`
    * (`FAISS/PlainDemo/pipeline.py:110-112` shows the flat sibling) eagerly
    * rewrites inverted lists; the lake store instead [[search]]es with the
    * delete set [[Tables.deleted]] as its (tiny) tombstone set, shared with
    * the IVF and graph delete queries so the three stores' delete
    * semantics are directly comparable.
    */
  def searchTombstoned(spark: SparkSession, dir: String,
                       k: Int = 5, dim: Int = 64): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    search(spark, path, VectorSearch.querySet(spark, dir, 5), k, dim,
      deleted = Some(Tables.deletedVecIds(spark, dir)))
  }

  /** The named query: build-once / search-many ADC search (first execution
    * pays the train+encode, like the reference's `index.train(); index.add()`;
    * every later execution touches only the 4-byte codes).
    */
  def searchQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    search(spark, path, VectorSearch.querySet(spark, dir, 5))
  }

  /** Offline compaction of a tombstoned PQ store — the maintenance half
    * of [[searchTombstoned]], completing the compaction leg of the
    * lifecycle matrix (IVF: [[IndexStore.rebuild]]; graph:
    * `GraphIndex.compactTombstones`): physically drop the dead code rows
    * and rewrite the clustered layout, turning query-time tombstone
    * filtering back into a plain ADC scan. Unlike the IVF rebuild there
    * is NO retrain — FAISS `remove_ids` on an `IndexIVFPQ` drops inverted-
    * list entries and keeps both quantizers; dropping rows cannot degrade
    * the code assignment of survivors (each row's codes depend only on
    * its own vector), so the codebooks copy over byte-identical and every
    * surviving ADC score is unchanged. Cost: O(live codes) rewrite, no
    * k-means, no corpus read.
    */
  def compactTombstones(spark: SparkSession, path: String, compactPath: String,
                        tombstones: DataFrame): Unit = {
    spark.read.parquet(s"$path/codebooks")
      .write.mode("overwrite").parquet(s"$compactPath/codebooks")
    spark.read.parquet(s"$path/coarse")
      .write.mode("overwrite").parquet(s"$compactPath/coarse")
    spark.read.parquet(s"$path/rotation").repartition(1)
      .write.mode("overwrite").parquet(s"$compactPath/rotation")
    spark.read.parquet(s"$path/codes")
      .join(graft.Tables.boundedBroadcast(tombstones.select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$compactPath/codes")
  }

  /** The named `pq_compact` query: compact the canonical PQ store minus
    * the `knn_pq_tombstone` delete set into a sibling store, then ADC-
    * search the compacted codes with the standard query batch — no
    * tombstone filter anywhere, the dead rows are physically gone (and
    * the result provably equals the tombstone-filtered search, which the
    * spec pins). Build-once / search-many: `_built_from` records WHICH
    * IVF build's codes this compaction folded (the `graph_compact` /
    * `_ivf_build_id` cascade convention), so re-executions pay only the
    * staleness check + the scan.
    */
  def compactQuery(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    val cpt = path + "_cpt"
    Artifact.ensure(cpt, Artifact.IvfBuildId.key(path), Seq("codes", "coarse", "rotation")) {
      compactTombstones(spark, path, cpt, Tables.deletedVecIds(spark, dir))
    }
    search(spark, cpt, VectorSearch.querySet(spark, dir, 5), k)
  }

  /** The `lake_sql_pq` named query — the SQL route to compressed ADC
    * search, closing the last SQL-surface cell of the index-lifecycle
    * matrix (`lake_sql_ann` = IVF, `lake_sql_graph` = graph, this = PQ):
    * the persisted codes and codebooks register as catalog views and the
    * ENTIRE ADC search is ONE SQL text — the per-query LUT is a
    * CROSS JOIN of the inlined query vectors against the codebook view
    * (nq·m·k bounded rows, BROADCAST-hinted — without stats Catalyst
    * would SMJ-shuffle the corpus-sized code table), the score is
    * `sum(p_micro)` grouped per candidate, the top-k a rank window.
    * Same expressions as the DataFrame route (`dot` SQL kernel, `slice`,
    * float-narrowed centroids, micro projection BEFORE the sum), so the
    * result is row-identical and `knn_pq`'s DuckDB oracle serves
    * verbatim.
    *
    * The hinted CTE is referenced UNALIASED (`JOIN lut ON lut.sub = …`) —
    * the hint name must match the reference name, and an alias silently
    * unbinds it: `BROADCAST(lut) … JOIN lut l` matches nothing, Catalyst
    * picks the locally smaller side, and the plan inverts to broadcasting
    * the CORPUS-SIZED code table (the exact failure the scale contract
    * forbids — PqStoreSpec pins the build side so it cannot regress).
    * Same convention as `GraphIndex.sqlGraphQuery`'s unaliased `f$h`.
    */
  def sqlPqQuery(spark: SparkSession, dir: String, k: Int = 5, dim: Int = 64): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    val d = dsub(dim)
    SqlViews.ensureParquetView(spark, "pq_codes", s"$path/codes")
    SqlViews.ensureParquetView(spark, "pq_codebooks", s"$path/codebooks")
    SqlViews.ensureParquetView(spark, "pq_coarse", s"$path/coarse")
    SqlViews.ensureParquetView(spark, "pq_rotation", s"$path/rotation")
    val qs = VectorSearch.querySet(spark, dir, 5).orderBy(col("qid")).collect()
    val qRows = qs.map { r =>
      val vec = r.getSeq[Float](1).map(f => s"${f}D").mkString(", ")
      s"SELECT CAST(${r.getLong(0)} AS BIGINT) AS qid, " +
        s"CAST(array($vec) AS ARRAY<FLOAT>) AS qvec"
    }.mkString("\nUNION ALL\n")
    spark.sql(
      s"""WITH q AS ($qRows),
         |rq AS (SELECT /*+ BROADCAST(r) */ q.qid, r.i,
         |         CAST(dot(q.qvec, CAST(r.row AS ARRAY<FLOAT>)) AS FLOAT) AS x
         |       FROM q CROSS JOIN pq_rotation r),
         |rqa AS (SELECT qid,
         |          transform(array_sort(collect_list(struct(i, x))), s -> s.x) AS rqvec
         |        FROM rq GROUP BY qid),
         |lut AS (SELECT rqa.qid, b.sub, b.code,
         |          CAST(FLOOR(dot(slice(rqa.rqvec, b.sub * $d + 1, $d),
         |                         CAST(b.centroid AS ARRAY<FLOAT>)) * 1000000.0D) AS BIGINT) AS p_micro
         |        FROM rqa CROSS JOIN pq_codebooks b),
         |clut AS (SELECT q.qid, g.cell_id,
         |           CAST(FLOOR(dot(q.qvec, CAST(g.centroid AS ARRAY<FLOAT>)) * 1000000.0D) AS BIGINT) AS c_micro
         |         FROM q CROSS JOIN pq_coarse g),
         |s AS (SELECT /*+ BROADCAST(lut) */ lut.qid, c.vec_id, c.cell_id, sum(lut.p_micro) AS r_micro
         |      FROM pq_codes c JOIN lut ON lut.sub = c.sub AND lut.code = c.code
         |      WHERE c.vec_id <> lut.qid GROUP BY lut.qid, c.vec_id, c.cell_id),
         |t AS (SELECT /*+ BROADCAST(clut) */ s.qid, s.vec_id, s.r_micro + clut.c_micro AS adc_micro
         |      FROM s JOIN clut ON clut.qid = s.qid AND clut.cell_id = s.cell_id)
         |SELECT qid, vec_id, rank, adc_micro
         |FROM (SELECT qid, vec_id, adc_micro,
         |        row_number() OVER (PARTITION BY qid ORDER BY adc_micro DESC, vec_id) AS rank
         |      FROM t)
         |WHERE rank <= $k ORDER BY qid, rank""".stripMargin)
  }

  /** Drift-driven maintenance — `embed_maintain`'s PQ twin, closing the
    * one open fidelity note in [[absorb]]'s contract: codes absorbed under
    * FIXED codebooks drift as the corpus distribution moves, and until now
    * nothing measured it. The instrument is the CODE-USAGE census: encode
    * the incoming batch under the day-1 store's codebooks (exactly what
    * absorb would store) and compare, per subspace, its code-usage
    * distribution against the build corpus's — total-variation distance in
    * micros, `Σ_code |p_batch − p_build| DIV 2`. Same-distribution arrivals
    * match the census (TV at the multinomial sampling floor); drifted
    * arrivals concentrate mass on few codes and TV rises toward 10⁶.
    *
    * The decision `max_sub TV ≥ τ` picks ABSORB (append under fixed
    * codebooks — `IndexIVFPQ.add`) or RETRAIN (re-train codebooks +
    * rotation over the union corpus and re-encode everything — FAISS's
    * periodic `train()` refresh), runs it against a maintenance clone, and
    * surfaces the decision as an audit column (the `embed_maintain` /
    * knn_filtered_adaptive idiom: the chosen branch is part of the
    * result). τ calibration: with k codes and an n-row batch the TV
    * sampling floor is E[TV] ≈ 0.4·√(k/n)·10⁶ and falls as batches grow,
    * so τ(n) = 250000 + min(500000, ⌊8·10⁵·√(k/n)⌋) sits ≈2× above noise
    * at every test SF while staying strictly under the 10⁶ TV ceiling, so
    * a genuinely shifted batch (PqStoreSpec's point-mass fixture) crosses
    * it at any batch size. Oracle: the absorb branch's maintenance store
    * is exported parquet, so DuckDB recomputes the per-sub census TV from
    * the stored odd (batch) vs even (build) codes, the same τ from the
    * batch count, the decision, and the `codes_after` conservation census
    * from the source table; the retrain branch re-runs k-means and is
    * spec-pinned (both-branch specs), exactly `embed_maintain`'s split.
    */
  def maintainQuery(spark: SparkSession, dir: String): DataFrame = {
    val half = ensureCorpusHalf(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val incoming = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val books = spark.read.parquet(s"$half/codebooks")
    val coarse = spark.read.parquet(s"$half/coarse")
    val rotation = spark.read.parquet(s"$half/rotation")
    // what absorb WOULD store for this batch — m·k-bounded usage per sub;
    // checkpointed because the absorb branch appends EXACTLY these rows
    // (one encode pass serves both the census and the action). Clustered
    // by cell_id BEFORE the checkpoint: the encode inherits the scan's
    // split count (∝ default parallelism, i.e. the CORE count), and the
    // build-once `partitionBy("cell_id")` append below would fan that out
    // to tasks×cells files — every later `codes` count and fingerprint
    // walk re-pays the listing. One tiny shuffle (AQE-coalesced) bounds
    // the layout to ~one file per cell at any core count.
    val batchCodes = encode(incoming, books, coarse, rotation)
      .repartition(col("cell_id")).localCheckpoint(eager = false)
    val buildCodes = spark.read.parquet(s"$half/codes")
    def usage(codes: DataFrame, name: String): DataFrame = {
      // per-sub totals as a window over the m·k-bounded count table —
      // ONE scan of the codes instead of two (counts + totals legs)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sub"))
      codes.groupBy(col("sub"), col("code"))
        .agg(count(lit(1)).as("n"))
        .withColumn("t", sum(col("n")).over(w))
        .select(col("sub"), col("code"),
          expr("n * 1000000 DIV t").as(name)) // integer micros, DuckDB `//`
    }
    val tv = usage(batchCodes, "pb").join(usage(buildCodes, "pc"),
        Seq("sub", "code"), "full_outer")
      .select(col("sub"),
        abs(coalesce(col("pb"), lit(0L)) - coalesce(col("pc"), lit(0L))).as("diff"))
      .groupBy(col("sub"))
      .agg(expr("sum(diff) DIV 2").as("tv_micro"))
      .coalesce(1) // ≤ m rows — don't pin session-width tiny partitions
      .localCheckpoint(eager = false)
    // batch size from the already-materialized codes (m rows per vector)
    // instead of a second corpus scan just to count
    val nBatch = batchCodes.count() / M
    // τ(n) = 250000 + min(500000, ⌊8·10⁵·√(k/n)⌋): the additive term
    // tracks the multinomial sampling floor (E[TV] ≈ 0.4·√(k/n), so the
    // term sits ~2× above it) and the cap keeps τ strictly below the
    // 10⁶ TV ceiling — a point-mass batch (the spec's shifted fixture,
    // TV → 1 − p_build ≈ 10⁶) must be able to cross at ANY batch size,
    // including ones too small for subtler drift to be detectable.
    val tau = 250000L + math.min(500000L,
      math.floor(800000.0 * math.sqrt(NCodes.toDouble / nBatch)).toLong)
    val maxTv = tv.agg(max(col("tv_micro"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val decision = if (maxTv >= tau) "retrain" else "absorb"
    // The ACTION is a pure function of (half store, source, decision), so
    // a completed maintenance store is reused across executions (the
    // stream-absorb `_stream_complete` convention): re-executions pay the
    // census — the query's actual semantics, measuring drift — plus a
    // marker check and the audit count, never a re-clone + re-absorb.
    val maintPath = defaultPath(dir) + "_maint"
    val servingPath = if (decision == "absorb") maintPath else maintPath + "_rb"
    Artifact.ensure(maintPath, Artifact.generation(half) + s" decision=$decision",
        Seq(s"$servingPath/codes"), Artifact.MaintFrom) {
      IndexStore.cloneStore(half, maintPath)
      batchCodes.write.mode("append").partitionBy("cell_id")
        .parquet(s"$maintPath/codes")
      if (decision == "retrain")
        writeFrom(spark, servingPath,
          Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
          spark.read.parquet(s"$maintPath/coarse"))
    }
    val codesAfter = spark.read.parquet(s"$servingPath/codes").count()
    tv.select(col("sub").cast("long").as("sub"), col("tv_micro"))
      .withColumn("decision", lit(decision))
      .withColumn("threshold_micro", lit(tau))
      .withColumn("codes_after", lit(codesAfter))
      .orderBy(col("sub"))
  }

  /** Run the decided maintenance action against the `_maint` clone of the
    * day-1 half store; returns the serving path. ABSORB appends the batch
    * under the existing codebooks; RETRAIN lands the batch, then rebuilds
    * a sibling store over the UNION corpus — codebooks and rotation
    * re-trained, every row re-encoded — against the same coarse quantizer
    * (FAISS retrains the PQ layer under a kept coarse quantizer; a coarse
    * re-train is the IVF store's own `embed_maintain` decision).
    */
  private[graft] def maintain(spark: SparkSession, dir: String,
                              decision: String): String = {
    val half = ensureCorpusHalf(spark, dir)
    val maintPath = defaultPath(dir) + "_maint"
    IndexStore.cloneStore(half, maintPath)
    val incoming = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    decision match {
      case "absorb" =>
        absorb(spark, maintPath, incoming)
        maintPath
      case _ =>
        absorb(spark, maintPath, incoming) // land the batch, then re-train
        val rb = maintPath + "_rb"
        writeFrom(spark, rb,
          Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
          spark.read.parquet(s"$maintPath/coarse"))
        rb
    }
  }

  /** Small-files hygiene for the absorb append path — the
    * `partitioned_layout_stats`/`compactQuery` idiom pointed at the PQ
    * store's `codes/cell_id=*` layout (the r15 note: per-batch absorbs
    * accumulate a file per touched cell per batch, and the index stores
    * had a compaction story but no measured decision input). This query
    * IS both: fragment a working clone with three deterministic absorb
    * chunks (the streaming arrival shape), audit files-per-cell, rewrite
    * every cell above `targetFiles` via dynamic partition overwrite
    * (untouched cells keep their bytes), and return the post-compaction
    * audit — `(cell_id, n_files, n_rows, rows_per_file)` plus a
    * `corpus_codes` conservation column the oracle recomputes from the
    * SOURCE table (rows must survive compaction exactly). Build-once per
    * half-store generation: re-executions pay the audit scan only.
    */
  def layoutCompactQuery(spark: SparkSession, dir: String,
                         targetFiles: Int = 1): DataFrame = {
    val half = ensureCorpusHalf(spark, dir)
    val work = defaultPath(dir) + "_plc"
    Artifact.ensure(work, Artifact.generation(half), Seq("codes")) {
      IndexStore.cloneStore(half, work)
      val odd = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
      // three deterministic arrival chunks — each absorb appends at least
      // one new file into every touched cell directory
      (0 until 3).foreach { i =>
        absorb(spark, work, odd.filter((col("vec_id") / 2).cast("long") % 3 === i))
      }
      val needy = spark.read.parquet(s"$work/codes")
        .select(col("cell_id"), input_file_name().as("f"))
        .groupBy(col("cell_id"))
        .agg(countDistinct(col("f")).as("n_files"))
        .filter(col("n_files") > targetFiles)
        .select(col("cell_id")).collect().map(_.get(0)) // ≤ nlist rows
      if (needy.nonEmpty) {
        spark.read.parquet(s"$work/codes")
          .filter(col("cell_id").isin(needy.toIndexedSeq: _*))
          .repartition(needy.length, col("cell_id"))
          .localCheckpoint()
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell_id")
          .parquet(s"$work/codes")
      }
    }
    val corpusCodes = Tables.embeddings(spark, dir).count() * M
    spark.read.parquet(s"$work/codes")
      .select(col("cell_id").cast("long").as("cell_id"), input_file_name().as("f"))
      .groupBy(col("cell_id"))
      .agg(countDistinct(col("f")).as("n_files"), count(lit(1)).as("n_rows"))
      .withColumn("rows_per_file", expr("n_rows DIV n_files"))
      .withColumn("corpus_codes", lit(corpusCodes))
      .orderBy(col("cell_id"))
  }

  /** Two-stage refine search (the `IndexRefineFlat` serving pattern: ANN
    * shortlist, exact re-rank): PQ ADC shortlists `shortlist` candidates
    * per query from the 4-byte codes alone, then ONLY those candidates'
    * float vectors are fetched (broadcast the tiny shortlist against the
    * embeddings scan — nq·shortlist rows survive the join) and re-scored
    * with the exact codegen dot for the final top-k. At 100 TB the float
    * table contributes a hash-join probe, never a full-corpus similarity
    * scan; compression error cancels wherever it matters because the final
    * order is exact.
    */
  def searchRefined(spark: SparkSession, dir: String,
                    k: Int = 5, shortlist: Int = 20): DataFrame = {
    val path = defaultPath(dir)
    ensure(spark, dir, path)
    val queries = VectorSearch.querySet(spark, dir, 5)
    val short = search(spark, path, queries, k = shortlist)
      .select(col("qid"), col("vec_id"))
    VectorSearch.rankTopK(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(short), "vec_id")
      .join(broadcast(queries), "qid")
      .withColumn("sim", dot(col("qvec"), col("embedding"))), k)
  }

  /** IVF-PQ composed search — the lake re-expression of FAISS `IndexIVFPQ`
    * (coarse quantizer + PQ-compressed scan; the reference trains the flat
    * IVF sibling, `FAISS/PlainDemo/pipeline.py:315-321`): the IVF store's
    * memoized centroids probe `nprobe` cells map-side ([[IvfProbe]]), and
    * [[search]] ADC-scores only the codes of each query's probed cells,
    * read by a statically partition-pruned scan of the cell-clustered
    * codes (never the float vectors). At 100 TB the search cost is
    * (nprobe/nlist) of a 4-byte-code table — and since both index stores
    * are plain parquet, the whole plan replays in the DuckDB oracle.
    */
  def searchIvfPq(spark: SparkSession, dir: String, k: Int = 5,
                  nprobe: Int = 10, dim: Int = 64): DataFrame = {
    val pqPath = defaultPath(dir)
    ensure(spark, dir, pqPath) // ensures the IVF store first
    search(spark, pqPath, VectorSearch.querySet(spark, dir, 5), k, dim,
      probe = Some((IvfProbe.centroids(spark, IndexStore.defaultPath(dir)), nprobe)))
  }
}
