package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, GraftColumnBridge}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.sources.IvfProbe

/** The engine's whole-operator Catalyst extension: an exact kNN join as a
  * first-class plan node (`index.search(q, k)` batch shape,
  * `FAISS/PlainDemo/pipeline.py:232-263`), planned by [[KnnJoinStrategy]]
  * into [[KnnJoinExec]].
  *
  * Physical algorithm — the shape that survives 100 TB:
  *   1. the query side (small by contract) is collected and broadcast;
  *   2. one pass over base partitions keeps a bounded per-query heap of
  *      size k (so a partition contributes at most nq·k candidates, not
  *      its row count);
  *   3. the per-partition winners (≤ partitions·nq·k tiny rows) are merged
  *      into the global top-k by a [[TopK]] node over this one: hash-
  *      partitioned by qid in [[KnnJoinApi.knnJoin]], whose query batch
  *      runs to the reference's 30 000, in one partition for a probed
  *      search's bounded batch.
  *
  * Probed mode (a [[KnnJoin.Probe]], built by [[KnnJoinApi.probed]] for
  * the IVF searches): the base side also carries each row's `cell_id`, and
  * a row is scored only against the queries whose
  * [[IvfProbe.Centroids.nearest]] cells hold it. The probe is computed
  * once, on the driver, from the collected query batch
  * ([[IvfProbe.byCell]]); its cells are also the caller's static `cell_id`
  * IN-list. The broadcast is
  * the nq query vectors, not nq·nprobe exploded (qid, qvec, cell_id) rows,
  * and no joined row carrying a query and an embedding copy is built.
  *
  * Contrast with the declarative form (crossJoin → TopK): same results
  * (same [[graft.operators.VectorSearch.rankOrder]]: sim desc with NaN
  * largest, −0.0 = 0.0 and NULL last, then vec_id), but scoring is fused
  * into the scan pass and no scored row is materialized as a Spark row —
  * only heap winners reach the merge. A NULL query or embedding scores
  * NULL, as `dot` does. A row with a NULL vec_id is never a candidate,
  * and with `excludeSelf` neither is a query with a NULL qid, as
  * `vec_id <> qid` drops them.
  *
  * Left child: queries (qid BIGINT, qvec ARRAY<FLOAT>).
  * Right child: base (vec_id BIGINT, embedding ARRAY<FLOAT>[, cell_id INT]).
  * Output: (qid BIGINT, vec_id BIGINT, sim DOUBLE): each base partition's
  * best k per query, unranked.
  */
case class KnnJoin(left: LogicalPlan, right: LogicalPlan, k: Int,
                   excludeSelf: Boolean,
                   probe: Option[KnnJoin.Probe] = None,
                   // constructor param (not a body val): withNewChildren's
                   // copy() must preserve the output exprId or downstream
                   // references dangle
                   simAttr: AttributeReference =
                     AttributeReference("sim", DoubleType)())
    extends BinaryNode {
  override def output: Seq[Attribute] = Seq(left.output.head, right.output.head,
    simAttr.withNullability(left.output(1).nullable || right.output(1).nullable))
  // Declare we consume every child column — keeps ColumnPruning from
  // stripping the embedding arrays out from under an "expressionless" node.
  override def references: AttributeSet = AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoin =
    copy(left = newLeft, right = newRight)
}

object KnnJoin {
  /** A probed query batch: per probed cell, the positions of the queries
    * that probe it, in the row order of the query side — a local relation
    * of the `nq` rows the map was computed from ([[KnnJoinApi.probed]]).
    */
  final case class Probe(nq: Int, byCell: Map[Int, Array[Int]]) {
    // plan trees print their arguments
    override def toString: String = s"Probe(nq=$nq, cells=${byCell.size})"
  }
}

object KnnJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: KnnJoin =>
      KnnJoinExec(planLater(j.left), planLater(j.right), j.k, j.excludeSelf, j.probe,
        j.output) :: Nil
    case _ => Nil
  }
}

case class KnnJoinExec(queries: SparkPlan, base: SparkPlan, k: Int,
                       excludeSelf: Boolean, probe: Option[KnnJoin.Probe],
                       output: Seq[Attribute])
    extends BinaryExecNode {
  override def left: SparkPlan = queries
  override def right: SparkPlan = base
  // sim is minted here, not read from a child — declare it produced or the
  // tree printer flags the node as missing input ("!" marker)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(output.last))

  override protected def doExecute(): RDD[InternalRow] = {
    val qRows = queries.executeCollect()
    val qidNull = qRows.map(_.isNullAt(0))
    val qids = qRows.map(r => if (r.isNullAt(0)) 0L else r.getLong(0))
    val qvecs = qRows.map(r => if (r.isNullAt(1)) null else r.getArray(1).toFloatArray())
    val self = excludeSelf
    // the query positions a row is scored against: every query, or (with a
    // probe) those probing the row's cell; a NULL qid never passes
    // `vec_id <> qid`
    def scored(qis: Array[Int]): Array[Int] = qis.filter(i => !(self && qidNull(i)))
    val targets: Either[Array[Int], Map[Int, Array[Int]]] = probe match {
      case None => Left(scored(qids.indices.toArray))
      case Some(p) =>
        require(p.nq == qRows.length, s"probe of ${p.nq} queries over ${qRows.length}")
        Right(p.byCell.map { case (c, qis) => c -> scored(qis) })
    }
    val bc = sparkContext.broadcast((qids, qidNull, qvecs, targets))
    val kk = k

    // Per-partition bounded top-k, all-primitive hot path: a query keeps
    // parallel slots with a cached worst index ([[KnnJoinExec.Best]]), so
    // a reject is one compare and an accepted candidate (rare once warm:
    // k of |base|) pays an O(k) rescan. The row's embedding is
    // materialized once per row — `getFloat` per (query × dim) re-read
    // the unsafe buffer nq times.
    base.execute().mapPartitions { it =>
      val (ids, idNull, qs, targets) = bc.value
      val every = targets.left.toOption.orNull
      val cells = targets.toOption.orNull
      val best = Array.fill(qs.length)(new KnnJoinExec.Best(kk))
      val none = Array.emptyIntArray
      var embBuf = new Array[Float](0)
      it.foreach { row =>
        val ts =
          if (every != null) every
          else if (row.isNullAt(2)) none
          else cells.getOrElse(row.getInt(2), none)
        if (ts.length > 0 && !row.isNullAt(0)) {
          val vecId = row.getLong(0)
          val emb = if (row.isNullAt(1)) null else row.getArray(1)
          val m = if (emb == null) 0 else emb.numElements()
          if (embBuf.length < m) embBuf = new Array[Float](m)
          var d = 0
          while (d < m) { embBuf(d) = emb.getFloat(d); d += 1 }
          var t = 0
          while (t < ts.length) {
            val qi = ts(t)
            if (!(self && vecId == ids(qi))) {
              val qvec = qs(qi)
              if (qvec == null || emb == null) best(qi).offer(0.0, isNull = true, vecId)
              else {
                // Equal-dim precondition, enforced: a truncated dot product
                // is not a similarity (mirrors DotProductFloat's fail-fast).
                val n = graft.expressions.VectorKernels.checkDims(qvec.length, m)
                var s = 0.0
                var i = 0
                while (i < n) { s += qvec(i).toDouble * embBuf(i).toDouble; i += 1 }
                best(qi).offer(s, isNull = false, vecId)
              }
            }
            t += 1
          }
        }
      }
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
        LongType, LongType, DoubleType))
      best.iterator.zipWithIndex.flatMap { case (b, qi) =>
        val qid = if (idNull(qi)) null else ids(qi)
        Iterator.tabulate(b.filled) { j =>
          proj(new GenericInternalRow(Array[Any](qid, b.ids(j),
            if (b.nulls(j)) null else b.sims(j))))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(queries = newLeft, base = newRight)
}

object KnnJoinExec {
  /** One query's best `k` (sim, vec_id) candidates so far, in
    * [[graft.operators.VectorSearch.rankOrder]]: sim desc as Spark orders
    * doubles (`SQLOrderingUtil.compareDoubles`: NaN largest, NaN = NaN,
    * −0.0 = 0.0), a NULL sim after every other, ties to the lower vec_id.
    * Parallel primitive slots with the worst slot's index cached. Slot
    * order is not rank order.
    */
  final class Best(k: Int) {
    val sims = new Array[Double](k)
    val nulls = new Array[Boolean](k)
    val ids = new Array[Long](k)
    var filled = 0
    private var worst = 0
    // the worst slot's sim once full, −∞ while it is NULL: a candidate
    // below it is rejected by this one compare (a NaN compares false and
    // takes the full rule, [[beats]])
    private var floor = Double.NegativeInfinity

    def offer(s: Double, isNull: Boolean, id: Long): Unit =
      if (filled < k) {
        put(filled, s, isNull, id)
        filled += 1
        if (filled == k) findWorst()
      } else if (k > 0 && !(s < floor) && beats(s, isNull, id, worst)) {
        put(worst, s, isNull, id)
        findWorst()
      }

    private def put(j: Int, s: Double, isNull: Boolean, id: Long): Unit = {
      sims(j) = s; nulls(j) = isNull; ids(j) = id
    }

    /** Does (s, isNull, id) rank before slot `j`? */
    private def beats(s: Double, isNull: Boolean, id: Long, j: Int): Boolean = {
      val c =
        if (isNull || nulls(j)) java.lang.Boolean.compare(nulls(j), isNull)
        else SQLOrderingUtil.compareDoubles(s, sims(j))
      c > 0 || (c == 0 && id < ids(j))
    }

    private def findWorst(): Unit = {
      var w = 0; var j = 1
      while (j < filled) { if (beats(sims(w), nulls(w), ids(w), j)) w = j; j += 1 }
      worst = w
      floor = if (nulls(w)) Double.NegativeInfinity else sims(w)
    }
  }
}

/** DataFrame-level entry points for the custom operator. */
object KnnJoinApi {
  /** queriesDF: (qid BIGINT, qvec ARRAY<FLOAT>); baseDF: (vec_id BIGINT,
    * embedding ARRAY<FLOAT>). Returns each query's global top-k as
    * unranked (qid, vec_id, sim): [[TopK]] merges the partition winners.
    */
  def knnJoin(spark: SparkSession, queriesDF: DataFrame, baseDF: DataFrame,
              k: Int, excludeSelf: Boolean = true): DataFrame =
    TopK(node(spark, queriesDF, baseDF, k, excludeSelf, None), "qid",
      graft.operators.VectorSearch.rankOrder("sim", "vec_id"), k, single = false).drop("rank")

  /** The probed [[KnnJoin]] of an IVF search: each base partition's best
    * `k` per query, unranked, excluding `vec_id = qid`. The `queries` batch
    * (qid, qvec) is collected once, into a local relation that the exec
    * reads back without a job (even for a streaming micro-batch), and
    * probed once ([[IvfProbe.byCell]]). `base` is handed the probed cells
    * ascending — the static `cell_id` IN-list — and returns the (vec_id,
    * embedding, cell_id) rows to score.
    */
  def probed(spark: SparkSession, queries: DataFrame, cents: IvfProbe.Centroids,
             nprobe: Int, k: Int)(base: Seq[Int] => DataFrame): DataFrame = {
    val batch = queries.select(col("qid"), col("qvec"))
    val rows = batch.collect()
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), batch.schema)
    val byCell = IvfProbe.byCell(cents,
      rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray), nprobe)
    node(spark, local, base(byCell.keys.toSeq.sorted), k, excludeSelf = true,
      Some(KnnJoin.Probe(rows.length, byCell)))
  }

  private def node(spark: SparkSession, queriesDF: DataFrame, baseDF: DataFrame, k: Int,
                   excludeSelf: Boolean, probe: Option[KnnJoin.Probe]): DataFrame =
    GraftColumnBridge.ofRows(spark,
      KnnJoin(GraftColumnBridge.analyzed(queriesDF),
        GraftColumnBridge.analyzed(baseDF), k, excludeSelf, probe))
}
