package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.types.{DoubleType, LongType}

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
  *      into the global top-k by a [[TopK]] node over this one
  *      ([[KnnJoinApi.knnJoin]]), hash-partitioned by qid: the query batch
  *      runs to the reference's 30 000, so the merge stays distributed.
  *
  * Contrast with the declarative form (crossJoin → TopK): same results
  * (same (sim desc, vec_id) total order), but scoring is fused into the
  * scan pass and no scored row is materialized as a Spark row — only heap
  * winners reach the merge.
  *
  * Left child: queries (qid BIGINT, qvec ARRAY<FLOAT>).
  * Right child: base (vec_id BIGINT, embedding ARRAY<FLOAT>).
  * Output: (qid BIGINT, vec_id BIGINT, sim DOUBLE): each base partition's
  * best k per query, unranked.
  */
case class KnnJoin(left: LogicalPlan, right: LogicalPlan, k: Int,
                   excludeSelf: Boolean,
                   // constructor param (not a body val): withNewChildren's
                   // copy() must preserve the output exprId or downstream
                   // references dangle
                   simAttr: AttributeReference =
                     AttributeReference("sim", DoubleType, nullable = false)())
    extends BinaryNode {
  override def output: Seq[Attribute] =
    Seq(left.output.head, right.output.head, simAttr)
  // Declare we consume every child column — keeps ColumnPruning from
  // stripping the embedding arrays out from under an "expressionless" node.
  override def references: AttributeSet = AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): KnnJoin =
    copy(left = newLeft, right = newRight)
}

object KnnJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: KnnJoin =>
      KnnJoinExec(planLater(j.left), planLater(j.right), j.k, j.excludeSelf, j.output) :: Nil
    case _ => Nil
  }
}

case class KnnJoinExec(queries: SparkPlan, base: SparkPlan, k: Int,
                       excludeSelf: Boolean, output: Seq[Attribute])
    extends BinaryExecNode {
  override def left: SparkPlan = queries
  override def right: SparkPlan = base
  // sim is minted here, not read from a child — declare it produced or the
  // tree printer flags the node as missing input ("!" marker)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(output.last))

  override protected def doExecute(): RDD[InternalRow] = {
    val qRows = queries.executeCollect().map { r =>
      (r.getLong(0), r.getArray(1).toFloatArray())
    }
    val bc = sparkContext.broadcast(qRows)
    val kk = k
    val self = excludeSelf

    // Per-partition bounded top-k, all-primitive hot path. The
    // previous form probed a PriorityQueue[(Double, Long)] per
    // (row × query) — nq·|partition| boxed-tuple allocations and ordering
    // calls dominated the scan (allocation-bound, not FLOP-bound, at
    // nq=5000). Here each query keeps parallel double[]/long[] slots with
    // a cached worst index: the reject test is two primitive compares,
    // an accepted candidate (rare once warm: k of |base|) pays an O(k)
    // rescan. The row's embedding is ALSO materialized once per row —
    // `getFloat` per (query × dim) re-read the unsafe buffer nq times.
    // Acceptance rule mirrors VectorSearch.rankOrder: better ⇔ s > worst's
    // sim, or equal sim and smaller vec_id — results are bit-identical.
    base.execute().mapPartitions { it =>
      val qs = bc.value
      val nq = qs.length
      val sims = Array.ofDim[Double](nq, kk)
      val ids = Array.ofDim[Long](nq, kk)
      val filled = new Array[Int](nq)
      val worstAt = new Array[Int](nq)
      var embBuf = new Array[Float](0)
      it.foreach { row =>
        val vecId = row.getLong(0)
        val emb = row.getArray(1)
        val m = emb.numElements()
        if (embBuf.length < m) embBuf = new Array[Float](m)
        var d = 0
        while (d < m) { embBuf(d) = emb.getFloat(d); d += 1 }
        var qi = 0
        while (qi < nq) {
          val q = qs(qi)
          val qid = q._1
          if (!(self && vecId == qid)) {
            val qvec = q._2
            var s = 0.0
            var i = 0
            // Equal-dim precondition, enforced: a truncated dot product is
            // not a similarity (mirrors DotProductFloat's fail-fast).
            val n = graft.expressions.VectorKernels.checkDims(qvec.length, m)
            while (i < n) { s += qvec(i).toDouble * embBuf(i).toDouble; i += 1 }
            val f = filled(qi)
            if (f < kk) {
              sims(qi)(f) = s; ids(qi)(f) = vecId
              filled(qi) = f + 1
              if (f + 1 == kk) { // slots full: locate the worst once
                var w = 0; var j = 1
                while (j < kk) {
                  if (sims(qi)(j) < sims(qi)(w) ||
                      (sims(qi)(j) == sims(qi)(w) && ids(qi)(j) > ids(qi)(w))) w = j
                  j += 1
                }
                worstAt(qi) = w
              }
            } else {
              val w = worstAt(qi)
              val ws = sims(qi)(w)
              if (s > ws || (s == ws && vecId < ids(qi)(w))) {
                sims(qi)(w) = s; ids(qi)(w) = vecId
                var nw = 0; var j = 1
                while (j < kk) {
                  if (sims(qi)(j) < sims(qi)(nw) ||
                      (sims(qi)(j) == sims(qi)(nw) && ids(qi)(j) > ids(qi)(nw))) nw = j
                  j += 1
                }
                worstAt(qi) = nw
              }
            }
          }
          qi += 1
        }
      }
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
        LongType, LongType, DoubleType))
      qs.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
        Iterator.tabulate(filled(qi)) { j =>
          proj(new GenericInternalRow(Array[Any](qid, ids(qi)(j), sims(qi)(j))))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): KnnJoinExec =
    copy(queries = newLeft, base = newRight)
}

/** DataFrame-level entry point for the custom operator. */
object KnnJoinApi {
  /** queriesDF: (qid BIGINT, qvec ARRAY<FLOAT>); baseDF: (vec_id BIGINT,
    * embedding ARRAY<FLOAT>). Returns each query's global top-k as
    * unranked (qid, vec_id, sim): [[TopK]] merges the partition winners.
    */
  def knnJoin(spark: SparkSession, queriesDF: DataFrame, baseDF: DataFrame,
              k: Int, excludeSelf: Boolean = true): DataFrame = {
    val winners = GraftColumnBridge.ofRows(spark,
      KnnJoin(GraftColumnBridge.analyzed(queriesDF),
        GraftColumnBridge.analyzed(baseDF), k, excludeSelf))
    TopK(winners, "qid", graft.operators.VectorSearch.rankOrder("sim", "vec_id"), k,
      single = false).drop("rank")
  }
}
