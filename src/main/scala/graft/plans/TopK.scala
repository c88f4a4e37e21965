package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, SinglePartition}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{ShuffledRowRDD, SparkPlan, UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.types.IntegerType
import scala.jdk.CollectionConverters._

/** Per-key top-k as one plan node: for each value of `key`, the first `k`
  * child rows in `order`, numbered 1..k in `rank` — the result of
  * `row_number() OVER (PARTITION BY key ORDER BY order)` filtered to
  * `rank <= k`, without the window's sort of every row. Planned by
  * [[TopKStrategy]] (registered in GraftExtensions) into [[TopKExec]].
  *
  * `single` picks where the per-key merge runs: in one partition, whose
  * output is then globally in (key, rank) order, when the keys are a
  * bounded query batch; hash-partitioned by key otherwise.
  *
  * Output: `child.output :+ rank` (INT, non-null, as `row_number` gives).
  */
case class TopK(key: Expression, order: Seq[SortOrder], k: Int, single: Boolean,
                child: LogicalPlan,
                // constructor param, as KnnJoin's simAttr: copies must keep
                // the exprId that parents reference
                rank: AttributeReference =
                  AttributeReference("rank", IntegerType, nullable = false)())
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopK =
    copy(child = newChild)
}

object TopK {
  /** `df` with a `rank` column: per `key`, its first `k` rows by `order`
    * (columns of `df`, as a window's `orderBy` takes them). The analyzer
    * resolves the columns, as the sort orders of `df.orderBy(key, order)`.
    * `single`: merge in one partition (see [[TopK]]).
    */
  def apply(df: DataFrame, key: String, order: Seq[Column], k: Int, single: Boolean): DataFrame = {
    val sort = GraftColumnBridge.analyzed(df.orderBy(col(key) +: order: _*)).asInstanceOf[Sort]
    GraftColumnBridge.ofRows(df.sparkSession,
      TopK(sort.order.head.child, sort.order.tail, k, single, sort.child))
  }
}

object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopK => TopKExec(t.key, t.order, t.k, t.single, t.rank, planLater(t.child)) :: Nil
    case _ => Nil
  }
}

/** Two passes, the shape of Spark's `TakeOrderedAndProjectExec`:
  *   1. each child partition keeps, per key, a bounded buffer of its best
  *      k rows (a heap grown on demand, so `k = Int.MaxValue` costs only
  *      the rows it holds);
  *   2. the survivors (≤ partitions·keys·k rows) move through a shuffle
  *      and are merged the same way, each merge partition emitting its
  *      keys ascending, each key's rows in rank order.
  * The shuffle lives inside the operator, so AQE sees no exchange and the
  * whole node runs in the job that consumes it. With `single` the merge is
  * ONE partition — sound for result lists, whose keys a broadcast query
  * batch bounds (≤ partitions·nq·k rows in, ≤ nq·k out) — and the output
  * is globally (key, rank)-ordered.
  * Otherwise the merge is hash-partitioned by key over the session's
  * shuffle partitions, as an ingest-sized key side needs: the merge
  * buffers are in-memory heaps, neither accounted nor spillable.
  * Rows compare by Catalyst's generated ordering over `order`, so nulls,
  * NaN and ±0.0 rank exactly as a window ranks them. Keys group by their
  * binary form, which for the engine's keys (integral ids) is the window's
  * partitioning.
  */
case class TopKExec(key: Expression, order: Seq[SortOrder], k: Int, single: Boolean,
                    rank: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rank
  override def producedAttributes: AttributeSet = AttributeSet(rank)
  override def outputPartitioning: Partitioning =
    if (single) SinglePartition else HashPartitioning(Seq(key), conf.numShufflePartitions)
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(key, Ascending), SortOrder(rank, Ascending))

  private lazy val writeMetrics = SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics = SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics = readMetrics ++ writeMetrics

  override protected def doExecute(): RDD[InternalRow] = {
    // Everything the tasks need is built here, so their closures carry
    // expressions and orderings, not the plan tree.
    val in = child.output
    val ord = new LazilyGeneratedOrdering(order, in)
    val keyOrd = new LazilyGeneratedOrdering(
      Seq(SortOrder(BoundReference(0, key.dataType, key.nullable), Ascending)))
    val out = output
    val kk = k
    val part = outputPartitioning
    val rows = child.execute()
    if (rows.getNumPartitions == 0)
      sparkContext.parallelize(Seq.empty[InternalRow], part.numPartitions)
    else {
      val merging = if (single && rows.getNumPartitions == 1) rows else {
        val local = rows.mapPartitions { it =>
          TopKExec.bounded(it, key, in, ord, kk).values.iterator.asScala
            .flatMap(_.iterator.asScala): Iterator[InternalRow]
        }
        new ShuffledRowRDD(
          ShuffleExchangeExec.prepareShuffleDependency(local, in, part,
            new UnsafeRowSerializer(in.size), writeMetrics),
          readMetrics)
      }
      merging.mapPartitions(it => TopKExec.merged(it, key, in, ord, keyOrd, kk, out))
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKExec =
    copy(child = newChild)
}

object TopKExec {
  /** Per key, the best `k` rows of `rows` by `ord`, as copies; a heap per
    * key with its worst row on top. Iteration order is not rank order.
    */
  private def bounded(rows: Iterator[InternalRow], key: Expression, in: Seq[Attribute],
                      ord: Ordering[InternalRow], k: Int)
      : java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]] = {
    val keyOf = UnsafeProjection.create(Seq(key), in)
    val copyOf = UnsafeProjection.create(in, in)
    val worstFirst = ord.reverse
    val buffers = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
    rows.foreach { row =>
      val kr = keyOf(row)
      var heap = buffers.get(kr)
      if (heap == null) {
        heap = new java.util.PriorityQueue[UnsafeRow](math.min(k, 16), worstFirst)
        buffers.put(kr.copy(), heap)
      }
      if (heap.size < k) heap.add(copyOf(row).copy())
      else if (ord.compare(row, heap.peek) < 0) { heap.poll(); heap.add(copyOf(row).copy()) }
    }
    buffers
  }

  /** The final pass: [[bounded]], then keys in `keyOrd`, each key's rows in
    * `ord`, numbered 1..n into the trailing `rank` of `out`.
    */
  private def merged(rows: Iterator[InternalRow], key: Expression, in: Seq[Attribute],
                     ord: Ordering[InternalRow], keyOrd: Ordering[InternalRow], k: Int,
                     out: Seq[Attribute]): Iterator[InternalRow] = {
    val buffers = bounded(rows, key, in, ord, k)
    val keys = buffers.keySet.toArray(new Array[UnsafeRow](0))
    java.util.Arrays.sort(keys, keyOrd)
    val project = UnsafeProjection.create(out, out)
    val rankRow = new GenericInternalRow(1)
    val joined = new JoinedRow()
    keys.iterator.flatMap { kr =>
      val ranked = buffers.get(kr).toArray(new Array[UnsafeRow](0))
      java.util.Arrays.sort(ranked, ord)
      ranked.iterator.zipWithIndex.map { case (row, i) =>
        rankRow.setInt(0, i + 1)
        project(joined(row, rankRow))
      }
    }
  }
}
