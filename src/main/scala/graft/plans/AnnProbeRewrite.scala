package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}
import graft.expressions.{DotProductFloat, L2DistanceSqFloat}

/** ANN probe rewrite (SURVEY.md §4 stretch goal): recognize the NAIVE
  * flat-scan nearest-neighbor query
  *
  *   SELECT ..., dot(<literal qvec>, embedding) AS sim FROM <store>/rows
  *   ORDER BY sim DESC[, tiebreak] LIMIT k
  *
  * (or the `l2_distance_sq ASC` form) over the PERSISTED clustered IVF
  * layout ([[graft.sources.IndexStore]]: `path/rows/cell_id=*` with a
  * sibling `path/centroids` + `_build_id` marker) and rewrite it into the
  * probed form by injecting `Filter(cell_id IN <nprobe nearest cells>)`
  * directly above the relation. The probed cell set is decided at
  * PLANNING time from the store's centroids (≤ nlist rows, memoized per
  * content by [[graft.sources.IvfProbe]]), so the injected IN-list is static and the
  * parquet source prunes unprobed `cell_id=*` directories before reading
  * a byte (`PartitionFilters` in the scan) — the user writes the flat
  * FAISS `IndexFlatL2` query and gets the `index.nprobe = 10` plan
  * (`FAISS/PlainDemo/pipeline.py:257`).
  *
  * SEMANTICS: like every vector database, querying THROUGH an index is
  * opting into approximate results — hits outside the probed cells are
  * missed, the same recall dial as FAISS IVF. The rewrite therefore only
  * fires on the store's clustered layout (never on a plain table), and is
  * governed by two session confs:
  *
  *   spark.graft.ann.rewrite.enabled  (default true)  — disable for exact
  *     flat scans over the store layout
  *   spark.graft.ann.rewrite.nprobe   (default 10)    — the recall knob
  *
  * Cell ranking calls the same probe as `IndexStore.scoreProbed`
  * ([[graft.sources.IvfProbe]]), so the rewritten query is row-identical
  * to `IndexStore.searchPruned` — `knn_rewrite` replays it against the
  * SAME DuckDB oracle SQL as `knn_ivf`.
  */
object AnnProbeRewrite extends Rule[LogicalPlan] {

  /** Store detection memoized per rows-root path — the store root, or None
    * for a non-store layout — so repeated planning makes no exists() probes
    * (per-plan NameNode round-trips would dominate a high-QPS session).
    * Artifact.stampBuildId calls [[invalidate]]; a store refreshed by an
    * EXTERNAL writer behind a running session needs [[invalidateAll]] —
    * the same contract as Spark's own file-listing caches (REFRESH TABLE).
    */
  private val detectCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  /** Count of filesystem detection passes (cache misses) — lets the spec
    * assert the second plan over a store does no IO.
    */
  private[graft] val fsDetectCalls = new java.util.concurrent.atomic.AtomicLong()

  /** Drop the memoized detection for `storePath` (the store root, i.e. the
    * parent of `rows`) so the next plan re-reads its markers.
    */
  private[graft] def invalidate(storePath: String): Unit = {
    val target = new Path(new Path(storePath), "rows").toUri.getPath
    val it = detectCache.keySet.iterator
    while (it.hasNext)
      if (new Path(it.next()).toUri.getPath == target) it.remove()
  }

  private[graft] def invalidateAll(): Unit = detectCache.clear()

  private def enabled: Boolean =
    conf.getConfString("spark.graft.ann.rewrite.enabled", "true").toBoolean

  private def nprobe: Int =
    conf.getConfString("spark.graft.ann.rewrite.nprobe", "10").toInt

  /** A literal ARRAY<FLOAT> query vector. */
  private object QVecLit {
    def unapply(e: Expression): Option[Array[Float]] = e match {
      case Literal(v: ArrayData, ArrayType(FloatType, _)) => Some(v.toFloatArray)
      case _ => None
    }
  }

  /** Filters/pruning-projects over a single parquet relation, plus a
    * rebuilder that re-wraps a replacement for the relation position.
    */
  private object ScanChain {
    def unapply(p: LogicalPlan): Option[(LogicalRelation, Seq[Expression], LogicalPlan => LogicalPlan)] =
      p match {
        case rel: LogicalRelation => Some((rel, Nil, identity))
        case f @ Filter(c, ScanChain(rel, cs, rb)) =>
          Some((rel, c +: cs, (nc: LogicalPlan) => f.copy(child = rb(nc))))
        case pj @ Project(_, ScanChain(rel, cs, rb)) =>
          Some((rel, cs, (nc: LogicalPlan) => pj.copy(child = rb(nc))))
        case _ => None
      }
  }

  /** The sort column must alias a vector kernel between a literal query
    * vector and a relation attribute, with the direction that makes the
    * head of the sort a nearest-first ordering.
    */
  private def distSpec(projList: Seq[NamedExpression], attr: Attribute,
                       direction: SortDirection): Option[(Array[Float], Attribute)] =
    projList.collectFirst {
      case a @ Alias(DotProductFloat(QVecLit(q), e: Attribute), _)
        if a.exprId == attr.exprId && direction == Descending => (q, e)
      case a @ Alias(DotProductFloat(e: Attribute, QVecLit(q)), _)
        if a.exprId == attr.exprId && direction == Descending => (q, e)
      case a @ Alias(L2DistanceSqFloat(QVecLit(q), e: Attribute), _)
        if a.exprId == attr.exprId && direction == Ascending => (q, e)
      case a @ Alias(L2DistanceSqFloat(e: Attribute, QVecLit(q)), _)
        if a.exprId == attr.exprId && direction == Ascending => (q, e)
    }

  /** The relation is an IndexStore clustered layout iff it reads a single
    * `.../rows` root partitioned by `cell_id` with sibling `centroids` and
    * `_build_id` artifacts. Detection goes through the hadoop FileSystem;
    * the centroids themselves are read through the store memo.
    */
  private def storeParent(rel: LogicalRelation): Option[String] = rel.relation match {
    case fs: HadoopFsRelation if fs.partitionSchema.fieldNames.contains("cell_id") =>
      fs.location.rootPaths.toSeq match {
        case Seq(p) if p.getName == "rows" && p.getParent != null =>
          detectCache.computeIfAbsent(p.toString, _ => {
            fsDetectCalls.incrementAndGet()
            val parent = p.getParent
            val hfs = p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
            val marker = new Path(parent, graft.sources.Artifact.BuildId.name)
            if (hfs.exists(new Path(parent, "centroids")) && hfs.exists(marker))
              Some(parent.toString)
            else None
          })
        case _ => None
      }
    case _ => None
  }

  /** The sorted-limit head, tolerating one derived-column Project pushed
    * between the limit and the sort (the optimizer moves outer per-row
    * projections like `floor(sim*1e6)` below LocalLimit — the shape every
    * "SELECT …, f(sim) FROM (… ORDER BY sim LIMIT k)" composition takes).
    * Returns the Sort plus a re-wrapper for the interposed node.
    */
  private object SortedLimitChild {
    def unapply(p: LogicalPlan): Option[(Sort, LogicalPlan => LogicalPlan)] = p match {
      case st: Sort => Some((st, identity))
      case pj @ Project(_, st: Sort) => Some((st, (np: LogicalPlan) => pj.copy(child = np)))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case gl @ GlobalLimit(IntegerLiteral(_),
          ll @ LocalLimit(_, SortedLimitChild(
            st @ Sort(SortOrder(attr: Attribute, direction, _, _) +: _, true,
              pj @ Project(projList, ScanChain(rel, filters, rebuild)), _), rewrap)))
          if !filters.exists(_.references.exists(_.name == "cell_id")) =>
        distSpec(projList, attr, direction) match {
          case Some((qvec, embAttr))
              if rel.output.exists(_.exprId == embAttr.exprId) &&
                rel.output.exists(_.name == "cell_id") =>
            storeParent(rel) match {
              case Some(parent) =>
                val cellAttr = rel.output.find(_.name == "cell_id").get
                val cells = graft.sources.IvfProbe.centroids(SparkSession.active, parent)
                  .nearest(qvec, nprobe).toSeq
                val lits: Seq[Literal] = cellAttr.dataType match {
                  case IntegerType => cells.map(c => Literal(c))
                  case LongType => cells.map(c => Literal(c.toLong))
                  case _ => Nil
                }
                if (lits.isEmpty || cells.isEmpty) gl
                else {
                  val pruned = rebuild(Filter(In(cellAttr, lits), rel))
                  gl.copy(child = ll.copy(child =
                    rewrap(st.copy(child = pj.copy(child = pruned)))))
                }
              case None => gl
            }
          case _ => gl
        }
    }
  }
}
