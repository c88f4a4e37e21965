package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, TimestampType}

/** Hidden partitioning (the Iceberg idea, as a Catalyst rule): users
  * filter on the DATA column (`to_date(ts) BETWEEN …`) and the engine
  * derives the PARTITION predicate (`event_date BETWEEN …`) from the
  * layout's partition transform — nobody has to know the table is
  * partitioned, and nobody can forget and full-scan it.
  *
  * [[graft.sources.PartitionedStore]] writes `event_date = to_date(ts)`
  * by construction, so for every row `event_date = cast(ts AS DATE)` —
  * a per-row invariant of the layout itself (backfill preserves it; a
  * stale store still satisfies it, because it is a statement about the
  * rows present, not about freshness). Any comparison between
  * `cast(ts AS DATE)` and a date literal is therefore EXACTLY mirrored
  * by the same comparison on `event_date`: the rule finds such
  * conjuncts in a Filter over the store's rows relation and injects the
  * mirrored conjuncts directly above the relation, where they become
  * static `PartitionFilters` and prune date directories at planning
  * time. Without the rule the predicate is a post-scan function filter —
  * `to_date` is not pushable, so ALL partitions' files are read.
  *
  * The injected predicates are implied row-wise, so this rewrite is
  * EXACT (unlike the recall-trading [[AnnProbeRewrite]]); it is still
  * gated three ways so a FOREIGN layout can never acquire a row-dropping
  * filter it didn't earn:
  *   1. the layout must be a graft PartitionedStore — a `rows` root with
  *      a `calendar` sibling AND the `_src_fp_*` generation stamp graft's
  *      own writer plants (the [[AnnProbeRewrite]] `_build_id` contract;
  *      a shape-coincident external table lacks the stamp and is left
  *      alone). Detection is memoized per path — zero filesystem calls
  *      after the first matching plan — and
  *      [[graft.sources.PartitionedStore.write]] invalidates the entry on
  *      every store rebuild, so a path whose layout is replaced in a
  *      long-lived session re-detects instead of serving the stale
  *      verdict;
  *   2. `spark.sql.session.timeZone` must be `UTC`: the store writes
  *      `event_date = to_date(ts)` under graft's pinned-UTC sessions, so
  *      both the day-floor of a timestamp literal AND `cast(ts AS DATE)`
  *      only equal the partition day when the reading session shares that
  *      zone — under any other tz the rule stays inert rather than
  *      mirroring a local-day comparison onto a UTC partition column;
  *   3. `spark.graft.layout.rewrite.enabled` (default true).
  */
object HiddenPartitionRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Detection memoized per rows-root path (same contract as
    * [[AnnProbeRewrite.detectCache]]): None = not a partitioned store.
    */
  private val detectCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private[graft] val fsDetectCalls = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def invalidateAll(): Unit = detectCache.clear()

  /** Store-rebuild hook ([[graft.sources.PartitionedStore.write]] calls
    * this after every rewrite/stamp): drop the cached verdict for the
    * store's `rows` root so the next plan re-detects against the NEW
    * layout. Keys are compared by URI path (the cache key may carry a
    * `file:` scheme the caller's string doesn't).
    */
  private[graft] def invalidatePath(rowsRoot: String): Unit = {
    val target = new Path(rowsRoot).toUri.getPath
    val it = detectCache.keySet.iterator
    while (it.hasNext) if (new Path(it.next()).toUri.getPath == target) it.remove()
  }

  private def enabled: Boolean =
    conf.getConfString("spark.graft.layout.rewrite.enabled", "true").toBoolean

  /** The relation is a PartitionedStore layout iff it reads a single
    * `.../rows` root date-partitioned by `event_date` with a sibling
    * `calendar` artifact AND the writer's `_src_fp_*` generation stamp —
    * the graft-store marker a merely shape-coincident foreign table
    * cannot carry.
    */
  private def isPartitionedStore(rel: LogicalRelation): Boolean = rel.relation match {
    case fs: HadoopFsRelation
        if fs.partitionSchema.fields.exists(f =>
          f.name == "event_date" && f.dataType == DateType) =>
      fs.location.rootPaths.toSeq match {
        case Seq(p) if p.getName == "rows" && p.getParent != null =>
          detectCache.computeIfAbsent(p.toString, _ => {
            fsDetectCalls.incrementAndGet()
            val hfs = p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
            val stamped = hfs.exists(new Path(p.getParent, "calendar")) && {
              val ls = try hfs.listStatus(p.getParent)
                       catch { case _: java.io.IOException => Array.empty[org.apache.hadoop.fs.FileStatus] }
              ls.exists(_.getPath.getName.startsWith(graft.sources.Artifact.SrcFp.name))
            }
            java.lang.Boolean.valueOf(stamped)
          }).booleanValue()
        case _ => false
      }
    case _ => false
  }

  /** `cast(ts AS DATE)` over the relation's own `ts` attribute — the
    * shape BEFORE Catalyst's own cast-unwrap has fired.
    */
  private object TsAsDate {
    def unapply(e: Expression): Option[Attribute] = e match {
      case Cast(a: Attribute, DateType, _, _) if a.name == "ts" => Some(a)
      case _ => None
    }
  }

  /** The `ts` attribute bare — Catalyst's OptimizeDateExpressions /
    * cast-unwrap rewrites `to_date(ts) BETWEEN d1 AND d2` into a plain
    * TIMESTAMP range (`ts >= d1T00:00 AND ts < (d2+1)T00:00`) before this
    * rule sees it, so the timestamp-literal forms are the COMMON case.
    */
  private object TsAttr {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute if a.name == "ts" && a.dataType == TimestampType => Some(a)
      case _ => None
    }
  }

  private val MicrosPerDay = 86400000000L

  /** Session tz is pinned UTC throughout graft, matching the store's
    * `event_date = to_date(ts)` write: the partition day of an instant is
    * its floor in UTC days.
    */
  private def dayOf(us: Long): Int = Math.floorDiv(us, MicrosPerDay).toInt

  private def dateLit(days: Int): Literal = Literal(days, DateType)

  /** Mirror a literal comparison on `ts` (or `cast(ts AS DATE)`) onto the
    * `event_date` partition column. Every mirrored predicate is IMPLIED
    * row-wise by the layout invariant `event_date = to_date(ts)`:
    *   ts ≥ L  ⇒ event_date ≥ day(L);   ts > L ⇒ event_date ≥ day(L)
    *   ts ≤ L  ⇒ event_date ≤ day(L)
    *   ts < L  ⇒ event_date ≤ day(L), tightened to day(L)−1 when L is
    *             exactly midnight (the shape the BETWEEN unwrap emits).
    * Only literal comparisons are mirrored — a join-derived bound is
    * DPP's job, not this rule's.
    */
  private def mirror(c: Expression, part: Attribute): Option[Expression] = c match {
    // timestamp-literal forms (post cast-unwrap)
    case EqualTo(TsAttr(_), Literal(us: Long, TimestampType)) =>
      Some(EqualTo(part, dateLit(dayOf(us))))
    case EqualTo(Literal(us: Long, TimestampType), TsAttr(_)) =>
      Some(EqualTo(part, dateLit(dayOf(us))))
    case GreaterThanOrEqual(TsAttr(_), Literal(us: Long, TimestampType)) =>
      Some(GreaterThanOrEqual(part, dateLit(dayOf(us))))
    case GreaterThan(TsAttr(_), Literal(us: Long, TimestampType)) =>
      Some(GreaterThanOrEqual(part, dateLit(dayOf(us))))
    case LessThanOrEqual(TsAttr(_), Literal(us: Long, TimestampType)) =>
      Some(LessThanOrEqual(part, dateLit(dayOf(us))))
    case LessThan(TsAttr(_), Literal(us: Long, TimestampType)) =>
      val d = if (Math.floorMod(us, MicrosPerDay) == 0L) dayOf(us) - 1 else dayOf(us)
      Some(LessThanOrEqual(part, dateLit(d)))
    case GreaterThanOrEqual(Literal(us: Long, TimestampType), TsAttr(_)) =>
      Some(LessThanOrEqual(part, dateLit(dayOf(us))))
    case GreaterThan(Literal(us: Long, TimestampType), TsAttr(_)) =>
      val d = if (Math.floorMod(us, MicrosPerDay) == 0L) dayOf(us) - 1 else dayOf(us)
      Some(LessThanOrEqual(part, dateLit(d)))
    case LessThanOrEqual(Literal(us: Long, TimestampType), TsAttr(_)) =>
      Some(GreaterThanOrEqual(part, dateLit(dayOf(us))))
    case LessThan(Literal(us: Long, TimestampType), TsAttr(_)) =>
      Some(GreaterThanOrEqual(part, dateLit(dayOf(us))))
    // date-cast forms (pre cast-unwrap)
    case EqualTo(TsAsDate(_), l: Literal) if l.dataType == DateType => Some(EqualTo(part, l))
    case EqualTo(l: Literal, TsAsDate(_)) if l.dataType == DateType => Some(EqualTo(part, l))
    case GreaterThanOrEqual(TsAsDate(_), l: Literal) if l.dataType == DateType =>
      Some(GreaterThanOrEqual(part, l))
    case LessThanOrEqual(TsAsDate(_), l: Literal) if l.dataType == DateType =>
      Some(LessThanOrEqual(part, l))
    case GreaterThan(TsAsDate(_), l: Literal) if l.dataType == DateType =>
      Some(GreaterThan(part, l))
    case LessThan(TsAsDate(_), l: Literal) if l.dataType == DateType =>
      Some(LessThan(part, l))
    case GreaterThanOrEqual(l: Literal, TsAsDate(_)) if l.dataType == DateType =>
      Some(LessThanOrEqual(part, l))
    case LessThanOrEqual(l: Literal, TsAsDate(_)) if l.dataType == DateType =>
      Some(GreaterThanOrEqual(part, l))
    case GreaterThan(l: Literal, TsAsDate(_)) if l.dataType == DateType =>
      Some(LessThan(part, l))
    case LessThan(l: Literal, TsAsDate(_)) if l.dataType == DateType =>
      Some(GreaterThan(part, l))
    case In(TsAsDate(_), ls) if ls.forall(l =>
        l.isInstanceOf[Literal] && l.dataType == DateType) => Some(In(part, ls))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    // The layout invariant `event_date = to_date(ts)` was written under
    // graft's pinned-UTC sessions; a non-UTC reader's day floors (both the
    // timestamp-literal forms and `cast(ts AS DATE)`) name DIFFERENT days
    // for the same instant, so mirroring would inject a row-dropping
    // filter. Stay inert outside UTC.
    if (conf.sessionLocalTimeZone != "UTC") return plan
    plan.transform {
      case f @ Filter(cond, rel: LogicalRelation)
          if !cond.references.exists(_.name == "event_date") &&
            isPartitionedStore(rel) =>
        rel.output.find(a => a.name == "event_date" && a.dataType == DateType) match {
          case Some(part) =>
            val mirrored = splitConjunctivePredicates(cond)
              .filter(_.references.forall(a => rel.output.exists(_.exprId == a.exprId)))
              .flatMap(mirror(_, part))
            if (mirrored.isEmpty) f
            else f.copy(child = Filter(mirrored.reduce(And), rel))
          case None => f
        }
    }
  }
}
