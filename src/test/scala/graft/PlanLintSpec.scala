package graft

import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import graft.queries.{PlanClass, QueryDef}

/** Suite-wide scale lint: every registered query's physical plan is checked
  * for the two patterns that do not survive a 100× scale-up —
  * `CartesianProduct` (unbounded quadratic, never acceptable) and
  * `BroadcastNestedLoopJoin` outside an explicit allowlist of deliberate,
  * bounded broadcast crosses (small query batch × base, 7-row model table,
  * 1-row scalar totals, broadcast eval holdout), each marked
  * `PlanClass.BoundedCross` with its reason in the query's `QueryDef`.
  * Streaming runs execute on build and are skipped here (StreamingSpec pins
  * their shapes). Per-query PlanSpec tests pin the shapes we *want*; this
  * lint pins the absence of the shapes we must never get, across the whole
  * registry, so a new query or a refactor cannot silently reintroduce a
  * scale-killer.
  */
class PlanLintSpec extends SparkSpec {

  private val defs = graft.queries.Queries.all.values.toSeq

  /** The queries allowed one bounded nested-loop join. */
  private val boundedCrosses =
    defs.collect { case QueryDef(name, _, _, PlanClass.BoundedCross(_)) => name }.toSet

  /** Runs `body` and returns what Spark's HintErrorLogger warned meanwhile
    * — a hint naming a relation that is not in scope is dropped with only
    * that warning, and the plan silently loses the join strategy it asked for.
    */
  private def hintWarnings[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("plan-lint-hints", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try (body, seen.asScala.toSeq)
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  /** Every registered query's physical plan, planned once for both checks. */
  private lazy val planned: (Seq[(String, String)], Seq[String]) = hintWarnings {
    defs.filterNot(_.plan == PlanClass.StreamingRun).sortBy(_.name)
      .map(d => d.name -> d.build(spark, sfDir).queryExecution.executedPlan.toString)
  }

  test("no registered query plans a CartesianProduct or an un-allowlisted nested-loop join") {
    val plans = planned._1
    val cartesian = plans.collect { case (n, p) if p.contains("CartesianProduct") => n }
    assert(cartesian.isEmpty, s"CartesianProduct in: ${cartesian.mkString(", ")}")
    // exact-set compare: an un-allowlisted nested loop is a scale regression,
    // and a stale allowlist entry means the lint has drifted from the code —
    // both fail, so the allowlist stays an audited inventory, not a wildcard
    val nested = plans.collect { case (n, p) if p.contains("BroadcastNestedLoopJoin") => n }.toSet
    assert((nested -- boundedCrosses).isEmpty,
      s"un-allowlisted BroadcastNestedLoopJoin in: ${(nested -- boundedCrosses).mkString(", ")}")
    assert((boundedCrosses -- nested).isEmpty,
      s"stale allowlist entries (no nested loop planned): ${(boundedCrosses -- nested).mkString(", ")}")
  }

  test("no registered query carries a hint Spark drops") {
    val dropped = planned._2
    assert(dropped.isEmpty, s"HintErrorLogger warnings while planning: ${dropped.mkString("; ")}")
  }
}
