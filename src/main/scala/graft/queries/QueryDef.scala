package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a query's result is checked. */
sealed trait Oracle

object Oracle {
  /** DuckDB SQL over the same parquet tables, hash-compared with the
    * engine's result. Built on each call: the exported store paths in it
    * follow [[graft.SparkEntry.oracleSfDir]], which `Verify` pins first.
    */
  final case class Sql(text: () => String) extends Oracle

  /** A rows-only check; `reason` says why no SQL replays the query and
    * which spec covers it instead.
    */
  final case class Exempt(reason: String) extends Oracle
}

/** What the plan lint (`PlanLintSpec`) expects of a query's physical plan. */
sealed trait PlanClass

object PlanClass {
  /** No CartesianProduct and no BroadcastNestedLoopJoin. */
  case object Plain extends PlanClass

  /** One deliberate BroadcastNestedLoopJoin over a provably bounded side
    * (query batch, model table, scalar totals, eval holdout); `reason`
    * names the bound.
    */
  final case class BoundedCross(reason: String) extends PlanClass

  /** Building the DataFrame runs a stream, so there is no lazy plan to
    * lint; `StreamingSpec` asserts its shape.
    */
  case object StreamingRun extends PlanClass
}

/** One named query, stated once: its builder over an sf dir, its oracle
  * and its plan class.
  *
  * Convention for oracle-checked outputs: all integers surface as BIGINT,
  * floats as DOUBLE, money/decimal sums as fixed-point BIGINT (cents /
  * ten-thousandths), similarity scores as floor(1e6·x) BIGINT — so the
  * hash-compare never sees engine-specific numeric formatting.
  */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
                          oracle: Oracle, plan: PlanClass = PlanClass.Plain)

/** The short forms the family files state their queries with. */
object QueryDef {
  def sql(text: => String): Oracle = Oracle.Sql(() => text)
  def noOracle(reason: String): Oracle = Oracle.Exempt(reason)
  def cross(reason: String): PlanClass = PlanClass.BoundedCross(reason)
  val streaming: PlanClass = PlanClass.StreamingRun
}
