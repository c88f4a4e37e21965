package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Oracle, Queries, QueryDef}
import graft.queries.QueryDef._

/** The query registry: names are unique, every name a tool or spec hard-codes
  * is registered, and the oracle coverage is the known one.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val build: (SparkSession, String) => DataFrame = (_, _) => null

  test("a registry with a name stated twice fails and names it") {
    val defs = Seq(QueryDef("a", build, sql("SELECT 1")), QueryDef("b", build, sql("SELECT 2")),
      QueryDef("a", build, noOracle("twice")))
    val e = intercept[IllegalArgumentException](Queries.registry(defs))
    assert(e.getMessage.contains("duplicate query names: a"), e.getMessage)
    assert(Queries.registry(defs.take(2)).keySet == Set("a", "b"))
  }

  test("every query name hard-coded in a tool or spec is registered") {
    val lists = Map(
      "TimeQueries.DefaultQueries" -> tools.TimeQueries.DefaultQueries,
      "CoreSweep.DefaultQueries" -> tools.CoreSweep.DefaultQueries,
      "ScaleSweep.DefaultQueries" -> tools.ScaleSweep.DefaultQueries,
      "ScaleSweep.Sf1Queries" -> tools.ScaleSweep.Sf1Queries.toSeq,
      "Plans.Picks" -> tools.Plans.Picks.map(_._1),
      "OracleSfDirSpec.StoreBuilders" -> OracleSfDirSpec.StoreBuilders)
    val unknown = for ((list, names) <- lists.toSeq; n <- names if !Queries.all.contains(n)) yield s"$list: $n"
    assert(unknown.isEmpty, unknown.mkString(", "))
  }

  test("273 queries have oracle SQL; the four without one are the known ones") {
    val exempt = Queries.all.collect { case (n, QueryDef(_, _, Oracle.Exempt(_), _)) => n }.toSet
    assert(exempt == Set("embed_docs", "knn_batch", "media_decode", "metrics_ops"))
    assert(SparkEntry.oracleSql.keySet == Queries.all.keySet -- exempt)
    assert(SparkEntry.oracleSql.size == 273 && SparkEntry.queries.size == 277)
  }
}
