package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.queries.{Oracle, Queries, QueryDef}

/** Driver contract — the engine's public query surface (SURVEY.md §2).
  *
  * Every operator family from the survey inventory is a named query over
  * the testdata, stated once as a [[graft.queries.QueryDef]] in its family
  * file under `graft/queries/`, and (where ANSI-SQL-expressible) paired
  * with a DuckDB oracle. Non-SQL operators are verified by ScalaTest
  * property specs instead and get rows-only checks.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * Exact top-k cosine kNN — the reference's `index.search(q, k)`
    * (`FAISS/PlainDemo/pipeline.py:232-263`) as a broadcast join + window
    * top-k.
    */
  def entry(spark: SparkSession): DataFrame =
    VectorSearch.knnExact(spark, "/root/testdata/sf0.001")

  /** Every registered query's builder, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { case (n, q) => n -> q.build }

  /** The DuckDB SQL of every query that has an oracle, built on this call. */
  def oracleSql: Map[String, String] = Queries.all.collect {
    case (n, QueryDef(_, _, Oracle.Sql(text), _)) => n -> text()
  }

  /** The data dir the ORACLE SQL assumes the index stores were built from.
    * [[Verify]] pins the `graft.oracle.sfdir` system property to the sfDir
    * it actually verifies before dumping `oracle_sql.json`, so the exported
    * store paths always match the verified scale factor (previously the
    * sf0.01 path was baked in — a driver verifying at another sf would have
    * silently broken knn_ivf/knn_pq/knn_ivfpq/knn_refine). The
    * `SPARK_GRAFT_ORACLE_SF_DIR` env var is the out-of-process override;
    * the default preserves the driver's current sf0.01 contract.
    */
  private[graft] def oracleSfDir: String =
    sys.props.get("graft.oracle.sfdir")
      .orElse(sys.env.get("SPARK_GRAFT_ORACLE_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
}
