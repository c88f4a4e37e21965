package graft.tools

import graft.GraftSession

/** Scratch profiler: time named queries N times in one JVM (bench-identical
  * session config) to separate fixed per-job overhead from plan cost.
  */
object TimeQueries {
  val DefaultQueries: Seq[String] = Seq("knn_ivf", "knn_pq", "knn_lsh", "knn_exact", "q1_pricing")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) graft.queries.Queries.select(args(1)) else DefaultQueries
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()
    for (q <- names; i <- 1 to 3) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, sfDir).count()
      println(f"$q run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
