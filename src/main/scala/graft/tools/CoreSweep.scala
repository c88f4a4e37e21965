package graft.tools

import graft.GraftSession

/** Core-scaling evidence at a data-proportional SF (VERDICT r17 item 3):
  * time the most DATA-BOUND bench queries at the core count of
  * [[graft.GraftSession.cpus]] over the synthetic sf1 decade (`SPARK_GRAFT_SF1_DIR`,
  * built by [[BlowUp]]; falls back to sf0.1). Run once at 32 cores and
  * once at 8; the per-query ratio t(8c)/t(32c) against the 4×
  * core ratio is the scaling claim. The query set deliberately avoids the
  * memoPersist-fronted dedup family and the streaming fixed-cost runs —
  * their bench numbers measure cache warm-up / micro-batch machinery, not
  * core-scalable plan work — and picks scan/join/aggregate-bound plans.
  *
  * Protocol per query: one untimed warm run (store builds, JIT), then
  * median of 3 timed runs with cache cleared between runs (ScaleSweep's
  * discipline). Writes CORESWEEP_<cpus>.json at the repo root, with the
  * host's core count next to the requested one.
  */
object CoreSweep {

  val DefaultQueries: Seq[String] = Seq(
    "knn_batch",            // custom KnnJoinExec: 5000×N exact scan, compute-bound
    "knn_batch_oracle",     // same operator, oracle-checked route
    "dedup_simhash_md5",    // md5 sketch + banded pair join over the corpus
    "media_phash_pairs",    // DCT hash + banded Hamming verify
    "text_bpe_encode",      // word census + broadcast-merge tokenize
    "pipeline_clean_corpus",// composite scan + hash-key dedup shuffle
    "pipeline_corpus_stats",// full-corpus aggregate composite
    "q1_pricing",           // TPC-H Q1: scan + aggregate
    "q9_product_profit",    // TPC-H Q9: multi-join
    "q10_returns",          // TPC-H Q10: join + aggregate + top-N
    "graph_triangles",      // co-purchase self-join + wedge join
    "scd2_build",           // corpus-wide window + merge
    "embed_top_eigen",      // Gram pass (corpus) + bounded iteration
    "text_unigram_lm")      // EM over bucket census

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) graft.queries.Queries.select(args(0)) else DefaultQueries
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (q <- names) {
      val fn = graft.SparkEntry.queries(q)
      fn(spark, sfDir).count() // untimed warm: builds + JIT
      spark.catalog.clearCache()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      out(q) = median(runs)
      println(f"$q%-24s median ${out(q)}%7.2f s  (runs ${runs.map(r => f"$r%.2f").mkString(", ")})")
    }
    spark.stop()
    val js = out.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"CORESWEEP_$cpus.json"),
      (s"""{"cpus":$cpus,"host_cores":${GraftSession.hostCores},"sf_dir":"$sfDir","medians":$js}""" + "\n").getBytes("UTF-8"))
  }
}
