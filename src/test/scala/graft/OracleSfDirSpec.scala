package graft

/** End-to-end check of the oracle sf-dir override (`graft.oracle.sfdir`
  * system property, the in-process leg of the same orElse chain as the
  * `SPARK_GRAFT_ORACLE_SF_DIR` env var — see SparkEntry.oracleSfDir):
  * with the override pinned to another scale factor, the oracle SQL's
  * exported-store paths must follow it, and running the store-backed
  * queries at that sf must produce exactly the artifacts the SQL reads —
  * the consistency Verify relies on when the driver verifies at a
  * non-default sf.
  */
class OracleSfDirSpec extends SparkSpec {

  test("oracle store paths and store-backed queries follow the sf-dir override end-to-end") {
    val prev = sys.props.get("graft.oracle.sfdir")
    sys.props("graft.oracle.sfdir") = sfDir // sf0.001, not the sf0.01 default
    try {
      val expectIvf = graft.sources.IndexStore.defaultPath(sfDir)
      val expectPq = graft.sources.PqStore.defaultPath(sfDir)
      val expectGraph = graft.sources.GraphIndex.defaultPath(sfDir)
      val sql = SparkEntry.oracleSql
      assert(sql("knn_ivf").contains(expectIvf), "knn_ivf oracle must read the overridden store")
      assert(sql("knn_graph").contains(expectGraph), "knn_graph oracle must read the overridden graph")
      assert(sql("graph_degree_stats").contains(expectGraph))
      assert(sql("stream_knn").contains(expectIvf))
      assert(sql("index_stats").contains(expectIvf))
      assert(sql("knn_pq").contains(expectPq))
      assert(sql("knn_ivfpq").contains(expectIvf) && sql("knn_ivfpq").contains(expectPq))
      assert(!sql("knn_ivf").contains("sf0.01"), "no stale default path may leak through")
      // The r10 store-backed oracles must follow the override too: the
      // partitioned lake's layout/compaction replays and the perceptual
      // hash's grays replay read per-sf artifacts.
      val expectPart = graft.sources.PartitionedStore.defaultPath(sfDir)
      val expectGrays = graft.operators.Multimodal.graysPath(sfDir)
      assert(sql("partitioned_layout_stats").contains(expectPart))
      assert(sql("partitioned_compact").contains(expectPart + "_cp"))
      assert(sql("media_phash").contains(expectGrays))
      assert(sql("media_phash_pairs").contains(expectGrays))
      assert(!sql("partitioned_layout_stats").contains("sf0.01"),
        "no stale default path may leak through the partitioned-store oracle")
      // Running the same queries at the overridden sf builds exactly the
      // artifacts the oracle SQL will read.
      for (name <- OracleSfDirSpec.StoreBuilders)
        assert(SparkEntry.queries(name)(spark, sfDir).count() > 0, s"$name returns rows")
      assert(new java.io.File(s"$expectIvf/centroids").exists(), "exported centroids")
      assert(new java.io.File(s"$expectIvf/rows").exists(), "exported clustered rows")
      assert(new java.io.File(s"$expectPq/codebooks").exists(), "exported PQ codebooks")
      assert(new java.io.File(s"$expectPart/rows").exists(), "exported partitioned rows")
      assert(new java.io.File(s"$expectGrays/grays").exists(), "exported grays")
    } finally prev match {
      case Some(v) => sys.props("graft.oracle.sfdir") = v
      case None => sys.props.remove("graft.oracle.sfdir")
    }
  }

  test("without an override the oracle defaults to the driver's sf0.01 contract") {
    if (sys.props.get("graft.oracle.sfdir").isEmpty &&
        sys.env.get("SPARK_GRAFT_ORACLE_SF_DIR").isEmpty)
      assert(SparkEntry.oracleSql("knn_ivf").contains("sf0.01"))
  }
}

object OracleSfDirSpec {
  /** The queries whose runs build the stores the oracle SQL reads. */
  val StoreBuilders: Seq[String] =
    Seq("knn_ivf", "knn_pq", "index_stats", "partitioned_layout_stats", "media_phash")
}
