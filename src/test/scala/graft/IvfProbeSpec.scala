package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.l2DistanceSq
import graft.operators.VectorSearch
import graft.sources.{IndexStore, IvfProbe}

/** The map-side IVF probe and its centroid memo: the probe must rank cells
  * exactly as the cross-join + `row_number` window it replaced, and a
  * store's memo entry must survive absorbs and be replaced by a rebuild.
  */
class IvfProbeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val path: String = {
    val p = IndexStore.defaultPath(sfDir)
    IndexStore.ensure(spark, sfDir, p)
    p
  }

  /** The window ranking: queries × broadcast centroids, squared L2 against
    * the float-narrowed centroid, `row_number` over (d2, cell_id).
    */
  private def windowRanking(queries: DataFrame, centroids: DataFrame,
                            nprobe: Int): Seq[(Long, Int, Int)] =
    queries.crossJoin(broadcast(centroids))
      .withColumn("d2", l2DistanceSq($"qvec", $"centroid".cast("array<float>")))
      .withColumn("cr", row_number().over(Window.partitionBy($"qid").orderBy($"d2", $"cell_id")))
      .filter($"cr" <= nprobe)
      .select($"qid", $"cell_id", $"cr").as[(Long, Int, Int)].collect().toSeq.sorted

  private def probeRanking(queries: DataFrame, cents: IvfProbe.Centroids,
                           nprobe: Int): Seq[(Long, Int, Int)] =
    queries.select($"qid", posexplode(IvfProbe.cells(cents, nprobe)($"qvec")))
      .select($"qid", $"col", ($"pos" + 1).as("cr")).as[(Long, Int, Int)].collect().toSeq.sorted

  /** Four 4-d centroids, cells 1 and 2 equal, rows out of cell order. */
  private lazy val tied: DataFrame = Seq(
    (3, Seq(0.0, 0.0, 0.0, 1.0)), (2, Seq(0.0, 1.0, 0.0, 0.0)),
    (0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cell_id", "centroid")

  private def queries(vs: (Long, Seq[Float])*): DataFrame = vs.toDF("qid", "qvec")

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  test("the probe ranks every query's cells exactly as the window did, on the test store") {
    val centroids = IndexStore.read(spark, path)._2
    val cents = IvfProbe.centroids(spark, path)
    val qs = Tables.embeddings(spark, sfDir).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    for (nprobe <- Seq(1, 10, cents.nlist)) {
      val got = probeRanking(qs, cents, nprobe)
      assert(got.nonEmpty && got == windowRanking(qs, centroids, nprobe), s"nprobe=$nprobe")
    }
  }

  test("equal centroids: the tie goes to the lower cell_id") {
    val cents = IvfProbe.collect(tied)
    val qs = queries((1L, Seq(0f, 1f, 0f, 0f)), (2L, Seq(0f, 0.5f, 0f, 0.5f)), (3L, Seq(0f, 0f, 0f, 0f)))
    assert(probeRanking(qs, cents, 3) == windowRanking(qs, tied, 3))
    assert(cents.nearest(Array(0f, 1f, 0f, 0f), 2).toSeq == Seq(1, 2))
    // every centroid is a unit vector: the origin is equidistant from all
    assert(cents.nearest(Array(0f, 0f, 0f, 0f), 4).toSeq == Seq(0, 1, 2, 3))
  }

  test("nprobe > nlist probes every cell, as the clamp expects") {
    val cents = IvfProbe.collect(tied)
    val qs = queries((1L, Seq(0.1f, 0.7f, 0f, 0.2f)))
    assert(probeRanking(qs, cents, 999) == windowRanking(qs, tied, 999))
    assert(probeRanking(qs, cents, 999).map(_._3).sorted == Seq(1, 2, 3, 4))
    val store = IvfProbe.centroids(spark, path)
    val q = VectorSearch.querySet(spark, sfDir, 3)
    assert(probeRanking(q, store, store.nlist + 5) == probeRanking(q, store, store.nlist))
  }

  test("a query of the wrong dimension fails with the checkDims message") {
    val cents = IvfProbe.collect(tied)
    val qs = queries((1L, Seq(1f, 0f, 0f)))
    val want = "vector dimension mismatch: 3 vs 4"
    val viaWindow = intercept[Exception](windowRanking(qs, tied, 2))
    assert(messages(viaWindow).exists(_.contains(want)), messages(viaWindow))
    val viaProbe = intercept[Exception](probeRanking(qs, cents, 2))
    assert(messages(viaProbe).exists(_.contains(want)), messages(viaProbe))
  }

  test("a NULL query vector probes the lowest cell ids, as the window ranked it") {
    val cents = IvfProbe.collect(tied)
    val qs = queries((1L, null), (2L, Seq(0f, 0f, 0f, 1f)))
    assert(probeRanking(qs, cents, 2) == windowRanking(qs, tied, 2))
    assert(probeRanking(qs, cents, 2).filter(_._1 == 1L).map(_._2) == Seq(0, 1))
    // searchPruned: the probed cells' lowest vec_ids, with no similarity
    val store = IvfProbe.centroids(spark, path)
    val out = IndexStore.searchPruned(spark, path, queries((-1L, null)), k = 3, nprobe = 2)
      .select($"vec_id", $"rank", $"sim_micro").collect()
    val want = IndexStore.read(spark, path)._1
      .filter($"cell_id".isin(store.ids.take(2).toIndexedSeq: _*))
      .select($"vec_id").as[Long].collect().sorted.take(3).toSeq
    assert(out.map(_.getLong(0)).toSeq == want)
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    assert(out.forall(_.isNullAt(2)))
  }

  test("20 absorbs keep one centroid memo entry per store; a rebuild replaces it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-probememo").toString
    val store = s"$tmp/store"
    try {
      val e = Tables.embeddings(spark, sfDir)
      IndexStore.writeFrom(e.filter($"vec_id" % 2 === 0), store)
      val q = VectorSearch.querySet(spark, sfDir, 1).collect().head
      def plan(): Unit = // the planner's probe reads the same memo
        IndexStore.flatTopK(spark, store, q.getLong(0), q.getSeq[Float](1).toArray)
          .queryExecution.optimizedPlan
      IndexStore.searchPruned(spark, store, VectorSearch.querySet(spark, sfDir, 3)).collect()
      plan()
      val first = IvfProbe.centroids(spark, store)
      val loads = IvfProbe.loads.get()
      (0 until 20).foreach { i =>
        IndexStore.absorb(spark, store, e.filter($"vec_id" % 40 === 2 * i + 1))
        plan()
      }
      assert(IvfProbe.loads.get() == loads, "an absorb never rewrites centroids, so no re-read")
      assert(IvfProbe.memoKeys.count(_.startsWith(tmp)) == 1)
      assert(IvfProbe.centroids(spark, store) eq first)
      IndexStore.writeFrom(e.filter($"vec_id" % 3 === 0), store) // rebuild in place
      val second = IvfProbe.centroids(spark, store)
      assert(IvfProbe.loads.get() == loads + 1, "a rebuild rewrites centroids: one re-read")
      assert(!(second eq first))
      assert(IvfProbe.memoKeys.count(_.startsWith(tmp)) == 1)
    } finally graft.streaming.StreamOps.rmTree(new java.io.File(tmp))
  }
}
