package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.dot
import graft.operators.VectorSearch
import graft.sources.{IndexStore, IvfProbe}

/** `searchPruned`, `searchTombstoned` and `ivfSearch` (so also
  * `IndexStore.search`) score the probed cells inside a probed `KnnJoin`.
  * Their former form — the pruned rows equi-joined to the
  * broadcast exploded probe, scored with `dot`, ranked by `rankTopK` — is
  * kept in [[ProbedSearchSpec$]] as the reference, and every result must be
  * row-identical to it.
  */
class ProbedSearchSpec extends SparkSpec {
  import spark.implicits._
  import ProbedSearchSpec._

  private var tmp: Option[String] = None

  override def afterAll(): Unit =
    try tmp.foreach(p => graft.streaming.StreamOps.rmTree(new java.io.File(p)))
    finally super.afterAll()

  /** The default store, never absorbed: cells only. */
  private lazy val built: String = {
    val p = IndexStore.defaultPath(sfDir)
    IndexStore.ensure(spark, sfDir, p)
    p
  }

  /** The even half built, the odd half absorbed in three calls: cells ∪
    * segments.
    */
  private lazy val absorbed: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-probed").toString
    tmp = Some(p)
    val e = Tables.embeddings(spark, sfDir)
    IndexStore.writeFrom(e.filter($"vec_id" % 2 === 0), s"$p/store")
    (0 until 3).foreach(i =>
      IndexStore.absorb(spark, s"$p/store", e.filter($"vec_id" % 6 === 2 * i + 1)))
    assert(new java.io.File(s"$p/store/segments").isDirectory)
    s"$p/store"
  }

  private def everyEmbedding: DataFrame =
    Tables.embeddings(spark, sfDir).select($"vec_id".as("qid"), $"embedding".as("qvec"))

  private def same(store: String, q: DataFrame, k: Int, nprobe: Int,
                   rowPred: Option[org.apache.spark.sql.Column] = None): Seq[org.apache.spark.sql.Row] = {
    val got = IndexStore.searchPruned(spark, store, q, k, nprobe, rowPred).collect().toSeq
    val want = reference(spark, store, q, k, nprobe)(s => rowPred.foldLeft(s)(_.filter(_)))
      .collect().toSeq
    assert(got.nonEmpty && got == want,
      s"$store nprobe=$nprobe: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    got
  }

  test("every sf0.001 embedding as a query, nprobe 1, 10 and nlist, cells and cells ∪ segments") {
    val n = Tables.embeddings(spark, sfDir).count()
    for (store <- Seq(built, absorbed); nprobe <- Seq(1, 10, IvfProbe.centroids(spark, store).nlist)) {
      val got = same(store, everyEmbedding, 5, nprobe)
      assert(got.map(_.getLong(0)).distinct.size == n)
    }
  }

  test("a tombstone NOT IN rowPred filters before scoring, as it filtered the scored rows") {
    val dead = Tables.deletedVecIds(spark, sfDir).as[Long].collect().toSeq
    for (store <- Seq(built, absorbed)) {
      val got = same(store, everyEmbedding, 5, 10, Some(!$"vec_id".isin(dead: _*)))
      assert(got.forall(r => !dead.contains(r.getLong(1))))
    }
  }

  /** NULL queries (qid -1 and 2), a NaN query and a NULL qid, among real
    * queries 0..2.
    */
  private def oddQueries: DataFrame = {
    val real = VectorSearch.querySet(spark, sfDir, 3).as[(Long, Seq[Float])].collect().toSeq
    val dim = real.head._2.length
    (Seq[(Option[Long], Option[Seq[Float]])](
        (Some(-1L), None), (Some(2L), None), (Some(-2L), Some(Seq.fill(dim)(Float.NaN))),
        (None, Some(real.head._2))) ++
      real.map { case (id, v) => (Some(id), Some(v)) }).toDF("qid", "qvec")
  }

  test("NULL and NaN queries and a NULL qid, among real ones") {
    val q = oddQueries
    for (store <- Seq(built, absorbed); nprobe <- Seq(1, 10)) {
      val got = same(store, q, 5, nprobe)
      assert(got.filter(_.getLong(0) == -1L).forall(_.isNullAt(3)))
      assert(got.count(_.getLong(0) == 2L) == 5)
    }
  }

  test("ivfSearch and IndexStore.search: every sf0.001 embedding, NULL and NaN queries") {
    val (assigned, centroids) = VectorSearch.ivfBuild(spark, sfDir)
    val a = assigned.cache()
    val nlist = IvfProbe.collect(centroids).nlist
    def check(got: DataFrame, want: DataFrame, what: String): Unit = {
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.nonEmpty && g == w, s"$what: ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
    }
    for (q <- Seq(everyEmbedding, oddQueries); nprobe <- Seq(1, 2, nlist))
      check(VectorSearch.ivfSearch(a, centroids, q, 5, nprobe),
        ivfReference(a, centroids, q, 5, nprobe), s"ivfSearch nprobe=$nprobe")
    val (rows, cents) = IndexStore.read(spark, built)
    for (nprobe <- Seq(1, 10))
      check(IndexStore.search(spark, built, everyEmbedding, 5, nprobe),
        ivfReference(rows, cents, everyEmbedding, 5, nprobe), s"search nprobe=$nprobe")
    a.unpersist(blocking = false)
  }

  test("searchTombstoned is unchanged") {
    val got = IndexStore.searchTombstoned(spark, sfDir).collect().toSeq
    val want = reference(spark, built, VectorSearch.querySet(spark, sfDir, 5), 5, 10)(
      _.join(Tables.boundedBroadcast(Tables.deletedVecIds(spark, sfDir)), Seq("vec_id"), "left_anti"))
      .collect().toSeq
    assert(got.size == 25 && got == want)
  }
}

object ProbedSearchSpec {
  /** The former probed search: `live` over the scored join of the pruned
    * rows and the broadcast exploded probe, then `rankTopK`.
    */
  def reference(spark: SparkSession, path: String, queries: DataFrame, k: Int, nprobe: Int)(
      live: DataFrame => DataFrame): DataFrame = {
    val cents = IvfProbe.centroids(spark, path)
    val cells = IvfProbe.probedCells(queries, cents, nprobe)
    val scored = IndexStore.read(spark, path)._1.filter(col("cell_id").isin(cells.toIndexedSeq: _*))
      .join(broadcast(IvfProbe.probed(queries, cents, nprobe)), "cell_id")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot(col("qvec"), col("embedding")))
    VectorSearch.rankTopK(live(scored), k).orderBy(col("qid"), col("rank"))
  }

  /** The former `VectorSearch.ivfSearch`: the rows equi-joined to the
    * broadcast exploded probe, scored with `dot`, then `rankTopK`.
    */
  def ivfReference(assigned: DataFrame, centroids: DataFrame, queries: DataFrame, k: Int,
                   nprobe: Int): DataFrame = {
    val probed = IvfProbe.probed(queries, IvfProbe.collect(centroids), nprobe)
    val scored = assigned.join(broadcast(probed), "cell_id")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", dot(col("qvec"), col("embedding")))
    VectorSearch.rankTopK(scored, k).orderBy(col("qid"), col("rank"))
  }
}
