package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions.{dot, micro}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.operators.VectorSearch
import graft.plans.{KnnJoinApi, TopKExec}
import graft.sources.IndexStore

/** `VectorSearch.rankTopK` through the TopK node must be row-identical, in
  * order and schema, to the `row_number` window form it replaced, which
  * this spec keeps as its reference — with the single-partition merge and
  * with the hash-partitioned one.
  */
class TopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The window form: rank per key, keep k, order by (key, rank). */
  private def windowTopK(scored: DataFrame, k: Int, score: String, cols: Seq[Column],
                         key: String = "qid", id: String = "vec_id"): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col(key)).orderBy(col(score).desc, col(id))))
      .filter(col("rank") <= k).select(cols: _*).orderBy(col(key), col("rank"))

  private val simCols = Seq(col("qid"), col("vec_id"), col("rank"), col("sim"))

  private def assertSame(scored: DataFrame, k: Int, score: String = "sim",
                         cols: Seq[Column] = simCols, key: String = "qid",
                         id: String = "vec_id"): Seq[Row] = {
    val ref = windowTopK(scored, k, score, cols, key, id)
    val r = ref.collect().toSeq
    for (single <- Seq(true, false)) {
      val got = VectorSearch.rankTopK(scored, k, score, cols, key, id, single)
      assert(got.schema == ref.schema)
      val g = got.collect().toSeq
      assert(g == r, s"single=$single\n got ${g.take(12)}\n ref ${r.take(12)}")
    }
    r
  }

  /** The TopKExec nodes of `df`'s executed plan, root first. */
  private def topKs(df: DataFrame): Seq[TopKExec] =
    collect(df.queryExecution.executedPlan) { case t: TopKExec => t }

  private def emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")

  private def scoredAgainst(q: DataFrame, base: DataFrame): DataFrame =
    base.crossJoin(broadcast(q)).filter($"vec_id" =!= $"qid")
      .withColumn("sim", dot($"qvec", $"embedding"))

  test("every sf0.001 embedding as a query: the sim_micro contract matches the window") {
    val q = emb.select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val scored = scoredAgainst(q, emb)
    val got = VectorSearch.rankTopK(scored, 5).collect().toSeq
    val ref = windowTopK(scored, 5, "sim",
      Seq($"qid", $"vec_id", $"rank", micro($"sim").as("sim_micro"))).collect().toSeq
    assert(got.size == 5 * emb.count())
    assert(got == ref)
    assert(assertSame(scored, 5).size == got.size)
  }

  test("duplicated vectors: equal scores break toward the lower id") {
    val corpus = emb.filter($"vec_id" >= 20)
    val base = corpus.unionAll(corpus.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    val q = emb.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val rows = assertSame(scoredAgainst(q, base), 6)
    // every hit has its twin, so each tie pair is adjacent, lower id first
    assert(rows.grouped(2).forall(p => p(0).getDouble(3) == p(1).getDouble(3) &&
      p(1).getLong(1) == p(0).getLong(1) + 100000L))
  }

  test("a NULL qvec ranks by id alone; NULL scores go last under real ones") {
    val q = Seq[(Long, Seq[Float])]((1000001L, null)).toDF("qid", "qvec")
      .unionAll(emb.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qvec")))
    val rows = assertSame(scoredAgainst(q, emb), 4)
    assert(rows.filter(_.getLong(0) == 1000001L).map(_.getLong(1)) == Seq(0L, 1L, 2L, 3L))
    val mixed = Seq[(Long, Long, java.lang.Double)](
      (1, 10, null), (1, 11, 0.5), (1, 12, null), (1, 13, 0.25), (2, 20, null), (2, 21, null))
      .toDF("qid", "vec_id", "sim")
    assert(assertSame(mixed, 3).map(_.getLong(1)) == Seq(11L, 13L, 10L, 20L, 21L))
  }

  test("NaN ranks above every number and -0.0 ties with 0.0, as the window ranks them") {
    val s = Seq[(Long, Long, Double)](
      (1, 1, 0.0), (1, 2, -0.0), (1, 3, Double.NaN), (1, 4, 1.0), (1, 5, -0.0),
      (1, 6, Double.NaN), (1, 7, Double.NegativeInfinity), (1, 8, 0.0),
      (2, 1, -0.0), (2, 2, 0.0)).toDF("qid", "vec_id", "sim").repartition(3)
    val rows = assertSame(s, 6)
    assert(rows.take(6).map(_.getLong(1)) == Seq(3L, 6L, 4L, 1L, 2L, 5L))
    assert(rows.drop(6).map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(3))) ==
      Seq(-0.0, 0.0).map(java.lang.Double.doubleToRawLongBits), "-0.0 kept as written")
  }

  test("a Long score (PqStore's adc_micro) with ties and NULLs") {
    val s = Seq[(Long, Long, java.lang.Long)](
      (7, 3, 50L), (7, 1, 50L), (7, 2, null), (7, 9, -5L), (7, 4, 60L), (8, 1, null))
      .toDF("qid", "vec_id", "adc_micro")
    val cols = Seq($"qid", $"vec_id", $"rank", $"adc_micro")
    assert(assertSame(s, 4, "adc_micro", cols).map(_.getLong(1)) == Seq(4L, 1L, 3L, 9L, 1L))
  }

  test("k = Int.MaxValue and k above a key's row count keep every row, ranked") {
    val q = emb.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val base = emb.filter($"vec_id" < 40)
    val all = assertSame(scoredAgainst(q, base), Int.MaxValue)
    assert(all.size == 3 * 39)
    assert(assertSame(scoredAgainst(q, base), 50) == all)
  }

  test("an empty input gives 0 rows and the window's schema") {
    val q = emb.filter($"vec_id" < 0).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    assert(assertSame(scoredAgainst(q, emb), 5).isEmpty)
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("qid", LongType), StructField("vec_id", LongType), StructField("sim", DoubleType))))
    assert(assertSame(none, 5).isEmpty)
  }

  test("more partitions than keys, empty partitions among them") {
    val s = spark.range(0, 300, 1, 32)
      .select(($"id" % 3).as("qid"), $"id".as("vec_id"), (($"id" * 37) % 11).cast("double").as("sim"))
      .filter($"vec_id" < 40 || $"vec_id" > 260) // several of the 32 partitions are left empty
    assert(s.rdd.getNumPartitions == 32)
    assert(s.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ == 0) > 0)
    assert(assertSame(s, 4).size == 12)
  }

  test("searchPruned plans one TopK: no Window, no range-partitioning exchange") {
    val store = IndexStore.defaultPath(sfDir)
    IndexStore.ensure(spark, sfDir, store)
    val q = VectorSearch.querySet(spark, sfDir, 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.toDF("qid", "qvec")
    val df = IndexStore.searchPruned(spark, store, q)
    assert(df.collect().length == 25)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopK "), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
  }

  test("knnJoin merges hash-partitioned by qid; ranking its output merges in one partition") {
    val base = emb.repartition(4)
    val q = VectorSearch.querySet(spark, sfDir, 5)
    val ranked = VectorSearch.rankTopK(KnnJoinApi.knnJoin(spark, q, base, 5), 5)
    assert(ranked.collect().toSeq == VectorSearch.knnDeclarative(q, base, 5).collect().toSeq)
    val Seq(outer, inner) = topKs(ranked)
    assert(outer.outputPartitioning == SinglePartition)
    assert(inner.outputPartitioning.isInstanceOf[HashPartitioning], inner.outputPartitioning)
  }
}
