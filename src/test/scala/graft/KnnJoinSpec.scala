package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorSearch
import graft.plans.KnnJoinApi

/** The custom KnnJoin operator (LogicalPlan + Strategy + SparkPlan) must
  * agree exactly with the declarative crossJoin+window formulation, plan
  * through KnnJoinExec, and respect its bounds.
  */
class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  test("physical kNN equals the declarative window top-k, cell for cell") {
    val phys = VectorSearch.knnExactPhysical(spark, sfDir, k = 5, nq = 5)
      .collect().map(_.toSeq).toSeq
    val decl = VectorSearch.knnExact(spark, sfDir, k = 5, nq = 5)
      .collect().map(_.toSeq).toSeq
    assert(phys == decl)
  }

  test("multi-partition base: the merge keeps the best k of all partition winners") {
    val base = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding").repartition(4)
    assert(base.rdd.getNumPartitions >= 4)
    val q = VectorSearch.querySet(spark, sfDir, 5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
    val phys = KnnJoinApi.knnJoin(spark, q, base, 5)
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"qid", $"vec_id", $"rank",
        graft.functions.VectorFunctions.micro($"sim").as("sim_micro"))
      .orderBy($"qid", $"rank").collect().map(_.toSeq).toSeq
    val decl = VectorSearch.knnDeclarative(q, base, 5).collect().map(_.toSeq).toSeq
    assert(decl.size == 25)
    assert(phys == decl, s"heap merge diverged: ${phys.take(5)} vs ${decl.take(5)}")
  }

  test("the plan goes through KnnJoinExec") {
    val df = VectorSearch.knnExactPhysical(spark, sfDir)
    df.collect() // AQE finalizes the physical plan on execution
    // the node class prints with the Exec suffix stripped, and AQE query
    // stages are leaves to `exists` — check the rendered physical tree
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("KnnJoin "), p.take(2000))
    assert(!p.contains("!KnnJoin"), "node still flagged with missing input: " + p.take(2000))
  }

  test("mismatched vector dimensions fail fast instead of truncating") {
    val base = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val q = VectorSearch.querySet(spark, sfDir, 2)
      .select($"qid", slice($"qvec", 1, 8).as("qvec")) // 8-dim vs the 64-dim base
    val ex = intercept[Exception] {
      KnnJoinApi.knnJoin(spark, q, base, k = 3).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).flatMap(c => Option(c.getMessage)).exists(_.contains("dimension mismatch")),
      s"expected a dimension-mismatch failure, got: $ex")
  }

  test("k larger than the base returns all non-self rows") {
    val base = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
    val q = VectorSearch.querySet(spark, sfDir, 2)
    val n = base.count()
    val hits = KnnJoinApi.knnJoin(spark, q, base, k = n.toInt + 10)
    assert(hits.count() == 2L * (n - 1))
  }

  test("excludeSelf=false keeps the self-match at rank 1 with sim≈1") {
    val base = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val q = VectorSearch.querySet(spark, sfDir, 3)
    val hits = KnnJoinApi.knnJoin(spark, q, base, k = 1, excludeSelf = false)
    val top = hits.select($"qid", $"vec_id", $"sim").collect()
    assert(top.forall(r => r.getLong(0) == r.getLong(1)), "self is nearest")
    assert(top.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-5))
  }

  /** A base whose first rows in every partition are its highest ids, so
    * a heap that keeps its first k rows shows.
    */
  private def descBase = Tables.embeddings(spark, sfDir)
    .select($"vec_id", $"embedding").orderBy($"vec_id".desc)

  private def rankedBoth(q: org.apache.spark.sql.DataFrame) = {
    val base = descBase
    (VectorSearch.rankTopK(KnnJoinApi.knnJoin(spark, q, base, 5), 5).collect().toSeq,
      VectorSearch.knnDeclarative(q, base, 5).collect().toSeq)
  }

  test("a NaN query ranks its NaN sims by vec_id, as knnDeclarative does") {
    val real = VectorSearch.querySet(spark, sfDir, 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val q = ((7L, Seq.fill(real.head._2.length)(Float.NaN)) +: real).toDF("qid", "qvec")
    val (phys, decl) = rankedBoth(q)
    assert(decl.size == 15)
    assert(decl.filter(_.getLong(0) == 7L).map(_.getLong(1)) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(phys == decl, s"NaN query diverged: $phys vs $decl")
  }

  test("a NULL query gets NULL sims ranked by vec_id, as knnDeclarative does") {
    val real = VectorSearch.querySet(spark, sfDir, 2).collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Float](1)))).toSeq
    val q = ((-1L, Option.empty[Seq[Float]]) +: real).toDF("qid", "qvec")
    val (phys, decl) = rankedBoth(q)
    assert(decl.size == 15)
    assert(decl.filter(_.getLong(0) == -1L).map(_.getLong(1)) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(decl.filter(_.getLong(0) == -1L).forall(_.isNullAt(3)))
    assert(phys == decl, s"NULL query diverged: $phys vs $decl")
  }

  // --- batch scale: the reference searches query batches up to 30 000
  // (FAISS/PlainDemo/pipeline.py:339-340); nq=5 hides the query-side scale
  // axis. At nq=5000 × the sf0.1 base the declarative form pushes 10M
  // scored rows through the rank-window exchange while the heap path
  // shuffles only nq·k winners — same rows, and measurably faster.

  private val sf01 = "/root/testdata/sf0.1"
  private val bigNq = 5000

  test("batch nq=5000: heap path equals the declarative window top-k and wins") {
    val base = Tables.embeddings(spark, sf01).select($"vec_id", $"embedding")
    val q = VectorSearch.syntheticQueries(spark, bigNq).cache()
    q.count() // materialize so neither path pays the embed
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (decl, tDecl) = timed(VectorSearch.knnDeclarative(q, base, 5).collect().toSeq)
    val (phys, tPhys) = timed {
      val hits = KnnJoinApi.knnJoin(spark, q, base, 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
      hits.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .select($"qid", $"vec_id", $"rank",
          graft.functions.VectorFunctions.micro($"sim").as("sim_micro"))
        .orderBy($"qid", $"rank").collect().toSeq
    }
    assert(decl.size == bigNq * 5)
    assert(phys == decl, s"heap path diverged: ${phys.take(3)} vs ${decl.take(3)}")
    assert(tPhys < tDecl,
      f"heap path should beat the declarative window at nq=$bigNq: $tPhys%.2fs vs $tDecl%.2fs")
    q.unpersist(blocking = false)
  }

  test("batch nq=5000: IVF probing all cells reproduces the exact result") {
    val (assigned, centroids) = VectorSearch.ivfBuild(spark, sf01)
    val nlist = centroids.count().toInt
    val q = VectorSearch.syntheticQueries(spark, bigNq).cache()
    q.count()
    val ivf = VectorSearch.ivfSearch(assigned, centroids, q, k = 5, nprobe = nlist)
      .collect().toSeq
    val base = Tables.embeddings(spark, sf01).select($"vec_id", $"embedding")
    val exact = VectorSearch.knnDeclarative(q, base, 5).collect().toSeq
    assert(ivf == exact, "full-probe IVF must degenerate to exact kNN")
    q.unpersist(blocking = false)
  }
}
