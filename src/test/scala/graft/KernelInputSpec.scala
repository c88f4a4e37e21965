package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{VecSumBuf, VectorSearch}
import graft.operators.VectorSearch.MmrPick
import graft.sources.{IvfProbe, PqStore}

/** The vector kernels take `Array[Float]` (`KernelInputLintSpec`); their
  * former `Seq[Float]` forms are kept in [[KernelInputSpec$]] as the
  * reference. The arithmetic is unchanged, so every cell, centroid, code,
  * residual, error and pick must be bit-identical to it.
  */
class KernelInputSpec extends SparkSpec {
  import spark.implicits._
  import KernelInputSpec._

  private lazy val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding", $"label")
  private lazy val nlist = math.max(1, math.min(100, math.sqrt(emb.count().toDouble).toInt))

  test("assignCells equals the Seq[Float] reference on every sf0.001 embedding, duplicated centroids included") {
    val fitted = VectorSearch.kmeansFit(emb, nlist)
    // every centroid twice: cell c + nlist repeats cell c, so every row
    // ties and must keep the lower cell id
    val dup = fitted.union(fitted.select(($"cell_id" + nlist).as("cell_id"), $"centroid"))
    val cells = Seq(fitted, dup).map { f =>
      val cents = IvfProbe.collect(f)
      val got = VectorSearch.assignCells(emb, cents)
        .select($"vec_id".as[Long], $"cell_id".as[Int]).collect().sorted.toSeq
      val ref = emb.select($"vec_id".as[Long], refNearestCell(cents.raw)($"embedding").as[Int])
        .collect().sorted.toSeq
      assert(got.size == emb.count())
      assert(got == ref, "assignCells differs from the Seq[Float] reference")
      got
    }
    assert(cells(1) == cells(0), "a duplicated centroid must lose its ties to the lower cell id")
  }

  test("kmeansFit centroids equal the Seq[Float] reference's") {
    val got = VectorSearch.kmeansFit(emb, nlist).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    val ref = refKmeans(emb, nlist).zipWithIndex.map { case (c, i) => i -> c.toSeq }.toSeq
    assert(got == ref, "k-means centroids differ from the Seq[Float] reference")
  }

  test("PQ rotated residuals, codes and quantError equal the Seq[Float] reference") {
    val p = PqStore.defaultPath(sfDir)
    PqStore.ensure(spark, sfDir, p)
    val books = spark.read.parquet(s"$p/codebooks")
    val coarse = spark.read.parquet(s"$p/coarse")
    val rotation = spark.read.parquet(s"$p/rotation")
    val r = rotation.orderBy($"i").collect().map(_.getSeq[Double](1).toArray)
    val bookArr = books.orderBy($"sub", $"code").collect()
      .map(x => (x.getInt(0), x.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1).map(_._2.map(_._2))

    val res = PqStore.residualized(emb, coarse)
    val rot = PqStore.rotateResiduals(res, r)
    val refRot = res.select($"vec_id", $"cell_id", refRotate(r)($"residual").as("residual"))
    def residuals(df: DataFrame) = df
      .select($"vec_id".as[Long], $"cell_id".as[Int], $"residual".as[Seq[Float]])
      .collect().sortBy(_._1).toSeq
    assert(residuals(rot) == residuals(refRot), "rotated residuals differ from the reference")

    def codes(df: DataFrame) = df
      .select($"vec_id".as[Long], $"cell_id".as[Int], $"sub".as[Int], $"code".as[Int])
      .collect().sorted.toSeq
    val refCodes = refRot.select($"vec_id", $"cell_id",
      posexplode(refEncode(bookArr)($"residual")).as(Seq("sub", "code")))
    val got = codes(PqStore.encode(emb, books, coarse, rotation))
    assert(got.size == emb.count() * PqStore.M)
    assert(got == codes(refCodes), "PQ codes differ from the reference")

    val refErr = refRot.agg(avg(refQuantError(bookArr)($"residual"))).head().getDouble(0)
    assert(PqStore.quantError(rot, books) == refErr, "quantError differs from the reference")
  }

  test("mmrRerank picks equal the Seq[Float] reference's") {
    val got = VectorSearch.mmrRerank(spark, sfDir).collect().sortBy(p => (p.qid, p.rank)).toSeq
    val ref = refMmr(spark, sfDir).collect().sortBy(p => (p.qid, p.rank)).toSeq
    assert(got.nonEmpty)
    assert(got == ref, "MMR picks differ from the reference")
  }
}

/** The kernels as they were written over `Seq[Float]` inputs. */
object KernelInputSpec {

  def refNearestCell(cs: Array[Array[Double]]) = udf((emb: Seq[Float]) => {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val cent = cs(c)
      var d = 0.0; var i = 0
      while (i < cent.length) { val t = emb(i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  })

  class RefVecMeanAgg(dim: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Seq[Float], VecSumBuf, Seq[Double]] {
    def zero: VecSumBuf = VecSumBuf(new Array[Double](dim), 0L)
    def reduce(b: VecSumBuf, a: Seq[Float]): VecSumBuf = {
      var i = 0; while (i < dim) { b.sum(i) += a(i); i += 1 }
      VecSumBuf(b.sum, b.n + 1)
    }
    def merge(x: VecSumBuf, y: VecSumBuf): VecSumBuf = {
      var i = 0; while (i < dim) { x.sum(i) += y.sum(i); i += 1 }
      VecSumBuf(x.sum, x.n + y.n)
    }
    def finish(b: VecSumBuf): Seq[Double] =
      if (b.n == 0) Nil else b.sum.map(_ / b.n).toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[VecSumBuf] =
      org.apache.spark.sql.Encoders.product[VecSumBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** `VectorSearch.kmeansFit` below its train-sample bound. */
  def refKmeans(vectors: DataFrame, nlist: Int, iters: Int = 3): Array[Array[Double]] = {
    val train = vectors.select(col("vec_id"), col("embedding")).coalesce(8).cache()
    var cents = train.orderBy(col("vec_id")).limit(nlist)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val meanAgg = udaf(new RefVecMeanAgg(cents.head.length))
    for (_ <- 0 until iters) {
      val updated = train
        .groupBy(refNearestCell(cents)(col("embedding")).as("cell_id"))
        .agg(meanAgg(col("embedding")).as("centroid"))
        .collect()
      val next = cents.map(_.clone())
      updated.foreach { r =>
        val m = r.getSeq[Double](1)
        if (m.nonEmpty) next(r.getInt(0)) = m.toArray
      }
      cents = next
    }
    train.unpersist(blocking = false)
    cents
  }

  def refRotate(m: Array[Array[Double]]) = udf((res: Seq[Float]) => {
    val n = m.length
    Array.tabulate(n) { i =>
      val row = m(i)
      var acc = 0.0; var j = 0
      while (j < n) { acc += res(j).toDouble * row(j); j += 1 }
      acc.toFloat
    }.toSeq
  })

  def refEncode(bs: Array[Array[Array[Double]]]) = udf((res: Seq[Float]) => {
    Array.tabulate(bs.length) { s =>
      val cents = bs(s)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var dist = 0.0; var i = 0
        while (i < cent.length) {
          val t = res(s * cent.length + i) - cent(i); dist += t * t; i += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      best
    }.toSeq
  })

  def refQuantError(bs: Array[Array[Array[Double]]]) = udf((res: Seq[Float]) => {
    var total = 0.0
    var s = 0
    while (s < bs.length) {
      val cents = bs(s)
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var dist = 0.0; var i = 0
        while (i < cent.length) {
          val t = res(s * cent.length + i) - cent(i); dist += t * t; i += 1
        }
        if (dist < bestD) bestD = dist
        c += 1
      }
      total += bestD
      s += 1
    }
    total
  })

  /** `VectorSearch.mmrRerank` at its defaults over a `Seq[Float]` pool. */
  def refMmr(spark: SparkSession, dir: String, k: Int = 5, poolSize: Int = 30,
             lambdaRel: Double = 0.7, nq: Int = 5): Dataset[MmrPick] = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val pool = VectorSearch.knnDeclarative(VectorSearch.querySet(spark, dir, nq), base, poolSize)
      .select(col("qid"), col("vec_id"))
      .join(base, "vec_id")
      .join(broadcast(VectorSearch.querySet(spark, dir, nq)), "qid")
      .select(col("qid").as[Long], col("vec_id").as[Long],
        col("embedding").as[Seq[Float]], col("qvec").as[Seq[Float]])
    pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cand = it.toArray
      def dot(a: Seq[Float], b: Seq[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      val rel = cand.map(c => dot(c._3, c._4))
      val picked = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      while (out.length < math.min(k, cand.length)) {
        var bestIdx = -1; var bestScore = Double.MinValue
        var i = 0
        while (i < cand.length) {
          if (!picked.contains(i)) {
            val redundancy =
              if (picked.isEmpty) 0.0
              else picked.map(j => dot(cand(i)._3, cand(j)._3)).max
            val score = lambdaRel * rel(i) - (1.0 - lambdaRel) * redundancy
            if (score > bestScore ||
              (score == bestScore && bestIdx >= 0 && cand(i)._2 < cand(bestIdx)._2)) {
              bestIdx = i; bestScore = score
            }
          }
          i += 1
        }
        picked += bestIdx
        out += MmrPick(qid, cand(bestIdx)._2, out.length + 1,
          math.floor(bestScore * 1000000.0).toLong)
      }
      out.iterator
    }
  }
}
