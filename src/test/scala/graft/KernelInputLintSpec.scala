package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.SourceScan.{hits, mainSources}

/** Source lint for the vector-kernel input contract: a Scala-side kernel
  * takes its vector as `Array[Float]`. Spark decodes an array column
  * handed to a typed `Seq[Float]`/`Seq[Double]` input into an
  * `immutable.List`, so every `v(i)` in the kernel's loop walks `i` cells
  * (and `v.length` all of them). The lint fails on such an input in a
  * `udf` closure parameter, an `Aggregator` input type or a typed `.as[…]`
  * column anywhere in `src/main`.
  */
class KernelInputLintSpec extends AnyFunSuite {

  private val boxed = """\bSeq\[\s*(?:Float|Double)\s*\]"""
  /** A `udf` (or `udf.register`) closure whose parameter list holds a boxed vector. */
  private val udfParam = ("""\budf(?:\s*[({]|\.register\([^,\n]*,)\s*\([^)]*""" + boxed).r
  private val aggregatorIn = ("""\bAggregator\[\s*""" + boxed).r
  private val typedAs = ("""\.as\[[^\]\n]*""" + boxed).r

  private def boxedInputs(src: String): Seq[Int] =
    Seq(udfParam, aggregatorIn, typedAs).flatMap(hits(src, _, Set.empty)).distinct.sorted

  test("lint: the scanner flags Seq[Float]/Seq[Double] kernel inputs in code only") {
    val src =
      """object A {
        |  val f = udf((emb: Seq[Float]) => emb(0))
        |  val g = udf { (id: Long, v: Seq[Double]) => v.sum }
        |  class M(dim: Int) extends Aggregator[Seq[Float], Buf, Seq[Double]] {
        |  val ds = df.select(col("qid").as[Long], col("embedding").as[Seq[Float]])
        |  val t = df.as[(Long, Seq[Double])]
        |  val ok = udf((emb: Array[Float]) => Seq(emb(0)))
        |  val out = udf((n: Int) => Seq.fill[Float](n)(0f))
        |  class N extends Aggregator[Array[Float], Buf, Seq[Double]]
        |  val m = r.getSeq[Float](0); val c = col("x").as("y")
        |  // udf((emb: Seq[Float]) => emb(0))
        |  val s = "col(\"e\").as[Seq[Float]]"
        |  spark.udf.register("norm", (v: Seq[Float]) => v.sum)
        |}""".stripMargin
    assert(boxedInputs(src) == Seq(2, 3, 4, 5, 6, 13))
  }

  test("lint: every Scala-side vector kernel in src/main takes Array[Float], not Seq[Float]/Seq[Double]") {
    val sources = mainSources()
    assert(sources.size > 50)
    val bad = sources.flatMap { case (f, src) => boxedInputs(src).map(l => s"$f:$l") }
    assert(bad.isEmpty, "vector kernel inputs typed Seq[Float]/Seq[Double] (decoded as a List; " +
      "declare Array[Float]):\n" + bad.mkString("\n"))
  }
}
