package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Scalar quantization of embedding columns — the Spark re-expression of
  * FAISS's `IndexScalarQuantizer(QT_8bit)` family (the storage-compression
  * knob a 100 TB vector corpus actually needs: int8 codes are 4× smaller
  * than float32, so 4× less scan I/O for the same candidate set).
  *
  * Symmetric 8-bit scheme for L2-normalized inputs (‖v‖₂ = 1 ⇒ every
  * component is in [−1, 1]): code[i] = clamp(round(127·v[i]), ±127),
  * reconstruction v̂[i] = code[i]/127. Scoring in code space is an INTEGER
  * dot product (codegen'd, `DotProductLong`) — exact, fold-order-free,
  * and bit-identical in any SQL engine, so the quantized search is fully
  * oracle-checkable (unlike float accumulation, which needs matched fold
  * order).
  */
object Quantize {

  /** ARRAY<FLOAT> → ARRAY<BIGINT> int8-range codes. */
  def quantize(v: Column): Column =
    transform(v, x =>
      least(lit(127L), greatest(lit(-127L), round(x.cast("double") * 127.0).cast("long"))))

  /** Integer dot product in code space (codegen kernel). */
  def codeDot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.dotL(a, b)

  /** Named query: quantize every embedding; emit code probes and the
    * reconstruction error ‖v − v̂‖₂ (bounded by √dim/254 for the symmetric
    * scheme — spec-asserted).
    */
  def quantizeQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), quantize(col("embedding")).as("code"))
    e.select(col("vec_id"),
        element_at(col("code"), 1).as("c0"),
        element_at(col("code"), 2).as("c1"),
        micro(sqrt(aggregate(
          zip_with(col("embedding"), col("code"),
            (x, c) => { val d = x.cast("double") - c.cast("double") / 127.0; d * d }),
          lit(0.0), (acc, x) => acc + x))).as("err_micro"))
      .orderBy(col("vec_id"))
  }

  /** Named query: exact top-k search in CODE space (both sides quantized,
    * integer scores). The similarity column is the raw integer code dot —
    * already exact, no fixed-point projection needed.
    */
  def knnQuantized(spark: SparkSession, dir: String, k: Int = 5, nq: Int = 5): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("code"))
    val q = base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("code").as("qcode"))
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("qsim", codeDot(col("qcode"), col("code")))
    VectorSearch.rankTopK(scored, k, "qsim", Seq(col("qid"), col("vec_id"), col("rank"), col("qsim")))
  }
}
