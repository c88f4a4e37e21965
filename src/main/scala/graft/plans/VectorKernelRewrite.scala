package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import graft.expressions.{DotProductFloat, L2DistanceSqFloat}

/** Optimizer strength-reduction: rewrite the declarative higher-order-
  * function formulations of the vector kernels
  *
  *   aggregate(zip_with(cast(a), cast(b), (x,y) -> x*y), 0d, (acc,x) -> acc+x)
  *   aggregate(zip_with(cast(a), cast(b), (x,y) -> (x-y)*(x-y)), 0d, ...)
  *
  * into the codegen'd [[DotProductFloat]] / [[L2DistanceSqFloat]] kernels
  * whenever `a`,`b` are `ARRAY<FLOAT>` columns. The kernels compute the
  * identical left-to-right double fold (VectorExpressionsSpec asserts
  * bit-equality), so this is a pure physical strength reduction: a user
  * writing the idiomatic HOF form gets the tight-loop codegen for free.
  *
  * Registered through [[GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`).
  */
object VectorKernelRewrite extends Rule[LogicalPlan] {

  /** Matches transform(base, v -> cast(v as double)) over ARRAY<FLOAT>. */
  private object FloatToDoubleTransform {
    def unapply(e: Expression): Option[Expression] = e match {
      case ArrayTransform(base,
          LambdaFunction(Cast(v: NamedLambdaVariable, DoubleType, _, _), Seq(arg), _))
        if v.exprId == arg.asInstanceOf[NamedLambdaVariable].exprId &&
          (base.dataType match {
            case ArrayType(FloatType, _) => true
            case _ => false
          }) => Some(base)
      case _ => None
    }
  }

  /** Matches the left-fold sum lambda (acc, x) -> acc + x. */
  private def isFoldSum(zero: Expression, merge: Expression, finish: Expression): Boolean = {
    val zeroOk = zero match {
      case Literal(0.0, DoubleType) => true
      case _ => false
    }
    val mergeOk = merge match {
      case LambdaFunction(Add(acc: NamedLambdaVariable, x: NamedLambdaVariable, _), Seq(a1, a2), _) =>
        acc.exprId == a1.asInstanceOf[NamedLambdaVariable].exprId &&
          x.exprId == a2.asInstanceOf[NamedLambdaVariable].exprId
      case _ => false
    }
    val finishOk = finish match {
      case LambdaFunction(v: NamedLambdaVariable, Seq(a), _) =>
        v.exprId == a.asInstanceOf[NamedLambdaVariable].exprId
      case _ => false
    }
    zeroOk && mergeOk && finishOk
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // dot: zip_with multiply
    case ArrayAggregate(
        ZipWith(FloatToDoubleTransform(a), FloatToDoubleTransform(b),
          LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _), Seq(lx, ly), _)),
        zero, merge, finish)
      if x.exprId == lx.asInstanceOf[NamedLambdaVariable].exprId &&
        y.exprId == ly.asInstanceOf[NamedLambdaVariable].exprId &&
        isFoldSum(zero, merge, finish) =>
      DotProductFloat(a, b)

    // l2²: zip_with squared difference
    case ArrayAggregate(
        ZipWith(FloatToDoubleTransform(a), FloatToDoubleTransform(b),
          LambdaFunction(Multiply(
            Subtract(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _),
            Subtract(x2: NamedLambdaVariable, y2: NamedLambdaVariable, _), _), Seq(lx, ly), _)),
        zero, merge, finish)
      if x1.exprId == lx.asInstanceOf[NamedLambdaVariable].exprId &&
        y1.exprId == ly.asInstanceOf[NamedLambdaVariable].exprId &&
        x1.exprId == x2.exprId && y1.exprId == y2.exprId &&
        isFoldSum(zero, merge, finish) =>
      L2DistanceSqFloat(a, b)
  }
}

/** Session-extension entry point: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (also wired programmatically in graft's own session builders).
  *
  * Besides the optimizer rules and the kNN and top-k strategies, this registers the
  * codegen vector kernels as SQL FUNCTIONS — a SQL user's first touch of
  * a vector engine is `SELECT dot(a, b)`, and without `injectFunction`
  * the kernels would be Scala-API only (the reference exposes the same
  * surface through `index.search`'s IP/L2/COSINE metric names,
  * `FAISS/PlainDemo/pipeline.py:237-240`). Each builder returns the SAME
  * Catalyst expression the DataFrame helpers construct, so the SQL path
  * plans to the identical whole-stage-codegen loop — never a UDF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import graft.expressions.{DotProductLong, L2NormalizeFloat, Norm2Float}

  private def fn(name: String, arity: Int, usage: String)(
      builder: Seq[Expression] => Expression):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo("graft.expressions.VectorExpressions", name),
      (args: Seq[Expression]) => {
        if (args.length != arity)
          throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${args.length}")
        builder(args)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => VectorKernelRewrite)
    ext.injectOptimizerRule(_ => AnnProbeRewrite)
    ext.injectOptimizerRule(_ => HiddenPartitionRewrite)
    ext.injectPlannerStrategy(_ => KnnJoinStrategy)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectFunction(fn("dot", 2,
      "dot(a, b) - ⟨a,b⟩ over ARRAY<FLOAT> in double precision") {
      a => DotProductFloat(a(0), a(1)) })
    ext.injectFunction(fn("dot_long", 2,
      "dot_long(a, b) - exact ⟨a,b⟩ over ARRAY<BIGINT>") {
      a => DotProductLong(a(0), a(1)) })
    ext.injectFunction(fn("l2_distance_sq", 2,
      "l2_distance_sq(a, b) - ‖a−b‖₂² over ARRAY<FLOAT>") {
      a => L2DistanceSqFloat(a(0), a(1)) })
    ext.injectFunction(fn("l2_distance", 2,
      "l2_distance(a, b) - ‖a−b‖₂ over ARRAY<FLOAT>") {
      a => Sqrt(L2DistanceSqFloat(a(0), a(1))) })
    ext.injectFunction(fn("norm2", 1,
      "norm2(a) - Euclidean norm ‖a‖₂ of an ARRAY<FLOAT>") {
      a => Norm2Float(a(0)) })
    ext.injectFunction(fn("l2_normalize", 1,
      "l2_normalize(a) - a / ‖a‖₂ (zero vector unchanged) over ARRAY<FLOAT>") {
      a => L2NormalizeFloat(a(0)) })
    ext.injectFunction(fn("cosine_sim", 2,
      "cosine_sim(a, b) - cosine similarity of ARRAY<FLOAT> vectors") {
      a => Divide(DotProductFloat(a(0), a(1)),
        Multiply(Norm2Float(a(0)), Norm2Float(a(1)))) })
    ext.injectFunction(fn("hamming64", 2,
      "hamming64(a, b) - Hamming distance of two 64-bit packed sign codes " +
        "(BIGINT), the knn_binary candidate metric: bit_count(a XOR b)") {
      a => BitwiseCount(BitwiseXor(a(0), a(1))) })
  }
}
