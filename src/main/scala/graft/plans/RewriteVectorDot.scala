package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.functions.FloatVectorDot

/** Optimizer rule: recognize the built-in higher-order-function dot-product
  * idiom
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0.0, (acc, v) -> acc + v) }}}
  *
  * over `array<float>` columns and replace it with the codegen'd
  * [[FloatVectorDot]] expression (same accumulation order, same result,
  * ~20× faster inside joins — HOFs are interpreted and break whole-stage
  * codegen).
  *
  * The rewrite is exactly semantics-preserving for ALL `array<float>`
  * inputs, nullable elements and mismatched lengths included:
  * FloatVectorDot returns NULL on a length mismatch or null element,
  * mirroring how `zip_with`'s null padding poisons the HOF sum — so
  * arbitrary user queries using the portable idiom keep their NULLs.
  *
  * This is the engine's "write declarative code, let the optimizer pick the
  * fast kernel" story: user code (or SQL) can use the portable HOF form and
  * still get the native kernel. Inject with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`, or at runtime
  * via `spark.experimental.extraOptimizations`.
  */
object RewriteVectorDot extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def castOfVar(e: Expression): Option[NamedLambdaVariable] = e match {
    case Cast(v: NamedLambdaVariable, DoubleType, _, _) => Some(v)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(Multiply(x, y, _), mergeArgs, _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _), _, _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(finArg), _))
        if isFloatArray(a) && isFloatArray(b) &&
          // the multiply's operands must be exactly the lambda's two distinct
          // arguments (in order) — (x, y) -> double(x) * double(x) is a sum
          // of squares of a, NOT a·b, and must not match
          mergeArgs.size == 2 &&
          castOfVar(x).exists(_.exprId == mergeArgs.head.exprId) &&
          castOfVar(y).exists(_.exprId == mergeArgs(1).exprId) &&
          acc != v && fin.exprId == finArg.exprId =>
      FloatVectorDot(a, b)
  }
}

/** `spark.sql.extensions` entry point registering the graft optimizer
  * rule, planner strategy and SQL function. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteVectorDot)
    e.injectPlannerStrategy(_ => StableLiterals)
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("float_vector_dot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "float_vector_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"float_vector_dot expects 2 arguments, got ${exprs.length}")
        FloatVectorDot(exprs.head, exprs(1))
      }))
  }
}
