package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule rewriting the declarative higher-order-function cosine
  *
  *   aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)
  *     / sqrt( <same over (a,a)> * <same over (b,b)> )
  *
  * into the fused codegen'd [[CosineSimilarity]] — users (and
  * [[graft.ext.Similarity.cosine]]) write the portable built-in form and
  * the engine silently upgrades it to the native loop. Legal because the
  * native expression reproduces the HOF semantics exactly: same sequential
  * summation order, null array / length mismatch / null element → null.
  *
  * Inject with `spark.experimental.extraOptimizations` or via
  * [[GraftExtensions]] (`spark.sql.extensions`).
  */
object CosineRewrite extends Rule[LogicalPlan] {

  /** Matches aggregate(zip_with(x, y, *), 0.0, +) → (x, y). */
  private object HofDot {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
          ZipWith(x, y,
            LambdaFunction(Multiply(xv: NamedLambdaVariable, yv: NamedLambdaVariable, _),
              Seq(xa: NamedLambdaVariable, ya: NamedLambdaVariable), _)),
          Literal(0.0, DoubleType),
          LambdaFunction(Add(acc: NamedLambdaVariable, el: NamedLambdaVariable, _),
            Seq(acca: NamedLambdaVariable, ela: NamedLambdaVariable), _),
          finish)
          if xv.exprId == xa.exprId && yv.exprId == ya.exprId
            && acc.exprId == acca.exprId && el.exprId == ela.exprId
            && isIdentityFinish(finish) =>
        Some((x, y))
      case _ => None
    }

    private def isIdentityFinish(f: Expression): Boolean = f match {
      case LambdaFunction(body: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
        body.exprId == arg.exprId
      case _ => false
    }
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  // graft.Session installs this rule for every query: skip plans with
  // no higher-order function without walking their expressions
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(
        _.containsPattern(TreePattern.HIGH_ORDER_FUNCTION)) {
      case Divide(
          HofDot(a, b),
          Sqrt(Multiply(HofDot(a2, a3), HofDot(b2, b3), _)), _)
          if a.semanticEquals(a2) && a.semanticEquals(a3)
            && b.semanticEquals(b2) && b.semanticEquals(b3)
            && isDoubleArray(a) && isDoubleArray(b) =>
        CosineSimilarity(a, b)
    }
}
