package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** `round(x, 0)` over a double, half away from zero, with no `BigDecimal`.
  *
  * Spark's `Round` builds `BigDecimal.valueOf(x).setScale(0, HALF_UP)` per
  * row. This kernel is `a = |x|; f = floor(a); r = a - f >= 0.5 ? f + 1 : f`
  * with the sign put back, and is bit-identical to it:
  *  - `a - f` is exact (the bits of `a` below the binary point), and
  *    `Double.toString` never prints a double below k + 0.5 as k.5 or
  *    more, so both forms see the same side of every half;
  *  - |x| ≥ 2⁵² is already an integer (`a - f` is 0);
  *  - a zero result is +0.0, as `BigDecimal` zero has no sign (-0.3 and
  *    -0.0 both round to +0.0);
  *  - NaN and ±Inf pass through (`a - f` is NaN there, so `r` is `f`).
  * Reports `nullable = true` as `Round` does, so the rewrite keeps a
  * plan's schema. [[RoundHalfUpDouble.Rewrite]] puts it in place of every
  * `Round(double, 0)`. */
case class RoundHalfUpDouble(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"round_half_up expects a double, got ${child.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "round_half_up"

  override protected def nullSafeEval(input: Any): Any =
    RoundHalfUpDouble.compute(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.RoundHalfUpDouble.compute($x)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RoundHalfUpDouble {
  /** The kernel, shared by interpreted eval and generated code. */
  def compute(x: Double): Double = {
    val a = math.abs(x)
    val f = math.floor(a)
    val r = if (a - f >= 0.5) f + 1.0 else f
    if (r == 0.0) 0.0 else math.copySign(r, x)
  }

  /** Optimizer rule: `Round(child: double, 0)` becomes
    * `RoundHalfUpDouble(child)`, wherever it sits in the plan (lambda
    * bodies included). Other scales and types stay on Spark's `Round`. */
  object Rewrite extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
      case Round(c, Literal(0, IntegerType), _) if c.dataType == DoubleType =>
        RoundHalfUpDouble(c)
    }
  }
}
