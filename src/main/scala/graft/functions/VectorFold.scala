package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types._

/** Index-ordered double folds over two array<float|double> columns, as
  * one native Catalyst expression with whole-stage codegen:
  *  - `dot(a, b)`     = Σ a[i]·b[i]
  *  - `sq_dist(a, b)` = Σ (a[i] − b[i])²
  *
  * Bit-identical to `aggregate(zip_with(a, b, f), 0D, (acc, x) -> acc + x)`
  * with the elements cast to double: a left fold from 0.0 in index order,
  * NULL when either array is NULL, when any element is NULL or when the
  * lengths differ (`zip_with` pads the shorter side with NULLs); a NaN
  * result is NaN in both, with the sign bit Java leaves unspecified. The HOF
  * form runs interpreted (`ZipWith` and `ArrayAggregate` are
  * `CodegenFallback`) and allocates the zipped array per row; this is one
  * allocation-free loop inside the generated stage. */
case class VectorFold(left: Expression, right: Expression, op: VectorFold.Op)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (VectorFold.getter(left.dataType).isDefined && VectorFold.getter(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${op.name} expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = op.name

  override def flatArguments: Iterator[Any] = Iterator(left, right)

  private def containsNull(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  @transient private lazy val leftElement = VectorFold.element(left.dataType)
  @transient private lazy val rightElement = VectorFold.element(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += op(leftElement(x, i), rightElement(y, i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    def read(arr: String, side: Expression): String =
      s"(double) $arr.${VectorFold.getter(side.dataType).get}($i)"
    def nullAt(arr: String, side: Expression): Option[String] =
      if (containsNull(side)) Some(s"$arr.isNullAt($i)") else None
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nullTest = (nullAt(x, left) ++ nullAt(y, right)).mkString(" || ")
      val term = op.gen(ctx, acc, read(x, left), read(y, right))
      val body =
        if (nullTest.isEmpty) term
        else s"if ($nullTest) { ${ev.isNull} = true; break; }\n$term"
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $body
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFold {
  /** One fold's per-element term, interpreted and generated. */
  sealed abstract class Op(val name: String) extends Serializable {
    def apply(x: Double, y: Double): Double
    /** Java statements adding the term of `x` and `y` to `acc`. */
    def gen(ctx: CodegenContext, acc: String, x: String, y: String): String
  }
  case object Dot extends Op("dot") {
    def apply(x: Double, y: Double): Double = x * y
    def gen(ctx: CodegenContext, acc: String, x: String, y: String): String =
      s"$acc += $x * $y;"
  }
  case object SqDist extends Op("sq_dist") {
    def apply(x: Double, y: Double): Double = { val d = x - y; d * d }
    def gen(ctx: CodegenContext, acc: String, x: String, y: String): String = {
      val d = ctx.freshName("d")
      s"final double $d = $x - $y; $acc += $d * $d;"
    }
  }

  /** The `ArrayData` getter of an array<float|double>, or `None`. */
  private def getter(t: DataType): Option[String] = t match {
    case ArrayType(FloatType, _) => Some("getFloat")
    case ArrayType(DoubleType, _) => Some("getDouble")
    case _ => None
  }

  /** Element `i` of such an array, widened to double as `CAST(x AS DOUBLE)`. */
  private def element(t: DataType): (ArrayData, Int) => Double =
    if (getter(t).contains("getFloat")) (a, i) => a.getFloat(i).toDouble
    else (a, i) => a.getDouble(i)

  def dot(a: Column, b: Column): Column = fold(a, b, Dot)

  def sq_dist(a: Column, b: Column): Column = fold(a, b, SqDist)

  private def fold(a: Column, b: Column, op: Op): Column =
    CatalystBridge.column(
      VectorFold(CatalystBridge.expression(a), CatalystBridge.expression(b), op))
}
