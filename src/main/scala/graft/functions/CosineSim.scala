package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types._

/** Fused cosine similarity over two `array<float|double>` columns as a
  * native Catalyst expression with whole-stage codegen.
  *
  * The built-in higher-order-function formulation
  * (`aggregate(zip_with(a,b,*), 0d, +)`) runs interpreted, materializes an
  * intermediate array per row and walks the vectors three times (dot, |a|,
  * |b|); [[graft.operators.Similarity.cosine]] composes three
  * [[VectorFold]] loops. This expression emits ONE branch-free loop with no
  * allocation, stays inside WholeStageCodegen, and is the hot-loop form a
  * 100 TB similarity scan wants. Interpreted eval is provided for
  * completeness (codegen is what runs in practice).
  *
  * Semantics: null if either array is null; null elements contribute 0;
  * vectors compared up to the shorter length; 0.0 when either norm is 0.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Literal-probe specialization: the ANN/top-k pattern is
    * `cosine_sim(embedding, lit(probe))` — the probe side is FOLDABLE, so
    * its values (nulls already zeroed) and its PREFIX norms accumulate
    * ONCE at plan time instead of once per row. The per-element work
    * drops from 3 mul-adds to 2 and the probe's null checks vanish from
    * the loop. Bit-identical to the generic path: the norm a row sees is
    * `pref(min(|row|, |probe|))` — the same truncated, index-ordered sum
    * the generic loop accumulates — and the final op sequence
    * `dot / (sqrt(nx) * sqrt(np))` is unchanged. `None` when the side is
    * non-foldable or folds to null (generic path / null result handle
    * those). */
  private def folded(e: Expression): Option[(Array[Double], Array[Double])] =
    if (!e.foldable) None
    else Option(e.eval(null)).map { v =>
      val ad = v.asInstanceOf[ArrayData]
      val f = elemIsFloat(e)
      val arr = Array.tabulate(ad.numElements()) { i =>
        if (ad.isNullAt(i)) 0.0 else if (f) ad.getFloat(i).toDouble else ad.getDouble(i)
      }
      // PREFIX norms, not one norm: the generic loop accumulates the probe
      // norm only up to min(row, probe) length, so a shorter row must see
      // the truncated norm — pref(n) is that sum in the same index order
      val pref = new Array[Double](arr.length + 1)
      var i = 0
      while (i < arr.length) { pref(i + 1) = pref(i) + arr(i) * arr(i); i += 1 }
      (arr, pref)
    }

  @transient private lazy val foldedRight = folded(right)
  @transient private lazy val foldedLeft =
    if (foldedRight.isEmpty) folded(left) else None

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    (foldedRight, foldedLeft) match {
      case (Some((p, pref)), _) => probedEval(x, elemIsFloat(left), p, pref)
      case (_, Some((p, pref))) => probedEval(y, elemIsFloat(right), p, pref)
      case _ =>
        val n = math.min(x.numElements(), y.numElements())
        val xf = elemIsFloat(left); val yf = elemIsFloat(right)
        var dot = 0.0; var nx = 0.0; var ny = 0.0
        var i = 0
        while (i < n) {
          val xv = if (x.isNullAt(i)) 0.0 else if (xf) x.getFloat(i).toDouble else x.getDouble(i)
          val yv = if (y.isNullAt(i)) 0.0 else if (yf) y.getFloat(i).toDouble else y.getDouble(i)
          dot += xv * yv; nx += xv * xv; ny += yv * yv
          i += 1
        }
        if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
  }

  /** Row side against the baked probe — dot and row norm only (the probe
    * norm reads from the prefix table at the truncated length). */
  private def probedEval(x: ArrayData, xf: Boolean,
                         p: Array[Double], pref: Array[Double]): Any = {
    val n = math.min(x.numElements(), p.length)
    var dot = 0.0; var nx = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      dot += xv * p(i); nx += xv * xv
      i += 1
    }
    val np = pref(n)
    if (nx == 0.0 || np == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(np))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val yGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    def probedGen(rowArr: String, rowGet: String,
                  p: Array[Double], pref: Array[Double]): String = {
      val pRef = ctx.addReferenceObj("cosineProbe", p, "double[]")
      val prefRef = ctx.addReferenceObj("cosineProbePref", pref, "double[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val np = ctx.freshName("np")
      val xv = ctx.freshName("xv")
      s"""
         |final int $n = java.lang.Math.min($rowArr.numElements(), ${p.length});
         |double $dot = 0.0; double $nx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = $rowArr.isNullAt($i) ? 0.0 : (double) $rowArr.$rowGet($i);
         |  $dot += $xv * $pRef[$i]; $nx += $xv * $xv;
         |}
         |final double $np = $prefRef[$n];
         |${ev.value} = ($nx == 0.0 || $np == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($np));
       """.stripMargin
    }
    nullSafeCodeGen(ctx, ev, (x, y) => (foldedRight, foldedLeft) match {
      case (Some((p, pref)), _) => probedGen(x, xGet, p, pref)
      case (_, Some((p, pref))) => probedGen(y, yGet, p, pref)
      case _ =>
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  final double $xv = $x.isNullAt($i) ? 0.0 : (double) $x.$xGet($i);
           |  final double $yv = $y.isNullAt($i) ? 0.0 : (double) $y.$yGet($i);
           |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
           |}
           |${ev.value} = ($nx == 0.0 || $ny == 0.0)
           |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-API entry point: `cosine_sim(a, b)`. */
  def cosine_sim(a: Column, b: Column): Column =
    CatalystBridge.column(
      CosineSim(CatalystBridge.expression(a), CatalystBridge.expression(b)))

  /** SQL-registry triple for [[GraftExtensions]] / manual registration. */
  val registryEntry: (String, ExpressionInfo, Seq[Expression] => Expression) = (
    "cosine_sim",
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1)))
}
