package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `collapse_ws(s)`: every run of Java `\s` (`[ \t\n\x0B\f\r]`) becomes
  * one space and a leading or trailing run is dropped, in one pass over
  * the UTF-8 bytes. Equals `trim(regexp_replace(s, "\\s+", " "))` on valid
  * UTF-8 (Spark's `trim` strips only the space the regex left): the six
  * `\s` bytes never occur inside a multi-byte sequence, and NBSP and the
  * other non-ASCII spaces stay, as the regex (no UNICODE_CHARACTER_CLASS)
  * leaves them. The regex form decodes, matches and re-encodes every row;
  * a string that needs no change is returned as it is. */
case class CollapseWs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"collapse_ws expects a string, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def prettyName: String = "collapse_ws"

  override protected def nullSafeEval(input: Any): Any =
    CollapseWs.collapse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CollapseWs.collapse($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CollapseWs {
  def collapse_ws(c: Column): Column =
    CatalystBridge.column(CollapseWs(CatalystBridge.expression(c)))

  private def isWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** The kernel, shared by interpreted eval and generated code. */
  def collapse(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    // already collapsed: no edge whitespace, every whitespace byte a lone space
    var clean = n == 0 || (!isWs(s.getByte(0)) && !isWs(s.getByte(n - 1)))
    var i = 0
    while (clean && i < n) {
      val b = s.getByte(i)
      if (isWs(b) && (b != ' ' || isWs(s.getByte(i + 1)))) clean = false
      i += 1
    }
    if (clean) return s
    val out = new Array[Byte](n)
    var o = 0
    var gap = false
    i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (isWs(b)) gap = o > 0
      else {
        if (gap) { out(o) = ' '; o += 1; gap = false }
        out(o) = b; o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }
}
