package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst form of the Go-%q projection (reference main.go:113):
  * a codegen'd unary expression over the [[GoQuote.quoteUtf8]] byte
  * kernel, inlined into whole-stage codegen — no UDF closure dispatch, no
  * encoder round-trip, and the kernel's UTF-8 bytes become the
  * `UTF8String` as they are, with no String decode and re-encode.
  */
case class GoQuoteExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"go_quote requires BINARY input, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "go_quote"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromBytes(GoQuote.quoteUtf8(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromBytes(graft.functions.GoQuote.quoteUtf8($c))")

  override protected def withNewChildInternal(newChild: Expression): GoQuoteExpr =
    copy(child = newChild)
}

object GoQuoteExpr {
  /** Column form backed by the native expression. */
  def native(c: Column): Column =
    ColumnBridge.column(GoQuoteExpr(ColumnBridge.expression(c)))
}
