package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Product-quantization plan-side expressions. The codebook (trained
  * driver-side on a bounded sample) rides into each expression as a
  * referenced flat array — the same object-reference mechanism as
  * [[BloomMightContain]] — so encoding and table building are single fused
  * loops inside whole-stage codegen instead of m·ksub interpreted
  * struct/sort/HOF expressions per row.
  */
abstract class PqCodebookExpression extends BinaryExpression {
  def cb: Array[Double]
  def m: Int
  def ksub: Int
  def sub: Int

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double> vec, double norm), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullable: Boolean = left.nullable || right.nullable

  protected def kernel: String

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
    defineCodeGen(ctx, ev, (v, n) =>
      s"graft.functions.NativeKernels.$kernel($v, $n, $cbRef, $m, $ksub, $sub)")
  }
}

/** `array<int>` of m codes: nearest codebook entry per subspace of v/n. */
case class PqEncode(left: Expression, right: Expression, cb: Array[Double],
    m: Int, ksub: Int, sub: Int) extends PqCodebookExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernel: String = "pqEncode"
  override protected def nullSafeEval(v: Any, n: Any): Any =
    NativeKernels.pqEncode(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Double], cb, m, ksub, sub)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqEncode = copy(left = l, right = r)
}

/** `array<double>` of m·ksub subspace dot products of v/n vs the codebook. */
case class PqLut(left: Expression, right: Expression, cb: Array[Double],
    m: Int, ksub: Int, sub: Int) extends PqCodebookExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def kernel: String = "pqLut"
  override protected def nullSafeEval(v: Any, n: Any): Any =
    NativeKernels.pqLut(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Double], cb, m, ksub, sub)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqLut = copy(left = l, right = r)
}

/** Column forms of [[PqEncode]] and [[PqLut]]. Each Column holds its
  * expression and with it the codebook array: no function is registered,
  * and a codebook rebuilt per batch is collectable once its Columns and
  * plans are.
  */
object PqExpressions {

  def pqEncode(vec: Column, norm: Column, cb: Array[Double], m: Int,
      ksub: Int, sub: Int): Column =
    column(PqEncode(expression(vec), expression(norm), cb, m, ksub, sub))

  def pqLut(vec: Column, norm: Column, cb: Array[Double], m: Int, ksub: Int,
      sub: Int): Column =
    column(PqLut(expression(vec), expression(norm), cb, m, ksub, sub))
}
