package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** The coarse-quantizer table of an IVF family operator: flattened nc×d
  * centroid matrix + per-centroid norms. Rides into [[CentroidScores]] as a
  * referenced object (the [[PqCodebookExpression]] / [[BloomMightContain]]
  * mechanism) so bucket scoring is ONE fused kernel call per row instead of
  * an nc-wide struct/sort expression forest — which at nc ≈ sqrt(n) compiled
  * into a single giant whole-stage method that janino choked on (measured:
  * the nc=45 codegen'd forest ran slower than nc=90 with codegen disabled).
  */
case class CentroidTable(cents: Array[Double], cnorms: Array[Double], d: Int)

/** `array<struct<sim: double, bucket: int>>` of centroid cosine scores,
  * sorted (sim desc, bucket desc) — element [0] is the home bucket, a
  * prefix slice is a probe set. Byte-equal to the sort_array(...) form it
  * replaces (see [[NativeKernels.centroidScores]]).
  */
case class CentroidScores(left: Expression, right: Expression,
    table: CentroidTable) extends BinaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("sim", DoubleType, nullable = true),
      StructField("bucket", IntegerType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"centroid_scores requires (array<double> vec, double norm), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(v: Any, n: Any): Any =
    NativeKernels.centroidScores(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Double], table.cents, table.cnorms, table.d)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", table.cents, "double[]")
    val normsRef = ctx.addReferenceObj("centroidNorms", table.cnorms,
      "double[]")
    defineCodeGen(ctx, ev, (v, n) =>
      s"graft.functions.NativeKernels.centroidScores($v, $n, $centsRef, " +
        s"$normsRef, ${table.d})")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CentroidScores = copy(left = l, right = r)
}

object CentroidExpressions {

  /** The scoring Column over `table`. The Column holds its expression and
    * with it `table`: no function is registered. Callers build the table
    * once per operator invocation and reuse the Column for corpus and
    * query sides.
    */
  def centroidScores(vec: Column, norm: Column, table: CentroidTable): Column =
    column(CentroidScores(expression(vec), expression(norm), table))
}
