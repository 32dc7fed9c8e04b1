package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShim.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Scan-side membership probe against a pre-built Bloom filter — the sketch
  * form of a broadcast-semi-join prefilter.
  *
  * The filter rides along as a referenced object: the driver builds it once
  * (`df.stat.bloomFilter`, a distributed treeAggregate), the expression
  * serializes it to each executor with the plan, and codegen probes it with
  * one `mightContainLong` call per row — no UDF dispatch, no shuffle, and
  * the whole-stage span stays intact. At ~10 bits/item the filter for 100 M
  * reference keys is ~120 MB where the exact broadcast set would be GBs.
  *
  * One-sided error: `mightContainLong` has no false negatives, so a bloom
  * prefilter never drops a true match; false positives (rate `fpp`) either
  * pass to an exact verify stage or are accepted as over-flagging.
  */
case class BloomMightContain(child: Expression, bf: BloomFilter)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires bigint, got ${other.catalogString}")
  }
  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    bf.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfRef = ctx.addReferenceObj("bloom", bf,
      classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$bfRef.mightContainLong($c)")
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

object BloomExpressions {

  /** Column form: TRUE when `c` (bigint) might be in `bf`; never a false
    * negative. The Column holds the expression and with it `bf` itself: no
    * function is registered, and the Column evaluates in any session.
    */
  def bloomMightContain(c: Column, bf: BloomFilter): Column =
    column(BloomMightContain(expression(c), bf))
}
