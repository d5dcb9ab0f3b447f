package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression for the end-anchored bucket tick
  * (reference semantics GTSHelper.java:2261: bucket k covers
  * (lastbucket−(k+1)·span, lastbucket−k·span], identity tick = bucket
  * END):
  *
  * {{{ bucket_end(ts, lastbucket, span) = lastbucket − floorDiv(lastbucket − ts, span)·span }}}
  *
  * `Math.floorDiv` on longs is exact at any tick magnitude (no
  * double-rounding) and the expression participates in whole-stage
  * codegen — the §4.2 "custom Expression only where built-ins can't
  * express it" case: Spark's `window()` is start-anchored left-closed
  * and cannot produce these buckets.
  */
case class BucketEnd(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "bucket_end"

  override protected def nullSafeEval(ts: Any, lastbucket: Any, span: Any): Any = {
    val lb = lastbucket.asInstanceOf[Long]
    val sp = span.asInstanceOf[Long]
    lb - Math.floorDiv(lb - ts.asInstanceOf[Long], sp) * sp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (ts, lb, sp) =>
      s"(long)($lb - java.lang.Math.floorDiv($lb - $ts, $sp) * $sp)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BucketEnd =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BucketEnd {

  /** Column-API form of `bucket_end(ts, lastbucket, span)`. */
  def bucketEnd(spark: SparkSession, ts: Column, lastbucket: Column, span: Column): Column =
    NativeFunctions.call(spark, "bucket_end", ts, lastbucket, span)
}
