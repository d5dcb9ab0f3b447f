package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd dot product of two `array<double>` columns —
  * value-identical to the repo's original HOF form
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` (same left-to-right
  * index-order summation, so bit-identical even on inexact doubles;
  * every ANN path additionally feeds it exact scaled integers).
  *
  * §4.2 escalation rationale: the HOF composition allocates a zipped
  * intermediate array and walks three lambda closures PER ROW; on the
  * ANN hot paths (IVF assign is |corpus|·K rows, SemDeDup pair joins,
  * PQ ADC) the dot is evaluated hundreds of millions of times and the
  * closure machinery dominates the profile. This expression is a tight
  * primitive loop over the two ArrayData buffers inside whole-stage
  * codegen. Mismatched lengths stop at the shorter array, matching
  * zip_with-null semantics never exercised here (all callers zip
  * equal-length vectors); null input → null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  // a null ELEMENT nulls the result even when both array children are
  // non-nullable — without this override nullSafeCodeGen hands the
  // loop a false-literal isNull slot and the generated code can't
  // compile (then silently mis-evaluates through the fallback)
  override def nullable: Boolean = true

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT nulls the whole product, matching the HOF
      // form's null propagation (null * x → null through the fold)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    ${ev.isNull} = true; break;
         |  }
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** Column form of `dot_product(a, b)` (in the active session). */
  def dot(a: Column, b: Column): Column =
    NativeFunctions.call(SparkSession.active, "dot_product", a, b)
}
