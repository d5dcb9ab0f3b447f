package graft

import org.apache.spark.sql.functions._

import graft.plans.DotProduct

/** Native dot_product expression: value parity with the HOF form it
  * replaced, null/length edges, and codegen participation. */
class DotProductSpec extends SparkSpec {

  private def hofDot(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("bit-identical to the aggregate/zip_with fold, incl. inexact doubles") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 100).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 3 - 1),
        Array.fill(64)(rnd.nextDouble() * 3 - 1))
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"), DotProduct.dot(col("a"), col("b")).as("nat"),
        hofDot(col("a"), col("b")).as("hof"))
    // exact bit equality — same left-to-right summation order
    assert(df.filter(col("nat") =!= col("hof")).count() == 0)
  }

  test("null input yields null; shorter array bounds the loop") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0, 9.0))),
      (2L, None, Some(Array(1.0)))
    ).toDF("id", "a", "b")
      .select(col("id"), DotProduct.dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getDouble(1)))).toMap
    assert(df(1L).contains(11.0))
    assert(df(2L).isEmpty)
  }

  test("a null ELEMENT nulls the product, like the HOF fold") {
    val r = spark.sql(
      """SELECT dot_product(array(1.0D, CAST(NULL AS DOUBLE)),
        |                   array(1.0D, 1.0D)) AS d""".stripMargin)
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    // spark.range keeps a physical scan (a local Seq would fold into a
    // LocalTableScan and erase the codegen evidence)
    val df = spark.range(10)
      .select(transform(sequence(lit(1), lit(8)),
        _ => col("id").cast("double")).as("v"))
      .select(DotProduct.dot(col("v"), col("v")).as("d"))
    val p = df.queryExecution.executedPlan.toString
    // the *(n) stage prefix is how the plan's toString marks
    // whole-stage-codegen membership of the operator
    assert(p.linesIterator.exists(l =>
      l.contains("dot_product") && l.trim.startsWith("*(")),
      s"dot_product not inside a codegen stage:\n$p")
    assert(df.agg(sum(col("d"))).collect()(0).getDouble(0) ==
      (0 until 10).map(i => 8.0 * i * i).sum)
  }
}
