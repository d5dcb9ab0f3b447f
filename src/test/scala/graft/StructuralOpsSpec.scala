package graft

import org.apache.spark.sql.functions._
import graft.operators.GtsFrame
import graft.operators.GtsFrame._

class StructuralOpsSpec extends SparkSpec {

  test("dedup removes duplicate TICKS, canonical-max pick (GTSHelper.java:7198)") {
    // same-value duplicates collapse; distinct ticks pass through
    val g = GtsFrame(gtsOf(
      ("m", "u", 1L, 5.0), ("m", "u", 1L, 5.0), ("m", "u", 2L, 5.0),
      ("m", "u", 3L, 6.0), ("m", "u", 3L, 9.0), ("m", "u", 4L, 5.0)))
    assert(tsv(g.dedup().df) ===
      Seq((1L, 5.0), (2L, 5.0), (3L, 9.0), (4L, 5.0)))
  }

  test("compact keeps run edges (fn/COMPACT.java)") {
    val g = GtsFrame(gtsOf(
      ("m", "u", 1L, 5.0), ("m", "u", 2L, 5.0), ("m", "u", 3L, 5.0),
      ("m", "u", 4L, 6.0), ("m", "u", 5L, 5.0)))
    assert(tsv(g.compact().df) ===
      Seq((1L, 5.0), (3L, 5.0), (4L, 6.0), (5L, 5.0)))
  }

  test("timesplit sessionizes on quiet gaps (fn/TIMESPLIT.java)") {
    val g = GtsFrame(gtsOf(
      ("m", "u", 1L, 1.0), ("m", "u", 2L, 1.0),
      ("m", "u", 100L, 1.0), ("m", "u", 101L, 1.0)))
    val out = g.timesplit(10L).select(col("ts"), col("sessionid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(out === Seq((1L, 1L), (2L, 1L), (100L, 2L), (101L, 2L)))
  }

  test("applyOp full-outer aligns ticks (GTSHelper.java:7846)") {
    val a = GtsFrame(gtsOf(("x", "u", 1L, 1.0), ("x", "u", 2L, 2.0)))
    val b = GtsFrame(gtsOf(("y", "u", 2L, 10.0), ("y", "u", 3L, 20.0)))
    val out = a.applyOp(b, (l, r) => l + r, Seq("user"))
      .select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1).toSeq
    assert(out === Seq((1L, None), (2L, Some(12.0)), (3L, None)))
  }

  test("ieeeDiv keeps Java division semantics under ANSI (op/OpDiv)") {
    val a = GtsFrame(gtsOf(("x", "u", 1L, 5.0), ("x", "u", 2L, -5.0),
      ("x", "u", 3L, 0.0), ("x", "u", 4L, 8.0), ("x", "u", 5L, 6.0)))
    val b = GtsFrame(gtsOf(("y", "u", 1L, 0.0), ("y", "u", 2L, 0.0),
      ("y", "u", 3L, 0.0), ("y", "u", 4L, 2.0)))
    val out = a.applyOp(b, GtsFrame.ieeeDiv(_, _), Seq("user"))
      .select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1).toSeq
    assert(out(0) === (1L, Some(Double.PositiveInfinity))) // 5/0
    assert(out(1) === (2L, Some(Double.NegativeInfinity))) // -5/0
    assert(out(2)._2.exists(_.isNaN)) // 0/0
    assert(out(3) === (4L, Some(4.0))) // plain division
    assert(out(4) === (5L, None)) // absent operand stays null
  }

  test("reduce aligns on tick across series (GTSHelper.java:8147)") {
    val g = GtsFrame(gtsOf(
      ("a", "u", 1L, 1.0), ("a", "u", 2L, 2.0),
      ("b", "u", 1L, 10.0), ("b", "u", 3L, 30.0)))
    val out = g.reduce(Sum, Seq("user"))
      .select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(out === Seq((1L, 11.0), (2L, 2.0), (3L, 30.0)))
  }

  test("fillPrevious carries last value over empty buckets (GTSHelper.java:4893)") {
    val g = GtsFrame(gtsOf(("m", "u", 10L, 1.0), ("m", "u", 30L, 3.0)))
    val out = g.fill(40L, 10L, 4, graft.kernels.KernelOps.Previous).df
      .select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .sortBy(_._1).toSeq
    assert(out === Seq((10L, Some(1.0)), (20L, Some(1.0)),
      (30L, Some(3.0)), (40L, Some(3.0))))
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle or is declared rows-only") {
    val rowsOnly = Set("h01_approx_distinct") // sketch values are engine-specific
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"undeclared rows-only queries: $missing")
  }
}
