package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

import KernelOps.{Linear, Next, Previous, Value}

/** Pins KernelOps.densify — the one bucket-grid builder behind
  * GtsFrame.fill and the kernel-side FILLVALUE fusion — against a naive
  * grid-sided left join plus the window semantics of each fill rule:
  * every grid tick with its own points (a repeated tick keeps each),
  * off-grid points dropped, absent ticks taking the rule's value, and
  * ticks the carry rules cannot fill left without a point.
  */
class GridFillSpec extends AnyFunSuite {

  private def gf(lb: Long, span: Long, n: Int, v: Double) =
    KernelOps.GridFill(lb, span, n, Value(v))

  private def rule(lb: Long, span: Long, n: Int, r: KernelOps.FillRule) =
    KernelOps.GridFill(lb, span, n, r)

  /** Reference implementation: the grid left-joined with the points
    * (one null row per tick without any), then the rule as a window
    * over the rows — the nearest non-null row at or before (Previous)
    * or at or after (Next) each row — and the rows left null dropped. */
  private def naive(ticks: Array[Long], vals: Array[Double],
                    g: KernelOps.GridFill): (Array[Long], Array[Double]) = {
    val pts = ticks.zip(vals)
    val rows: IndexedSeq[(Long, Option[Double])] = (0 until g.count).flatMap { i =>
      val t = g.lastbucket - (g.count - 1 - i).toLong * g.span
      val at = pts.filter(_._1 == t).map(p => (t, Option(p._2)))
      if (at.isEmpty) Seq((t, None)) else at.toSeq
    }
    def knot(r: (Long, Option[Double])) = r._2.map(v => (r._1, v))
    def prev(k: Int) = rows.take(k + 1).reverse.flatMap(knot).headOption
    def next(k: Int) = rows.drop(k).flatMap(knot).headOption
    val out = rows.indices.flatMap { k =>
      val (t, v) = rows(k)
      v.orElse(g.rule match {
        case Value(c) => Some(c)
        case Previous => prev(k).map(_._2)
        case Next => next(k).map(_._2)
        case Linear =>
          for ((pt, pv) <- prev(k); (nt, nv) <- next(k))
            yield pv + (nv - pv) * (t - pt) / (nt - pt)
        case other => fail(s"no reference window for $other")
      }).map(t -> _)
    }
    (out.map(_._1).toArray, out.map(_._2).toArray)
  }

  private def bits(v: Array[Double]) =
    v.map(java.lang.Double.doubleToRawLongBits).toSeq

  private def check(ticks: Array[Long], vals: Array[Double],
                    g: KernelOps.GridFill): Unit = {
    val (dt, dv) = KernelOps.densify(ticks, vals, Some(g))
    val (nt, nv) = naive(ticks, vals, g)
    assert(dt.toSeq == nt.toSeq)
    assert(bits(dv) == bits(nv)) // bitwise: NaN and -0.0 compare too
  }

  /** `check` under every rule. */
  private def checkAll(ticks: Array[Long], vals: Array[Double], lb: Long,
                       span: Long, n: Int): Unit =
    Seq(Value(-1.5), Previous, Next, Linear).foreach(r =>
      check(ticks, vals, rule(lb, span, n, r)))

  test("None passes through untouched") {
    val t = Array(3L, 5L); val v = Array(1.0, 2.0)
    val (dt, dv) = KernelOps.densify(t, v, None)
    assert((dt eq t) && (dv eq v))
  }

  test("full grid from sparse points, fill at absent buckets") {
    // grid ticks 10,20,30,40,50 (lastbucket 50, span 10, count 5)
    check(Array(20L, 50L), Array(2.5, -1.0), gf(50, 10, 5, 0.0))
  }

  test("empty sparse series becomes an all-fill grid") {
    check(Array.empty[Long], Array.empty[Double], gf(50, 10, 5, 7.0))
  }

  test("dense sparse input is the identity (every bucket present)") {
    check(Array(10L, 20L, 30L), Array(1.0, 2.0, 3.0), gf(30, 10, 3, 0.0))
  }

  test("off-grid ticks are dropped, like the grid-sided left join") {
    // 15 and 55 are not grid ticks; 25 is
    check(Array(15L, 25L, 55L), Array(9.0, 2.0, 9.0), gf(45, 20, 3, 0.0))
  }

  test("NaN values survive as-is (fill only at ABSENT ticks)") {
    val g = gf(30, 10, 3, 0.5)
    val (_, dv) = KernelOps.densify(Array(20L), Array(Double.NaN), Some(g))
    assert(dv(0) == 0.5 && dv(1).isNaN && dv(2) == 0.5)
  }

  test("span 1 hourly-style grid with negative first tick") {
    check(Array(-2L, 0L, 3L), Array(1.0, 2.0, 3.0), gf(3, 1, 8, -4.25))
  }

  test("Previous, Next and Linear over a gappy grid") {
    // grid 10..60; knots 20 → 2.0, 50 → 8.0
    val (t, v) = (Array(20L, 50L), Array(2.0, 8.0))
    checkAll(t, v, 60, 10, 6)
    def run(r: KernelOps.FillRule) = {
      val (dt, dv) = KernelOps.densify(t, v, Some(rule(60, 10, 6, r)))
      dt.toSeq.zip(dv.toSeq)
    }
    assert(run(Previous) == Seq(20L -> 2.0, 30L -> 2.0, 40L -> 2.0, 50L -> 8.0, 60L -> 8.0))
    assert(run(Next) == Seq(10L -> 2.0, 20L -> 2.0, 30L -> 8.0, 40L -> 8.0, 50L -> 8.0))
    assert(run(Linear) == Seq(20L -> 2.0, 30L -> 4.0, 40L -> 6.0, 50L -> 8.0))
  }

  test("carry rules never carry off-grid points") {
    // grid 5, 25, 45: 15 and 55 are off-grid, 25 is the only knot
    val (t, v) = (Array(15L, 25L, 55L), Array(9.0, 2.0, 9.0))
    checkAll(t, v, 45, 20, 3)
    assert(KernelOps.densify(t, v, Some(rule(45, 20, 3, Previous)))._1.toSeq == Seq(25L, 45L))
    assert(KernelOps.densify(t, v, Some(rule(45, 20, 3, Next)))._1.toSeq == Seq(5L, 25L))
    assert(KernelOps.densify(t, v, Some(rule(45, 20, 3, Linear)))._1.toSeq == Seq(25L))
  }

  test("a NaN knot is carried as NaN") {
    checkAll(Array(10L, 20L), Array(Double.NaN, 4.0), 40, 10, 4)
    val (_, prev) = KernelOps.densify(Array(20L), Array(Double.NaN), Some(rule(40, 10, 4, Previous)))
    assert(prev.length == 3 && prev.forall(_.isNaN))
    val (_, lin) = KernelOps.densify(Array(10L, 30L), Array(1.0, Double.NaN),
      Some(rule(30, 10, 3, Linear)))
    assert(lin(0) == 1.0 && lin(1).isNaN && lin(2).isNaN)
  }

  test("a series with no on-grid knot: Value fills every tick, carries fill none") {
    checkAll(Array.empty[Long], Array.empty[Double], 50, 10, 5)
    checkAll(Array(7L), Array(3.0), 50, 10, 5)
    Seq(Previous, Next, Linear).foreach { r =>
      assert(KernelOps.densify(Array(7L), Array(3.0), Some(rule(50, 10, 5, r)))._1.isEmpty)
    }
  }

  test("a repeated tick keeps both values, like the left join") {
    // (ts, v)-sorted as the pack delivers them; grid 10..50
    val (t, v) = (Array(20L, 20L, 40L), Array(1.0, 2.0, 5.0))
    checkAll(t, v, 50, 10, 5)
    val (dt, dv) = KernelOps.densify(t, v, Some(gf(50, 10, 5, 0.0)))
    assert(dt.toSeq == Seq(10L, 20L, 20L, 30L, 40L, 50L))
    assert(dv.toSeq == Seq(0.0, 1.0, 2.0, 0.0, 5.0, 0.0))
    val (_, lin) = KernelOps.densify(t, v, Some(rule(50, 10, 5, Linear)))
    assert(lin.toSeq == Seq(1.0, 2.0, 3.5, 5.0))
  }

  test("Linear keeps the reference op order on uneven knots") {
    // (nv − pv)·(t − pt) first, then ÷ (nt − pt): 0.1 + (0.7 − 0.1)·1/3
    val (t, v) = (Array(0L, 3L, 7L), Array(0.1, 0.7, -2.3))
    checkAll(t, v, 7, 1, 8)
    val (_, lin) = KernelOps.densify(t, v, Some(rule(7, 1, 8, Linear)))
    assert(lin(1) == 0.1 + (0.7 - 0.1) * 1L / 3L)
  }
}
