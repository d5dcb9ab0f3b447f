package graft

import org.apache.spark.sql.functions._

import graft.kernels.KernelOps
import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** Round-7 registry-tail kernels: lowess/rlowess fillers vs the
  * commons-math library driven directly on the driver, circular mean,
  * windowed dot products, argmax reducer and the FilterAny point
  * predicates (reference classes cited per test).
  */
class RegistryTailSpec extends SparkSpec {

  private def lowessFixture = gtsOf(
    Seq(0L -> 10.0, 2L -> 14.0, 3L -> 11.0, 5L -> 20.0, 8L -> 13.0,
      9L -> 17.0, 11L -> 25.0, 14L -> 19.0)
      .map { case (t, v) => ("m", "u", t, v) }: _*)

  test("fillLowessGrid matches LoessInterpolator.interpolate exactly " +
    "(FillerLowess.java:50-85)") {
    for (rob <- Seq(0, 2)) {
      val filled = GtsFrame(lowessFixture)
        .fill(14L, 1L, 15L, KernelOps.Lowess(bandwidth = 40, robustness = rob, accuracy = 1e-12))
        .df.filter(col("vdouble").isNotNull)
      val got = filled.select(col("ts"), col("vdouble")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val t = Array(0.0, 2, 3, 5, 8, 9, 11, 14)
      val v = Array(10.0, 14, 11, 20, 13, 17, 25, 19)
      val br = math.min(1.0, 40.0 / t.length + 1e-12)
      val fn = new org.apache.commons.math3.analysis.interpolation
        .LoessInterpolator(br, rob, 1e-12).interpolate(t, v)
      (0L to 14L).foreach { x =>
        if (t.contains(x.toDouble))
          assert(got(x) == v(t.indexOf(x.toDouble)), s"knot $x rob=$rob")
        else if (x > 0 && x < 14)
          assert(got(x) == fn.value(x.toDouble), s"fill $x rob=$rob")
        else assert(!got.contains(x), s"outside range $x")
      }
    }
  }

  test("lowess filler and the LOWESS word agree on a linear ground truth " +
    "(the two faces pin the same answer — the LOG lesson)") {
    // collinear points: local weighted regression reproduces the line
    // on BOTH faces. The filler gets a gappy grid (so there is
    // something to fill); the word gets the dense line (its regression
    // runs in row-offset space, exact on a line only without gaps —
    // StatOps.lowessFit scaladoc).
    val gappy = gtsOf((0L to 14L).filter(t => t % 3 != 1)
      .map(t => ("m", "u", t, 3.0 + 2.0 * t)): _*)
    val filled = GtsFrame(gappy)
      .fill(14L, 1L, 15L, KernelOps.Lowess(bandwidth = 40, robustness = 0, accuracy = 1e-12))
      .df.filter(col("vdouble").isNotNull)
    filled.collect().foreach { r =>
      val t = r.getAs[Long]("ts"); val v = r.getAs[Double]("vdouble")
      assert(math.abs(v - (3.0 + 2.0 * t)) < 1e-9, s"filler at $t")
    }
    val dense = gtsOf((0L to 14L).map(t => ("m", "u", t, 3.0 + 2.0 * t)): _*)
    val word = graft.operators.StatOps.lowessFit(GtsFrame(dense), halfWidth = 3)
    word.select(col("ts"), col("vdouble")).collect().foreach { r =>
      val t = r.getLong(0)
      assert(math.abs(r.getDouble(1) - (3.0 + 2.0 * t)) < 1e-9, s"word at $t")
    }
  }

  test("CircularMeanAgg wraps across the period boundary " +
    "(CircularMean.java:100-175)") {
    // angles 350° and 10° with period 360: circular mean 0, not 180
    val f = GtsFrame(gtsOf(("m", "u", 1L, 350.0), ("m", "u", 2L, 10.0)))
    val got = f.toDF.groupBy(col("gtsid"))
      .agg(CircularMeanAgg(360.0).column(col("vdouble"), col("ts")).as("c"))
      .head().getAs[Double]("c")
    assert(math.abs(got) < 1e-9)
  }

  test("DotProductAgg over a 3-tick window; short windows are null " +
    "(MapperDotProduct.java:63-101)") {
    val f = GtsFrame(gtsOf(("m", "u", 1L, 1.0), ("m", "u", 2L, 2.0),
      ("m", "u", 3L, 4.0), ("m", "u", 4L, 8.0)))
    val out = f.mapWindow(DotProductAgg(Seq(0.25, 0.5, 0.25), identity), 1, 1)
      .toDF.select(col("ts"), col("vdouble")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    assert(out(1L).isEmpty && out(4L).isEmpty) // 2-value windows
    assert(out(2L).contains(0.25 * 1 + 0.5 * 2 + 0.25 * 4))
    assert(out(3L).contains(0.25 * 2 + 0.5 * 4 + 0.25 * 8))
  }

  test("reduceArg reports sorted ties and honors the count cap " +
    "(Argminmax.java:116-205)") {
    val f = GtsFrame(gtsOf(("m", "b", 1L, 5.0), ("m", "a", 1L, 5.0),
      ("m", "c", 1L, 3.0), ("m", "a", 2L, 1.0), ("m", "c", 2L, 9.0)))
    def run(count: Int, argmin: Boolean) =
      f.reduceArg("user", count, argmin, Seq.empty)
        .select(col("ts"), col("vstring")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(run(0, argmin = false) == Map(1L -> "a,b", 2L -> "c"))
    assert(run(1, argmin = false)(1L) == "a") // cap after sort
    assert(run(0, argmin = true) == Map(1L -> "c", 2L -> "a"))
  }

  test("filterSeries anyPred and its complement partition the series set " +
    "(FilterAny.java:98-160)") {
    val f = GtsFrame(gtsOf(("m", "u1", 1L, 1.0), ("m", "u1", 2L, 9.0),
      ("m", "u2", 1L, 9.0), ("m", "u2", 2L, 9.0)))
    def users(anyPred: org.apache.spark.sql.Column, neg: Boolean) =
      f.filterSeries(lit(true), Some(anyPred), neg)
        .toDF.select(col("labels").getItem("user")).distinct()
        .collect().map(_.getString(0)).toSet
    // any value < 5 → u1; all values >= 5 (complement) → u2
    assert(users(col("vdouble") < 5.0, neg = false) == Set("u1"))
    assert(users(col("vdouble") < 5.0, neg = true) == Set("u2"))
  }

  test("latencyFilterSeries matches the hand-traced fixture " +
    "(LatencyFilter.java:202-447)") {
    val up = GtsFrame(gtsOf(("up", "u", 1000L, 11.0), ("up", "u", 2000L, 22.0),
      ("up", "u", 3000L, 33.0), ("up", "u", 4000L, 44.0)))
    val d1 = GtsFrame(gtsOf(("d1", "u", 1100L, 11.0), ("d1", "u", 2600L, 22.0),
      ("d1", "u", 3050L, 33.0)))
    val d2 = GtsFrame(gtsOf(("d2", "u", 1200L, 11.0), ("d2", "u", 4100L, 44.0),
      ("d2", "u", 9000L, 44.0)))
    val out = up.latencyFilterSeries(Seq(d1, d2), 0L, 1000L,
      Seq("uplink.latency.min", "downlinks.bitset"))
    val got = out.select(col("class"), col("ts"), col("vlong")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got(("up:uplink.latency.min", 1000L)) == 100L)
    assert(got(("up:uplink.latency.min", 2000L)) == 600L)
    assert(got(("up:uplink.latency.min", 4000L)) == 100L)
    assert(got(("up:downlinks.bitset", 1000L)) == 3L) // both downlinks
    assert(got(("up:downlinks.bitset", 2000L)) == 1L) // d1 only
    assert(got(("up:downlinks.bitset", 4000L)) == 2L) // d2 only
  }
}
