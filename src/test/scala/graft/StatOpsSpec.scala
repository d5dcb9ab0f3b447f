package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.KernelOps.{Akima, Spline}
import graft.kernels.SeriesKernels
import graft.kernels.SeriesKernels.Pt
import graft.model.Gts
import graft.operators.{GtsFrame, StatOps}

/** Hand-derived goldens for the declarative stat operators (g69/g70/g72
  * oracle rows cover them end-to-end vs DuckDB; these pin the semantics
  * on values computed by hand) and the exact-area LTTB variant. */
class StatOpsSpec extends SparkSpec {

  private def frame(rows: Seq[(String, String, Long, Double)]) = {
    import spark.implicits._
    GtsFrame(Gts.canonical(rows
      .map { case (c, u, t, v) => (c, Map("user" -> u), t, v) }
      .toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))))
  }

  /** A filled grid's (gtsid, ts, vdouble) rows. */
  private def grid(f: GtsFrame) =
    f.df.select(col("gtsid"), col("ts"), col("vdouble")).collect()

  test("correlate: perfect positive and negative correlation; degenerate NULL") {
    val a = frame(Seq(("x", "1", 1L, 1.0), ("x", "1", 2L, 2.0), ("x", "1", 3L, 3.0),
      ("x", "2", 1L, 5.0), ("x", "2", 2L, 5.0)))
    val b = frame(Seq(("y", "1", 1L, 2.0), ("y", "1", 2L, 4.0), ("y", "1", 3L, 6.0),
      ("y", "2", 1L, 1.0), ("y", "2", 2L, 9.0)))
    val got = StatOps.correlate(a, b, Seq("user")).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // sqrt(dx)·sqrt(dy) rounds twice — ±ulps around ±1 are correct
    // (the oracle contract is determinism, not exactness)
    assert(math.abs(got("1").get - 1.0) < 1e-12)
    assert(got("2").isEmpty) // constant x side → NULL, not NaN
    val neg = StatOps.correlate(a, frame(Seq(("y", "1", 1L, 3.0),
      ("y", "1", 2L, 2.0), ("y", "1", 3L, 1.0))), Seq("user")).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(neg("1") + 1.0) < 1e-12)
  }

  test("zscoreFlag: flags exactly the |z| > threshold points; constant series silent") {
    // series 1: values 0,0,0,0,100 → outlier is the 100
    val f = frame(Seq(("x", "1", 1L, 0.0), ("x", "1", 2L, 0.0), ("x", "1", 3L, 0.0),
      ("x", "1", 4L, 0.0), ("x", "1", 5L, 100.0),
      ("x", "2", 1L, 7.0), ("x", "2", 2L, 7.0)))
    val got = StatOps.zscoreFlag(f, 1.5).collect()
      .map(r => (r.getAs[String]("class"), r.getAs[Long]("ts")))
    assert(got.toSeq == Seq(("x", 5L)))
  }

  test("saxWords: monotone ramp maps to ascending letters") {
    // 8 points 0..7, wordLen 4 → PAA means of z over pairs are strictly
    // increasing and symmetric → word 'abcd' for alphabet 4
    val f = frame((0 until 8).map(i => ("x", "1", i.toLong, i.toDouble)))
    val got = StatOps.saxWords(f, 4, 4).select("word").collect().map(_.getString(0))
    assert(got.toSeq == Seq("abcd"))
  }

  test("lttbExact: endpoints kept, threshold respected, spike selected") {
    val pts = (0 until 100).map(i => Pt(i.toLong, if (i == 37) 1000.0 else (i % 5).toDouble))
    val out = SeriesKernels.lttbExact(pts, 6)
    assert(out.length == 6)
    assert(out.head == pts.head && out.last == pts.last)
    assert(out.exists(_.ts == 37L)) // the spike dominates its bucket
    // passthrough branch
    assert(SeriesKernels.lttbExact(pts.take(4), 6) == pts.take(4))
  }

  test("fillSplineGrid: exact at knots, linear through linear data, null outside") {
    // knots at 0,2,4,6 of a straight line → every interior fill is on
    // the line (natural spline of collinear knots has all M = 0)
    val f = frame(Seq(0L, 2L, 4L, 6L).map(i => ("x", "1", i, 10.0 + 3.0 * i)))
    val got = grid(f.fill(7L, 1L, 8L, Spline))
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    (0 to 6).foreach(i => assert(got(i.toLong).contains(10.0 + 3.0 * i), s"i=$i"))
    assert(got(7L).isEmpty) // beyond last knot: no extrapolation
    // single-knot series fills nothing but its own tick
    val one = frame(Seq(("y", "1", 3L, 5.0)))
    val g1 = grid(one.fill(4L, 1L, 5L, Spline))
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(g1(3L).contains(5.0) && g1(0L).isEmpty && g1(4L).isEmpty)
  }

  test("fillSplineGrid: interpolant is C¹-smooth and bounded on a spike") {
    // knots 0..6 with a spike at 3 — spline overshoots bounded, exact at knots
    val vals = Seq(0.0, 0.0, 0.0, 100.0, 0.0, 0.0, 0.0)
    val f = frame(vals.zipWithIndex.map { case (v, i) => ("x", "1", i.toLong * 2, v) })
    val got = grid(f.fill(12L, 1L, 13L, Spline))
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(got(6L) == 100.0)
    assert(got(5L) > 40.0 && got(5L) < 100.0) // rises toward the spike
    assert(got(1L) < 10.0 && got(1L) > -30.0) // small ringing far away
  }

  test("fillAkimaGrid: exact at knots, linear through linear data, local response") {
    val f = frame(Seq(0L, 2L, 4L, 6L, 8L).map(i => ("x", "1", i, 10.0 + 3.0 * i)))
    val got = grid(f.fill(8L, 1L, 9L, Akima))
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // collinear knots → akima reproduces the line at every interior tick
    (0 to 8).filter(_ % 2 == 1).foreach(i =>
      assert(math.abs(got(i.toLong).get - (10.0 + 3.0 * i)) < 1e-9, s"i=$i"))
    // akima locality: a far-away spike does not perturb a flat region
    val spiky = frame(Seq((0L, 0.0), (2L, 0.0), (4L, 0.0), (6L, 0.0),
      (8L, 0.0), (10L, 100.0), (12L, 0.0))
      .map { case (t, v) => ("y", "1", t, v) })
    val g2 = grid(spiky.fill(12L, 1L, 13L, Akima))
      .map(r => r.getLong(1) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(math.abs(g2(3L).get) < 1e-9) // flat region unaffected (locality)
  }

  test("lttbExact tie-break picks the earliest point, like lttb's strict >") {
    // all-equal values → every area is 0 → first candidate of each
    // bucket: every = 18/3 = 6, buckets start at 1, 7 and 13
    val pts = (0 until 20).map(i => Pt(i.toLong, 5.0))
    assert(SeriesKernels.lttbExact(pts, 5).map(_.ts) == Seq(0L, 1L, 7L, 13L, 19L))
  }
}
