package graft

import org.apache.spark.sql.functions._
import graft.kernels.{KernelOps, SeriesKernels}
import graft.kernels.SeriesKernels._

class KernelsSpec extends SparkSpec {

  test("lttb keeps endpoints and bounds size (fn/LTTB.java)") {
    val pts = (0 until 100).map(i => Pt(i.toLong, math.sin(i / 5.0) * 10 + i))
    val out = SeriesKernels.lttbReference(pts, 10, timebased = false)
    assert(out.length === 10)
    assert(out.head === pts.head && out.last === pts.last)
    assert(out.map(_.ts) === out.map(_.ts).sorted) // chronological
  }

  test("lttbReference replays GTSHelper.lttb's exact arithmetic " +
    "(bucketsize n/(t-1), off-by-one average, fixed first-point anchor)") {
    // hand-derived: n=10, threshold=5 → bucketsize 2.5.
    //  i=0: lookahead j=3..5 avg over denom 4 → (3.0, 12.5); current
    //       j∈{1,2}: areas 8.75 vs 12.5 → pick idx 2;
    //  i=1: lookahead j=6..7 denom 3 → (13/3, 20/3); current j=3..5:
    //       areas 10, 95, 16.7 → idx 4;
    //  i=2: lookahead j=8 denom 2 → (4.0, 0.0); current j∈{6,7}:
    //       areas 0, 40 → idx 7. Output ticks 0,2,4,7,9.
    val vals = IndexedSeq(0.0, 10.0, 0.0, 0.0, 50.0, 0.0, 0.0, 20.0, 0.0, 5.0)
    val pts = vals.zipWithIndex.map { case (v, i) => Pt(i.toLong, v) }
    val out = SeriesKernels.lttbReference(pts, 5, timebased = false)
    assert(out.map(_.ts) === IndexedSeq(0L, 2L, 4L, 7L, 9L))
    // values <= threshold-2 returns the GTS unchanged (:12324)
    assert(SeriesKernels.lttbReference(pts.take(3), 5, timebased = false)
      === pts.take(3))
    intercept[IllegalArgumentException](
      SeriesKernels.lttbReference(pts, 2, timebased = false))
  }

  test("lttbReference timebased (TLTTB) buckets by per-series TIME " +
    "width ceil((last-first-2)/(threshold-2)) and re-sets the count") {
    // hand-derived: ticks 0..3 then 10..13, threshold 4 → timebucket
    // ceil(11/2)=6; boundary pairs (0,0)(1,3)(4,6)(7,7) → threshold 4.
    //  i=0: lookahead j=4..6 denom 4 → (8.25, 3.25); current j=1..3:
    //       areas 19, 0.875, 0.75 → idx 1;
    //  i=1: lookahead j=7 denom 2 → (6.5, 3.5); current j=4..6:
    //       areas 11.75, 12.75, 14.5 → idx 6. Output ticks 0,1,12,13.
    val ticks = IndexedSeq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L)
    val vals = IndexedSeq(0.0, 5.0, 1.0, 1.0, 9.0, 2.0, 2.0, 7.0)
    val pts = ticks.zip(vals).map { case (t, v) => Pt(t, v) }
    val out = SeriesKernels.lttbReference(pts, 4, timebased = true)
    assert(out.map(_.ts) === IndexedSeq(0L, 1L, 12L, 13L))
  }

  test("single exp smoothing recurrence") {
    val out = singleExpSmoothing(IndexedSeq(Pt(1, 10), Pt(2, 20), Pt(3, 30)), 0.5)
    assert(out.map(_.v) === IndexedSeq(10.0, 15.0, 22.5))
  }

  test("double exp smoothing tracks a linear trend exactly") {
    val pts = (1 to 10).map(i => Pt(i.toLong, 2.0 * i))
    val (level, trend) = doubleExpSmoothing(pts, 0.5, 0.5)
    // the faithful trace starts at tick[1] with s=v1, b=v1-v0
    // (GTSHelper.doubleExponentialSmoothing): a perfect line is
    // tracked exactly — level equals the data, trend equals the slope
    assert(level.length === 9 && trend.length === 9)
    assert(level.head === Pt(2L, 4.0) && trend.head === Pt(2L, 2.0))
    level.zip(pts.drop(1)).foreach { case (o, p) =>
      assert(math.abs(o.v - p.v) < 1e-9)
    }
    trend.foreach(t => assert(math.abs(t.v - 2.0) < 1e-9))
  }

  test("dtw of identical series is 0; shifted is cheap") {
    val a = IndexedSeq(1.0, 2.0, 3.0, 2.0, 1.0)
    assert(dtw(a, a) === 0.0)
    val shifted = IndexedSeq(1.0, 1.0, 2.0, 3.0, 2.0, 1.0)
    assert(dtw(a, shifted) <= 1.0) // warping absorbs the shift
  }

  test("KernelOps end-to-end over a real frame") {
    val g = gtsOf((1 to 50).map(i => ("m", "u", i.toLong, math.sin(i / 3.0) * 10)): _*)
    assert(KernelOps(g).expSmooth(0.5).count() === 50)
    val two = gtsOf(
      (1 to 20).map(i => ("a", "u", i.toLong, i.toDouble)) ++
        (1 to 20).map(i => ("b", "u", i.toLong, i + 1.0)): _*)
    val a = two.filter(col("class") === "a")
    val b = two.filter(col("class") === "b")
    val d = KernelOps.dtwPairs(a, b, "user").collect()
    assert(d.length === 1)
    assert(d.head.getDouble(1) <= 20.0)
  }
}
