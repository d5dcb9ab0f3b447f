package graft.kernels

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import SeriesKernels._

/** Spark wrappers for the per-series sequential kernels: parallel across
  * series (`groupByKey(gtsid).flatMapGroups`), sequential within one —
  * the reference's own parallelism shape (one thread per GTS, SURVEY §4.2).
  *
  * Each method returns a compact result frame keyed by `gtsid`; callers
  * join [[graft.model.Gts.metaTable]] back when class/labels are needed.
  * At 100 TB the only state held is ONE series per task at a time, and
  * series are assumed to fit an executor (same contract as the
  * reference, which materializes each GTS in RAM).
  */
final class KernelOps(df: DataFrame,
                      gridFill: Option[KernelOps.GridFill] = None) {

  private val spark = df.sparkSession
  import spark.implicits._

  private def series: Dataset[(Long, Long, Double)] =
    df.select(col("gtsid"), col("ts"), col("vdouble")).as[(Long, Long, Double)]

  /** The packed-points aggregate input: with a [[KernelOps.GridFill]],
    * the df is the SPARSE pre-FILLVALUE frame and null values pack as
    * nothing (collect_list skips null elements) — fillValue's grid
    * left-join + coalesce treats a null sparse value as absent too. */
  private def packedPts: org.apache.spark.sql.Column = {
    val s = struct(col("ts"), col("vdouble"))
    sort_array(collect_list(
      if (gridFill.isEmpty) s else when(col("vdouble").isNotNull, s)))
  }

  private def perSeries[T: org.apache.spark.sql.Encoder](
      f: (Long, IndexedSeq[Pt]) => IterableOnce[T]): Dataset[T] =
    // pack each series with a codegen'd aggregate and decode TWO
    // PRIMITIVE ARRAYS per series (r13, guide §4): the former
    // groupByKey over Dataset[(Long, Long, Double)] decoded a boxed
    // 3-tuple per POINT and boxed-sorted every group; sort_array on
    // struct(ts, vdouble) is the same (ts, v) total order (duplicate
    // ticks would otherwise make every sequential kernel — SES/Holt/
    // LTTB/LOWESS... — engine-dependent; Spark and Scala both order
    // NaN last among doubles)
    {
      val gf = gridFill // capture the value, never `this` (serialization)
      df.groupBy(col("gtsid"))
        .agg(packedPts.as("pts"))
        .select(col("gtsid"), col("pts.ts").as("ticks"),
          col("pts.vdouble").as("vals"))
        .as[(Long, Array[Long], Array[Double])]
        .flatMap { case (id, ticks0, vals0) =>
          val (ticks, vals) = KernelOps.densify(ticks0, vals0, gf)
          f(id, IndexedSeq.tabulate(ticks.length)(i => Pt(ticks(i), vals(i))))
            .iterator
        }
    }

  /** LTTB downsampling to ≤ threshold points per series (fn/LTTB.java). */
  def lttb(threshold: Int): DataFrame =
    perSeries((id, pts) => SeriesKernels.lttb(pts, threshold).map(p => (id, p.ts, p.v)))
      .toDF("gtsid", "ts", "vdouble")

  /** Oracle-replayable LTTB (exact Long area arithmetic) — see
    * [[SeriesKernels.lttbExact]] for the quantization contract. */
  def lttbExact(threshold: Int): DataFrame =
    perSeries((id, pts) => SeriesKernels.lttbExact(pts, threshold).map(p => (id, p.ts, p.v)))
      .toDF("gtsid", "ts", "vdouble")

  /** The reference's own LTTB arithmetic (LTTB/TLTTB words) — see
    * [[SeriesKernels.lttbReference]]. */
  def lttbRef(threshold: Int, timebased: Boolean): DataFrame =
    perSeries((id, pts) =>
      SeriesKernels.lttbReference(pts, threshold, timebased)
        .map(p => (id, p.ts, p.v)))
      .toDF("gtsid", "ts", "vdouble")

  /** filler.akima (reference filler semantics): Akima sub-spline
    * through each series' knots on grid indexes 0..gridCount-1. Akima
    * derivatives are LOCAL (four surrounding slopes, boundary slopes
    * extended virtually per Akima 1970), so unlike [[fillSplineGrid]]
    * the oracle needs NO recursion — lag/lead windows only. All
    * arithmetic uses a fixed op order mirrored by the g78 oracle
    * (virtual-slope expressions expand NESTED, exactly as written
    * there). n==2 falls back to s=m₀ at both knots (numerically ~=
    * linear through the general Hermite formula, identically in both
    * engines); n==1 fills nothing; no extrapolation.
    */
  def fillAkimaGrid(gridCount: Int): DataFrame =
    perSeries[(Long, Long, Option[Double])] { (id, pts) =>
      val n = pts.length
      val t = pts.map(_.ts.toDouble)
      val v = pts.map(_.v)
      val m = Array.tabulate(math.max(n - 1, 0))(j => (v(j + 1) - v(j)) / (t(j + 1) - t(j)))
      val s = new Array[Double](n)
      if (n == 2) { s(0) = m(0); s(1) = m(0) }
      else if (n >= 3) {
        val vm1 = 2.0 * m(0) - m(1)
        val vm2 = 2.0 * vm1 - m(0)
        val vnm1 = 2.0 * m(n - 2) - m(n - 3)
        val vn = 2.0 * vnm1 - m(n - 2)
        var i = 0
        while (i < n) {
          val mim2 = if (i >= 2) m(i - 2) else if (i == 1) vm1 else vm2
          val mim1 = if (i >= 1) m(i - 1) else vm1
          val mii = if (i <= n - 2) m(i) else vnm1
          val mip1 = if (i <= n - 3) m(i + 1) else if (i == n - 2) vnm1 else vn
          val w1 = math.abs(mip1 - mii)
          val w2 = math.abs(mim1 - mim2)
          s(i) = if (w1 + w2 == 0.0) (mim1 + mii) / 2.0
                 else (w1 * mim1 + w2 * mii) / (w1 + w2)
          i += 1
        }
      }
      val knotIdx = pts.iterator.zipWithIndex.map { case (p, i) => p.ts -> i }.toMap
      (0L until gridCount.toLong).map { x =>
        knotIdx.get(x) match {
          case Some(i) => (id, x, Some(v(i)))
          case None if n >= 2 && x > pts.head.ts && x < pts.last.ts =>
            var i2 = 1
            while (pts(i2).ts < x) i2 += 1
            val i1 = i2 - 1
            val h = t(i2) - t(i1)
            val d = x - t(i1)
            val mi = (v(i2) - v(i1)) / h
            // Hermite — same term order as the oracle SQL
            val c = (3.0 * mi - 2.0 * s(i1) - s(i2)) / h
            val e = (s(i1) + s(i2) - 2.0 * mi) / (h * h)
            (id, x, Some(v(i1) + s(i1) * d + c * (d * d) + e * (d * d * d)))
          case None => (id, x, None)
        }
      }
    }.toDF("gtsid", "ts", "vdouble")

  /** filler.lowess / filler.rlowess (script/filler/FillerLowess.java:
    * 50-85, FillerRlowess.java:95-115): LOESS-smooth the series' knots
    * — commons-math3 LoessInterpolator, the reference's own library,
    * with bandwidthRatio = min(1, bandwidth/size + 1e-12) and
    * `robustness` reweighting iterations (0 for filler.lowess) — then
    * interpolate missing grid indexes on the natural cubic spline
    * through the smoothed knots (LoessInterpolator.interpolate
    * delegates to SplineInterpolator). Knots keep their ORIGINAL
    * values; indexes outside the knot range fill nothing
    * (PolynomialSplineFunction.isValidPoint); size 2 degrades to
    * linear, size <2 fills nothing — all per the reference. Evaluation
    * happens on grid indexes rather than raw ticks: LOESS fits and
    * spline interpolation are invariant under the affine tick→index
    * map, so the values agree with the tick-domain evaluation to fp
    * rounding. */
  def fillLowessGrid(gridCount: Int, bandwidth: Long, robustness: Int,
                     accuracy: Double): DataFrame =
    perSeries[(Long, Long, Option[Double])] { (id, pts) =>
      val n = pts.length
      val t = pts.map(_.ts.toDouble).toArray
      val v = pts.map(_.v).toArray
      val fn: Option[org.apache.commons.math3.analysis.polynomials.PolynomialSplineFunction] =
        if (n > 2) {
          val br = math.min(1.0, bandwidth.toDouble / n + 1e-12)
          Some(new org.apache.commons.math3.analysis.interpolation.LoessInterpolator(
            br, robustness, accuracy).interpolate(t, v))
        } else if (n == 2) {
          Some(new org.apache.commons.math3.analysis.interpolation.LinearInterpolator()
            .interpolate(t, v))
        } else None
      val knotIdx = pts.iterator.zipWithIndex.map { case (p, i) => p.ts -> i }.toMap
      (0L until gridCount.toLong).map { x =>
        knotIdx.get(x) match {
          case Some(i) => (id, x, Some(v(i)))
          case None => fn match {
            case Some(f) if f.isValidPoint(x.toDouble) =>
              (id, x, Some(f.value(x.toDouble)))
            case _ => (id, x, None)
          }
        }
      }
    }.toDF("gtsid", "ts", "vdouble")

  /** filler.spline (reference filler semantics): natural cubic spline
    * through each series' knots, evaluated at every grid index
    * 0..gridCount-1. Ticks MUST already be integer grid indexes. The
    * Thomas-algorithm sweep and the evaluation polynomial use a FIXED
    * operation order (documented inline) so a SQL engine replaying the
    * identical expressions reproduces every double bit-for-bit — the
    * g75 oracle does exactly that with two recursive CTEs. No
    * extrapolation: indexes outside [t₀, tₙ₋₁] yield null (matches
    * filler.interpolate's boundary behavior, g28). n==2 degrades to
    * linear (all second derivatives zero); n==1 fills nothing.
    */
  def fillSplineGrid(gridCount: Int): DataFrame =
    perSeries[(Long, Long, Option[Double])] { (id, pts) =>
      val n = pts.length
      val t = pts.map(_.ts.toDouble)
      val v = pts.map(_.v)
      val M = new Array[Double](math.max(n, 1))
      if (n >= 3) {
        val h = Array.tabulate(n - 1)(i => t(i + 1) - t(i))
        val slope = Array.tabulate(n - 1)(i => (v(i + 1) - v(i)) / h(i))
        val cp = new Array[Double](n - 1)
        val dp = new Array[Double](n - 1)
        var i = 1
        while (i <= n - 2) {
          // EXACT op order mirrored by the oracle's forward CTE:
          //   dd = 6.0 * (slope_i - slope_{i-1})
          //   w  = 2.0 * (h_{i-1} + h_i) - h_{i-1} * cp_{i-1}
          val dd = 6.0 * (slope(i) - slope(i - 1))
          val w = 2.0 * (h(i - 1) + h(i)) - h(i - 1) * cp(i - 1)
          cp(i) = h(i) / w
          dp(i) = (dd - h(i - 1) * dp(i - 1)) / w
          i += 1
        }
        var j = n - 2
        while (j >= 1) { M(j) = dp(j) - cp(j) * M(j + 1); j -= 1 }
      }
      val knotIdx = pts.iterator.zipWithIndex.map { case (p, i) => p.ts -> i }.toMap
      (0L until gridCount.toLong).map { x =>
        knotIdx.get(x) match {
          case Some(i) => (id, x, Some(v(i)))
          case None if n >= 2 && x > pts.head.ts && x < pts.last.ts =>
            var i2 = 1
            while (pts(i2).ts < x) i2 += 1
            val i1 = i2 - 1
            val hh = t(i2) - t(i1)
            val u = t(i2) - x
            val w2 = x - t(i1)
            // evaluation polynomial — same term order as the oracle SQL
            val s = (M(i1) * u * u * u + M(i2) * w2 * w2 * w2) / (6.0 * hh) +
              (v(i1) / hh - M(i1) * hh / 6.0) * u +
              (v(i2) / hh - M(i2) * hh / 6.0) * w2
            (id, x, Some(s))
          case None => (id, x, None)
        }
      }
    }.toDF("gtsid", "ts", "vdouble")

  /** Deadband compression (ENGINE EXTENSION, g105 — the reference's
    * RANGECOMPACT word is parameterless GTSHelper.compact
    * preserveRanges=true, now on GtsFrame.compact): keep the first
    * point, then every point whose value deviates from the LAST KEPT
    * value by more than `delta`. Sequentially dependent on the kept
    * set, so it runs as a per-series kernel; with integer values and
    * an integer delta every comparison is exact — the DuckDB oracle
    * replays the recursion verbatim (g105). */
  def rangeCompact(delta: Double): DataFrame =
    perSeries { (id, pts) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var lastKept = Double.NaN
      pts.foreach { p =>
        if (lastKept.isNaN || math.abs(p.v - lastKept) > delta) {
          out += ((id, p.ts, p.v)); lastKept = p.v
        }
      }
      out
    }.toDF("gtsid", "ts", "vdouble")

  def expSmooth(alpha: Double, beta: Option[Double] = None): DataFrame =
    beta match {
      case Some(b) =>
        holtSmooth(alpha, b).filter(col("which") === "s").drop("which")
      case None =>
        perSeries((id, pts) =>
          singleExpSmoothing(pts, alpha).map(p => (id, p.ts, p.v)))
          .toDF("gtsid", "ts", "vdouble")
    }

  /** The reference's full DOUBLEEXPONENTIALSMOOTHING result — the
    * (level 's', best-estimate 'b') pair, tagged, one kernel pass
    * (GTSHelper.doubleExponentialSmoothing:9162-9223). */
  def holtSmooth(alpha: Double, beta: Double): DataFrame =
    perSeries { (id, pts) =>
      val (s, b) = doubleExpSmoothing(pts, alpha, beta)
      s.map(p => (id, p.ts, p.v, "s")) ++ b.map(p => (id, p.ts, p.v, "b"))
    }.toDF("gtsid", "ts", "vdouble", "which")

  /** filler.newton (script/filler/FillerNewton.java — the reference
    * precomputes a divided-difference Newton polynomial through ALL
    * knots via commons-math and evaluates it at missing ticks). This
    * re-derivation fixes the classical op order so the oracle can
    * replay it verbatim:
    *   triangle: for level l = 1..n−1, for i = n−1 down to l:
    *     a(i) = (a(i) − a(i−1)) / (x(i) − x(i−l))
    *   evaluation (Horner): r = a(n−1); for i = n−2 down to 0:
    *     r = r·(t − x(i)) + a(i).
    * Evaluates at the midpoint of each consecutive knot pair (the
    * fill sites of a half-step grid). All inputs are exact
    * integers/longs, every op is a fixed IEEE expression — identical
    * trees give identical doubles in any engine.
    */
  def fillNewtonMidpoints(): DataFrame =
    perSeries[(Long, Long, Double)] { (id, pts) =>
      val n = pts.length
      if (n < 2) Iterator.empty
      else {
        val xs = pts.map(_.ts.toDouble).toArray
        val a = pts.map(_.v).toArray
        var l = 1
        while (l < n) {
          var i = n - 1
          while (i >= l) {
            a(i) = (a(i) - a(i - 1)) / (xs(i) - xs(i - l))
            i -= 1
          }
          l += 1
        }
        (0 until n - 1).iterator.map { j =>
          // integer midpoint tick (floor), matching the oracle's //2
          val t = Math.floorDiv(pts(j).ts + pts(j + 1).ts, 2L)
          val td = t.toDouble
          var r = a(n - 1)
          var i = n - 2
          while (i >= 0) { r = r * (td - xs(i)) + a(i); i -= 1 }
          (id, t, r)
        }
      }
    }.toDF("gtsid", "ts", "vdouble")

  /** filler.newton over a bucket grid (script/filler/FillerNewton.java
    * evaluated through the FILL word): the same divided-difference
    * triangle as [[fillNewtonMidpoints]], Horner-evaluated at every
    * missing grid index strictly inside [t₀, tₙ₋₁] (no extrapolation,
    * matching the spline/akima grid fillers). Knot ticks keep their
    * original values. */
  def fillNewtonGrid(gridCount: Int): DataFrame =
    perSeries[(Long, Long, Option[Double])] { (id, pts) =>
      val n = pts.length
      val xs = pts.map(_.ts.toDouble).toArray
      val a = pts.map(_.v).toArray
      if (n >= 2) {
        var l = 1
        while (l < n) {
          var i = n - 1
          while (i >= l) {
            a(i) = (a(i) - a(i - 1)) / (xs(i) - xs(i - l))
            i -= 1
          }
          l += 1
        }
      }
      val knotVal = pts.iterator.map(p => p.ts -> p.v).toMap
      (0L until gridCount.toLong).map { x =>
        knotVal.get(x) match {
          case Some(v) => (id, x, Some(v))
          case None if n >= 2 && x > pts.head.ts && x < pts.last.ts =>
            val td = x.toDouble
            var r = a(n - 1)
            var i = n - 2
            while (i >= 0) { r = r * (td - xs(i)) + a(i); i -= 1 }
            (id, x, Some(r))
          case None => (id, x, None)
        }
      }
    }.toDF("gtsid", "ts", "vdouble")

  /** FFT magnitude spectrum per series (continuum/gts/FFT.java). */
  def fftMag(): DataFrame =
    perSeries((id, pts) =>
      fftMagnitude(pts.map(_.v).toArray).map { case (k, m) => (id, k, m) })
      .toDF("gtsid", "freq", "magnitude")

  /** LOWESS smoothing (fn/LOWESS.java). */
  def lowessSmooth(bandwidth: Double): DataFrame =
    perSeries((id, pts) => lowess(pts, bandwidth).map(p => (id, p.ts, p.v)))
      .toDF("gtsid", "ts", "vdouble")

  /** STL-style decomposition (fn/STL.java): trend/seasonal/residual. */
  def decomposeSeasonal(period: Int): DataFrame =
    perSeries((id, pts) => decompose(pts, period).map { case (p, t, s, r) =>
      (id, p.ts, p.v, t, s, r)
    }).toDF("gtsid", "ts", "vdouble", "trend", "seasonal", "resid")

  /** ZSCORETEST / modified-z (MAD) outliers (GTSOutliersHelper:148-639). */
  def zscoreOutliers(threshold: Double, useMad: Boolean = false): DataFrame =
    perSeries((id, pts) =>
      SeriesKernels.zscoreOutliers(pts, threshold, useMad).map(p => (id, p.ts, p.v)))
      .toDF("gtsid", "ts", "vdouble")

  /** ESDTEST — up to k outliers per series. */
  def esdOutliers(k: Int, alpha: Double = 0.05): DataFrame =
    perSeries((id, pts) => esd(pts, k, alpha).map(p => (id, p.ts, p.v)))
      .toDF("gtsid", "ts", "vdouble")

  /** STL — the reference's full Seasonal-Trend decomposition based on
    * LOWESS per series (StlKernel.stl — GTSHelper.stl:11357-11765),
    * tagged rows ('seasonal' | 'trend'), one kernel pass. */
  def stlDecompose(bucket: (Long, Long, Long), bpp: Int, inner: Int,
                   outer: Int, ns: Int, ds: Int, js: Int,
                   nl: Int, dl: Int, jl: Int, nt: Int, dt: Int, jt: Int,
                   np: Int, dp: Int, jp: Int): DataFrame =
    perSeries { (id, pts) =>
      if (pts.isEmpty) Iterator.empty
      else {
        val (s, t) = StlKernel.stl(
          StlKernel.ofPoints(pts.map(_.ts).toArray, pts.map(_.v).toArray,
            Some(bucket)),
          bpp, inner, outer, ns, ds, js, nl, dl, jl, nt, dt, jt, np, dp, jp)
        (0 until s.values).map(i => (id, "seasonal", s.ticks(i), s.vals(i))) ++
          (0 until t.values).map(i => (id, "trend", t.ticks(i), t.vals(i)))
      }
    }.toDF("gtsid", "which", "ts", "vdouble")

  /** Series-tagged form of [[perSeries]]: each series is packed WITH
    * its metadata, class/labels carried as grouping keys of the pack
    * aggregate ([[graft.model.Gts.aggBySeries]]), so the kernel emits
    * them from the group head. A post-kernel seriesMeta join would
    * re-read (or re-execute, under cache eviction — the r11 driver run
    * payed 163 s for that) the whole FETCH→BUCKETIZE→FILL prefix; this
    * is one pass, zero joins, the prefix consumed exactly once. The Dataset
    * encoder decodes one (class, labels-map, points) row per SERIES
    * instead of per point — at w54's 5.4M-point prefix that is 7 500
    * map decodes, not 5.4M. Points decode as two PRIMITIVE arrays, not
    * Array[(Long, Double)] — the tuple encoder boxes every point (r13
    * profile: the kernel stage burned 219 exec-seconds for 5.4M points,
    * dominated by decode, not by the STL arithmetic). */
  private def perSeriesTagged[T: org.apache.spark.sql.Encoder](
      f: (Long, String, Map[String, String], Array[Long], Array[Double]) => IterableOnce[T])
      : Dataset[T] = {
    val gf = gridFill // capture the value, never `this` (serialization)
    graft.model.Gts.aggBySeries(df)(packedPts.as("pts"))
      .select(col("gtsid"), col("class"), col("labels"),
        col("pts.ts").as("ticks"), col("pts.vdouble").as("vals"))
      .as[(Long, String, Map[String, String], Array[Long], Array[Double])]
      .flatMap { case (id, cls, lbl, ticks0, vals0) =>
        val (ticks, vals) = KernelOps.densify(ticks0, vals0, gf)
        if (ticks.isEmpty) Iterator.empty else f(id, cls, lbl, ticks, vals)
      }
  }

  /** STL with class/labels carried THROUGH the kernel (r12): the word
    * path's [seasonal, trend] pair needs the series metadata back.
    * Output is PACKED — one (ticks[], vals[]) row per (series,
    * component), 2 rows per series — so the word path materializes a
    * few hundred array rows instead of count×2 points; callers
    * posexplode.
    */
  def stlDecomposeTagged(bucket: (Long, Long, Long), bpp: Int, inner: Int,
                         outer: Int, ns: Int, ds: Int, js: Int,
                         nl: Int, dl: Int, jl: Int, nt: Int, dt: Int, jt: Int,
                         np: Int, dp: Int, jp: Int): DataFrame =
    perSeriesTagged { (id, cls, lbl, ticks, vals) =>
      val (s, t) = StlKernel.stl(
        StlKernel.ofPoints(ticks, vals, Some(bucket)),
        bpp, inner, outer, ns, ds, js, nl, dl, jl, nt, dt, jt, np, dp, jp)
      Iterator((id, cls, lbl, "seasonal",
          s.ticks.take(s.values), s.vals.take(s.values)),
        (id, cls, lbl, "trend",
          t.ticks.take(t.values), t.vals.take(t.values)))
    }.toDF("gtsid", "class", "labels", "which", "ticks", "vals")

  /** LOWESS/RLOWESS — the reference's own robust locally weighted
    * regression per series (StlKernel.rlowess — GTSHelper.rlowess:
    * 10795-11218), with the d-skipping walk and bisquare robustness
    * iterations. `bucket` carries BUCKETIZE metadata; estimates then
    * cover every bucket tick. Class/labels are carried through the
    * kernel group, as [[stlDecomposeTagged]] does: the smoothed points
    * come back as (gtsid, ts, vdouble, class, labels) with no metadata
    * join over the operand. */
  def rlowessSmooth(q: Int, r: Int, d: Long, p: Int,
                    bucket: Option[(Long, Long, Long)]): DataFrame =
    perSeriesTagged { (id, cls, lbl, ticks, vals) =>
      val out = StlKernel.rlowess(StlKernel.ofPoints(ticks, vals, bucket), q, r, d, p)
      Iterator.tabulate(out.values)(i => (id, out.ticks(i), out.vals(i), cls, lbl))
    }.toDF("gtsid", "ts", "vdouble", "class", "labels")

  /** HYBRIDTEST/HYBRIDTEST2 — the reference's piecewise seasonal-hybrid
    * ESD per series (StlKernel.hybridTest); returns the anomalous
    * (gtsid, ts) pairs. */
  def hybridFlags(bucket: (Long, Long, Long), bpp: Int, ppp: Int, k: Int,
                  alpha: Double, entropy: Boolean,
                  stl16: Option[(Int, Int, Int, Int, Int, Int, Int, Int,
                    Int, Int, Int, Int, Int, Int)]): DataFrame =
    perSeries { (id, pts) =>
      if (pts.isEmpty) Iterator.empty
      else StlKernel.hybridTest(
        StlKernel.ofPoints(pts.map(_.ts).toArray, pts.map(_.v).toArray,
          Some(bucket)),
        bpp, ppp, k, alpha, entropy, stl16).map(t => (id, t))
    }.toDF("gtsid", "ts")

  /** DISCORDS/ZDISCORDS — the reference's HOTSAX-style discord search
    * (continuum/gts/DISCORDS.java:158-516), parallel across series,
    * faithful and sequential within one. Returns the union of discord
    * windows' points. */
  def discords(windowLen: Int, wordLen: Int, alphabetSize: Int, count: Int,
               mayOverlap: Boolean, distRatio: Double,
               standardizePAA: Boolean): DataFrame =
    perSeries((id, pts) =>
      SeriesKernels.discords(pts, windowLen, wordLen, alphabetSize, count,
        mayOverlap, distRatio, standardizePAA).map(p => (id, p.ts, p.v)))
      .toDF("gtsid", "ts", "vdouble")

  /** SAX words per fixed-count window (script/SAXUtils.java; PATTERNS). */
  def saxWords(window: Int, wordLen: Int, alphabet: Int): DataFrame =
    perSeries { (id, pts) =>
      pts.grouped(window).filter(_.length == window).map { chunk =>
        (id, chunk.head.ts, saxWord(chunk.map(_.v), wordLen, alphabet))
      }
    }.toDF("gtsid", "window_start", "sax_word")

  /** Spline/Akima interpolation of the empty buckets of a bucketized
    * series (script/filler/FillerSpline|FillerAkima). */
  def fillInterpolated(lastbucket: Long, span: Long, count: Long,
                       akima: Boolean): DataFrame = {
    val grid = (0L until count).map(k => lastbucket - k * span).sorted
    perSeries { (id, pts) =>
      val have = pts.map(_.ts).toSet
      val missing = grid.filterNot(have.contains)
      val interp = interpolateAt(pts, missing, akima).map(p => (id, p.ts, p.v, true))
      pts.map(p => (id, p.ts, p.v, false)) ++ interp
    }.toDF("gtsid", "ts", "vdouble", "interpolated")
  }
}

object KernelOps {
  def apply(df: DataFrame): KernelOps = new KernelOps(df)

  /** A FILLVALUE grid fused into the kernel pack (r14): the KernelOps
    * input is the SPARSE pre-fill frame; every kernel sees the dense
    * (lastbucket, span, count) grid with `value` at absent buckets,
    * synthesized per series after the pack shuffle — the grid rows are
    * never materialized pre-shuffle (guide §2.3). */
  final case class GridFill(lastbucket: Long, span: Long, count: Int,
                            value: Double)

  /** Synthesize the dense FILLVALUE grid from packed sparse points
    * (r14, guide §2.3 — shrink data before the exchange): one linear
    * merge per series AFTER the pack shuffle, so the count×series grid
    * rows never exist pre-shuffle (w54 at sf0.1: 99k sparse cells
    * shuffled instead of 5.4M grid rows, and the grid-explode + grid
    * left-join exchanges disappear entirely). Off-grid sparse ticks
    * are skipped — exactly what fillValue's grid-sided left join does.
    * Static so kernel closures capture only the GridFill value.
    *
    * Invariant: the sparse frame holds at most one point per (gtsid,
    * ts) — a BUCKETIZE result has one row per (series, bucket), which
    * is what its grouping keys guarantee. The merge takes one value per
    * grid tick, so a repeated tick would silently drop points; it is
    * asserted here (`ticks` arrive sorted, so adjacent ticks suffice). */
  private[kernels] def densify(ticks: Array[Long], vals: Array[Double],
      gf: Option[GridFill]): (Array[Long], Array[Double]) = gf match {
    case None => (ticks, vals)
    case Some(g) =>
      var k = 1
      while (k < ticks.length) {
        assert(ticks(k) != ticks(k - 1),
          s"FILLVALUE grid: tick ${ticks(k)} repeats within one series")
        k += 1
      }
      val n = g.count
      val first = g.lastbucket - (n - 1).toLong * g.span
      val dt = new Array[Long](n)
      val dv = new Array[Double](n)
      var i = 0
      var j = 0
      while (i < n) {
        val t = first + i.toLong * g.span
        dt(i) = t
        while (j < ticks.length && ticks(j) < t) j += 1
        dv(i) =
          if (j < ticks.length && ticks(j) == t) { val v = vals(j); j += 1; v }
          else g.value
        i += 1
      }
      (dt, dv)
  }

  /** DTW distance between the two sides' series matched on `byLabel`
    * (fn/DTW.java): inputs are two canonical frames; output one distance
    * per matched label value. Series are collected per key (same
    * memory contract as the reference's in-RAM GTS pairs).
    */
  def dtwPairs(a: DataFrame, b: DataFrame, byLabel: String): DataFrame = {
    def side(d: DataFrame, out: String) =
      d.select(col("labels").getItem(byLabel).as(byLabel),
          col("ts"), col("vdouble"))
        .groupBy(col(byLabel))
        .agg(sort_array(collect_list(struct(col("ts"), col("vdouble"))))
          .as(out))
    val dtwUdf = udf((x: Seq[org.apache.spark.sql.Row], y: Seq[org.apache.spark.sql.Row]) =>
      dtw(x.map(_.getDouble(1)).toIndexedSeq, y.map(_.getDouble(1)).toIndexedSeq))
    side(a, "va").join(side(b, "vb"), byLabel)
      .select(col(byLabel), dtwUdf(col("va"), col("vb")).as("dtw_dist"))
  }

  /** CORRELATE two sides at integer lags (continuum/gts/CORRELATE.java). */
  def correlatePairs(a: DataFrame, b: DataFrame, byLabel: String,
                     lags: Seq[Int]): DataFrame = {
    def side(d: DataFrame, out: String) =
      d.select(col("labels").getItem(byLabel).as(byLabel),
          col("ts"), col("vdouble"))
        .groupBy(col(byLabel))
        .agg(sort_array(collect_list(struct(col("ts"), col("vdouble"))))
          .as(out))
    val corrUdf = udf((x: Seq[org.apache.spark.sql.Row], y: Seq[org.apache.spark.sql.Row]) =>
      correlateAtLags(x.map(_.getDouble(1)).toIndexedSeq,
        y.map(_.getDouble(1)).toIndexedSeq, lags))
    side(a, "va").join(side(b, "vb"), byLabel)
      .select(col(byLabel),
        explode(corrUdf(col("va"), col("vb"))).as("lag_corr"))
      .select(col(byLabel), col("lag_corr._1").as("lag"),
        col("lag_corr._2").as("corr"))
  }
}
