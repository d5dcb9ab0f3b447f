package graft.kernels

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import SeriesKernels._

/** Spark wrappers for the per-series sequential kernels: parallel across
  * series, sequential within one — the reference's own parallelism
  * shape (one thread per GTS, SURVEY §4.2).
  *
  * Every method runs through ONE runner, [[perSeries]] (the bucket grid
  * itself, [[grid]], reads the same pack), which packs
  * each series together with its metadata ([[graft.model.Gts.aggBySeries]]:
  * class and the key-sorted label entries ride as grouping keys of the
  * pack aggregate). So every output carries `class` and `labels`,
  * appended after the kernel's own columns, as the reference's kernels
  * return each result GTS with its class and labels attached — no
  * caller joins metadata back, and the operand is consumed once.
  * At 100 TB the only state held is ONE series per task at a time, and
  * series are assumed to fit an executor (same contract as the
  * reference, which materializes each GTS in RAM).
  */
final class KernelOps(df: DataFrame,
                      gridFill: Option[KernelOps.GridFill] = None) {

  private val spark = df.sparkSession
  import spark.implicits._

  /** The packed-points aggregate input: with a [[KernelOps.GridFill]],
    * the df is the SPARSE frame the grid fills and null values pack as
    * nothing (collect_list skips null elements): the grid counts a null
    * value as absent. */
  private def packedPts: org.apache.spark.sql.Column = {
    val s = struct(col("ts"), col("vdouble"))
    sort_array(collect_list(
      if (gridFill.isEmpty) s else when(col("vdouble").isNotNull, s)))
  }

  /** One row per series: (gtsid, class, labels, ticks, vals), packed WITH
    * its metadata — class/labels carried as grouping keys of the pack
    * aggregate ([[graft.model.Gts.aggBySeries]]), so a kernel emits them
    * from the group head. A post-kernel seriesMeta join would re-read (or
    * re-execute, under cache eviction — the r11 driver run payed 163 s
    * for that) the whole FETCH→BUCKETIZE→FILL prefix; this is one
    * pass, zero joins, the prefix consumed exactly once. The Dataset
    * encoder decodes one (class, labels-map, points) row per SERIES
    * instead of per point — at w54's 5.4M-point prefix that is 7 500
    * map decodes, not 5.4M. Points decode as two PRIMITIVE arrays, not
    * Array[(Long, Double)] — the tuple encoder boxes every point (r13
    * profile: the kernel stage burned 219 exec-seconds for 5.4M points,
    * dominated by decode, not by the STL arithmetic). sort_array on
    * struct(ts, vdouble) is the (ts, v) total order: duplicate ticks
    * would otherwise make every sequential kernel engine-dependent
    * (Spark and Scala both order NaN last among doubles). */
  private def packs =
    graft.model.Gts.aggBySeries(df)(packedPts.as("pts"))
      .select(col("gtsid"), col("class"), col("labels"),
        col("pts.ts").as("ticks"), col("pts.vdouble").as("vals"))
      .as[(Long, String, Map[String, String], Array[Long], Array[Double])]

  /** The per-series runner: every kernel sees one packed series — the
    * filled points of the [[KernelOps.GridFill]] grid when there is one
    * ([[KernelOps.densify]]). */
  private def perSeries[T: org.apache.spark.sql.Encoder](
      f: (Long, String, Map[String, String], Array[Long], Array[Double]) => IterableOnce[T])
      : Dataset[T] = {
    val gf = gridFill // capture the value, never `this` (serialization)
    packs.flatMap { case (id, cls, lbl, ticks0, vals0) =>
      val (ticks, vals) = KernelOps.densify(ticks0, vals0, gf)
      if (ticks.isEmpty) Iterator.empty else f(id, cls, lbl, ticks, vals)
    }
  }

  /** The [[KernelOps.GridFill]] grid itself: each grid tick of each
    * series as its filled points, or one row with a null value where the
    * rule leaves the tick empty; (gtsid, ts, vdouble, class, labels). */
  private[graft] def grid(): DataFrame = {
    val gf = gridFill
    val g = gf.getOrElse(throw new IllegalStateException("grid() needs a GridFill"))
    packs.flatMap { case (id, cls, lbl, ticks0, vals0) =>
      val (ticks, vals) = KernelOps.densify(ticks0, vals0, gf)
      var j = 0
      (0 until g.count).flatMap { i =>
        val (t, from) = (g.tick(i), j)
        while (j < ticks.length && ticks(j) == t) j += 1
        if (j == from) Seq((id, t, None, cls, lbl))
        else (from until j).map(k => (id, t, Option(vals(k)), cls, lbl))
      }
    }.toDF("gtsid", "ts", "vdouble", "class", "labels")
  }

  /** A [[SeriesKernels.Pt]] kernel on the runner: its points come back
    * as (gtsid, ts, vdouble, class, labels). */
  private def pointKernel(k: IndexedSeq[Pt] => IterableOnce[Pt]): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      k(KernelOps.points(ticks, vals)).iterator.map(p => (id, p.ts, p.v, cls, lbl))
    }.toDF("gtsid", "ts", "vdouble", "class", "labels")

  /** LTTB downsampling to ≤ threshold points per series (fn/LTTB.java). */
  def lttb(threshold: Int): DataFrame =
    pointKernel(SeriesKernels.lttb(_, threshold))

  /** Oracle-replayable LTTB (exact Long area arithmetic) — see
    * [[SeriesKernels.lttbExact]] for the quantization contract. */
  def lttbExact(threshold: Int): DataFrame =
    pointKernel(SeriesKernels.lttbExact(_, threshold))

  /** The reference's own LTTB arithmetic (LTTB/TLTTB words) — see
    * [[SeriesKernels.lttbReference]]. */
  def lttbRef(threshold: Int, timebased: Boolean): DataFrame =
    pointKernel(SeriesKernels.lttbReference(_, threshold, timebased))

  /** Deadband compression (ENGINE EXTENSION, g105 — the reference's
    * RANGECOMPACT word is parameterless GTSHelper.compact
    * preserveRanges=true, now on GtsFrame.compact): keep the first
    * point, then every point whose value deviates from the LAST KEPT
    * value by more than `delta`. Sequentially dependent on the kept
    * set, so it runs as a per-series kernel; with integer values and
    * an integer delta every comparison is exact — the DuckDB oracle
    * replays the recursion verbatim (g105). */
  def rangeCompact(delta: Double): DataFrame =
    pointKernel { pts =>
      val out = scala.collection.mutable.ArrayBuffer.empty[Pt]
      var lastKept = Double.NaN
      pts.foreach { p =>
        if (lastKept.isNaN || math.abs(p.v - lastKept) > delta) {
          out += p; lastKept = p.v
        }
      }
      out
    }

  def expSmooth(alpha: Double, beta: Option[Double] = None): DataFrame =
    beta match {
      case Some(b) =>
        holtSmooth(alpha, b).filter(col("which") === "s").drop("which")
      case None => pointKernel(singleExpSmoothing(_, alpha))
    }

  /** The reference's full DOUBLEEXPONENTIALSMOOTHING result — the
    * (level 's', best-estimate 'b') pair, tagged, one kernel pass
    * (GTSHelper.doubleExponentialSmoothing:9162-9223). */
  def holtSmooth(alpha: Double, beta: Double): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      val (s, b) = doubleExpSmoothing(KernelOps.points(ticks, vals), alpha, beta)
      s.iterator.map(p => (id, p.ts, p.v, "s", cls, lbl)) ++
        b.iterator.map(p => (id, p.ts, p.v, "b", cls, lbl))
    }.toDF("gtsid", "ts", "vdouble", "which", "class", "labels")

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
    pointKernel { pts =>
      val n = pts.length
      val (xs, a) = KernelOps.newtonTriangle(pts)
      (0 until n - 1).iterator.map { j =>
        // integer midpoint tick (floor), matching the oracle's //2
        val t = Math.floorDiv(pts(j).ts + pts(j + 1).ts, 2L)
        Pt(t, KernelOps.horner(xs, a, t.toDouble))
      }
    }

  /** FFT magnitude spectrum per series (continuum/gts/FFT.java). */
  def fftMag(): DataFrame =
    perSeries { (id, cls, lbl, _, vals) =>
      fftMagnitude(vals).iterator.map { case (k, m) => (id, k, m, cls, lbl) }
    }.toDF("gtsid", "freq", "magnitude", "class", "labels")

  /** STL-style decomposition (fn/STL.java): trend/seasonal/residual. */
  def decomposeSeasonal(period: Int): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      decompose(KernelOps.points(ticks, vals), period).iterator.map {
        case (p, t, s, r) => (id, p.ts, p.v, t, s, r, cls, lbl)
      }
    }.toDF("gtsid", "ts", "vdouble", "trend", "seasonal", "resid", "class", "labels")

  /** ZSCORETEST / modified-z (MAD) outliers (GTSOutliersHelper:148-639). */
  def zscoreOutliers(threshold: Double, useMad: Boolean = false): DataFrame =
    pointKernel(SeriesKernels.zscoreOutliers(_, threshold, useMad))

  /** ESDTEST, mean/sd variant — the exact-sum rounds of
    * [[SeriesKernels.esdRounds]] with the λ criticals `lams` (n → λ);
    * flagged rows as (gtsid, ts, vdouble, round, class, labels). */
  def esdFlag(k: Int, lams: Map[Int, Double]): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      esdRounds(ticks, vals, k, lams).map { case (t, v, r) => (id, t, v, r, cls, lbl) }
    }.toDF("gtsid", "ts", "vdouble", "round", "class", "labels")

  /** ESDTEST, median/MAD variant ([[SeriesKernels.esdMadRounds]]);
    * same output as [[esdFlag]]. */
  def esdMadFlag(k: Int, lams: Map[Int, Double]): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      esdMadRounds(ticks, vals, k, lams).map { case (t, v, r) => (id, t, v, r, cls, lbl) }
    }.toDF("gtsid", "ts", "vdouble", "round", "class", "labels")

  /** STL, PACKED: the word path's [seasonal, trend] pair. Output is one
    * (ticks[], vals[]) row per (series, component), 2 rows per series,
    * so the word path derives each component's class and id once per
    * series and a filter on `which` drops a component before its
    * points are exploded. */
  def stlDecomposeTagged(bucket: (Long, Long, Long), bpp: Int, inner: Int,
                         outer: Int, ns: Int, ds: Int, js: Int,
                         nl: Int, dl: Int, jl: Int, nt: Int, dt: Int, jt: Int,
                         np: Int, dp: Int, jp: Int): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
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
    * cover every bucket tick. The smoothed points come back as
    * (gtsid, ts, vdouble, class, labels). Like [[stlDecomposeTagged]],
    * the kernel emits one packed (ticks[], vals[]) row per series, so
    * class and labels are encoded once per series, not once per point,
    * and the points are exploded after. */
  def rlowessSmooth(q: Int, r: Int, d: Long, p: Int,
                    bucket: Option[(Long, Long, Long)]): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      val out = StlKernel.rlowess(StlKernel.ofPoints(ticks, vals, bucket), q, r, d, p)
      Iterator((id, cls, lbl, out.ticks.take(out.values), out.vals.take(out.values)))
    }.toDF("gtsid", "class", "labels", "ticks", "vals")
      .select(col("gtsid"), explode(arrays_zip(col("ticks"), col("vals"))).as("p"),
        col("class"), col("labels"))
      .select(col("gtsid"), col("p.ticks").as("ts"), col("p.vals").as("vdouble"),
        col("class"), col("labels"))

  /** HYBRIDTEST/HYBRIDTEST2 — the reference's piecewise seasonal-hybrid
    * ESD per series (StlKernel.hybridTest); returns the anomalous
    * (gtsid, ts, class, labels) rows. */
  def hybridFlags(bucket: (Long, Long, Long), bpp: Int, ppp: Int, k: Int,
                  alpha: Double, entropy: Boolean,
                  stl16: Option[(Int, Int, Int, Int, Int, Int, Int, Int,
                    Int, Int, Int, Int, Int, Int)]): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      StlKernel.hybridTest(StlKernel.ofPoints(ticks, vals, Some(bucket)),
        bpp, ppp, k, alpha, entropy, stl16).map(t => (id, t, cls, lbl))
    }.toDF("gtsid", "ts", "class", "labels")

  /** DISCORDS/ZDISCORDS — the reference's HOTSAX-style discord search
    * (continuum/gts/DISCORDS.java:158-516), parallel across series,
    * faithful and sequential within one. Returns the union of discord
    * windows' points. */
  def discords(windowLen: Int, wordLen: Int, alphabetSize: Int, count: Int,
               mayOverlap: Boolean, distRatio: Double,
               standardizePAA: Boolean): DataFrame =
    pointKernel(SeriesKernels.discords(_, windowLen, wordLen, alphabetSize, count,
      mayOverlap, distRatio, standardizePAA))

  /** SAX words per fixed-count window (script/SAXUtils.java; PATTERNS). */
  def saxWords(window: Int, wordLen: Int, alphabet: Int): DataFrame =
    perSeries { (id, cls, lbl, ticks, vals) =>
      KernelOps.points(ticks, vals).grouped(window).filter(_.length == window).map { chunk =>
        (id, chunk.head.ts, saxWord(chunk.map(_.v), wordLen, alphabet), cls, lbl)
      }
    }.toDF("gtsid", "window_start", "sax_word", "class", "labels")
}

object KernelOps {
  def apply(df: DataFrame): KernelOps = new KernelOps(df)

  /** The kernels over a frame: a FILLVALUE grid packs its sparse origin
    * and densifies per series ([[GridFill]]), any other frame packs its
    * own rows. Both read the same points. */
  def apply(f: graft.operators.GtsFrame): KernelOps = f.origin match {
    case Some(graft.operators.GtsFrame.Fill(sparse, g)) => new KernelOps(sparse, Some(g))
    case _ => new KernelOps(f.df)
  }

  /** The [[SeriesKernels.Pt]] view of one packed series. */
  private def points(ticks: Array[Long], vals: Array[Double]): IndexedSeq[Pt] =
    IndexedSeq.tabulate(ticks.length)(i => Pt(ticks(i), vals(i)))

  /** Newton's divided-difference triangle through every knot, in the
    * fixed op order the g88 oracle replays: for level l = 1..n−1, for
    * i = n−1 down to l, a(i) = (a(i) − a(i−1)) / (x(i) − x(i−l)).
    * Returns (knot ticks, coefficients). */
  private def newtonTriangle(pts: IndexedSeq[Pt]): (Array[Double], Array[Double]) = {
    val n = pts.length
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
    (xs, a)
  }

  /** Horner evaluation of a [[newtonTriangle]] polynomial at `t`:
    * r = a(n−1); for i = n−2 down to 0, r = r·(t − x(i)) + a(i). */
  private def horner(xs: Array[Double], a: Array[Double], t: Double): Double = {
    var r = a(a.length - 1)
    var i = a.length - 2
    while (i >= 0) { r = r * (t - xs(i)) + a(i); i -= 1 }
    r
  }

  /** How a bucket grid fills a tick that holds no point of its series:
    * the fillers of GTSHelper.fill:5229 (FILLVALUE, FILLPREVIOUS,
    * FILLNEXT: GTSHelper.java:5106, 4893, 4996; the rest are
    * script/filler/Filler*.java). Each rule reads its own knot set:
    *  - [[Value]], [[Previous]], [[Next]] and [[Linear]]
    *    (filler.interpolate) read the on-grid points only: off-grid
    *    points are never knots.
    *  - [[Trend]] takes the previous and next knots on the grid, and
    *    their outer neighbours from every packed point.
    *  - An [[Interpolator]] fits every packed point, on the grid or not,
    *    a point before the window included.
    * The carry rules and Trend leave a tick empty where they have no
    * knot to carry; an interpolator leaves it empty outside the range
    * of its knots. */
  sealed trait FillRule
  final case class Value(v: Double) extends FillRule
  case object Previous extends FillRule
  case object Next extends FillRule
  case object Linear extends FillRule

  /** filler.trend (script/filler/FillerTrend.java:36-119): each gap
    * value averages TWO linear projections — the previous knot extended
    * by the "pre" trend and the next knot pulled back by the "post"
    * trend, mixed by the gap's relative position α = Δ/span (α on the
    * previous projection, 1−α on the next, as the reference writes it).
    * Trend rates come from the knot's own neighbor (prevprev/nextnext),
    * each falling back to the crossing rate then the far side's rate;
    * one defined rate backfills the other; no rate → no fill.
    * One-sided gaps extrapolate with the available rate. Evaluated in
    * tick space ([[trend]]). */
  case object Trend extends FillRule

  /** A filler that fits every packed point of a series and evaluates
    * the fit in grid-index space: a point at tick t is the knot at index
    * (t - first) / span (long division, truncating), and index i fills
    * the tick first + i·span. A knot keeps its own value; `at(knots)`
    * gives the value at any other index, None leaving it empty. */
  sealed trait Interpolator extends FillRule {
    def at(pts: IndexedSeq[Pt]): Long => Option[Double]
  }

  /** filler.spline (reference filler semantics): natural cubic spline
    * through each series' knots. The Thomas-algorithm sweep and the
    * evaluation polynomial use a FIXED operation order (documented
    * inline) so a SQL engine replaying the identical expressions
    * reproduces every double bit-for-bit — the g75 oracle does exactly
    * that with two recursive CTEs. No extrapolation: indexes outside
    * [t₀, tₙ₋₁] stay empty (matches filler.interpolate's boundary
    * behavior, g28). n==2 degrades to linear (all second derivatives
    * zero); n==1 fills nothing. */
  case object Spline extends Interpolator {
    def at(pts: IndexedSeq[Pt]): Long => Option[Double] = {
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
      x =>
        if (n >= 2 && x > pts.head.ts && x < pts.last.ts) {
          var i2 = 1
          while (pts(i2).ts < x) i2 += 1
          val i1 = i2 - 1
          val hh = t(i2) - t(i1)
          val u = t(i2) - x
          val w2 = x - t(i1)
          // evaluation polynomial — same term order as the oracle SQL
          Some((M(i1) * u * u * u + M(i2) * w2 * w2 * w2) / (6.0 * hh) +
            (v(i1) / hh - M(i1) * hh / 6.0) * u +
            (v(i2) / hh - M(i2) * hh / 6.0) * w2)
        } else None
    }
  }

  /** filler.akima (reference filler semantics): Akima sub-spline
    * through each series' knots. Akima derivatives are LOCAL (four
    * surrounding slopes, boundary slopes extended virtually per Akima
    * 1970), so unlike [[Spline]] the oracle needs NO recursion —
    * lag/lead windows only. All arithmetic uses a fixed op order
    * mirrored by the g78 oracle (virtual-slope expressions expand
    * NESTED, exactly as written there). n==2 falls back to s=m₀ at both
    * knots (numerically ~= linear through the general Hermite formula,
    * identically in both engines); n==1 fills nothing; no
    * extrapolation. */
  case object Akima extends Interpolator {
    def at(pts: IndexedSeq[Pt]): Long => Option[Double] = {
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
      x =>
        if (n >= 2 && x > pts.head.ts && x < pts.last.ts) {
          var i2 = 1
          while (pts(i2).ts < x) i2 += 1
          val i1 = i2 - 1
          val h = t(i2) - t(i1)
          val d = x - t(i1)
          val mi = (v(i2) - v(i1)) / h
          // Hermite — same term order as the oracle SQL
          val c = (3.0 * mi - 2.0 * s(i1) - s(i2)) / h
          val e = (s(i1) + s(i2) - 2.0 * mi) / (h * h)
          Some(v(i1) + s(i1) * d + c * (d * d) + e * (d * d * d))
        } else None
    }
  }

  /** filler.newton (script/filler/FillerNewton.java — the reference
    * precomputes a divided-difference Newton polynomial through ALL
    * knots via commons-math and evaluates it at missing ticks): the
    * [[newtonTriangle]] of [[KernelOps.fillNewtonMidpoints]],
    * Horner-evaluated at every index strictly inside [t₀, tₙ₋₁] (no
    * extrapolation, like [[Spline]] and [[Akima]]). */
  case object Newton extends Interpolator {
    def at(pts: IndexedSeq[Pt]): Long => Option[Double] = {
      val n = pts.length
      val (xs, a) = newtonTriangle(pts)
      x =>
        if (n >= 2 && x > pts.head.ts && x < pts.last.ts) Some(horner(xs, a, x.toDouble))
        else None
    }
  }

  /** filler.lowess / filler.rlowess (script/filler/FillerLowess.java:
    * 50-85, FillerRlowess.java:95-115): LOESS-smooth the series' knots
    * — commons-math3 LoessInterpolator, the reference's own library,
    * with bandwidthRatio = min(1, bandwidth/size + 1e-12) and
    * `robustness` reweighting iterations (0 for filler.lowess) — then
    * interpolate on the natural cubic spline through the smoothed knots
    * (LoessInterpolator.interpolate delegates to SplineInterpolator).
    * Indexes outside the knot range fill nothing
    * (PolynomialSplineFunction.isValidPoint); size 2 degrades to
    * linear, size <2 fills nothing — all per the reference. LOESS fits
    * and spline interpolation are invariant under the affine tick→index
    * map, so the values agree with the tick-domain evaluation to fp
    * rounding. */
  final case class Lowess(bandwidth: Long, robustness: Int, accuracy: Double)
      extends Interpolator {
    def at(pts: IndexedSeq[Pt]): Long => Option[Double] = {
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
      x => fn.filter(_.isValidPoint(x.toDouble)).map(_.value(x.toDouble))
    }
  }

  /** A bucket grid — `count` ticks of step `span` ending at
    * `lastbucket` — filled by `rule`. A KernelOps built with one packs
    * the SPARSE frame and [[densify]]s each series after the pack
    * shuffle, so the count×series grid rows never exist before it
    * (guide §2.3; w54 at sf0.1: 99k sparse cells shuffled instead of
    * 5.4M grid rows). [[graft.operators.GtsFrame.fill]] builds its grid
    * the same way; a [[Value]] grid carries its sparse origin, which a
    * following kernel packs instead ([[KernelOps.apply]]). */
  final case class GridFill(lastbucket: Long, span: Long, count: Int,
                            rule: FillRule) {
    def tick(i: Int): Long = lastbucket - (count - 1 - i).toLong * span
  }

  /** One series' filled grid from its packed points (sorted by (ts, v),
    * no null values), in tick order: the grid ticks that hold a value,
    * each with its knot's value or the rule's fill.
    *  - Carry rules and [[Trend]]: a present tick keeps its own value,
    *    NaN included; a repeated tick keeps one point per value, in
    *    (ts, v) order. Under [[Value]], a series with no on-grid knot is
    *    `count` fills.
    *  - An [[Interpolator]] reads its knots in (index, v) order; an index
    *    that holds several keeps the last.
    *  - A tick without a value holds no point (the grid's null row,
    *    [[grid]]).
    * Linear evaluates `pv + (nv - pv) * (t - pt) / (nt - pt)` in that op
    * order, tick differences as longs (the g28 oracle replays it).
    * Static so kernel closures capture only the GridFill value. */
  private[kernels] def densify(ticks: Array[Long], vals: Array[Double],
      gf: Option[GridFill]): (Array[Long], Array[Double]) = gf match {
    case None => (ticks, vals)
    case Some(g) =>
      val dt = Array.newBuilder[Long]
      val dv = Array.newBuilder[Double]
      def emit(t: Long, v: Double): Unit = { dt += t; dv += v }
      g.rule match {
        case r: Interpolator =>
          val first = g.tick(0)
          val pts = ticks.indices.map(k => Pt((ticks(k) - first) / g.span, vals(k)))
            .sortBy(p => (p.ts, p.v))(Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering))
          val knots = pts.iterator.map(p => p.ts -> p.v).toMap
          val at = r.at(pts)
          for (i <- 0 until g.count)
            knots.get(i.toLong).orElse(at(i.toLong)).foreach(emit(g.tick(i), _))
        case rule =>
          var gi = 0 // the on-grid knots: one merge against the ascending grid
          val on = ticks.indices.filter { k =>
            while (gi < g.count && g.tick(gi) < ticks(k)) gi += 1
            gi < g.count && g.tick(gi) == ticks(k)
          }
          val (kt, kv) = (on.map(ticks(_)).toArray, on.map(vals(_)).toArray)
          var j = 0 // the first knot at or after tick i; knot j - 1 precedes it
          for (i <- 0 until g.count) {
            val t = g.tick(i)
            if (j < kt.length && kt(j) == t)
              while (j < kt.length && kt(j) == t) { emit(t, kv(j)); j += 1 }
            else rule match {
              case Value(c) => emit(t, c)
              case Previous if j > 0 => emit(t, kv(j - 1))
              case Next if j < kt.length => emit(t, kv(j))
              case Linear if j > 0 && j < kt.length =>
                val (pt, pv, nt, nv) = (kt(j - 1), kv(j - 1), kt(j), kv(j))
                emit(t, pv + (nv - pv) * (t - pt) / (nt - pt))
              case Trend =>
                trend(ticks, vals, if (j > 0) on(j - 1) else -1,
                  if (j < kt.length) on(j) else -1, t).foreach(emit(t, _))
              case _ => // no knot to carry: the tick stays empty
            }
          }
      }
      (dt.result(), dv.result())
  }

  /** [[Trend]] at the empty tick `t`, from the packed points: `p` and `n`
    * index its previous and next on-grid knots (-1 where there is none),
    * and their outer neighbours p - 1 and n + 1 may lie off the grid.
    * Every expression keeps the op order of the SQL the g87 oracle
    * replays, a tick difference converted to double after the long
    * subtraction. */
  private def trend(ticks: Array[Long], vals: Array[Double], p: Int, n: Int,
                    t: Long): Option[Double] = {
    def rate(a: Int, b: Int) = (vals(b) - vals(a)) / (ticks(b) - ticks(a)).toDouble
    val (hasP, hasN) = (p >= 0, n >= 0)
    val (hasPP, hasNN) = (p > 0, hasN && n + 1 < ticks.length)
    val pre0 =
      if (hasPP) Some(rate(p - 1, p))
      else if (hasP && hasN) Some(rate(p, n))
      else if (hasNN) Some(rate(n, n + 1))
      else None
    val post0 =
      if (hasNN) Some(rate(n, n + 1))
      else if (hasP && hasN) Some(rate(p, n))
      else if (hasPP) Some(rate(p - 1, p))
      else None
    for (preRate <- pre0.orElse(post0); postRate <- post0.orElse(pre0)) yield
      if (hasP && hasN) {
        val span = (ticks(n) - ticks(p)).toDouble
        val delta = (t - ticks(p)).toDouble
        val alpha = delta / span
        val projPrev = vals(p) + delta * preRate
        val projNext = vals(n) - (span - delta) * postRate
        alpha * projPrev + (1.0 - alpha) * projNext
      } else if (hasP) vals(p) + preRate * (t - ticks(p)).toDouble
      else vals(n) - postRate * (ticks(n) - t).toDouble
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
}
