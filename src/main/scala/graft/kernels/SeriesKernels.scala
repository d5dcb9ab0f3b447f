package graft.kernels

import org.apache.commons.math3.analysis.interpolation.{AkimaSplineInterpolator, LoessInterpolator, SplineInterpolator}
import org.apache.commons.math3.distribution.TDistribution
import org.apache.commons.math3.complex.Complex
import org.apache.commons.math3.transform.{DftNormalization, FastFourierTransformer, TransformType}

/** Pure sequential per-series algorithms (reference: the analytics
  * kernels of SURVEY.md §2.9 — LTTB fn/LTTB.java, DTW fn/DTW.java,
  * LOWESS fn/LOWESS.java, STL fn/STL.java, outlier tests
  * continuum/gts/GTSOutliersHelper.java:148-639, smoothing
  * fn/SINGLE/DOUBLEEXPONENTIALSMOOTHING.java, SAX script/SAXUtils.java,
  * FFT continuum/gts/FFT.java).
  *
  * These run SEQUENTIALLY WITHIN one series and are parallelized ACROSS
  * series by [[KernelOps]] via flatMapGroups — the same parallelism
  * shape as the reference, which is single-threaded per GTS. All
  * implementations re-derive the public algorithms (commons-math3 for
  * the numerics); no reference code is copied.
  */
object SeriesKernels {

  final case class Pt(ts: Long, v: Double)

  /** LTTB over INTEGER-valued (ts, v) with span-scaled exact Long area
    * arithmetic: the triangle-area argmax per bucket compares
    * |(aTs·span − Σts)·(vk − aV) − (aTs − tsk)·(Σv − aV·span)| — the
    * bucket-average divisions of classic LTTB multiplied through by the
    * (positive) span, which preserves the argmax but keeps every
    * quantity an exact integer. This makes the selected point set
    * REPLAYABLE bit-for-bit by any engine (the g71 oracle re-runs it as
    * a DuckDB recursive CTE); ties pick the earliest point, like the
    * strict `>` of [[lttb]]. Bucket boundaries follow [[lttb]]
    * (`threshold-2` must be a power of two for `every` to stay exact).
    * Callers must pre-quantize ts/v so products stay < 2^63.
    */
  def lttbExact(pts: IndexedSeq[Pt], threshold: Int): IndexedSeq[Pt] = {
    val n = pts.length
    if (threshold >= n || threshold < 3) return pts
    val ts = pts.map(_.ts)
    val vs = pts.map(p => { require(p.v == p.v.toLong, "lttbExact: non-integral v"); p.v.toLong })
    val out = IndexedSeq.newBuilder[Pt]
    out += pts.head
    val every = (n - 2).toDouble / (threshold - 2)
    var a = 0
    var i = 0
    while (i < threshold - 2) {
      val r0 = (i * every).toInt + 1
      val r1 = math.min(((i + 1) * every).toInt + 1, n)
      val n0 = r1
      val n1 = math.min(((i + 2) * every).toInt + 1, n)
      var span = 1L; var sTs = ts(n - 1); var sV = vs(n - 1)
      if (n1 > n0) {
        span = (n1 - n0).toLong; sTs = 0L; sV = 0L
        var j = n0
        while (j < n1) { sTs += ts(j); sV += vs(j); j += 1 }
      }
      var best = -1L; var bestIdx = r0
      var k = r0
      while (k < r1) {
        val area = math.abs(
          (ts(a) * span - sTs) * (vs(k) - vs(a)) -
            (ts(a) - ts(k)) * (sV - vs(a) * span))
        if (area > best) { best = area; bestIdx = k }
        k += 1
      }
      out += pts(bestIdx)
      a = bestIdx
      i += 1
    }
    out += pts(n - 1)
    out.result()
  }

  /** The reference's OWN LTTB arithmetic (GTSHelper.java:12319-12485),
    * re-derived with its quirks intact — it differs from Steinarsson's
    * canonical formulation (and from [[lttbExact]]):
    *  - bucketsize = n/(threshold−1), index ranges
    *    [1+⌊i·bs⌋, 1+⌊(i+1)·bs⌋) with end clamps;
    *  - the lookahead average divides by (last−first+1) although the
    *    sum spans [first, last) — an off-by-one the reference ships;
    *  - the triangle's reference point is ALWAYS the first point
    *    (refidx is initialized to 0 and never reassigned, :12387);
    *  - `timebased` (TLTTB) derives per-series time buckets of width
    *    ⌈(lastTick−firstTick−2)/(threshold−2)⌉, collects non-empty
    *    bucket boundaries, and resets threshold to their count;
    *  - a bucket whose scan selects nothing (clamped-empty range)
    *    contributes no point; GTS with ≤ threshold−2 values return
    *    unchanged; threshold < 3 errors.
    * Ties break to the EARLIEST index (strict `>`), so the argmax is
    * deterministic on exact-integer fixtures. */
  def lttbReference(pts: IndexedSeq[Pt], threshold0: Int,
      timebased: Boolean): IndexedSeq[Pt] = {
    val n = pts.length
    if (n <= threshold0 - 2) return pts
    require(threshold0 >= 3, "Threshold MUST be >= 3.")
    val ticks = pts.map(_.ts)
    val vals = pts.map(_.v)
    val bucketsize = n.toDouble / (threshold0 - 1).toDouble
    var threshold = threshold0
    var buckets: IndexedSeq[Int] = null
    if (timebased) {
      val timebucket = math.ceil(
        (ticks(n - 1) - ticks(0) - 2).toDouble / (threshold0 - 2).toDouble).toLong
      val b = IndexedSeq.newBuilder[Int]
      val lowerts = ticks(0) + 1
      b += 0
      var lastbucket = 0L
      var i = 1
      while (i < n - 1) {
        val bucket = 1 + (ticks(i) - lowerts) / timebucket
        if (bucket != lastbucket) { b += (i - 1); b += i; lastbucket = bucket }
        i += 1
      }
      b += (n - 2); b += (n - 1); b += (n - 1)
      buckets = b.result()
      threshold = buckets.size / 2
    }
    val out = IndexedSeq.newBuilder[Pt]
    out += pts(0)
    val refvalue = vals(0)
    val reftick = ticks(0).toDouble
    var i = 0
    while (i < threshold - 2) {
      // lookahead ("third point") average range
      var first = 0
      var last = 0
      if (timebased) {
        first = buckets(2 * (i + 2))
        last = buckets(2 * (i + 2) + 1) + 1
      } else {
        first = 1 + math.floor((i + 1) * bucketsize).toInt
        last = 1 + math.floor((i + 2) * bucketsize).toInt
        if (first >= n) first = n - 1
        if (last >= n) last = n - 1
      }
      var ticksum = 0.0
      var valuesum = 0.0
      var j = first
      while (j < last) { ticksum += ticks(j); valuesum += vals(j); j += 1 }
      val tickavg = ticksum / (last - first + 1)
      val valueavg = valuesum / (last - first + 1)
      // current bucket scan
      if (timebased) {
        first = buckets(2 * (i + 1))
        last = buckets(2 * (i + 1) + 1) + 1
      } else {
        first = 1 + math.floor(i * bucketsize).toInt
        last = 1 + math.floor((i + 1) * bucketsize).toInt
        if (first >= n - 1) first = n - 2
        if (last >= n - 1) last = n - 1
      }
      var maxarea = -1.0
      var nextref = -1
      var k = first
      while (k < last) {
        val area = 0.5 * math.abs(
          (reftick - tickavg) * (vals(k) - refvalue) -
            (reftick - ticks(k)) * (valueavg - refvalue))
        if (area > maxarea) { maxarea = area; nextref = k }
        k += 1
      }
      if (nextref != -1) out += pts(nextref)
      i += 1
    }
    out += pts(n - 1)
    out.result()
  }

  /** Largest-Triangle-Three-Buckets downsampling to `threshold` points
    * (Steinarsson 2013, the public algorithm behind fn/LTTB.java). */
  def lttb(pts: IndexedSeq[Pt], threshold: Int): IndexedSeq[Pt] = {
    val n = pts.length
    if (threshold >= n || threshold < 3) return pts
    val out = IndexedSeq.newBuilder[Pt]
    out += pts.head
    val every = (n - 2).toDouble / (threshold - 2)
    var a = 0
    var i = 0
    while (i < threshold - 2) {
      val r0 = (i * every).toInt + 1
      val r1 = math.min(((i + 1) * every).toInt + 1, n)
      // average of next bucket (the "third point")
      val n0 = math.min(((i + 1) * every).toInt + 1, n)
      val n1 = math.min(((i + 2) * every).toInt + 1, n)
      var avgTs = 0.0; var avgV = 0.0
      val span = math.max(n1 - n0, 1)
      var j = n0
      while (j < n1) { avgTs += pts(j).ts; avgV += pts(j).v; j += 1 }
      if (n1 > n0) { avgTs /= span; avgV /= span }
      else { avgTs = pts(n - 1).ts; avgV = pts(n - 1).v }
      // pick point in [r0, r1) maximizing triangle area with a and avg
      var best = -1.0; var bestIdx = r0
      var k = r0
      while (k < r1) {
        val area = math.abs(
          (pts(a).ts - avgTs) * (pts(k).v - pts(a).v) -
            (pts(a).ts - pts(k).ts) * (avgV - pts(a).v)) * 0.5
        if (area > best) { best = area; bestIdx = k }
        k += 1
      }
      out += pts(bestIdx)
      a = bestIdx
      i += 1
    }
    out += pts(n - 1)
    out.result()
  }

  /** Single exponential smoothing: s(0)=v(0); s(i)=α·v(i)+(1−α)·s(i−1). */
  def singleExpSmoothing(pts: IndexedSeq[Pt], alpha: Double): IndexedSeq[Pt] = {
    if (pts.isEmpty) return pts
    var s = pts.head.v
    pts.map { p =>
      s = alpha * p.v + (1 - alpha) * s
      Pt(p.ts, s)
    }.updated(0, pts.head)
  }

  /** Holt double exponential smoothing — the reference's exact trace
    * (GTSHelper.doubleExponentialSmoothing:9162-9223): returns the
    * (level, best-estimate) PAIR of series, both starting at tick[1]
    * with s = v[1], b = v[1] − v[0]; from i = 2:
    * s' = α·v + (1−α)(s+b), then b' = β(s'−s) + (1−β)b. The reference
    * rejects series with fewer than two values — the kernel SKIPS them
    * (empty pair), callers with the word contract validate α/β. */
  def doubleExpSmoothing(pts: IndexedSeq[Pt], alpha: Double,
                         beta: Double): (IndexedSeq[Pt], IndexedSeq[Pt]) = {
    if (pts.length < 2) return (IndexedSeq.empty, IndexedSeq.empty)
    val oneminusalpha = 1.0 - alpha
    val oneminusbeta = 1.0 - beta
    var smoothed = pts(1).v
    var bestestimate = smoothed - pts(0).v
    val s = IndexedSeq.newBuilder[Pt]
    val b = IndexedSeq.newBuilder[Pt]
    s += Pt(pts(1).ts, smoothed)
    b += Pt(pts(1).ts, bestestimate)
    var i = 2
    while (i < pts.length) {
      val newsmoothed = alpha * pts(i).v + oneminusalpha * (smoothed + bestestimate)
      bestestimate = beta * (newsmoothed - smoothed) + oneminusbeta * bestestimate
      smoothed = newsmoothed
      s += Pt(pts(i).ts, smoothed)
      b += Pt(pts(i).ts, bestestimate)
      i += 1
    }
    (s.result(), b.result())
  }

  /** FFT magnitude spectrum (radix-2, zero-padded) — commons-math3
    * FastFourierTransformer; returns (frequency index, magnitude). */
  def fftMagnitude(values: Array[Double]): Array[(Int, Double)] = {
    if (values.isEmpty) return Array.empty
    var n = 1
    while (n < values.length) n <<= 1
    val padded = java.util.Arrays.copyOf(values, n)
    val fft = new FastFourierTransformer(DftNormalization.STANDARD)
    val spec: Array[Complex] = fft.transform(padded, TransformType.FORWARD)
    spec.take(n / 2 + 1).zipWithIndex.map { case (c, i) => (i, c.abs()) }
  }

  /** LOWESS smoothing — commons-math3 LoessInterpolator (the same
    * public Cleveland 1979 algorithm behind fn/LOWESS.java). */
  def lowess(pts: IndexedSeq[Pt], bandwidth: Double, iters: Int = 2): IndexedSeq[Pt] = {
    if (pts.length < 3) return pts
    val xs = pts.map(_.ts.toDouble).toArray
    val ys = pts.map(_.v).toArray
    val lo = new LoessInterpolator(math.max(bandwidth, 3.0 / pts.length), iters)
    val sm = lo.smooth(xs, ys)
    pts.indices.map(i => Pt(pts(i).ts, sm(i)))
  }

  /** Classical seasonal decomposition (the moving-average core of STL,
    * fn/STL.java): trend = centered MA over one period, seasonal =
    * per-phase mean of detrended values (normalized to sum 0),
    * residual = v − trend − seasonal. Returns (trend, seasonal, resid)
    * per input point; points without a full MA window get NaN trend.
    */
  def decompose(pts: IndexedSeq[Pt], period: Int): IndexedSeq[(Pt, Double, Double, Double)] = {
    val n = pts.length
    if (n < 2 * period) return pts.map(p => (p, Double.NaN, Double.NaN, Double.NaN))
    val v = pts.map(_.v)
    val half = period / 2
    val trend = Array.fill(n)(Double.NaN)
    var i = half
    while (i < n - half) {
      var s = 0.0
      if (period % 2 == 0) {
        // centered MA: half-weight endpoints
        s = v(i - half) * 0.5 + v(i + half) * 0.5
        var j = i - half + 1
        while (j < i + half) { s += v(j); j += 1 }
        trend(i) = s / period
      } else {
        var j = i - half
        while (j <= i + half) { s += v(j); j += 1 }
        trend(i) = s / period
      }
      i += 1
    }
    val phaseSum = Array.fill(period)(0.0)
    val phaseCnt = Array.fill(period)(0)
    i = 0
    while (i < n) {
      if (!trend(i).isNaN) {
        val ph = i % period
        phaseSum(ph) += v(i) - trend(i)
        phaseCnt(ph) += 1
      }
      i += 1
    }
    val rawSeason = Array.tabulate(period)(p =>
      if (phaseCnt(p) > 0) phaseSum(p) / phaseCnt(p) else 0.0)
    val mean = rawSeason.sum / period
    val season = rawSeason.map(_ - mean)
    pts.indices.map { i =>
      val se = season(i % period)
      val tr = trend(i)
      (pts(i), tr, se, pts(i).v - tr - se)
    }
  }

  /** Z-score test (GTSOutliersHelper zscoretest): flag |z| > threshold;
    * optionally MAD-based (robust) like the reference's modified z-score. */
  def zscoreOutliers(pts: IndexedSeq[Pt], threshold: Double, useMad: Boolean): IndexedSeq[Pt] = {
    if (pts.isEmpty) return IndexedSeq.empty
    val v = pts.map(_.v)
    val n = v.length
    // Bessel-corrected sd via the reference's naive-then-correct form
    // (GTSHelper.musigma bessel=true — madsigma's non-median branch and
    // the median branch's MAD=0 fallback, GTSOutliersHelper:115-134)
    def besselSd: Double = {
      val sum = v.sum; val sumsq = v.map(x => x * x).sum
      val naive = sumsq / n - (sum * sum) / (n.toDouble * n)
      math.sqrt(if (n > 1) naive * n / (n - 1.0) else naive)
    }
    val (m, std) =
      if (useMad) {
        val med = median(v)
        val mad = median(v.map(x => math.abs(x - med)))
        (med, if (mad != 0.0) mad / 0.6745 else besselSd)
      } else (v.sum / n, besselSd)
    if (std == 0.0) return IndexedSeq.empty
    // flag |z| >= d (GTSOutliersHelper.zScoreTest:227-246)
    pts.filter(p => math.abs((p.v - m) / std) >= threshold)
  }

  /** Grubbs' test (GTSOutliersHelper grubbstest): is the most extreme
    * point an outlier at significance `alpha`? Returns it if so. */
  def grubbs(pts: IndexedSeq[Pt], alpha: Double = 0.05): Option[Pt] = {
    val n = pts.length
    if (n < 3) return None
    val v = pts.map(_.v)
    val mu = v.sum / n
    val sd = math.sqrt(v.map(x => (x - mu) * (x - mu)).sum / (n - 1))
    if (sd == 0.0) return None
    val cand = pts.maxBy(p => math.abs(p.v - mu))
    val g = math.abs(cand.v - mu) / sd
    val t = new TDistribution(n - 2)
    val tcrit = t.inverseCumulativeProbability(1 - alpha / (2.0 * n))
    val gcrit = ((n - 1).toDouble / math.sqrt(n)) *
      math.sqrt(tcrit * tcrit / (n - 2 + tcrit * tcrit))
    if (g > gcrit) Some(cand) else None
  }

  /** Generalized ESD (GTSOutliersHelper esdtest): up to k outliers. */
  def esd(pts: IndexedSeq[Pt], k: Int, alpha: Double = 0.05): IndexedSeq[Pt] = {
    var rest = pts
    val removed = IndexedSeq.newBuilder[Pt]
    val found = Array.fill(k)(false)
    val cands = IndexedSeq.newBuilder[Pt]
    var lastSignificant = -1
    var i = 0
    val n0 = pts.length
    while (i < k && rest.length > 2) {
      val n = rest.length
      val v = rest.map(_.v)
      val mu = v.sum / n
      val sd = math.sqrt(v.map(x => (x - mu) * (x - mu)).sum / (n - 1))
      if (sd == 0.0) { i = k }
      else {
        val cand = rest.maxBy(p => math.abs(p.v - mu))
        val r = math.abs(cand.v - mu) / sd
        val t = new TDistribution(n - 2)
        val p = 1 - alpha / (2.0 * n)
        val tcrit = t.inverseCumulativeProbability(p)
        val lambda = ((n - 1).toDouble * tcrit) /
          (math.sqrt(n) * math.sqrt(n - 2 + tcrit * tcrit))
        cands += cand
        if (r > lambda) lastSignificant = i
        rest = rest.filterNot(_ == cand)
        i += 1
      }
    }
    cands.result().take(lastSignificant + 1)
  }

  /** The exact-sum generalized ESD rounds behind StatOps.esdFlag
    * (GTSOutliersHelper.ESDTest:329-415, mean/sd variant): each round
    * removes the max-|N·x − Σx| point (ties: smallest ts, then value)
    * and tests z = (a/n)/√((Σx²−(Σx)²/n)/(n−1)) against `lams(n)`;
    * every removal up to the LAST significant round is flagged.
    * Returns (ts, value, round). */
  def esdRounds(ticks: Array[Long], vals: Array[Double], k: Int,
                lams: Map[Int, Double]): Iterator[(Long, Double, Int)] = {
    val remaining = scala.collection.mutable.ArrayBuffer.tabulate(ticks.length)(
      i => (ticks(i), vals(i)))
    var n = remaining.length.toDouble
    var sx = 0.0; var sxx = 0.0
    remaining.foreach { case (_, v) => sx += v; sxx += v * v }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int, Boolean)]
    var r = 1
    while (r <= k) {
      if (n >= 3 && n * sxx - sx * sx > 0) {
        var bi = -1; var ba = 0.0; var bts = 0L; var bv = 0.0
        var i = 0
        while (i < remaining.length) {
          val (ts, v) = remaining(i)
          val a = math.abs(n * v - sx)
          if (bi < 0 || a > ba || (a == ba &&
              (ts < bts || (ts == bts && v < bv)))) {
            bi = i; ba = a; bts = ts; bv = v
          }
          i += 1
        }
        val z = (ba / n) / math.sqrt((sxx - sx * sx / n) / (n - 1.0))
        out += ((bts, bv, r, z > lams.getOrElse(n.toInt, Double.MaxValue)))
        remaining.remove(bi)
        n -= 1.0; sx -= bv; sxx -= bv * bv
      }
      r += 1
    }
    flaggedPrefix(out)
  }

  /** The median/MAD ESD rounds behind StatOps.esdMadFlag
    * (GTSOutliersHelper.ESDTest useMedian=true): per round med = the
    * exact-interpolation median of the survivors, mad = median of
    * |x − med|, selection key |x − med| (same tie order as
    * [[esdRounds]]), z = |0.6745·(x − med)/mad|; mad == 0 stops the
    * series. Returns (ts, value, round). */
  def esdMadRounds(ticks: Array[Long], vals: Array[Double], k: Int,
                   lams: Map[Int, Double]): Iterator[(Long, Double, Int)] = {
    // exact-interpolation percentile p=0.5 over a SORTED array — the
    // same lower + (higher−lower)·frac form Spark's Percentile uses;
    // exact for integer/dyadic inputs, so bit-identical to the oracle
    def median(sorted: scala.collection.Seq[Double]): Double = {
      val pos = 0.5 * (sorted.length - 1)
      val lo = pos.toInt
      if (lo == pos) sorted(lo)
      else sorted(lo) + (sorted(lo + 1) - sorted(lo)) * (pos - lo)
    }
    val remaining = scala.collection.mutable.ArrayBuffer.tabulate(ticks.length)(
      i => (ticks(i), vals(i)))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int, Boolean)]
    var r = 1
    while (r <= k) {
      val n = remaining.length.toDouble
      if (n >= 3) {
        val med = median(remaining.map(_._2).sorted)
        val mad = median(remaining.map(p => math.abs(p._2 - med)).sorted)
        if (mad > 0) {
          var bi = -1; var ba = 0.0; var bts = 0L; var bv = 0.0
          var i = 0
          while (i < remaining.length) {
            val (ts, v) = remaining(i)
            val a = math.abs(v - med)
            if (bi < 0 || a > ba || (a == ba &&
                (ts < bts || (ts == bts && v < bv)))) {
              bi = i; ba = a; bts = ts; bv = v
            }
            i += 1
          }
          val z = math.abs(0.6745 * (bv - med) / mad)
          out += ((bts, bv, r, z > lams.getOrElse(n.toInt, Double.MaxValue)))
          remaining.remove(bi)
        }
      }
      r += 1
    }
    flaggedPrefix(out)
  }

  /** ESD's retroactive flagging: every round up to the last
    * significant one. */
  private def flaggedPrefix(out: collection.Seq[(Long, Double, Int, Boolean)])
      : Iterator[(Long, Double, Int)] = {
    val last = out.collect { case o if o._4 => o._3 }.maxOption.getOrElse(0)
    out.iterator.filter(_._3 <= last).map(o => (o._1, o._2, o._3))
  }

  /** Dynamic time warping distance (full DP, the public algorithm of
    * fn/DTW.java / script/fastdtw). */
  def dtw(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    if (a.isEmpty || b.isEmpty) return Double.NaN
    val n = a.length; val m = b.length
    var prev = Array.fill(m + 1)(Double.PositiveInfinity)
    var cur = Array.fill(m + 1)(Double.PositiveInfinity)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, Double.PositiveInfinity)
      var j = 1
      while (j <= m) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        cur(j) = cost + math.min(math.min(cur(j - 1), prev(j)), prev(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Sakoe-Chiba banded DTW (fn/OPTDTW.java's window; script/fastdtw's
    * search band): DP cells with |i−j| > w are off-limits, cutting the
    * grid from n·m to n·(2w+1) cells. Requires w ≥ |n−m| for a finite
    * warping path; w ≥ max(n,m) degenerates to the full [[dtw]]. */
  def dtwBanded(a: IndexedSeq[Double], b: IndexedSeq[Double], w: Int): Double = {
    if (a.isEmpty || b.isEmpty) return Double.NaN
    val n = a.length; val m = b.length
    if (w >= math.max(n, m)) return dtw(a, b)
    if (w < math.abs(n - m)) return Double.PositiveInfinity
    var prev = Array.fill(m + 1)(Double.PositiveInfinity)
    var cur = Array.fill(m + 1)(Double.PositiveInfinity)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, Double.PositiveInfinity)
      var j = math.max(1, i - w)
      val jMax = math.min(m, i + w)
      while (j <= jMax) {
        val cost = math.abs(a(i - 1) - b(j - 1))
        cur(j) = cost + math.min(math.min(cur(j - 1), prev(j)), prev(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** SAX letter word (engine-extension twin of StatOps.saxWords —
    * STANDARDIZE's Bessel z per GTSHelper.standardize:8902 + the
    * reference's Acklam bounds via SaxCodec.getBounds): z-normalize,
    * PAA to `wordLen` segments, quantize into an `alphabet`-letter
    * word. */
  def saxWord(values: IndexedSeq[Double], wordLen: Int, alphabet: Int): String = {
    require(alphabet >= 2 && alphabet <= 64)
    if (values.isEmpty) return ""
    val n = values.length
    val mu = values.sum / n
    val varPop = values.map(x => (x - mu) * (x - mu)).sum / n
    val sd = math.sqrt(if (n > 1) varPop * n / (n - 1.0) else varPop)
    val z = if (sd == 0) values.map(_ => 0.0) else values.map(x => (x - mu) / sd)
    val paa = Array.tabulate(wordLen) { w =>
      val from = w * n / wordLen
      val to = math.max((w + 1) * n / wordLen, from + 1)
      z.slice(from, to).sum / (to - from)
    }
    val bps = SaxCodec.getBounds(alphabet)
    paa.map { x =>
      var idx = 0
      while (idx < bps.length && x > bps(idx)) idx += 1
      ('a' + idx).toChar
    }.mkString
  }

  /** Pearson cross-correlation at integer lags (continuum/gts/CORRELATE.java
    * semantics: correlate two aligned value arrays at the given offsets). */
  def correlateAtLags(a: IndexedSeq[Double], b: IndexedSeq[Double],
                      lags: Seq[Int]): Seq[(Int, Double)] = {
    def pearson(x: IndexedSeq[Double], y: IndexedSeq[Double]): Double = {
      val n = math.min(x.length, y.length)
      if (n < 2) return Double.NaN
      val xs = x.take(n); val ys = y.take(n)
      val mx = xs.sum / n; val my = ys.sum / n
      var sxy = 0.0; var sxx = 0.0; var syy = 0.0
      var i = 0
      while (i < n) {
        val dx = xs(i) - mx; val dy = ys(i) - my
        sxy += dx * dy; sxx += dx * dx; syy += dy * dy
        i += 1
      }
      if (sxx == 0 || syy == 0) Double.NaN else sxy / math.sqrt(sxx * syy)
    }
    lags.map { lag =>
      val (x, y) = if (lag >= 0) (a.drop(lag), b) else (a, b.drop(-lag))
      (lag, pearson(x, y))
    }
  }

  /** Natural cubic spline / Akima interpolation of empty buckets
    * (script/filler/FillerSpline, FillerAkima — commons-math3 backs both
    * with the same public splines). */
  def interpolateAt(known: IndexedSeq[Pt], at: Seq[Long], akima: Boolean): Seq[Pt] = {
    val minPts = if (akima) 5 else 3
    if (known.length < minPts) return Seq.empty
    val xs = known.map(_.ts.toDouble).toArray
    val ys = known.map(_.v).toArray
    val f =
      if (akima) new AkimaSplineInterpolator().interpolate(xs, ys)
      else new SplineInterpolator().interpolate(xs, ys)
    val lo = xs.head; val hi = xs.last
    at.filter(t => t >= lo && t <= hi).map(t => Pt(t, f.value(t.toDouble)))
  }

  private def median(v: IndexedSeq[Double]): Double = {
    val s = v.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** DoubleUtils.muvar:23-59, replayed verbatim INCLUDING its quirks:
    * the "shift" selection loop runs while shift is NON-zero (so it
    * lands on the first ZERO value, or the last value when none is
    * zero), and the returned mean adds shift/n instead of shift —
    * both kept because ZDTW normalizes with exactly these numbers. */
  def muvarReference(values: Array[Double]): (Double, Double) = {
    val n = values.length
    var shift = values(0)
    var i = 0
    while (shift != 0.0 && i < n) { shift = values(i); i += 1 }
    var sum = 0.0
    var sumsq = 0.0
    i = 0
    while (i < n) {
      val term = values(i) - shift
      sum += term
      sumsq += term * term
      i += 1
    }
    val mean = sum / n
    val varr = (sumsq / n) - (mean * mean)
    (mean + (shift / n), varr)
  }

  /** DoubleUtils.musigma — muvar + optional Bessel, then sqrt. */
  def musigmaReference(values: Array[Double], bessel: Boolean): (Double, Double) = {
    val (mu, v0) = muvarReference(values)
    val n = values.length
    val v = if (bessel && n > 1) v0 * n / (n - 1) else v0
    (mu, math.sqrt(v))
  }

  /** fn/DTW.java compute:371-505 — the reference's windowed DTW DP on
    * 1-dimensional value sequences, replayed verbatim: values1 swapped
    * to the shorter side, the Sakoe window clamped to
    * [len2−len1, len2−1], the left/bottom window-edge validity rules,
    * and the threshold early-exit returning −1. `dist` is manhattan,
    * euclidean or squaredeuclidean (the geo distances need locations,
    * which this path does not carry). */
  def dtwReference(v1in: Array[Double], v2in: Array[Double], window0: Int,
                   threshold: Double, dist: String): Double = {
    var v1 = v1in
    var v2 = v2in
    if (v1.length > v2.length) { val t = v1; v1 = v2; v2 = t }
    val len1 = v1.length
    val len2 = v2.length
    val measure: (Double, Double) => Double = dist match {
      case "manhattan" => (a, b) => math.abs(a - b)
      case "euclidean" => (a, b) => math.sqrt((a - b) * (a - b))
      case "squaredeuclidean" => (a, b) => (a - b) * (a - b)
      case d => throw new IllegalArgumentException(
        s"DTW distance '$d' needs locations — not carried on this path")
    }
    val window = math.max(math.min(window0, len2 - 1), len2 - len1)
    var a = new Array[Double](len1)
    var b = new Array[Double](len1)
    // the reference declares this ONCE and never resets it per column
    // (fn/DTW.java:429) — once any cell dips below the threshold the
    // column early-exit can never fire again; kept verbatim
    var belowThreshold = false
    var i = 0
    while (i < len2) {
      val maxWindow =
        try math.addExact(i + 1, window)
        catch { case _: ArithmeticException => Int.MaxValue }
      var j = math.max(0, i - window)
      val jEnd = math.min(len1, maxWindow)
      while (j < jEnd) {
        val bestPrev =
          if (i == 0 && j == 0) 0.0
          else {
            val left = if (i > 0 && (i + window) != j) a(j) else Double.PositiveInfinity
            val bottom = if (j > 0 && (i - window) != j) b(j - 1) else Double.PositiveInfinity
            val bottomLeft = if (j > 0) a(j - 1) else Double.PositiveInfinity
            math.min(left, math.min(bottom, bottomLeft))
          }
        if (threshold >= bestPrev) {
          b(j) = measure(v1(j), v2(i)) + bestPrev
          if (!belowThreshold && b(j) <= threshold) belowThreshold = true
        } else b(j) = Double.PositiveInfinity
        j += 1
      }
      if (!belowThreshold) return -1.0
      val tmp = a; a = b; b = tmp
      i += 1
    }
    if (a(len1 - 1) <= threshold) a(len1 - 1) else -1.0
  }

  /** The bSAX word of the `windowLen` points starting at index `start`
    * — GTSHelper.bSAX's per-window body (GTSHelper.java:9027-9085):
    * PAA segment sums → means, optional standardization of the MEANS
    * with Bessel's correction over `wordLen` (sigma == 0 ⇒ subtract
    * the mean only), SaxCodec quantization + bit-interleave + OPB64. */
  private def bsaxWordAt(values: IndexedSeq[Double], start: Int,
                         windowLen: Int, wordLen: Int, levels: Int,
                         standardizePAA: Boolean): String = {
    val paaLen = windowLen / wordLen
    val means = new Array[Double](wordLen)
    var sum = 0.0; var sumsq = 0.0
    var w = 0
    while (w < wordLen) {
      var s = 0.0
      var k = 0
      while (k < paaLen) { s += values(start + w * paaLen + k); k += 1 }
      val mean = s / paaLen
      means(w) = mean
      sum += mean; sumsq += mean * mean
      w += 1
    }
    val symbols = new Array[Int](wordLen)
    if (standardizePAA) {
      val mu = sum / wordLen
      var variance = sumsq / wordLen - (sum * sum) / (wordLen.toDouble * wordLen)
      if (wordLen > 1) variance = variance * wordLen / (wordLen - 1.0)
      val sigma = math.sqrt(variance)
      var i = 0
      while (i < wordLen) {
        val z = if (sigma != 0.0) (means(i) - mu) / sigma else means(i) - mu
        symbols(i) = SaxCodec.sax(levels, z)
        i += 1
      }
    } else {
      var i = 0
      while (i < wordLen) { symbols(i) = SaxCodec.sax(levels, means(i)); i += 1 }
    }
    SaxCodec.bsaxWord(levels, symbols)
  }

  /** DISCORDS / ZDISCORDS (continuum/gts/DISCORDS.java:158-516) — the
    * reference's HOTSAX-style discord search, replayed decision for
    * decision. Per series, in RAM, like every sequential kernel here
    * (the reference's own shape; parallelism is across series).
    *
    * Faithfully kept quirks: the "symbols after the current one"
    * neighbour scan is DEAD CODE in the reference (DISCORDS.java:373
    * initializes idx2 = rawSymbols.length + 1, so the while(idx2 <
    * rawSymbols.length) loop never runs) — candidates whose symbol has
    * no same-or-earlier-symbol neighbour keep nndist = +∞; the
    * overlap sweep double-decrements after a removal (skipping one
    * comparison, DISCORDS.java:445-451); candidate re-sort/trim runs
    * after EVERY insertion. One divergence: the reference's distRatio
    * purge (DISCORDS.java:464-471) loops forever when the tail
    * candidate fails the ratio test — we break instead of hanging.
    *
    * Returns the deduplicated union of the discord windows' points
    * (GTSHelper.dedup of windowLen points per discord).
    */
  def discords(pts: IndexedSeq[Pt], windowLen: Int, wordLen: Int,
               alphabetSize: Int, count: Int, mayOverlap: Boolean,
               distRatio: Double, standardizePAA: Boolean): IndexedSeq[Pt] = {
    val levels = SaxCodec.levelsOf(alphabetSize)
    require(wordLen >= 1 && windowLen % wordLen == 0,
      "expects pattern length to divide detection window length")
    val n = pts.length
    if (n < windowLen || count <= 0) return IndexedSeq.empty
    val values = pts.map(_.v)

    // word at every window start; location lists in lexicographic word
    // order (the reference's TreeMap), then occurrence-sorted (stable,
    // so ties stay lexicographic — Collections.sort on the keySet copy)
    val wordAt = Array.tabulate(n - windowLen + 1)(i =>
      bsaxWordAt(values, i, windowLen, wordLen, levels, standardizePAA))
    val locations: Map[String, Array[Int]] =
      wordAt.zipWithIndex.groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap
    val rawSymbols = locations.keys.toArray.sorted
    val byOccurrence = rawSymbols.sortBy(s => locations(s).length)

    final case class Candidate(symbol: String, location: Int, nndist: Double)
    val found = scala.collection.mutable.ArrayBuffer[Candidate]()
    var worstNNDist = 0.0

    def windowDist(i: Int, j: Int): Double = {
      var d = 0.0
      var k = 0
      while (k < windowLen) {
        d += math.pow(values(i + k) - values(j + k), 2.0)
        k += 1
      }
      d
    }

    var si = 0
    var done = false
    while (si < byOccurrence.length && !done) {
      val symbol = byOccurrence(si)
      val symbolLocations = locations(symbol)
      if (found.size >= count && symbolLocations.length > count + windowLen) {
        done = true
      } else {
        var i = 0
        while (i < symbolLocations.length) {
          var nndist = Double.PositiveInfinity
          var skip = false
          // nearest same-symbol neighbour outside the window
          var j = 0
          var innerBreak = false
          while (j < symbolLocations.length && !innerBreak) {
            if (math.abs(symbolLocations(i) - symbolLocations(j)) >= windowLen) {
              val dist = windowDist(symbolLocations(i), symbolLocations(j))
              if (dist < nndist) nndist = dist
              if (found.size == count && nndist < worstNNDist) innerBreak = true
            }
            j += 1
          }
          if (found.size == count && nndist < worstNNDist) skip = true
          if (!skip) {
            // neighbours under lexicographically-PRECEDING symbols, one
            // symbol at a time until any finite distance is known
            var idx2 = java.util.Arrays.binarySearch(
              rawSymbols.asInstanceOf[Array[AnyRef]], symbol) - 1
            var outerBreak = false
            while (idx2 >= 0 && !outerBreak) {
              val locs2 = locations(rawSymbols(idx2))
              var j2 = 0
              var brk = false
              while (j2 < locs2.length && !brk) {
                if (math.abs(symbolLocations(i) - locs2(j2)) >= windowLen) {
                  val dist = windowDist(symbolLocations(i), locs2(j2))
                  if (dist < nndist) nndist = dist
                  if (found.size == count && nndist < worstNNDist) brk = true
                }
                j2 += 1
              }
              if (!nndist.isPosInfinity) outerBreak = true
              idx2 -= 1
            }
            // (the reference's following-symbols scan never executes —
            // see the Scaladoc)
            if (!(found.size == count && nndist < worstNNDist)) {
              found += Candidate(symbol, symbolLocations(i), nndist)
              // re-sort by decreasing nndist after every insertion
              // (signum comparator: stable on exact ties)
              val sorted = found.sortBy(c => -c.nndist)
              found.clear(); found ++= sorted
              if (!mayOverlap) {
                var h = found.size - 1
                while (h > 0) {
                  if (math.abs(found(h).location - found(h - 1).location) < windowLen) {
                    found.remove(h)
                    h -= 1 // the reference's double decrement
                  }
                  h -= 1
                }
              }
              while (found.size > count) found.remove(count)
              if (distRatio != 0.0) {
                var brk2 = false
                while (found.size > 1 && !brk2) {
                  if (found.last.nndist * distRatio < found.head.nndist)
                    found.remove(found.size - 1)
                  else brk2 = true // reference spins forever here
                }
              }
              worstNNDist = found.last.nndist
            }
          }
          i += 1
        }
      }
      si += 1
    }

    // union of discord windows, one point per tick (GTSHelper.dedup)
    val seen = scala.collection.mutable.LinkedHashMap[Long, Pt]()
    for (c <- found; k <- 0 until windowLen) {
      val p = pts(c.location + k)
      if (!seen.contains(p.ts)) seen(p.ts) = p
    }
    seen.values.toIndexedSeq
  }
}
