package graft.kernels

/** The reference's LOWESS/STL engine, replayed decision for decision
  * (GTSHelper.java — pointwise_lowess:10573-10771, rlowess:10795-11218,
  * lowess_stl:11233-11331, subCycleSerie:2127-2176, stl:11357-11765).
  *
  * Everything here is per-series sequential by nature (robustness
  * iterations mutate shared state; the d-skipping walk interpolates
  * between estimates), so it runs inside flatMapGroups kernels — the
  * reference's own parallelism shape. The small mutable [[Sgts]] stands
  * in for GeoTimeSerie's (ticks, doubleValues, values, bucket
  * parameters) quintuple; only DOUBLE values exist on this path.
  */
object StlKernel {

  /** Minimal mutable stand-in for a (possibly bucketized) double GTS. */
  final class Sgts(
      var ticks: Array[Long],
      var vals: Array[Double],
      var values: Int,
      var lastbucket: Long,
      var bucketspan: Long,
      var bucketcount: Int,
      var sorted: Boolean = true) {

    /** Length of the sorted prefix of an UNSORTED body (r13): the
      * only operation that ever unsorts a body is setValue's APPEND,
      * so an unsorted body is always "sorted prefix + appended tail".
      * Probes binary-search the prefix and scan only the tail —
      * setValue's former full-body linear fallback made every
      * lowess_stl write O(values), i.e. O(n²) per smoothing pass
      * (2.5 ms/series on the w54 fixture, the kernel stage's
      * dominant cost). Maintained in setValue; meaningless while
      * `sorted` is true. */
    var sortedPrefix: Int = 0

    def bucketized: Boolean = bucketspan > 0 && bucketcount > 0
  }

  /** An Sgts over point arrays, optionally with BUCKETIZE metadata —
    * the kernel-closure constructor (static so flatMapGroups closures
    * capture no host object). */
  def ofPoints(ticks: Array[Long], vals: Array[Double],
               bucket: Option[(Long, Long, Long)]): Sgts = bucket match {
    case Some((lastbucket, span, count)) =>
      new Sgts(ticks, vals, ticks.length, lastbucket, span, count.toInt)
    case None =>
      new Sgts(ticks, vals, ticks.length, 0L, 0L, 0)
  }

  private def sortByTick(g: Sgts): Unit = {
    if (!g.sorted) {
      // the kernel's dominant mutation pattern is "sorted body + a few
      // extension appends" (lowess_stl appends ~2 ticks per cycle,
      // then the next subCycleSerie re-sorts): binary-insert a small
      // unsorted tail in place instead of the generic boxed sortBy —
      // the 48 full sorts per w54 series were the kernel's hot spot
      var p = 1
      while (p < g.values && g.ticks(p - 1) <= g.ticks(p)) p += 1
      if (p < g.values && g.values - p <= 64) {
        var i = p
        while (i < g.values) {
          val t = g.ticks(i); val v = g.vals(i)
          // stable upper bound: first slot in [0, i) with tick > t
          var lo = 0; var hi = i
          while (lo < hi) {
            val m = (lo + hi) >>> 1
            if (g.ticks(m) <= t) lo = m + 1 else hi = m
          }
          System.arraycopy(g.ticks, lo, g.ticks, lo + 1, i - lo)
          System.arraycopy(g.vals, lo, g.vals, lo + 1, i - lo)
          g.ticks(lo) = t; g.vals(lo) = v
          i += 1
        }
      } else if (p < g.values) {
        val idx = (0 until g.values).sortBy(g.ticks(_))
        val t = idx.map(g.ticks(_)).toArray
        val v = idx.map(g.vals(_)).toArray
        System.arraycopy(t, 0, g.ticks, 0, g.values)
        System.arraycopy(v, 0, g.vals, 0, g.values)
      }
      g.sorted = true
    }
  }

  /** Advancing cursor over a sorted body for ASCENDING tick probes:
    * each `valueAt` tick must be >= the previous call's — replaces a
    * binary search per probe with one forward walk (value-identical
    * lookups; the STL step-3/4 probe streams are ascending grids). */
  private final class AscProbe(g: Sgts) {
    private var i = 0
    def valueAt(tick: Long): Option[Double] = {
      while (i < g.values && g.ticks(i) < tick) i += 1
      if (i < g.values && g.ticks(i) == tick) Some(g.vals(i)) else None
    }
  }

  /** Probe an UNSORTED body: binary search over the sorted prefix,
    * linear scan over the (small) appended tail. NOTE: on duplicate
    * ticks, binarySearch returns an ARBITRARY matching index, unlike
    * the reference's linear scan (first match). Safe on the current
    * call paths only because their bodies are duplicate-free —
    * setValue never appends an existing tick and rlowess rejects
    * duplicate ticks; a new caller with duplicate ticks would silently
    * diverge from the reference here. */
  private def probeUnsorted(g: Sgts, tick: Long): Int = {
    val p = math.min(g.sortedPrefix, g.values)
    val i0 = if (p > 0) binarySearch(g.ticks, 0, p, tick) else -1
    if (i0 >= 0) i0
    else {
      var j = p
      var found = -1
      while (j < g.values && found < 0) {
        if (g.ticks(j) == tick) found = j
        j += 1
      }
      found
    }
  }

  /** Bucket ticks (ascending unless reversed) for a bucketized series,
    * point ticks otherwise — GTSHelper.tickIterator:532-592. */
  private def tickSeq(g: Sgts, reversed: Boolean): Iterator[Long] =
    if (g.bucketized) {
      val n = g.bucketcount
      val it = (0 until n).iterator.map { i =>
        val bucket = if (reversed) i else n - 1 - i
        g.lastbucket - bucket * g.bucketspan
      }
      it
    } else {
      sortByTick(g)
      if (reversed) (g.values - 1 to 0 by -1).iterator.map(g.ticks(_))
      else (0 until g.values).iterator.map(g.ticks(_))
    }

  private def binarySearch(ticks: Array[Long], from: Int, to: Int, key: Long): Int =
    java.util.Arrays.binarySearch(ticks, from, to, key)

  private def valueAtTick(g: Sgts, tick: Long): Option[Double] = {
    if (g.sorted) {
      val i = binarySearch(g.ticks, 0, g.values, tick)
      if (i >= 0) Some(g.vals(i)) else None
    } else {
      // prefix-probe instead of force-sorting the body per lookup
      // (lowess_stl's interpolation loop probes once per skipped
      // bucket on jump>0 paths)
      val i = probeUnsorted(g, tick)
      if (i >= 0) Some(g.vals(i)) else None
    }
  }

  /** GTSHelper.setValue(…, overwrite): overwrite an existing tick's
    * value or append (appending clears the sorted flag). Like the
    * reference, an unsorted body is probed LINEARLY instead of
    * re-sorting on every write — lowess_stl's per-tick writes after
    * the first extension append would otherwise sort the whole body
    * per call (measured 60 s → ~2 s on the w54 fixture). */
  private def setValue(g: Sgts, tick: Long, v: Double): Unit = {
    val i =
      if (g.sorted) binarySearch(g.ticks, 0, g.values, tick)
      else probeUnsorted(g, tick)
    if (i >= 0) g.vals(i) = v
    else {
      if (g.values == g.ticks.length) {
        val n = math.max(8, g.ticks.length + (g.ticks.length >> 1))
        g.ticks = java.util.Arrays.copyOf(g.ticks, n)
        g.vals = java.util.Arrays.copyOf(g.vals, n)
      }
      // the first append on a sorted body starts the appended tail —
      // everything before this slot stays binary-searchable
      if (g.sorted) g.sortedPrefix = g.values
      g.ticks(g.values) = tick
      g.vals(g.values) = v
      g.values += 1
      g.sorted = false
    }
  }

  /** GTSHelper.pointwise_lowess:10573-10771 — weighted local
    * polynomial fit at `tick` over the q nearest points. Degree 1 uses
    * the closed form; degree ≥ 2 the same commons-math
    * PolynomialCurveFitter the reference uses. */
  def pointwiseLowess(g: Sgts, idx0: Int, tick: Long, q: Int, p: Int,
                      rho: Array[Double], reversed: Boolean): Double = {
    var i = if (reversed) idx0 + 1 else idx0
    var j = (if (reversed) idx0 + 1 else idx0) - 1

    var count = 0
    var exhausted = false
    while (count < q && !exhausted) {
      val idist = if (i < g.values) math.abs(g.ticks(i) - tick) else Long.MaxValue
      val jdist = if (j >= 0) math.abs(g.ticks(j) - tick) else Long.MaxValue
      if (idist == Long.MaxValue && jdist == Long.MaxValue) exhausted = true
      else {
        if (idist < jdist) i += 1 else j -= 1
        count += 1
      }
    }

    // the q nearest are indices (j, i) exclusive
    var maxdist = math.max(
      if (j < -1) 0.0 else math.abs(g.ticks(j + 1) - tick).toDouble,
      if (i <= 0) 0.0 else math.abs(g.ticks(i - 1) - tick).toDouble)
    if (q > g.values) maxdist = (maxdist * q) / g.values

    val weights = new Array[Double](math.max(i - j - 1, 1))
    var widx = 0
    var wsum = 0.0
    var k = j + 1
    while (k < i) {
      if (maxdist == 0.0) weights(widx) = 1.0
      else {
        val u = math.abs(g.ticks(k) - tick) / maxdist
        if (u >= 1.0) weights(widx) = 0.0
        else {
          weights(widx) = 1.0 - u * u * u
          // a zero robustness weight is floored so an all-zero rho set
          // still regresses (GTSHelper.java:10668-10673)
          val rho_ = if (rho != null) { if (rho(k) != 0.0) rho(k) else 0.000001 } else 1.0
          weights(widx) = rho_ * weights(widx) * weights(widx) * weights(widx)
        }
      }
      wsum += weights(widx)
      widx += 1
      k += 1
    }

    val beta: Array[Double] =
      if (p == 1) {
        // weighted centroids, covariance, variance — term for term
        var ctick = 0.0; var cvalue = 0.0
        widx = 0; k = j + 1
        while (k < i) {
          ctick = ctick + weights(widx) * g.ticks(k)
          cvalue = cvalue + weights(widx) * g.vals(k)
          widx += 1; k += 1
        }
        ctick = ctick / wsum
        cvalue = cvalue / wsum
        var covar = 0.0; var varr = 0.0
        widx = 0; k = j + 1
        while (k < i) {
          covar = covar + weights(widx) * (g.ticks(k) - ctick) * (g.vals(k) - cvalue)
          varr = varr + weights(widx) * (g.ticks(k) - ctick) * (g.ticks(k) - ctick)
          widx += 1; k += 1
        }
        covar = covar / wsum
        varr = varr / wsum
        val b1 = if (varr == 0.0) 0.0 else covar / varr
        Array(cvalue - ctick * b1, b1)
      } else {
        val obs = new java.util.ArrayList[org.apache.commons.math3.fitting.WeightedObservedPoint]()
        widx = 0; k = j + 1
        while (k < i) {
          obs.add(new org.apache.commons.math3.fitting.WeightedObservedPoint(
            weights(widx), g.ticks(k).toDouble, g.vals(k)))
          widx += 1; k += 1
        }
        org.apache.commons.math3.fitting.PolynomialCurveFitter.create(p).fit(obs)
      }

    var estimated = beta(0)
    var tmp = 1.0
    var u = 1
    while (u < p + 1) {
      tmp *= tick
      estimated += tmp * beta(u)
      u += 1
    }
    estimated
  }

  /** GTSHelper.rlowess:10795-11218 — robust locally weighted regression
    * with the reference's d-skipping walk (estimate a point, linearly
    * interpolate skipped neighbours closer than `d`), `r` bisquare
    * robustifying iterations, and output at every bucket tick of a
    * bucketized input. `inplace` mutates and returns `g` like the
    * reference (the STL loops depend on the aliasing). */
  def rlowess(g: Sgts, q: Int, r: Int, d: Long, p: Int,
              rho0: Array[Double] = null, inplace: Boolean = false): Sgts = {
    require(q >= 1, "Bandwidth parameter must be greater than 0")
    require(r >= 0, "Robustness parameter must be greater or equal to 0")
    require(d >= 0, "Delta parameter must be greater or equal to 0")
    require(p >= 1 && p <= 9,
      "Degree of polynomial fit must be in [1, 9]")
    sortByTick(g)
    var prev = Long.MinValue
    var t = 0
    while (t < g.values) {
      require(g.ticks(t) != prev, "Can't be applied on GTS with duplicate ticks")
      prev = g.ticks(t); t += 1
    }

    val size = if (g.bucketized) g.bucketcount else g.values
    // capacity slack mirrors the reference's sizehint (max(sizehint,
    // 1.1·size)) — the STL loops keep writing past `size` into the
    // returned body on the next iteration
    val cap = math.max(math.max(g.ticks.length, math.round(1.1f * size)), 1)
    val smoothed = new Array[Double](cap)
    val nvalues = math.min(q, size)

    val rho = if (rho0 != null) rho0 else null
    val residual = if (r > 0) new Array[Double](g.values) else null
    // rho actually used across robustness iterations
    var rhoCur: Array[Double] = rho

    var rIter = 0
    while (rIter < r + 1) {
      val iter = tickSeq(g, reversed = false)
      val iterFollower = if (d == 0L) null else tickSeq(g, reversed = false)

      var idx = 0
      var ridx = 0
      var ridxLast = 0
      var last = -d - 1
      var idxLast = 0
      var lastSkipped = 0L
      var skip = false
      var resolved = false
      var tick = 0L

      while (iter.hasNext || resolved) {
        if (!resolved) tick = iter.next() else resolved = false

        if (iter.hasNext && tick - last <= d) {
          lastSkipped = tick
          skip = true
          ridx += 1
        } else if (!skip) {
          while (idx < g.values - 1 && tick > g.ticks(idx)) idx += 1
          smoothed(ridx) = pointwiseLowess(g, idx, tick, nvalues, p, rhoCur,
            reversed = false)
          if (rIter < r && tick == g.ticks(idx))
            residual(idx) = math.abs(g.vals(idx) - smoothed(ridx))
          if (iterFollower != null) {
            iterFollower.next()
            last = tick
            idxLast = idx
            ridxLast = ridx
          }
          ridx += 1
        } else {
          if (!iter.hasNext && tick - last <= d) {
            lastSkipped = tick
            ridx += 1
          }
          while (idx < g.values - 1 && lastSkipped > g.ticks(idx)) idx += 1
          smoothed(ridx - 1) = pointwiseLowess(g, idx, lastSkipped, nvalues, p,
            rhoCur, reversed = false)
          if (rIter < r && lastSkipped == g.ticks(idx))
            residual(idx) = math.abs(g.vals(idx) - smoothed(ridx - 1))

          // linear interpolation of the skipped ticks
          val denom = (lastSkipped - last).toDouble
          var skipped = iterFollower.next()
          var ridxS = ridxLast + 1
          while (lastSkipped > skipped) {
            val alpha = (skipped - last) / denom
            smoothed(ridxS) = alpha * smoothed(ridx - 1) + (1 - alpha) * smoothed(ridxLast)
            if (rIter < r) {
              val sidx = binarySearch(g.ticks, idxLast, idx, skipped)
              // the reference excludes an index-0 hit (0 < sidx)
              if (sidx > 0)
                residual(sidx) = math.abs(g.vals(sidx) - smoothed(ridxS))
            }
            skipped = iterFollower.next()
            ridxS += 1
          }

          if (iter.hasNext || tick - last > d) {
            skip = false
            resolved = true
            last = lastSkipped
            idxLast = idx
            ridxLast = ridx - 1
          }
        }
      }

      if (rIter < r) {
        val sorted = java.util.Arrays.copyOf(residual, g.values)
        java.util.Arrays.sort(sorted)
        val median =
          if (g.values % 2 == 0) (sorted(g.values / 2) + sorted(g.values / 2 - 1)) / 2
          else sorted(g.values / 2)
        val h = 6 * median
        if (rhoCur == null || (rhoCur eq rho0)) rhoCur = new Array[Double](g.values)
        var k = 0
        while (k < g.values) {
          if (h == 0.0) rhoCur(k) = 1.0
          else {
            val u = residual(k) / h
            if (u >= 1.0) rhoCur(k) = 0.0
            else {
              rhoCur(k) = 1.0 - u * u
              rhoCur(k) = rhoCur(k) * rhoCur(k)
            }
          }
          k += 1
        }
      }
      rIter += 1
    }

    // output assembly: grid ticks for a bucketized input, point ticks
    // otherwise (GTSHelper.java:11075-11218; locations/elevations do
    // not exist on this path)
    val outTicks: Array[Long] = {
      val t =
        if (!g.bucketized) java.util.Arrays.copyOf(g.ticks, cap)
        else java.util.Arrays.copyOf(tickSeq(g, reversed = false).toArray, cap)
      t
    }
    if (inplace) {
      g.ticks = outTicks
      g.vals = smoothed
      g.values = size
      g.sorted = true
      g
    } else {
      new Sgts(outTicks, smoothed, size, g.lastbucket, g.bucketspan, g.bucketcount)
    }
  }

  /** GTSHelper.subCycleSerie:2127-2176 — the cycle-subseries of a
    * bucketized GTS: every bpp-th bucket ending at `lastbucket`. */
  def subCycleSerie(g: Sgts, lastbucket: Long, bpp: Int): Sgts = {
    require(g.bucketized, "GTS must be bucketized")
    require((g.lastbucket - lastbucket) % g.bucketspan == 0,
      "lastbucket parameter of subCycleSerie method must fall on an actual bucket of the gts input")
    val sub = new Sgts(
      new Array[Long](math.max(g.bucketcount / bpp + 2, 4)),
      new Array[Double](math.max(g.bucketcount / bpp + 2, 4)),
      0, lastbucket,
      g.bucketspan * bpp,
      (g.bucketcount - ((g.lastbucket - lastbucket) / g.bucketspan).toInt - 1) / bpp + 1)
    if (g.values == 0) return sub
    sortByTick(g)
    var i = g.values
    val it = tickSeq(sub, reversed = true)
    while (it.hasNext) {
      val tick = it.next()
      val j = binarySearch(g.ticks, 0, i, tick)
      if (j >= 0) {
        setValue(sub, tick, g.vals(j))
        i = j
      }
    }
    sub
  }

  /** GTSHelper.lowess_stl:11233-11331 — smooth `from` at every one of
    * its bucket ticks (skipping `jump` buckets, interpolated after) and
    * write the estimates INTO `to`. neighbours < 0 degrades to the
    * plain mean (musigma bessel=false). */
  def lowessStl(from: Sgts, to: Sgts, neighbours: Int, degree: Int,
                jump: Int, rho: Array[Double]): Unit = {
    require(from.bucketized, "lowess_stl method works with bucketized gts only")
    require(from ne to, "fromGTS and toGTS can't be the same object")
    sortByTick(from)

    if (neighbours < 0) {
      var sum = 0.0
      var i = 0
      while (i < from.values) { sum += from.vals(i); i += 1 }
      val mean = sum / from.values
      var j = 0
      while (j < from.bucketcount) {
        setValue(to, from.lastbucket - j * from.bucketspan, mean)
        j += 1
      }
    } else {
      var idx = from.values - 1
      val rest = (from.bucketcount - 1) % (jump + 1)
      var j = 0
      while (j <= (from.bucketcount - 1) / (jump + 1)) {
        val tick = from.lastbucket - (j * (jump + 1) + rest) * from.bucketspan
        while (idx > -1 && tick < from.ticks(idx)) idx -= 1
        val estimated = pointwiseLowess(from, idx, tick, neighbours, degree,
          rho, reversed = true)
        setValue(to, tick, estimated)
        j += 1
      }
      // interpolate the skipped buckets
      j = 0
      while (j < (from.bucketcount - 1) / (jump + 1)) {
        val right = j * (jump + 1) + rest
        val left = (j + 1) * (jump + 1) + rest
        val denom = (left - right).toDouble
        val righttick = from.lastbucket - right * from.bucketspan
        val lefttick = from.lastbucket - left * from.bucketspan
        var r = 1
        while (r < jump + 1) {
          val middle = r + j * (jump + 1) + rest
          val tick = from.lastbucket - middle * from.bucketspan
          val alpha = (middle - right) / denom
          val interpolated = alpha * valueAtTick(to, lefttick).get +
            (1 - alpha) * valueAtTick(to, righttick).get
          setValue(to, tick, interpolated)
          r += 1
        }
        j += 1
      }
      // the most recent point, in case it was jumped
      if (rest != 0) {
        idx = from.values - 1
        while (idx > -1 && from.lastbucket < from.ticks(idx)) idx -= 1
        val estimated = pointwiseLowess(from, idx, from.lastbucket, neighbours,
          degree, rho, reversed = true)
        setValue(to, from.lastbucket, estimated)
        val left = rest
        val denom = left.toDouble
        val lefttick = from.lastbucket - left * from.bucketspan
        var r = 1
        while (r < rest) {
          val tick = from.lastbucket - r * from.bucketspan
          val alpha = r / denom
          val interpolated = alpha * valueAtTick(to, lefttick).get +
            (1 - alpha) * estimated
          setValue(to, tick, interpolated)
          r += 1
        }
      }
    }
  }

  /** GTSHelper.stl:11357-11765 — the full Seasonal-Trend decomposition
    * based on LOWESS (Cleveland et al. 1990), with the reference's own
    * inner/outer loops, cycle-subseries extension, triple moving
    * average, rho robustification and post smoothing. Returns
    * (seasonal, trend), both on the input's bucket grid. */
  def stl(g: Sgts, bpp: Int, inner: Int, outer: Int,
          ns: Int, ds: Int, js: Int,
          nl: Int, dl: Int, jl: Int,
          nt: Int, dt: Int, jt: Int,
          np: Int, dp: Int, jp: Int): (Sgts, Sgts) = {
    require(g.bucketized, "Can only be applied on bucketized Geo Time Series")
    sortByTick(g)

    val nonnull = g.values
    val size = g.bucketcount
    require(size - nonnull <= 500000, "More than 500000 missing values")

    val sizehint = size + 2 * bpp
    val seasonal = new Sgts(java.util.Arrays.copyOf(g.ticks, sizehint),
      new Array[Double](sizehint), nonnull, g.lastbucket, g.bucketspan, size)
    val trend = new Sgts(java.util.Arrays.copyOf(g.ticks, sizehint),
      new Array[Double](sizehint), nonnull, g.lastbucket, g.bucketspan, size)

    // rho / residual share storage like the reference
    val rho = Array.fill(nonnull)(1.0)
    val residual = rho

    var lowpassed = trend // borrows trend's body in step 3

    var s = 0
    while (s < outer + 1) {
      var k = 0
      while (k < inner) {
        // Step 1: detrending (first pass subtracts the zero trend)
        var idxT = 0
        var idx = 0
        while (idx < nonnull) {
          idxT = binarySearch(trend.ticks, idxT, trend.values, g.ticks(idx))
          seasonal.vals(idx) = g.vals(idx) - trend.vals(idxT)
          idx += 1
        }
        seasonal.values = nonnull
        seasonal.sorted = true

        // Step 2: cycle-subseries smoothing, extended one period both ways
        var c = 0
        while (c < bpp) {
          val sub = subCycleSerie(seasonal, seasonal.lastbucket - c * seasonal.bucketspan, bpp)
          sub.lastbucket += sub.bucketspan
          sub.bucketcount += 2
          val subRho: Array[Double] =
            if (s > 0) {
              // rho values at the cycle ticks (the reference swaps the
              // value body of `seasonal` for rho and re-extracts)
              val tmpVals = seasonal.vals
              val tmpValues = seasonal.values
              seasonal.vals = rho
              seasonal.values = rho.length
              val sr = subCycleSerie(seasonal, seasonal.lastbucket - c * seasonal.bucketspan, bpp)
              seasonal.vals = tmpVals
              seasonal.values = tmpValues
              sr.vals
            } else rho
          if (sub.values > 0)
            lowessStl(sub, seasonal, ns, ds, js, subRho)
          c += 1
        }
        seasonal.lastbucket += seasonal.bucketspan * bpp
        seasonal.bucketcount += 2 * bpp

        // Step 3: low-pass filter — MA(bpp) twice then MA(3)
        sortByTick(seasonal)
        val firstbucket = seasonal.lastbucket - (seasonal.bucketcount - 1) * seasonal.bucketspan

        // the three probe streams below ask for ascending ticks only —
        // advancing cursors replace a binary search per probe (r13;
        // lookups value-identical, the body is sorted and frozen here)
        val probeA = new AscProbe(seasonal)
        val probeFirst = new AscProbe(seasonal)
        val probeNext = new AscProbe(seasonal)

        var sum = 0.0
        var count = 0
        var rr = 0
        while (rr < bpp) {
          probeA.valueAt(firstbucket + rr * seasonal.bucketspan).foreach { v =>
            count += 1; sum += v
          }
          rr += 1
        }
        require(count != 0, "STL found no value in its step 3.0, is GTS empty?")
        lowpassed.vals(0) = sum / count

        rr = 1
        while (rr < seasonal.bucketcount - bpp + 1) {
          val firstVal = probeFirst.valueAt(firstbucket + (rr - 1) * seasonal.bucketspan)
          val nextVal = probeNext.valueAt(firstbucket + (rr + bpp - 1) * seasonal.bucketspan)
          if (firstVal.isEmpty) {
            if (nextVal.isEmpty) lowpassed.vals(rr) = lowpassed.vals(rr - 1)
            else {
              count += 1
              sum += nextVal.get
              lowpassed.vals(rr) = sum / count
            }
          } else {
            if (nextVal.isEmpty) {
              count -= 1
              require(count != 0, "STL found no value in its step 3.1, is GTS empty?")
              sum -= firstVal.get
            } else {
              sum += nextVal.get - firstVal.get
            }
            lowpassed.vals(rr) = sum / count
          }
          rr += 1
        }

        sum = 0.0
        rr = 0
        while (rr < bpp) { sum += lowpassed.vals(rr); rr += 1 }
        var tmp = lowpassed.vals(0)
        lowpassed.vals(0) = sum / bpp
        rr = 1
        while (rr <= seasonal.bucketcount - 2 * bpp + 1) {
          sum += lowpassed.vals(rr + bpp - 1) - tmp
          tmp = lowpassed.vals(rr)
          lowpassed.vals(rr) = sum / bpp
          rr += 1
        }

        rr = 0
        while (rr < seasonal.bucketcount - 2 * bpp) {
          lowpassed.vals(rr) += lowpassed.vals(rr + 1) + lowpassed.vals(rr + 2)
          lowpassed.vals(rr) /= 3
          rr += 1
        }

        lowpassed.bucketcount = seasonal.bucketcount - 2 * bpp
        lowpassed.lastbucket = seasonal.lastbucket - bpp * seasonal.bucketspan
        lowpassed.values = lowpassed.bucketcount
        var i2 = 0
        while (i2 < lowpassed.bucketcount) {
          lowpassed.ticks(i2) =
            lowpassed.lastbucket - (lowpassed.bucketcount - 1 - i2) * lowpassed.bucketspan
          i2 += 1
        }
        lowpassed.sorted = true

        lowpassed = rlowess(lowpassed, nl, 0, (jl + 1) * lowpassed.bucketspan, dl,
          null, inplace = true)

        // Step 4: detrend the smoothed cycle-subseries
        seasonal.lastbucket -= seasonal.bucketspan * bpp
        seasonal.bucketcount -= 2 * bpp
        require(seasonal.bucketcount == lowpassed.values,
          s"stl impl error #1: ${seasonal.values} vs ${lowpassed.values}")

        // ascending probes again; reads stay strictly ahead of the
        // in-place writes (read slot rr+bpp > write slot id <= rr on
        // the gap-free extended grid), which the advancing cursor
        // makes explicit — the former full-body binary search probed
        // an array whose prefix it was itself overwriting
        val probeD = new AscProbe(seasonal)
        var id = 0
        rr = 0
        while (rr < seasonal.bucketcount) {
          val v = probeD.valueAt(firstbucket + (rr + bpp) * seasonal.bucketspan)
          if (v.isDefined) {
            seasonal.vals(id) = v.get - lowpassed.vals(rr)
            seasonal.ticks(id) = lowpassed.ticks(rr)
            id += 1
          }
          rr += 1
        }
        seasonal.values = id
        seasonal.sorted = true

        // Step 5: deseasonalize
        var idxS = 0
        idx = 0
        while (idx < nonnull) {
          idxS = binarySearch(seasonal.ticks, idxS, seasonal.values, g.ticks(idx))
          trend.vals(idx) = g.vals(idx) - seasonal.vals(idxS)
          idx += 1
        }
        trend.values = nonnull
        trend.lastbucket = g.lastbucket
        trend.bucketspan = g.bucketspan
        trend.bucketcount = size

        // Step 6: trend smoothing
        lowpassed = rlowess(trend, nt, 0, (jt + 1) * trend.bucketspan, dt, rho,
          inplace = true)
        k += 1
      }

      // robustifying operations (all but the last outer pass)
      if (s < outer) {
        var idxS = 0
        var id = 0
        var idx = 0
        while (idx < nonnull) {
          idxS = binarySearch(seasonal.ticks, idxS, seasonal.values, g.ticks(idx))
          if (idxS >= 0) {
            residual(id) = math.abs(g.vals(idx) - seasonal.vals(idxS) - trend.vals(idxS))
            id += 1
          }
          idx += 1
        }

        val sorted = java.util.Arrays.copyOf(residual, g.values)
        java.util.Arrays.sort(sorted)
        val median =
          if (g.values % 2 == 0) (sorted(g.values / 2) + sorted(g.values / 2 - 1)) / 2
          else sorted(g.values / 2)
        val h = 6 * median
        var kk = 0
        while (kk < g.values) {
          if (h == 0.0) rho(kk) = 1.0
          else {
            val u = residual(kk) / h
            if (u >= 1.0) rho(kk) = 0.0
            else {
              rho(kk) = 1.0 - u * u
              rho(kk) = rho(kk) * rho(kk)
            }
          }
          kk += 1
        }
      }
      s += 1
    }

    // post seasonal smoothing
    val seasonalOut =
      if (np > 0) rlowess(seasonal, np, 0, (jp + 1) * seasonal.bucketspan, dp)
      else seasonal

    (seasonalOut, trend)
  }

  private def sortedMedian(v: Array[Double], n: Int): Double = {
    val s = java.util.Arrays.copyOf(v, n)
    java.util.Arrays.sort(s)
    if (n % 2 == 0) (s(n / 2) + s(n / 2 - 1)) / 2 else s(n / 2)
  }

  /** GTSHelper.musigma (double path, bessel flag) — the entropy test's
    * per-cycle moments (GTSHelper.java:10349-10382). */
  private def musigma(v: Array[Double], n: Int, bessel: Boolean): (Double, Double) = {
    var sum = 0.0; var sumsq = 0.0
    var i = 0
    while (i < n) { sum += v(i); sumsq += v(i) * v(i); i += 1 }
    val mu = sum / n
    var variance = (sumsq / n) - (sum * sum / (n.toDouble * n))
    if (bessel && n > 1) variance = variance * n / (n - 1.0)
    (mu, math.sqrt(variance))
  }

  /** GTSOutliersHelper.ESDTest:329-415 — the generalized ESD trace with
    * the reference's swap-with-last removal and its strict-> argmax in
    * ARRAY order (history-dependent after swaps, so replayed verbatim).
    * Returns the anomalous ticks, most extreme first. */
  def esdTest(ticks0: Array[Long], vals0: Array[Double], n0: Int, k: Int,
              useMedian: Boolean, alpha: Double): Seq[Long] = {
    val ticks = java.util.Arrays.copyOf(ticks0, n0)
    val vals = java.util.Arrays.copyOf(vals0, n0)
    var values = n0
    var greatestJPassed = -1
    var j = 0
    var break = false
    while (j < k && !break) {
      val n = values
      if (n < 3) break = true
      else {
        // madsigma (GTSOutliersHelper:115-134): mean+Bessel sd, or
        // median + MAD/0.6745 with the Bessel-sd fallback at MAD 0
        val (m, std) = {
          if (!useMedian) musigma(vals, n, bessel = true)
          else {
            val med = sortedMedian(vals, n)
            val dev = Array.tabulate(n)(i => math.abs(vals(i) - med))
            val mad = sortedMedian(dev, n)
            if (mad != 0.0) (med, mad / 0.6745)
            else (med, musigma(vals, n, bessel = true)._2)
          }
        }
        if (std == 0.0) break = true
        else {
          var max = Double.NegativeInfinity
          var suspicious = 0
          var i = 0
          while (i < n) {
            val z = math.abs((vals(i) - m) / std)
            if (z > max) { max = z; suspicious = i }
            i += 1
          }
          val p = 1 - alpha / (2 * n)
          val t = new org.apache.commons.math3.distribution.TDistribution(
            null, n - 2.0).inverseCumulativeProbability(p)
          val lambda = (n - 1) * t / math.sqrt((n - 2 + t * t) * n)
          if (max > lambda) greatestJPassed = j
          values -= 1
          val tmpTick = ticks(suspicious)
          ticks(suspicious) = ticks(values)
          ticks(values) = tmpTick
          vals(suspicious) = vals(values)
          j += 1
        }
      }
    }
    (0 to greatestJPassed).map(jj => ticks(n0 - 1 - jj))
  }

  /** GTSOutliersHelper.hybridTest:524-626 / entropyHybridTest:639-757 —
    * piecewise seasonal-hybrid ESD (Twitter SH-ESD). Per piece of
    * periodsPerPiece·bpp buckets: seasonal via the REAL stl (negative
    * BANDWIDTH_S default ⇒ cycle means) or via the entropy softmax
    * factoring; remainder = y − seasonal − median(piece); then the
    * MEDIAN-variant ESD. Returns the anomalous ticks of all pieces. */
  def hybridTest(g: Sgts, bpp: Int, periodsPerPiece: Int, k: Int,
                 alpha: Double, entropy: Boolean,
                 stl16: Option[(Int, Int, Int, Int, Int, Int, Int, Int,
                   Int, Int, Int, Int, Int, Int)]): Seq[Long] = {
    require(g.bucketized, "GTS must be bucketized")
    require(k < periodsPerPiece * bpp / 2,
      "Upper bound of number of outliers must be less than half of the number of observations per piece")
    require(g.bucketcount / bpp >= 1,
      "Not enough buckets to make up at least one seasonal period.")
    sortByTick(g)
    val pieces = g.bucketcount / bpp / periodsPerPiece
    require(pieces > 0,
      "Not enough seasonal periods to make up at least one piece. Please use a lower number of periods per piece.")
    val bpp2 = periodsPerPiece * bpp
    val lb = g.lastbucket
    val bs = g.bucketspan

    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var u = 0
    while (u < pieces) {
      val start = lb - bs * ((pieces - u).toLong * bpp2 - 1)
      val stop = lb - bs * (pieces - u - 1).toLong * bpp2
      // subSerie: the points within [start, stop], piece bucket params
      val lo = {
        var i = 0; while (i < g.values && g.ticks(i) < start) i += 1; i
      }
      val hi = {
        var i = lo; while (i < g.values && g.ticks(i) <= stop) i += 1; i
      }
      val sub = new Sgts(
        java.util.Arrays.copyOfRange(g.ticks, lo, hi),
        java.util.Arrays.copyOfRange(g.vals, lo, hi),
        hi - lo, stop, bs, bpp2)

      val seasonal: Sgts =
        if (!entropy) {
          val (ns, ds, js, nl, dl, jl, nt, dt, jt, np, dp, jp, inner, outer) =
            stl16.get
          stl(sub, bpp, inner, outer, ns, ds, js, nl, dl, jl, nt, dt, jt,
            np, dp, jp)._1
        } else {
          // entropy seasonal extraction (entropyHybridTest:697-736):
          // |z| → exp(√·) softmax → normalized entropy; the cycle's
          // seasonal value is entropy·mu
          val se = new Sgts(new Array[Long](bpp2), new Array[Double](bpp2),
            0, stop, bs, bpp2)
          var v = 0
          while (v < bpp) {
            val sub2 = subCycleSerie(sub, stop - v.toLong * bs, bpp)
            if (sub2.values > 0) {
              val (mu, sigma) = musigma(sub2.vals, sub2.values, bessel = true)
              var sum = 0.0
              var w = 0
              while (w < sub2.values) {
                val z = if (sigma != 0.0) math.abs((sub2.vals(w) - mu) / sigma) else 1.0
                sub2.vals(w) = math.exp(math.sqrt(z))
                sum += sub2.vals(w)
                w += 1
              }
              var ent = 0.0
              w = 0
              while (w < sub2.values) {
                sub2.vals(w) /= sum
                val tmp = sub2.vals(w)
                if (tmp != 0.0) ent -= tmp * math.log(tmp)
                w += 1
              }
              ent = if (ent != 0.0) ent / math.log(sub2.values.toDouble) else 1.0
              w = 0
              while (w < sub2.values) {
                setValue(se, sub2.ticks(w), ent * mu)
                w += 1
              }
            }
            v += 1
          }
          sortByTick(se)
          se
        }

      sortByTick(seasonal)
      val m = sortedMedian(sub.vals, sub.values)
      var idx = 0
      var i = 0
      while (i < sub.values) {
        idx = binarySearch(seasonal.ticks, idx, seasonal.values, sub.ticks(i))
        require(idx >= 0, "Internal bug method hybridTest: can't find tick " +
          sub.ticks(i) + " in seasonal.ticks")
        sub.vals(i) -= (seasonal.vals(idx) + m)
        i += 1
      }
      out ++= esdTest(sub.ticks, sub.vals, sub.values, k, useMedian = true, alpha)
      u += 1
    }
    out.toSeq
  }
}
