package graft.script

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.operators.{GtsFrame, StatOps}

/** Analytics word tail: the faithful STL family (fn/STL.java →
  * StlKernel.stl), the hybrid outlier tests (fn/STLESDTEST.java,
  * HYBRIDTEST/HYBRIDTEST2 — GTSOutliersHelper verbatim), DTW variants
  * (fn/RAWDTW.java, ZDTW), inverse/amplitude-phase DFT surfaces
  * (fn/IFFT.java, FFTAP), DWT level splitting (fn/DWTSPLIT.java),
  * histogram bounds (fn/LBOUNDS.java, NBOUNDS) and typed FETCH
  * variants (fn/FETCHLONG.java family).
  */
private[script] object WordsAnalytics {
  import WarpScriptEngine._

  def eval(w: String, st: State, en: WarpScriptEngine): Boolean = {
    w match {
      // ---- STL (fn/STL.java → GTSHelper.stl, faithful r11): gts
      // { 'PERIOD' p … } STL → [ seasonal trend ] pair on the bucket
      // grid, classes suffixed _seasonal/_trend like the reference's
      // setName(prefix + "seasonal"). Full parameter surface:
      // PERIOD/PRECISION/ROBUSTNESS/ROBUST plus
      // BANDWIDTH/DEGREE/SPEED[_S|_L|_T|_P] with the reference's
      // multinomial fan-out, defaults and nextOdd quirk.
      case "STL" =>
        val raw = st.pop().asInstanceOf[Map[Any, Any]]
          .map { case (k, v) => k.toString -> v }
        val b = en.toBucketed(st.pop())
        val p = StlParams.resolve(raw)
        // One kernel pass carrying class/labels through the group
        // (zero meta joins — the r11 join topology re-executed the
        // whole FETCH→BUCKETIZE→FILL prefix per component under cache
        // eviction: 13.6 s isolated, 163 s in the r11 driver run) and
        // emitting PACKED (ticks[], vals[]) rows — 2 per series — so
        // the single materialization (disk-backed persist + count)
        // stores a few hundred array rows, not count×2 points. The
        // [seasonal, trend] branches then posexplode the tiny cached
        // frame; an eviction costs one linear-chain recompute, never
        // the r11 join-cascade re-execution.
        // FILLVALUE fusion (r14): when the input is a FILLVALUE
        // result, pack the SPARSE pre-fill frame and synthesize the
        // dense grid inside the kernel decode — the grid rows never
        // cross the pack exchange (guide §2.3; w54 5.4M → 99k rows)
        val packed = en.kernelOpsFor(b.frame)
          .stlDecomposeTagged(
            (b.lastbucket, b.span, b.count), p.bpp, p.inner, p.outer,
            p.ns, p.ds, p.js, p.nl, p.dl, p.jl, p.nt, p.dt, p.jt,
            p.np, p.dp, p.jp)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        packed.count() // materialize once — the pair's branches would
                       // otherwise race the cache and double the kernel
        def component(which: String): GtsFrame = {
          val renamed = packed.filter(col("which") === which).drop("which")
            .withColumn("class",
              when(length(col("class")) === 0, lit(which))
                .otherwise(concat(col("class"), lit("_" + which))))
            .select(col("class"), col("labels"),
              explode(arrays_zip(col("ticks"), col("vals"))).as("p"))
          GtsFrame(graft.model.Gts.canonicalRehash(
            renamed.select(col("class"), col("labels"),
              lit(0L).as("gtsid"), col("p.ticks").as("ts"),
              lit(null).cast("double").as("lat"),
              lit(null).cast("double").as("lon"),
              lit(null).cast("long").as("elev"),
              lit(graft.model.GtsType.DOUBLE).as("vtype"),
              lit(null).cast("long").as("vlong"),
              col("p.vals").as("vdouble"),
              lit(null).cast("boolean").as("vbool"),
              lit(null).cast("string").as("vstring"),
              lit(null).cast("binary").as("vbinary"))))
        }
        st.push(Vector[Any](component("seasonal"), component("trend")))

      // STLESDTEST (fn/STLESDTEST.java → GTSOutliersHelper.STLESDTest:
      // 439-501, faithful r11): gts period k [alpha] [stl-params-map]
      // STLESDTEST — run the REAL STL (BANDWIDTH_S defaulting to −1,
      // ROBUST false, PERIOD consistency-checked), remainder =
      // y − (seasonal + trend), then the MEDIAN/MAD generalized ESD
      case "STLESDTEST" =>
        var top = st.pop()
        val userParams: Map[String, Any] = top match {
          case m: Map[Any, Any] @unchecked =>
            val r = m.map { case (k2, v) => k2.toString -> v }
            top = st.pop(); r
          case _ => Map.empty
        }
        val alpha = top match {
          case d: Double => top = st.pop(); d
          case _ => 0.05
        }
        val k = en.asLong(top).toInt
        val period = st.popLong().toInt
        val b = en.toBucketed(st.pop())
        userParams.get("PERIOD").foreach(pv => require(
          en.asLong(pv).toInt == period,
          "Incoherence between PERIOD parameter of test and PERIOD parameter of STL"))
        var merged = userParams
        if (!merged.contains("PERIOD")) merged += ("PERIOD" -> period.toLong)
        if (!merged.contains("BANDWIDTH_S")) merged += ("BANDWIDTH_S" -> -1L)
        if (!merged.contains("ROBUST")) merged += ("ROBUST" -> false)
        val pr = StlParams.resolve(merged)
        // kernel-side FILLVALUE fusion only: the remainder join below
        // still reads the materialized filled frame (it needs the
        // original dense values), but the kernel input no longer
        // re-executes that dense plan a second time
        val tagged = en.kernelOpsFor(b.frame).stlDecompose(
          (b.lastbucket, b.span, b.count), pr.bpp, pr.inner, pr.outer,
          pr.ns, pr.ds, pr.js, pr.nl, pr.dl, pr.jl, pr.nt, pr.dt, pr.jt,
          pr.np, pr.dp, pr.jp)
        val st2 = tagged.groupBy(col("gtsid"), col("ts")).agg(
          sum(when(col("which") === "seasonal", col("vdouble"))).as("__s"),
          sum(when(col("which") === "trend", col("vdouble"))).as("__t"))
        val remFrame = GtsFrame(b.frame.df
          .join(st2, Seq("gtsid", "ts"))
          .withColumn("vdouble", col("vdouble") - (col("__s") + col("__t")))
          .drop("__s", "__t"))
        // λ criticals at the actual per-series counts (the reference
        // computes them per GTS) — one metadata-sized driver agg
        val counts = remFrame.df.groupBy(col("gtsid")).count()
          .select(col("count")).distinct().collect().map(_.getLong(0).toInt)
        val ns = counts.flatMap(c => math.max(c - k + 1, 3) to c).distinct.toSeq
        st.push(GtsFrame(
          StatOps.esdMadFlagAt(remFrame.df, k, StatOps.lambdasAt(alpha, ns))
            .join(graft.model.Gts.seriesMeta(remFrame.df), "gtsid")))

      // HYBRIDTEST / HYBRIDTEST2 (fn/HYBRIDTEST.java, HYBRIDTEST2.java →
      // GTSOutliersHelper.hybridTest:524-626 / entropyHybridTest:
      // 639-757, faithful r11): gts bpp ppp k [alpha] [stl-params-map
      // — HYBRIDTEST only] — Twitter SH-ESD: per piece of ppp·bpp
      // buckets, seasonal via the REAL STL (BANDWIDTH_S defaulting to
      // −1) or the entropy softmax factoring, remainder = y − seasonal
      // − median(piece), MEDIAN-variant ESD. Flagged POINTS surface as
      // a frame (this engine's uniform outlier representation).
      case "HYBRIDTEST" | "HYBRIDTEST2" =>
        var top = st.pop()
        val userParams: Map[String, Any] =
          if (w == "HYBRIDTEST") top match {
            case m: Map[Any, Any] @unchecked =>
              val r = m.map { case (k2, v) => k2.toString -> v }
              top = st.pop(); r
            case _ => Map.empty
          } else Map.empty
        val alpha = top match {
          case d: Double => top = st.pop(); d
          case _ => 0.05
        }
        val k = en.asLong(top).toInt
        val ppp = st.popLong().toInt
        val bpp = st.popLong().toInt
        val b = en.toBucketed(st.pop())
        val stl16 =
          if (w == "HYBRIDTEST2") None
          else {
            userParams.get("PERIOD").foreach(pv => require(
              en.asLong(pv).toInt == bpp,
              "Incoherence between PERIOD parameter of test and PERIOD parameter of STL"))
            var merged = userParams
            if (!merged.contains("PERIOD")) merged += ("PERIOD" -> bpp.toLong)
            if (!merged.contains("BANDWIDTH_S")) merged += ("BANDWIDTH_S" -> -1L)
            if (!merged.contains("ROBUST")) merged += ("ROBUST" -> false)
            val p = StlParams.resolve(merged)
            Some((p.ns, p.ds, p.js, p.nl, p.dl, p.jl, p.nt, p.dt, p.jt,
              p.np, p.dp, p.jp, p.inner, p.outer))
          }
        // kernel-side FILLVALUE fusion only (flag join keeps the
        // filled frame — output rows carry the dense values)
        val flags = en.kernelOpsFor(b.frame).hybridFlags(
          (b.lastbucket, b.span, b.count), bpp, ppp, k, alpha,
          entropy = w == "HYBRIDTEST2", stl16)
        st.push(GtsFrame(b.frame.df.join(flags, Seq("gtsid", "ts"))))

      // ---- DTW variants (fn/DTW.java registry flags, faithful r11):
      // RAWDTW = no normalization; ZDTW = the reference's asymmetric
      // z-normalization (musigma bessel sd for gts1, muvar VARIANCE for
      // gts2 — quirk kept); same optional window/threshold/distance/
      // characteristic arity as DTW
      case "RAWDTW" => en.runDtw(st, normalize = false, znormalize = false)
      case "ZDTW" => en.runDtw(st, normalize = true, znormalize = true)

      // ---- FFTAP (fn/FFTAP.java): the FFT surface emitting
      // amplitude/phase instead of re/im
      case "FFTAP" =>
        val lb = st.popLong(); val span = st.popLong(); val bins = st.popLong().toInt
        val spec = StatOps.dft(en.toFrame(st.pop()), bins, span, lb)
        st.push(GtsFrame(spec
          .withColumn("amp", sqrt(col("re") * col("re") + col("im") * col("im")))
          .withColumn("phase", atan2(col("im"), col("re")))
          .drop("re", "im", "mag")))

      // ---- IFFT (fn/IFFT.java): spectrum frame (class, labels, k,
      // re, im) → time-domain bucket values x_n = (1/N)·Σ_k (re·cos +
      // im·sin)(2πkn/N), the same 2⁻²⁰-dyadic twiddle tables as dft
      case "IFFT" =>
        val bins = st.popLong().toInt
        require(bins >= 1 && bins <= 65536, s"IFFT bins out of range: $bins")
        val df = st.pop() match {
          case f: GtsFrame => f.df
          case d: DataFrame @unchecked => d
          case o => throw new IllegalArgumentException(s"IFFT on $o")
        }
        val (wc, ws) = StatOps.dftWeights(bins)
        val gid = graft.model.Gts.gtsIdCol(col("class"), col("labels"))
        val m = (pmod(col("k") * col("n"), lit(bins.toLong)) + 1L).cast(IntegerType)
        val out = df.withColumn("gtsid", gid)
          .withColumn("n", explode(sequence(lit(0L), lit(bins - 1L))))
          .groupBy(col("gtsid"), col("n"))
          .agg(first(col("class")).as("class"), first(col("labels")).as("labels"),
            (sum(col("re") * element_at(array(wc.map(lit): _*), m) -
              col("im") * element_at(array(ws.map(lit): _*), m)) / bins).as("x"))
          .drop("gtsid")
        st.push(GtsFrame(graft.model.Gts.canonicalRehash(out.select(col("class"), col("labels"),
          lit(0L).as("gtsid"), col("n").as("ts"),
          lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
          lit(null).cast("long").as("elev"),
          lit(graft.model.GtsType.DOUBLE).as("vtype"),
          lit(null).cast("long").as("vlong"), col("x").as("vdouble"),
          lit(null).cast("boolean").as("vbool"),
          lit(null).cast("string").as("vstring"),
          lit(null).cast("binary").as("vbinary")))))

      // ---- DWTSPLIT (fn/DWTSPLIT.java): unpivot the wide FDWT result
      // into per-level series tagged by a level label; coefficient
      // index becomes the tick
      case "DWTSPLIT" =>
        val levelLabel = st.popStr()
        val wide = st.pop() match {
          case f: GtsFrame => f.df
          case d: DataFrame @unchecked => d
          case o => throw new IllegalArgumentException(s"DWTSPLIT on $o")
        }
        val coefCols = wide.columns.filter(c => c != "class" && c != "labels")
        val Level = "^([ad])([0-9]+)(?:_([0-9]+))?$".r
        val points = coefCols.toSeq.map { c =>
          val (lvl, idx) = c match {
            case Level(kind, l, i) => (kind + l, if (i == null) 0L else i.toLong - 1)
            case other => (other, 0L)
          }
          wide.select(col("class"),
            map_concat(col("labels"), map(lit(levelLabel), lit(lvl))).as("labels"),
            lit(idx).as("ts"), col(c).cast("double").as("vdouble"))
        }.reduce(_ unionByName _)
        st.push(GtsFrame(graft.model.Gts.canonicalRehash(
          points.select(col("class"), col("labels"), lit(0L).as("gtsid"),
            col("ts"),
            lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
            lit(null).cast("long").as("elev"),
            lit(graft.model.GtsType.DOUBLE).as("vtype"),
            lit(null).cast("long").as("vlong"), col("vdouble"),
            lit(null).cast("boolean").as("vbool"),
            lit(null).cast("string").as("vstring"),
            lit(null).cast("binary").as("vbinary")))))

      // ---- histogram bounds (fn/LBOUNDS.java: n-1 interior linear
      // bounds of [lower, upper]; fn/NBOUNDS.java: normal quantile
      // bounds for n equal-probability intervals under N(mu, sigma²))
      case "LBOUNDS" =>
        val n = st.popLong().toInt
        require(n >= 1 && n <= 65536, s"LBOUNDS intervals out of range: $n")
        val hi = st.popNum(); val lo = st.popNum()
        st.push((1 until n).map(i => (lo + (hi - lo) * i / n): Any).toVector)
      case "NBOUNDS" =>
        val n = st.popLong().toInt
        require(n >= 2 && n <= 65536, s"NBOUNDS intervals out of range: $n")
        val sigma = st.popNum(); val mu = st.popNum()
        val dist = new org.apache.commons.math3.distribution.NormalDistribution(
          null, mu, sigma)
        st.push((1 until n)
          .map(i => dist.inverseCumulativeProbability(i.toDouble / n): Any).toVector)

      // ---- Z-word family (WarpScriptLib.java:2508-2509, 2574-2575:
      // PATTERNS/DISCORDS with standardizePAA=false — input already
      // z-normalized, PAA means hit the quantization bounds raw)
      case "ZPATTERNS" =>
        val alphabet = st.popLong().toInt
        val wordLen = st.popLong().toInt
        val windowLen = st.popLong().toInt
        st.push(GtsFrame(StatOps.bsax(en.toFrame(st.pop()),
          alphabet, wordLen, windowLen, standardizePAA = false)))
      case "ZDISCORDS" =>
        st.push(en.popDiscords(st, standardizePAA = false))

      // PATTERNDETECTION / ZPATTERNDETECTION (fn/PATTERNDETECTION.java
      // → GTSHelper.detect:9293-9334): gts patterns windowLen wordLen
      // alphabet → the points covered by a window whose bSAX word is in
      // the pattern list, each tick once, original values
      case "PATTERNDETECTION" | "ZPATTERNDETECTION" =>
        val alphabet = st.popLong().toInt
        val wordLen = st.popLong().toInt
        val windowLen = st.popLong().toInt
        val patterns = st.pop().asInstanceOf[Vector[Any]].map(_.asInstanceOf[String])
        st.push(GtsFrame(StatOps.bsaxDetect(en.toFrame(st.pop()),
          patterns, alphabet, wordLen, windowLen,
          standardizePAA = w == "PATTERNDETECTION")))

      // ---- FFTWINDOW (fn/FFTWINDOW.java): multiply each series by a
      // named windowing function of the point's rank — pure Column
      // arithmetic over (row_number, count) per series; formulas are
      // the reference's verbatim (including its linear 'welch')
      case "FFTWINDOW" =>
        val alg = st.popStr().toLowerCase
        val f = en.toFrame(st.pop())
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("gtsid"))
        val n = (row_number().over(wOrd) - 1).cast("double")
        val bigN = count(lit(1)).over(wAll).cast("double")
        val twoPi = 2.0 * math.Pi
        def cosT(k: Int) = cos(lit(k * twoPi) * n / (bigN - 1.0))
        val win: Column = alg match {
          case "blackman" => lit(0.42) - lit(0.5) * cosT(1) + lit(0.08) * cosT(2)
          case "blackman-harris" =>
            lit(0.35875) - lit(0.48829) * cosT(1) + lit(0.14128) * cosT(2) - lit(0.01168) * cosT(3)
          case "blackman-nuttall" =>
            lit(0.3635819) - lit(0.4891775) * cosT(1) + lit(0.1365995) * cosT(2) - lit(0.0106411) * cosT(3)
          case "flattop" =>
            lit(1.0) - lit(1.93) * cosT(1) + lit(1.29) * cosT(2) - lit(0.388) * cosT(3) + lit(0.028) * cosT(4)
          case "hamming" => lit(0.54) - lit(0.46) * cosT(1)
          case "hann" =>
            val s = sin(lit(math.Pi) * n / (bigN - 1.0)); s * s
          case "nuttall" =>
            lit(0.355768) - lit(0.487396) * cosT(1) + lit(0.144232) * cosT(2) - lit(0.012604) * cosT(3)
          case "parzen" =>
            val r = n / (bigN / 2.0)
            when(n <= bigN / 4.0,
              lit(1.0) - lit(6.0) * pow(r, 2.0) * (lit(1.0) - r))
              .otherwise(lit(2.0) * pow(lit(1.0) - r, 3.0))
          case "rectangular" => lit(1.0)
          case "sine" => sin(lit(math.Pi) * n / (bigN - 1.0))
          case "triangular" =>
            lit(1.0) - abs((n - (bigN - 1.0) / 2.0) / (bigN / 2.0))
          case "welch" => (n - (bigN - 1.0) / 2.0) / ((bigN - 1.0) / 2.0)
          case other =>
            throw new IllegalArgumentException(s"FFTWINDOW: unknown window '$other'")
        }
        st.push(GtsFrame(f.df.withColumn("vdouble", col("vdouble") * win)))

      // ---- typed FETCH variants (fn/FETCHLONG.java family): the list
      // form of FETCH restricted to one value type. The frame's vtype
      // marker filters; vdouble stays the value surface
      case "FETCHLONG" | "FETCHDOUBLE" | "FETCHBOOLEAN" | "FETCHSTRING" =>
        en.evalWordPub("FETCH", st)
        val f = en.toFrame(st.pop())
        val t = w match {
          case "FETCHLONG" => graft.model.GtsType.LONG
          case "FETCHDOUBLE" => graft.model.GtsType.DOUBLE
          case "FETCHBOOLEAN" => graft.model.GtsType.BOOLEAN
          case _ => graft.model.GtsType.STRING
        }
        st.push(GtsFrame(f.df.filter(col("vtype") === t)))

      case _ => return false
    }
    true
  }
}

/** STL.java's parameter resolution (STL.java:100-265): key validation
  * with the BANDWIDTH/DEGREE/SPEED multinomial fan-out, the R-style
  * defaults, and the reference's own nextOdd (which maps 1→2, 2→2,
  * 3→3, and a+1 for every even a ≥ 4 — kept verbatim). */
object StlParams {
  final case class Resolved(bpp: Int, inner: Int, outer: Int,
      ns: Int, ds: Int, js: Int, nl: Int, dl: Int, jl: Int,
      nt: Int, dt: Int, jt: Int, np: Int, dp: Int, jp: Int)

  private def nextOdd(a: Int): Int =
    if (a > 0) { if (1 == a / 2) a else a + 1 } else 1

  def resolve(raw: Map[String, Any]): Resolved = {
    val names1 = Set("PERIOD", "PRECISION", "ROBUSTNESS")
    val names2 = Set("BANDWIDTH", "DEGREE", "SPEED")
    val suffixes = Set("_S", "_L", "_T", "_P")
    val params = scala.collection.mutable.Map[String, Any]()
    raw.foreach { case (key, value) =>
      if (key == "ROBUST") {
        require(value.isInstanceOf[Boolean],
          s"STL expects argument $key to be of type BOOLEAN.")
        params(key) = value
      } else {
        val body = if (key.length >= 2) key.substring(0, key.length - 2) else ""
        val suffix = if (key.length >= 2) key.substring(key.length - 2) else ""
        require(names1.contains(key) ||
          (names2.contains(body) && suffixes.contains(suffix)) ||
          names2.contains(key),
          s"STL does not expect argument $key")
        require(value.isInstanceOf[Long],
          s"STL expects argument $key to be of type LONG.")
        if (!params.contains(key)) params(key) = value.asInstanceOf[Long].toInt
      }
    }
    // multinomial fan-out: bare BANDWIDTH/DEGREE/SPEED seed every face
    for (base <- Seq("BANDWIDTH", "DEGREE", "SPEED"); o <- params.get(base);
         sfx <- Seq("_S", "_L", "_T", "_P")) {
      val k = base + sfx
      if (!params.contains(k)) params(k) = o
    }
    require(params.contains("PERIOD"),
      "STL expects map of parameters to at least contains field PERIOD")
    val bpp = params("PERIOD").asInstanceOf[Int]
    val robust = params.getOrElse("ROBUST", false).asInstanceOf[Boolean]
    var inner = if (robust) 1 else 2
    var outer = if (robust) 15 else 0
    params.get("PRECISION").foreach(v => inner = v.asInstanceOf[Int])
    params.get("ROBUSTNESS").foreach(v => outer = v.asInstanceOf[Int])
    def geti(k: String, dflt: => Int) =
      params.get(k).map(_.asInstanceOf[Int]).getOrElse(dflt)
    val ns = geti("BANDWIDTH_S", 7)
    val ds = geti("DEGREE_S", 1)
    val js = geti("SPEED_S", ns / 10)
    val nl = geti("BANDWIDTH_L", nextOdd(bpp))
    val dl = geti("DEGREE_L", 1)
    val jl = geti("SPEED_L", nl / 10)
    val value = math.ceil(1.5 * bpp / (1 - 1.5 / ns)).toInt
    val nt = geti("BANDWIDTH_T", nextOdd(value))
    val dt = geti("DEGREE_T", 1)
    val jt = geti("SPEED_T", nt / 10)
    val np = geti("BANDWIDTH_P", 0)
    val dp = geti("DEGREE_P", 2)
    val jp = geti("SPEED_P", np / 10)
    require(bpp >= 2,
      "STL expects seasonal periods to be composed by at least 2 buckets.")
    require(inner >= 1, "STL expects PRECISION to be positive.")
    require(outer >= 0, "STL expects ROBUSTNESS to be non-negative.")
    require(ns != 0, "STL expects BANDWIDTH_S to be different than zero.")
    require(ds >= 0 && js >= 0 && nl >= 0 && dl >= 0 && jl >= 0 &&
      nt >= 0 && dt >= 0 && jt >= 0 && np >= 0 && dp >= 0 && jp >= 0,
      "STL expects its BANDWIDTH/DEGREE/SPEED arguments to be non-negative.")
    Resolved(bpp, inner, outer, ns, ds, js, nl, dl, jl, nt, dt, jt, np, dp, jp)
  }
}
