package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DoubleType, IntegerType, LongType}

import graft.model.Gts

/** Whole-series statistics as DECLARATIVE aggregates over exact integer
  * sums — the 100 TB shapes for the reference's per-GTS statistical
  * words. Where the reference materializes each GTS in RAM and loops
  * (fn/CORRELATE.java, GTSOutliersHelper zscoretest, SAXUtils), these
  * run as one hash aggregation per series plus a broadcast join back —
  * no per-series materialization, no kernel state.
  *
  * Determinism contract (what makes these oracle-verifiable bit-for-bit
  * against DuckDB): inputs are exact integers in doubles ("cents"), so
  * every SUM is exactly representable regardless of aggregation order;
  * variance terms use the closed form n·Σx²−(Σx)² on those exact sums
  * (NOT Welford / sequential Σ(x−μ)², whose rounding is
  * order-dependent); the only rounded steps are final sqrt/divisions,
  * which are IEEE-correctly-rounded and therefore identical across
  * engines given identical expression trees.
  */
object StatOps {

  /** Tick-aligned Pearson correlation within `byLabels` equivalence
    * classes (ENGINE EXTENSION, g69 — the reference's CORRELATE word is
    * the lag cross-correlation implemented by [[crossCorrelate]]).
    * One shuffle per side for the join, one aggregation — n, Σx, Σy,
    * Σxy, Σx², Σy² are exact for integer-valued inputs.
    * Returns (byLabels..., n, corr); corr is NULL for degenerate series.
    */
  def correlate(a: GtsFrame, b: GtsFrame, byLabels: Seq[String]): DataFrame = {
    def side(d: DataFrame, v: String) =
      d.select(byLabels.map(l => col("labels").getItem(l).as(l)) :+
        col("ts") :+ col("vdouble").as(v): _*)
    val joined = side(a.df, "__x").join(side(b.df, "__y"), byLabels :+ "ts")
    val g = joined.groupBy(byLabels.map(col): _*).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
      sum(col("__x") * col("__y")).as("sxy"),
      sum(col("__x") * col("__x")).as("sxx"),
      sum(col("__y") * col("__y")).as("syy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    g.select(byLabels.map(col) :+ col("n").cast("long").as("n") :+
      when(dx > 0 && dy > 0,
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(dx) * sqrt(dy))).as("corr"): _*)
  }

  /** CORRELATE (continuum/gts/CORRELATE.java:92-232, faithful r11):
    * sliding-lag cross-correlation of ONE base series against each
    * series of `others` at the given offsets. Per (series, offset):
    * find the first aligned tick pair (tsA + offset == tsB), clip A to
    * [firstA, end] and B to [firstA+offset, end+offset] with
    * end = min(lastA, lastB − offset), STANDARDIZE each clipped
    * segment (GTSHelper.standardize — naive variance, Bessel when
    * n > 1, sd == 0 ⇒ mean-subtraction only), pair by RANK (the
    * reference advances both indexes together) and emit
    * Σ zA·zB / (n−1) (…/n at n = 1, 0.0 when nothing aligns).
    * Output: one row per (series, offset) carrying the OTHER series'
    * identity, ts = the offset.
    *
    * Scale shape: per offset — one broadcast of the tiny per-series
    * alignment row, two windowed standardizations, one rank join; the
    * offsets are a word-argument literal list so the union is bounded.
    * `persist` caches the operand-sized frames every branch reads; the
    * CORRELATE word passes its program scope, so they are released with
    * the program.
    */
  def crossCorrelate(base: GtsFrame, others: GtsFrame, offsets: Seq[Long],
                     persist: DataFrame => DataFrame): DataFrame = {
    val spark = base.df.sparkSession
    import spark.implicits._
    val av = coalesce(col("vdouble"), col("vlong").cast(DoubleType))
    // a/b/bMeta are referenced by EVERY per-offset branch (align,
    // clipA, clipB) plus the final grid join — without a lineage cut
    // each reference re-expands the operands' whole upstream plan
    // (w136: FETCH→BUCKETIZE→FILLVALUE ×3 offsets ⇒ 62 parquet scans,
    // 104 Exchanges, 2,142 plan lines; the one-time planning/codegen
    // cost dominated fresh-JVM runs). All three are word-operand-
    // sized (bucketized series), so lazy persists are cheap at any SF.
    val a = persist(base.df.select(col("ts").as("ta"), av.as("va"))
      .withColumn("lastA",
        max(col("ta")).over(org.apache.spark.sql.expressions.Window.partitionBy())))
    val b = persist(others.df.select(col("gtsid"), col("ts").as("tb"), av.as("vb")))
    val bMeta = persist(Gts.aggBySeries(others.df)(max(col("ts")).as("lastB"))
      .withColumnRenamed("gtsid", "__g"))

    def standardized(df: DataFrame, t: String, v: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gtsid"))
      val n = count(lit(1)).over(w).cast(DoubleType)
      val s = sum(col(v)).over(w)
      val sq = sum(col(v) * col(v)).over(w)
      val mu = s / n
      val varNaive = sq / n - (s * s) / (n * n)
      val sd = sqrt(when(n > 1.0, varNaive * n / (n - 1.0)).otherwise(varNaive))
      val rw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gtsid")).orderBy(col(t), col(v))
      df.withColumn("__z",
          when(sd === 0.0, col(v) - mu).otherwise((col(v) - mu) / sd))
        .withColumn("__rn", row_number().over(rw))
    }

    val perOffset = offsets.map { o =>
      // first aligned pair + clip end, one tiny row per series,
      // referenced by both clips
      val align = persist(b.join(a, col("tb") === col("ta") + o)
        .groupBy(col("gtsid").as("__ag"))
        .agg(min(col("ta")).as("startA"), first(col("lastA")).as("lastA"))
        .join(bMeta.select(col("__g"), col("lastB")), col("__ag") === col("__g"))
        .withColumn("end", least(col("lastA"), col("lastB") - o))
        .select(col("__ag"), col("startA"), col("end")))
      val clipA = a.join(broadcast(align),
          col("ta") >= col("startA") && col("ta") <= col("end"))
        .select(col("__ag").as("gtsid"), col("ta"), col("va"))
      val clipB = b.join(broadcast(align), col("gtsid") === col("__ag") &&
          col("tb") >= col("startA") + o && col("tb") <= col("end") + o)
        .select(col("gtsid"), col("tb"), col("vb"))
      val za = standardized(clipA, "ta", "va")
        .select(col("gtsid").as("__ga"), col("__rn").as("__ra"), col("__z").as("za"))
      val zb = standardized(clipB, "tb", "vb")
        .select(col("gtsid"), col("__rn"), col("__z").as("zb"))
      zb.join(za, col("gtsid") === col("__ga") && col("__rn") === col("__ra"))
        .groupBy(col("gtsid").as("__cg"))
        .agg(sum(col("za") * col("zb")).as("__s"), count(lit(1)).as("__n"))
        .select(col("__cg"), lit(o).as("ts"),
          when(col("__n") > 1, col("__s") / (col("__n") - 1).cast(DoubleType))
            .when(col("__n") > 0, col("__s") / col("__n").cast(DoubleType))
            .otherwise(0.0).as("vdouble"))
    }
    val correlated = perOffset.reduce(_ unionByName _)
    // every (series, offset) gets a row — 0.0 where nothing aligned
    val grid = bMeta.select(col("__g"), col("class"), col("labels"))
      .crossJoin(offsets.toDF("ts"))
    grid.join(correlated,
        grid("__g") === correlated("__cg") && grid("ts") === correlated("ts"),
        "left")
      .select(grid("__g").as("gtsid"), col("class"), col("labels"),
        grid("ts"), coalesce(col("vdouble"), lit(0.0)).as("vdouble"))
  }

  /** Per-series (m, std) per GTSOutliersHelper.madsigma:115-134 —
    * useMedian=false: mean + BESSEL-corrected sd (musigma bessel=true);
    * useMedian=true: exact median + MAD/0.6745, falling back to the
    * Bessel sd when the MAD is 0. One or two tiny per-series aggregates,
    * broadcast back. std is NULL when it is 0 (no flags / caller error).
    */
  private def madsigma(df: DataFrame, useMedian: Boolean): DataFrame = {
    val base = df.groupBy(col("gtsid").as("__g")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("vdouble")).as("sx"),
      sum(col("vdouble") * col("vdouble")).as("sxx"))
    val stats = base.withColumn("__d",
      col("n") * col("sxx") - col("sx") * col("sx"))
    if (!useMedian) stats
    else {
      // exact median per the reference's Arrays.sort midpoint — Spark's
      // exact `percentile` (and DuckDB's quantile_cont) share that
      // definition (even n ⇒ midpoint average); two tiny aggregates
      val med = df.groupBy(col("gtsid").as("__g2")).agg(
        expr("percentile(vdouble, 0.5)").as("med"))
      val withMed = df.join(broadcast(med), col("gtsid") === col("__g2"))
      val mad = withMed.groupBy(col("gtsid").as("__g3")).agg(
        expr("percentile(abs(vdouble - med), 0.5)").as("mad"),
        first(col("med")).as("med"))
      stats.join(broadcast(mad), col("__g") === col("__g3")).drop("__g3")
    }
  }

  /** ZSCORETEST (fn/ZSCORETEST.java; GTSOutliersHelper.zScoreTest:
    * 227-246): flag points with |z| >= threshold per series. Mean path:
    * z = (n·x − Σx)/√((n·Σx²−(Σx)²)·n/(n−1)) — Bessel-corrected sd with
    * an exact-integer numerator. Median path: z = (x − med)/(MAD/0.6745)
    * with the reference's Bessel-sd fallback when MAD = 0. The
    * per-series aggregate is one tiny row; Spark broadcasts it back.
    */
  def zscoreFlag(frame: GtsFrame, threshold: Double,
                 useMedian: Boolean = false): DataFrame = {
    val stats = madsigma(frame.df, useMedian)
    val joined = frame.df.join(broadcast(stats), col("gtsid") === col("__g"))
    val besselZ = when(col("__d") > 0 && col("n") > 1,
      (col("n") * col("vdouble") - col("sx")) /
        sqrt(col("__d") * col("n") / (col("n") - 1.0)))
    val z =
      if (!useMedian) besselZ
      else when(col("mad") > 0,
        (col("vdouble") - col("med")) / (col("mad") / 0.6745)).otherwise(besselZ)
    joined.withColumn("z", z)
      .filter(col("z").isNotNull && abs(col("z")) >= threshold)
      .drop("__g", "n", "sx", "sxx", "__d", "med", "mad")
  }

  /** ZSCORE (fn/ZSCORE.java; GTSOutliersHelper.zScore:148-166): replace
    * every value with (x − m)/std — mean/Bessel-sd, or median/(MAD/
    * 0.6745) when useMedian (Bessel-sd fallback at MAD = 0). A zero
    * deviation is an error in the reference; the driver-side guard
    * mirrors it (one tiny aggregate action on the word path). */
  def zscore(frame: GtsFrame, useMedian: Boolean): DataFrame = {
    val stats = madsigma(frame.df, useMedian)
    val mean = col("sx") / col("n")
    val varNaive = col("sxx") / col("n") - (col("sx") * col("sx")) / (col("n") * col("n"))
    val besselSd = sqrt(when(col("n") > 1.0,
      varNaive * col("n") / (col("n") - 1.0)).otherwise(varNaive))
    val (m, sd) =
      if (!useMedian) (mean, besselSd)
      else (col("med"), when(col("mad") > 0, col("mad") / 0.6745).otherwise(besselSd))
    val checked = stats.withColumn("__m", m).withColumn("__sd", sd)
    if (checked.filter(col("__sd") === 0.0 || col("__sd").isNull).limit(1).count() > 0)
      throw new IllegalArgumentException(
        (if (useMedian) "Median Absolute" else "Standard") + " Deviation is null")
    frame.df.join(broadcast(checked), col("gtsid") === col("__g"))
      .withColumn("vdouble", (col("vdouble") - col("__m")) / col("__sd"))
      .drop("__g", "n", "sx", "sxx", "__d", "med", "mad", "__m", "__sd")
  }

  /** Generalized ESD outlier test (GTSOutliersHelper.ESDTest:329-415,
    * mean/sd variant): k rounds, each computing mean and SAMPLE sd of
    * the remaining points, removing the max-|z| point, and flagging all
    * removals up to the LAST round whose statistic exceeded the
    * critical value λ_N = (N−1)·t/√((N−2+t²)·N),
    * t = TDist(N−2).invCDF(1 − α/(2N)).
    *
    * Runs as a PER-SERIES KERNEL ([[graft.kernels.KernelOps.esdFlag]]:
    * one series pack, k rounds in memory per series — the reference's own shape, one GTS per
    * thread): a declarative k-round unrolling is expressible but costs
    * ~6 shuffles × k rounds of scheduler latency for zero parallelism
    * gain, since every round is sequentially dependent. Determinism:
    * inputs are exact integer cents, so Σx/Σx² are exact in any order;
    * the selection key |N·x − Σx| is an exact integer (ties: smallest
    * ts, then value — the reference's tie order depends on its internal
    * swap history and is unspecified); z reproduces the oracle's
    * expression tree ((a/n)/√((Σx²−(Σx)²/n)/(n−1))) so the final
    * IEEE-rounded doubles are bit-identical. The t-quantile λs are
    * driver-computed literals per N (shared with the oracle SQL).
    * Returns flagged rows (gtsid, ts, vdouble, round, class, labels).
    */
  def esdFlag(frame: GtsFrame, k: Int = 3, alpha: Double = 0.05,
              maxN: Int = 64): DataFrame =
    graft.kernels.KernelOps(frame).esdFlag(k, lambdas(alpha, maxN))

  /** ESD, median/MAD variant (GTSOutliersHelper.ESDTest useMedian=true):
    * per round, med = exact-interpolation median of the remaining cents
    * (a dyadic rational, bit-identical cross-engine) and
    * mad = median of |x − med| (also dyadic); z = |0.6745·(x−med)/mad|
    * against the same t-quantile criticals. Selection key |x − med| is
    * exact, so the removal sequence is deterministic. mad == 0 stops
    * the series (the reference falls back to the sd estimate there —
    * divergence documented). Same per-series kernel shape as [[esdFlag]];
    * medians cannot be updated incrementally, so each round re-sorts the
    * survivors (k and the per-series N are both small by contract).
    */
  def esdMadFlag(frame: GtsFrame, k: Int = 3, alpha: Double = 0.05,
                 maxN: Int = 64): DataFrame =
    graft.kernels.KernelOps(frame).esdMadFlag(k, lambdas(alpha, maxN))

  /** [[esdMadFlag]] with an explicit λ map (large fixed-n compositions
    * like g99) over any (gtsid, ts, vdouble, class, labels) frame. */
  def esdMadFlagAt(df: DataFrame, k: Int,
                   lams: Map[Int, Double]): DataFrame =
    new graft.kernels.KernelOps(df).esdMadFlag(k, lams)

  /** LR (fn/LR.java semantics — least-squares line through a series):
    * regress the per-bucket integer sums y over the bucket index x.
    * n, Σx, Σy, Σxy, Σx² are exact integers (x ≤ bucket count, y exact
    * cents sums), so slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) and
    * intercept = (Σy − slope·Σx)/n are fixed trees of correctly-rounded
    * IEEE ops on exact inputs — bit-identical cross-engine. One hash
    * aggregation per series; no per-series materialization (the
    * reference loads the GTS into RAM and loops, fn/LR.java:49-77).
    * Returns (class, labels, n, slope, intercept).
    */
  def linReg(frame: GtsFrame, span: Long, lastbucket: Long): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val x = floor((lit(lastbucket) - col("ts")) / lit(span)).cast(LongType)
    val b = Gts.aggBySeries(frame.df.filter(col("ts") <= lastbucket), x.as("x"))(
      sum(col("vdouble")).as("y"))
    val g = Gts.aggBySeries(b)(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sxx"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) / den
    g.filter(den > 0).select(col("class"), col("labels"),
      col("n").cast("long").as("n"), slope.as("slope"),
      ((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
  }

  /** SKEWNESS / KURTOSIS / NSUMSUMSQ (fn/SKEWNESS.java, fn/KURTOSIS.java,
    * fn/NSUMSUMSQ.java): population central-moment statistics per series.
    * Power sums Σx³/Σx⁴ overflow the 2⁵³ double-exact range (cents⁴ ≈
    * 6e18/term), so they accumulate as DECIMAL(38,0) — exact in any
    * aggregation order, mirrored by DuckDB's HUGEINT sums — and are cast
    * to double only once, at the closed-form moment expressions. The
    * moment trees (m₂, m₃, m₄ and skew = m₃/(m₂·√m₂), kurt = m₄/m₂²)
    * are written in identical association order in both engines; pow()
    * is avoided (not correctly rounded — mul/sqrt are).
    * Returns (class, labels, n, sum, sumsq, skewness, kurtosis).
    */
  def momentStats(frame: GtsFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val c = col("vdouble").cast(DecimalType(19, 0))
    val g = Gts.aggBySeries(frame.df)(
      count(lit(1)).cast("double").as("n"),
      sum(col("vdouble")).as("sx"),
      sum(col("vdouble") * col("vdouble")).as("sxx"),
      sum((c * c * c).cast(DecimalType(38, 0))).cast("double").as("sxxx"),
      sum((c * c * (c * c)).cast(DecimalType(38, 0))).cast("double").as("sxxxx"))
    val mu = col("sx") / col("n")
    val r2 = col("sxx") / col("n")
    val r3 = col("sxxx") / col("n")
    val r4 = col("sxxxx") / col("n")
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = r4 - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    g.select(col("class"), col("labels"), col("n").cast("long").as("n"),
      col("sx").as("sum"), col("sxx").as("sumsq"),
      when(m2 > 0, m3 / (m2 * sqrt(m2))).as("skewness"),
      when(m2 > 0, m4 / (m2 * m2)).as("kurtosis"))
  }

  /** FDWT, Haar (script/fwt — the reference wraps a lifting-scheme
    * wavelet library; fn/FDWT.java): full 2^levels-point Haar analysis
    * of end-anchored bucket sums (missing buckets = 0). The dyadic
    * lifting form a = (x₀+x₁)/2, d = (x₀−x₁)/2 keeps every coefficient
    * an exact dyadic rational of integer inputs — bit-identical
    * cross-engine with no normalization noise (the orthonormal √2
    * scaling differs only by per-level constants). One conditional
    * aggregation pivots the 2^levels buckets; the lift cascade is pure
    * column arithmetic. Returns (class, labels, a{L}, d{L}, d{L-1}_*, …
    * d1_*) with detail coefficients ordered coarse→fine.
    */
  def haarDwt(frame: GtsFrame, levels: Int, span: Long,
              lastbucket: Long): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val nb = 1 << levels
    val n = floor((lit(lastbucket) - col("ts")) / lit(span)).cast(LongType)
    // bucket index 0 = OLDEST so the transform reads left-to-right in time
    val idx = lit(nb - 1) - n
    val g = Gts.aggBySeries(frame.df.filter(col("ts") <= lastbucket && n < nb))(
      (0 until nb).map(i => coalesce(
        sum(when(idx === i, col("vdouble"))), lit(0.0)).as(s"x$i")): _*)
    var approx: Seq[Column] = (0 until nb).map(i => col(s"x$i"))
    val details = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    var lvl = 1
    while (approx.length > 1) {
      val pairs = approx.grouped(2).toSeq
      val d = pairs.zipWithIndex.map { case (Seq(a, b), i) =>
        (s"d${lvl}_${i + 1}", (a - b) / 2.0)
      }
      details.prependAll(d)
      approx = pairs.map { case Seq(a, b) => (a + b) / 2.0 }
      lvl += 1
    }
    g.select(col("class") +: col("labels") +:
      approx.head.as(s"a${lvl - 1}") +:
      details.map { case (nm, c) => c.as(nm) }.toSeq: _*)
  }

  /** The same Haar lift cascade as SQL text over bucket columns x0..x{2^L-1}
    * (shared expression generator so both engines evaluate one tree). */
  def haarDwtSql(levels: Int): Seq[(String, String)] = {
    val nb = 1 << levels
    var approx: Seq[String] = (0 until nb).map(i => s"x$i")
    val details = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var lvl = 1
    while (approx.length > 1) {
      val pairs = approx.grouped(2).toSeq
      details.prependAll(pairs.zipWithIndex.map { case (Seq(a, b), i) =>
        (s"d${lvl}_${i + 1}", s"(($a) - ($b)) / 2.0")
      })
      approx = pairs.map { case Seq(a, b) => s"(($a) + ($b)) / 2.0" }
      lvl += 1
    }
    (s"a${lvl - 1}", approx.head) +: details.toSeq
  }

  /** IDWT, Haar (fn/IDWT.java): exact inverse of [[haarDwt]] — the
    * lifting cascade runs backwards (x₀ = a + d, x₁ = a − d), so
    * dwt→idwt round-trips BIT-FOR-BIT on dyadic inputs. Input: a
    * [[haarDwt]] output frame; output: the reconstructed bucket columns
    * x0..x{2^levels−1} (oldest first). */
  def haarIdwt(dwt: DataFrame, levels: Int): DataFrame = {
    var approx: Seq[Column] = Seq(col(s"a$levels"))
    var lvl = levels
    while (lvl >= 1) {
      approx = approx.zipWithIndex.flatMap { case (a, i) =>
        val d = col(s"d${lvl}_${i + 1}")
        Seq(a + d, a - d)
      }
      lvl -= 1
    }
    dwt.select(col("class") +: col("labels") +:
      approx.zipWithIndex.map { case (c, i) => c.as(s"x$i") }: _*)
  }

  /** POLYFIT degree 2 (fn/POLYFIT.java/POLYFUNC — commons-math
    * polynomial LSQ in the reference): quadratic least squares over
    * end-anchored bucket sums, solved by Cramer's rule on the 3×3
    * normal equations. With x = bucket index ≤ 2^k small and y exact
    * integer sums, every moment sum (Σx⁴, Σx²y, …) and every cofactor
    * product stays in the double-exact range, so the coefficient
    * ratios are single correctly-rounded divisions — bit-identical
    * cross-engine. Returns (class, labels, n, c0, c1, c2).
    */
  def polyFit2(frame: GtsFrame, span: Long, lastbucket: Long,
               buckets: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val xn = floor((lit(lastbucket) - col("ts")) / lit(span)).cast(LongType)
    val b = Gts.aggBySeries(frame.df.filter(col("ts") <= lastbucket && xn < buckets),
      xn.as("x"))(sum(col("vdouble")).as("y"))
    val x = col("x").cast("double")
    val g = Gts.aggBySeries(b)(
      count(lit(1)).cast("double").as("n"),
      sum(x).as("sx"), sum(x * x).as("sxx"),
      sum(x * x * x).as("sxxx"), sum(x * x * (x * x)).as("sxxxx"),
      sum(col("y")).as("sy"), sum(x * col("y")).as("sxy"),
      sum(x * x * col("y")).as("sxxy"))
    def det3(m: Seq[Seq[Column]]): Column =
      m(0)(0) * (m(1)(1) * m(2)(2) - m(1)(2) * m(2)(1)) -
        m(0)(1) * (m(1)(0) * m(2)(2) - m(1)(2) * m(2)(0)) +
        m(0)(2) * (m(1)(0) * m(2)(1) - m(1)(1) * m(2)(0))
    val (n, sx, sxx, sxxx, sxxxx) =
      (col("n"), col("sx"), col("sxx"), col("sxxx"), col("sxxxx"))
    val rhs = Seq(col("sy"), col("sxy"), col("sxxy"))
    val m = Seq(Seq(n, sx, sxx), Seq(sx, sxx, sxxx), Seq(sxx, sxxx, sxxxx))
    val d = det3(m)
    def repl(i: Int) = det3(m.zipWithIndex.map { case (row, r) =>
      row.zipWithIndex.map { case (c, j) => if (j == i) rhs(r) else c }
    })
    g.filter(d =!= 0.0).select(col("class"), col("labels"),
      col("n").cast("long").as("n"),
      (repl(0) / d).as("c0"), (repl(1) / d).as("c1"), (repl(2) / d).as("c2"))
  }

  /** The same det3/Cramer trees as SQL text (shared generator). */
  def polyFit2Sql(n: String, sx: String, sxx: String, sxxx: String,
                  sxxxx: String, sy: String, sxy: String,
                  sxxy: String): (String, Seq[String]) = {
    def det3(m: Seq[Seq[String]]): String =
      s"${m(0)(0)} * (${m(1)(1)} * ${m(2)(2)} - ${m(1)(2)} * ${m(2)(1)})" +
        s" - ${m(0)(1)} * (${m(1)(0)} * ${m(2)(2)} - ${m(1)(2)} * ${m(2)(0)})" +
        s" + ${m(0)(2)} * (${m(1)(0)} * ${m(2)(1)} - ${m(1)(1)} * ${m(2)(0)})"
    val rhs = Seq(sy, sxy, sxxy)
    val m = Seq(Seq(n, sx, sxx), Seq(sx, sxx, sxxx), Seq(sxx, sxxx, sxxxx))
    val d = det3(m)
    val reps = (0 until 3).map(i => det3(m.zipWithIndex.map { case (row, r) =>
      row.zipWithIndex.map { case (c, j) => if (j == i) rhs(r) else c }
    }))
    (d, reps)
  }

  /** FDWT, Daubechies-4 (script/fwt supports the Daubechies family —
    * fn/FDWT.java takes the wavelet name): one D4 analysis level over
    * 2^k end-anchored buckets with periodic boundary. The irrational
    * scaling coefficients (1±√3)/(4√2) are DRIVER-QUANTIZED to 2⁻²⁰
    * dyadics (the dftWeights/λ-table pattern) and shared with the
    * oracle, so every product against integer bucket sums is exact and
    * the 4-term sums are order-independent — bit-identical
    * cross-engine. Returns (class, labels, a0..a{n/2-1}, d0..d{n/2-1}).
    */
  def db4Dwt(frame: GtsFrame, span: Long, lastbucket: Long,
             buckets: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    require(buckets % 2 == 0, "D4 needs an even bucket count")
    val h = db4Weights
    val g = Seq(h(3), -h(2), h(1), -h(0)) // quadrature mirror
    val n = floor((lit(lastbucket) - col("ts")) / lit(span)).cast(LongType)
    val idx = lit(buckets - 1) - n // oldest-first
    val b = Gts.aggBySeries(frame.df.filter(col("ts") <= lastbucket && n < buckets))(
      (0 until buckets).map(i => coalesce(
        sum(when(idx === i, col("vdouble"))), lit(0.0)).as(s"x$i")): _*)
    def band(w: Seq[Double], nm: String) = (0 until buckets / 2).map { i =>
      (0 until 4).map(k => lit(w(k)) * col(s"x${(2 * i + k) % buckets}"))
        .reduceLeft(_ + _).as(s"$nm$i")
    }
    b.select(col("class") +: col("labels") +:
      (band(h, "a") ++ band(g, "d")): _*)
  }

  /** 2⁻²⁰-dyadic D4 scaling coefficients (shared driver literals). */
  def db4Weights: Seq[Double] = {
    val q = 1048576.0
    val s3 = math.sqrt(3.0); val d = 4.0 * math.sqrt(2.0)
    Seq((1 + s3) / d, (3 + s3) / d, (3 - s3) / d, (1 - s3) / d)
      .map(w => math.rint(w * q) / q)
  }

  /** DISCORDS (continuum/gts/DISCORDS.java — rarest SAX words mark the
    * most anomalous subsequences): the inverse of [[saxMotifs]]. Words
    * occurring in exactly one series, at most `maxOcc` times, are
    * discord candidates; the owning series is the word's only gtsid,
    * joined back to its per-series row. Identical scale shape to
    * motifs: GROUP BY on the word — no all-pairs distance scan (the
    * reference's HOTSAX-style search is per-GTS in RAM).
    * Returns (word, class, labels, n_occ).
    */
  def saxDiscords(frame: GtsFrame, win: Int = 4, alphabet: Int = 4,
                  maxOcc: Int = 2, standardize: Boolean = true): DataFrame = {
    val words = saxWindowWords(frame, win, alphabet, standardize)
    val perSeries = Gts.aggBySeries(words, col("word"))(count(lit(1)).as("n_occ"))
    // at most alphabet^win words: always broadcastable
    val rare = perSeries.groupBy(col("word"))
      .agg(count(lit(1)).as("n_series"), min(col("gtsid")).as("gtsid"),
        sum(col("n_occ")).as("__n"))
      .filter(col("n_series") === 1 && col("__n") <= maxOcc)
    perSeries.join(broadcast(rare.select(col("word"), col("gtsid"))), Seq("word", "gtsid"))
      .select(col("word"), col("class"), col("labels"), col("n_occ"))
  }

  /** Shared windowed-SAX-word builder for [[saxMotifs]]/[[saxDiscords]]
    * (letter-string ENGINE EXTENSIONS — the faithful wire-word ops are
    * [[bsax]]/[[bsaxDetect]] below): one row per `win`-point window
    * with its z-normalized letter word. The z matches the reference's
    * per-window standardization — BESSEL-corrected sd
    * (GTSHelper.bSAX:9055-9075): z = (win·x − Σx)/√(det·win/(win−1)),
    * exact integer numerator and radicand on cents inputs. */
  private[operators] def saxWindowWords(frame: GtsFrame, win: Int,
                                        alphabet: Int,
                                        standardize: Boolean = true,
                                        keepTails: Boolean = false): DataFrame = {
    val bps = saxBreakpoints(alphabet)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
    val xs = (0 until win).map(o =>
      if (o == 0) col("vdouble") else lead(col("vdouble"), o).over(w))
    val sx = xs.reduce(_ + _)
    val sxx = xs.map(x => x * x).reduce(_ + _)
    val det = lit(win.toDouble) * sxx - sx * sx
    // Bessel factor as ONE shared literal (oracle embeds the same)
    val bessel = if (win > 1) win / (win - 1.0) else 1.0
    def letter(x: Column) = {
      val z =
        if (standardize)
          when(det === 0.0, 0.0)
            .otherwise((lit(win.toDouble) * x - sx) / sqrt(det * lit(bessel)))
        else x
      bps.zipWithIndex.reverse.foldLeft(lit(('a' + bps.length).toChar.toString)) {
        case (acc, (bp, idx)) => when(z <= bp, lit(('a' + idx).toChar.toString)).otherwise(acc)
      }
    }
    frame.df
      .withColumn("__xlast", xs.last)
      // incomplete tail windows carry NO word (keepTails keeps the rows
      // themselves for patternDetect's span union)
      .withColumn("word",
        when(col("__xlast").isNotNull, concat(xs.map(letter): _*)))
      .filter(col("word").isNotNull || lit(keepTails))
      .drop("__xlast")
  }

  /** ESD over LONG-valued inputs whose squares exceed the 2⁵³
    * double-exact range (the STL-residual composition, g94): Σx keeps
    * exact in Long, Σx² in BigInt; every double appears only at the z /
    * selection expressions, freshly converted with correct rounding so
    * the trees mirror the oracle's HUGEINT→DOUBLE casts. Same round
    * semantics as [[esdFlag]]. `lams` maps n → λ critical value.
    * Returns (gtsid, ts, v, round).
    */
  def esdFlagLongKernel(df: DataFrame, k: Int,
                        lams: Map[Int, Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("gtsid"), col("ts"), col("v"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (id: Long, it: Iterator[(Long, Long, Long)]) =>
        val remaining = scala.collection.mutable.ArrayBuffer.from(
          it.map(t => (t._2, t._3)))
        var n = remaining.length.toDouble
        var sx = 0L
        var sxx = BigInt(0)
        remaining.foreach { case (_, v) => sx += v; sxx += BigInt(v) * v }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Int, Boolean)]
        var r = 1
        while (r <= k) {
          // variance guard in EXACT integer arithmetic (mirrors the
          // oracle's ni·sxx − sx·sx > 0 over HUGEINT)
          if (n >= 3 &&
              BigInt(remaining.length) * sxx - BigInt(sx) * sx > 0) {
            var bi = -1; var ba = 0.0; var bts = 0L; var bv = 0L
            var i = 0
            while (i < remaining.length) {
              val (ts, v) = remaining(i)
              val a = math.abs(n * v - sx.toDouble)
              if (bi < 0 || a > ba || (a == ba &&
                  (ts < bts || (ts == bts && v < bv)))) {
                bi = i; ba = a; bts = ts; bv = v
              }
              i += 1
            }
            val z = (ba / n) / math.sqrt(
              (sxx.toDouble - sx.toDouble * sx.toDouble / n) / (n - 1.0))
            out += ((id, bts, bv, r, z > lams.getOrElse(n.toInt, Double.MaxValue)))
            remaining.remove(bi)
            n -= 1.0; sx -= bv; sxx -= BigInt(bv) * bv
          }
          r += 1
        }
        val last = out.collect { case o if o._5 => o._4 }.maxOption.getOrElse(0)
        out.iterator.filter(_._4 <= last).map(o => (o._1, o._2, o._3, o._4))
      }
      .toDF("gtsid", "ts", "v", "round")
  }

  /** λ critical values per N as a CASE column (and SQL text via
    * [[lambdaSqlCase]]) — commons-math3 t-quantiles, driver-computed. */
  def lambdas(alpha: Double, maxN: Int): Map[Int, Double] =
    lambdasAt(alpha, 3 to maxN)

  /** λ criticals for an explicit N set (large fixed-grid compositions
    * like g94 need only k consecutive values of n, not a dense table). */
  def lambdasAt(alpha: Double, ns: Iterable[Int]): Map[Int, Double] =
    ns.map { n =>
      val t = new org.apache.commons.math3.distribution.TDistribution(n - 2)
        .inverseCumulativeProbability(1.0 - alpha / (2.0 * n))
      n -> (n - 1) * t / math.sqrt((n - 2 + t * t) * n)
    }.toMap

  /** CASE text for an explicit λ map (cf. [[lambdaSqlCase]]). */
  def lambdaSqlCaseOf(lams: Map[Int, Double], nExpr: String): String =
    lams.toSeq.sortBy(_._1).map { case (n, l) =>
      s"WHEN $nExpr = ${n.toDouble} THEN $l"
    }.mkString("CASE ", " ", s" ELSE ${Double.MaxValue} END")
  /** The same λ table as DuckDB CASE text over a column expression. */
  def lambdaSqlCase(alpha: Double, maxN: Int, nExpr: String): String =
    lambdas(alpha, maxN).toSeq.sortBy(_._1).map { case (n, l) =>
      s"WHEN $nExpr = ${n.toDouble} THEN $l"
    }.mkString("CASE ", " ", s" ELSE ${Double.MaxValue} END")

  /** N(0,1) equiprobable SAX breakpoints — the reference's own Acklam
    * inverse-CDF bounds (SAXUtils.getBounds:342-355 via
    * [[graft.kernels.SaxCodec.getBounds]]), NOT the rounded Lin et al.
    * table (alphabet 4 is ±0.674489750196…, not ±0.67). Shared
    * literals with the oracle SQL. */
  def saxBreakpoints(alphabet: Int): Seq[Double] =
    graft.kernels.SaxCodec.getBounds(alphabet).toSeq

  /** FFT surface (continuum/gts/FFT.java semantics — magnitude spectrum
    * of an equally-spaced series): DFT over `bins` end-anchored buckets
    * of width `span` ending at `lastbucket` (missing buckets = 0, same
    * zero-padding the reference applies before its radix-2 transform).
    *
    * Determinism contract: the twiddle factors cos/−sin(2πm/bins) are
    * DRIVER-COMPUTED literals quantized to 2⁻²⁰ dyadics (the ESD
    * λ-table pattern) and shared with the oracle SQL via [[dftWeights]]
    * — so w·x products and their sums are exact for integer bucket
    * sums, and re/im are bit-identical cross-engine; mag = √(re²+im²)
    * is a fixed tree of IEEE correctly-rounded ops on exact inputs.
    * O(bins) work per point, one aggregation per (series, k): at 100 TB
    * this is a map-side-combining hash agg, no per-series
    * materialization (vs the reference's in-RAM double[] per GTS).
    * Returns (class, labels, k, re, im, mag).
    */
  def dft(frame: GtsFrame, bins: Int, span: Long, lastbucket: Long): DataFrame = {
    val (wc, ws) = dftWeights(bins)
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val n = floor((lit(lastbucket) - col("ts")) / lit(span)).cast(LongType)
    val x = Gts.aggBySeries(frame.df.filter(col("ts") <= lastbucket && n < bins),
      n.as("n"))(sum(col("vdouble")).as("x"))
    val m = (pmod(col("k") * col("n"), lit(bins.toLong)) + 1L).cast(IntegerType)
    Gts.aggBySeries(x.withColumn("k", explode(sequence(lit(0L), lit(bins - 1L)))),
        col("k"))(
        sum(col("x") * element_at(array(wc.map(lit): _*), m)).as("re"),
        sum(-col("x") * element_at(array(ws.map(lit): _*), m)).as("im"))
      .withColumn("mag", sqrt(col("re") * col("re") + col("im") * col("im")))
      .drop("gtsid")
  }

  /** 2⁻²⁰-dyadic (cos, sin) twiddle tables for [[dft]] — shared driver
    * literals for both engines. */
  def dftWeights(bins: Int): (Seq[Double], Seq[Double]) = {
    val q = 1048576.0 // 2^20
    val wc = Seq.tabulate(bins)(m => math.rint(math.cos(2.0 * math.Pi * m / bins) * q) / q)
    val ws = Seq.tabulate(bins)(m => math.rint(math.sin(2.0 * math.Pi * m / bins) * q) / q)
    (wc, ws)
  }

  /** LOWESS (fn/LOWESS.java semantics, declarative): locally weighted
    * linear regression over the ±`halfWidth` index neighborhood of each
    * point, tricube weights w(Δ) = (1 − |Δ|³/denom³)³ with denom the
    * smallest power of two > halfWidth (so every weight is an exact
    * dyadic — 18 fractional bits at the default halfWidth 3 — and no
    * quantization step is needed). All five
    * regression sums Σw, ΣwΔ, Σwy, ΣwΔ², ΣwΔy are exact for integer
    * values y and |Δ|≤3, hence order-independent; the fitted value at
    * Δ=0, (ΣwΔ²·Σwy − ΣwΔ·ΣwΔy)/(Σw·ΣwΔ² − (ΣwΔ)²), is a fixed tree of
    * correctly-rounded ops on exact inputs — deterministic cross-engine
    * (the reason the commons-math LoessInterpolator kernel could never
    * be oracle-gated: its neighborhood sums are accumulation-order-
    * dependent). Degenerate windows (single point) fall back to the
    * weighted mean. Shape: one window pass for ranks + one self-join on
    * (gtsid, rn±h) — a band join per series, shuffle on gtsid only.
    * Returns (class, labels, ts, vdouble=fit).
    */
  def lowessFit(frame: GtsFrame, halfWidth: Int = 3): DataFrame = {
    // weight denominator = smallest power of two > halfWidth, so
    // |Δ|³/denom³ (and hence the tricube weight) stays an exact dyadic
    val denom = java.lang.Integer.highestOneBit(halfWidth) * 2
    val denom3 = denom.toDouble * denom * denom
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
    val o = frame.df.withColumn("rn", row_number().over(w))
    val i = o.select(col("gtsid"), col("class"), col("labels"),
      col("ts"), col("rn"))
    val j = o.select(col("gtsid").as("__jg"), col("rn").as("__jrn"),
      col("vdouble").as("__y"))
    val d = col("__jrn") - col("rn")
    val ad3 = abs(d) * abs(d) * abs(d)
    val b = lit(1.0) - ad3 / denom3
    val wt = b * b * b
    val p = i.join(j, col("gtsid") === col("__jg") &&
        col("__jrn") >= col("rn") - halfWidth &&
        col("__jrn") <= col("rn") + halfWidth)
      .select(col("gtsid"), col("class"), col("labels"), col("ts"), col("rn"),
        d.as("d"), col("__y").as("y"), wt.as("w"))
    // rn is the series' rank of ts, so ts is a key of the same group
    val s = Gts.aggBySeries(p, col("rn"), col("ts"))(
        sum(col("w")).as("sw"), sum(col("w") * col("d")).as("swx"),
        sum(col("w") * col("y")).as("swy"),
        sum(col("w") * col("d") * col("d")).as("swxx"),
        sum(col("w") * col("d") * col("y")).as("swxy"))
    val den = col("sw") * col("swxx") - col("swx") * col("swx")
    s.select(col("class"), col("labels"), col("ts"),
      when(den === 0.0, col("swy") / col("sw"))
        .otherwise((col("swxx") * col("swy") - col("swx") * col("swxy")) / den)
        .as("vdouble"))
  }

  /** DTW (fn/DTW.java lifted to frames): dynamic-time-warping distance
    * between the `bins`-bucket sum vectors of frames `a` and `b`,
    * paired within `byLabels` equivalence classes (missing buckets = 0,
    * the kernel's zero-fill). |x−y| costs over integer bucket sums keep
    * the DP exact, so the sequential kernel is engine-independent.
    * Each pair's DP is O(bins²) on two tiny vectors — the distributed
    * shape is one aggregation plus mapGroups over (labels) keys, no
    * cross-pair state. Returns (byLabels..., dtw).
    */
  def dtwPairs(a: GtsFrame, b: GtsFrame, byLabels: Seq[String],
               bins: Int, span: Long, lastbucket: Long,
               window: Int = Int.MaxValue): DataFrame = {
    val spark = a.df.sparkSession
    import spark.implicits._
    def side(d: DataFrame, s: Int) = {
      val n = floor((lit(lastbucket) - col("ts")) / lit(span)).cast("long")
      d.filter(col("ts") <= lastbucket && n < bins)
        .groupBy(array(byLabels.map(l =>
            col("labels").getItem(l).cast("string")): _*).as("k"),
          n.as("n"))
        .agg(sum(col("vdouble")).as("x"))
        .select(col("k"), lit(s).as("side"), col("n"), col("x"))
    }
    val tagged = side(a.df, 0).unionByName(side(b.df, 1))
      .as[(Seq[String], Int, Long, Double)]
    val out = tagged.groupByKey(_._1).mapGroups { (k, it) =>
      val av = Array.fill(bins)(0.0); val bv = Array.fill(bins)(0.0)
      it.foreach { case (_, s, i, x) =>
        if (s == 0) av(i.toInt) = x else bv(i.toInt) = x
      }
      (k, if (window >= bins) graft.kernels.SeriesKernels.dtw(av.toIndexedSeq, bv.toIndexedSeq)
          else graft.kernels.SeriesKernels.dtwBanded(av.toIndexedSeq, bv.toIndexedSeq, window))
    }.toDF("__k", "dtw")
    out.select(byLabels.zipWithIndex.map { case (l, i) =>
      element_at(col("__k"), i + 1).as(l)
    } :+ col("dtw"): _*)
  }

  /** PATTERNS / PATTERNDETECTION surface (fn/PATTERNS.java,
    * fn/PATTERNDETECTION.java semantics): slide a `win`-point window
    * along each series, SAX-encode every window (z-normalized per
    * window with the closed-form sd on exact sums — z_j =
    * (win·x_j − Σx)/√(win·Σx² − (Σx)²), exact integer numerator and
    * radicand), then detect motifs: words occurring in ≥ `minSeries`
    * distinct series. The reference materializes each GTS and string-
    * searches pattern lists; here candidate generation is an equality
    * GROUP BY on the word — the same join-on-discrete-key shape as the
    * LSH/SimHash banding paths, linear in input at 100 TB.
    * Returns (word, n_series, n_occ).
    */
  def saxMotifs(frame: GtsFrame, win: Int = 4, alphabet: Int = 4,
                minSeries: Int = 2, standardize: Boolean = true): DataFrame = {
    saxWindowWords(frame, win, alphabet, standardize)
      // two-stage distinct (word,series) → word: partial-aggregates on
      // both shuffles instead of countDistinct's Expand replication
      .groupBy(col("word"), col("gtsid")).agg(count(lit(1)).as("__c"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_series"), sum(col("__c")).as("n_occ"))
      .filter(col("n_series") >= minSeries)
  }

  /** PATTERNDETECTION (GTSHelper.java:9293 detect): keep every point
    * covered by at least one `win`-point window whose SAX word is in
    * `patterns` — the union of matched window spans, original values.
    * Distributed form: the window word lives on its start row, so a
    * point is covered iff any of the `win` preceding-or-current rows
    * carries a matching word — one max-over-rolling-window, no join.
    */
  def patternDetect(frame: GtsFrame, patterns: Seq[String], win: Int,
                    alphabet: Int, standardize: Boolean = true): DataFrame = {
    val withWords = saxWindowWords(frame, win, alphabet, standardize,
      keepTails = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
      .rowsBetween(-(win - 1), 0)
    withWords
      .withColumn("__hit",
        max(when(col("word").isin(patterns: _*), 1).otherwise(0)).over(w))
      .filter(col("__hit") === 1)
      .drop("word", "__hit")
  }

  /** Whole-series SAX letter word (ENGINE EXTENSION composing the
    * reference's STANDARDIZE + SAXUtils quantization — GTSHelper.
    * standardize:8902 z with Bessel sd, SAXUtils.getBounds bounds):
    * z-normalize each series, PAA to `wordLen` segments, quantize into
    * letters, concatenate. The sd is closed-form: segment w covers
    * 0-based ranks [w·n/wordLen, max((w+1)·n/wordLen, from+1)) in
    * (ts, value) order;
    * PAA_w = Σ_seg(n·x−Σx) / (len·√((n·Σx²−(Σx)²)·n/(n−1))),
    * exact-integer numerator. Returns (class, labels-id columns..,
    * word). Degenerate sd ⇒ all-zero z ⇒ middle letter.
    */
  def saxWords(frame: GtsFrame, wordLen: Int, alphabet: Int): DataFrame = {
    val bps = saxBreakpoints(alphabet)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
    val ranked = frame.df
      .withColumn("__j", row_number().over(w) - 1) // 0-based rank
    // class/labels ride in from the ranked side: its partitioning by
    // gtsid then serves both per-series aggregates below
    val stats = frame.df.groupBy(col("gtsid").as("__g")).agg(
      count(lit(1)).as("n"),
      sum(col("vdouble")).as("sx"),
      sum(col("vdouble") * col("vdouble")).as("sxx"))
    val segs = stats.withColumn("w", explode(sequence(lit(0), lit(wordLen - 1))))
      .withColumn("__from",                       // integer division (w·n/L)
        floor(col("w") * col("n") / lit(wordLen)).cast("long"))
      .withColumn("__to", greatest(
        floor((col("w") + 1) * col("n") / lit(wordLen)).cast("long"),
        col("__from") + 1))
    val joined = Gts.aggBySeries(
      segs.join(ranked.select(col("gtsid"), col("class"), col("labels"), col("__j"),
          col("vdouble")),
        col("gtsid") === col("__g") &&
          col("__j") >= col("__from") && col("__j") < col("__to")),
      col("w"))(
        first(col("n")).as("n"), first(col("sx")).as("sx"),
        first(col("sxx")).as("sxx"),
        sum(col("n") * col("vdouble") - col("sx")).as("znum"),
        count(lit(1)).as("len"))
    val det = col("n").cast("double") * col("sxx") - col("sx") * col("sx")
    // Bessel-corrected sd (GTSHelper.standardize:8902-8963): the whole-
    // series z divides by √(det·n/(n−1)); n>1 whenever det≠0
    val paa = when(det === 0.0, 0.0)
      .otherwise(col("znum") /
        (col("len") * sqrt(det * (col("n") / (col("n") - 1.0)))))
    // letter = first i with paa <= bps(i), else the last letter; fold
    // DESCENDING so the smallest breakpoint is the outermost test
    val letter = bps.zipWithIndex.reverse.foldLeft(
      lit(('a' + bps.length).toChar.toString)) {
      case (acc, (bp, i)) => when(paa <= bp, lit(('a' + i).toChar.toString)).otherwise(acc)
    }
    Gts.aggBySeries(joined.withColumn("__letter", letter))(
        array_join(transform(array_sort(collect_list(struct(col("w"), col("__letter")))),
          e => e.getField("__letter")), "").as("word"))
      .drop("gtsid")
  }

  // ---------------------------------------------------------------------
  // Faithful binary-SAX words (GTSHelper.bSAX:8977-9095) — what the
  // reference's PATTERNS/ZPATTERNS/PATTERNDETECTION/DISCORDS actually
  // emit and match on. Unlike the letter-string miners above (engine
  // extensions for cross-series motif mining), these produce the
  // reference's OPB64-encoded wire words via graft.kernels.SaxCodec.
  // ---------------------------------------------------------------------

  /** The per-window bSAX word as a Column on every window-START row
    * (null once fewer than `windowLen` points remain). Faithful to
    * GTSHelper.bSAX: per-window PAA to `wordLen` segment means of
    * `paaLen` points, optional standardization of the SEGMENT MEANS
    * with Bessel's correction (GTSHelper.java:9055-9075), sigma == 0 ⇒
    * mean-subtraction only, quantization by SaxCodec's Acklam bounds
    * (upper bound included), bit-interleaved pack + OPB64.
    *
    * Whole-stage-codegen path: the symbol vector folds to its
    * base-`alphabet` integer and the word is an `element_at` into the
    * driver-computed [[graft.kernels.SaxCodec.wordTable]] literal —
    * no UDF for any vocabulary ≤ 65536 words (a Scala UDF assembles
    * the word beyond that, off the fast path).
    */
  private def bsaxWordCol(df: DataFrame, alphabetSize: Int, wordLen: Int,
                          windowLen: Int, standardizePAA: Boolean): DataFrame = {
    val levels = graft.kernels.SaxCodec.levelsOf(alphabetSize)
    require(wordLen >= 1 && windowLen % wordLen == 0,
      "Wordlen MUST divide windowlen.")
    val paaLen = windowLen / wordLen
    val bounds = graft.kernels.SaxCodec.boundsForLevels(levels)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
    val x0 = coalesce(col("vdouble"), col("vlong").cast(DoubleType))
    val xs = (0 until windowLen).map(o =>
      if (o == 0) x0 else lead(x0, o).over(w))
    // segment means in the reference's add order (paaSum then /paaLen)
    val means = (0 until wordLen).map { seg =>
      xs.slice(seg * paaLen, (seg + 1) * paaLen).reduce(_ + _) / lit(paaLen.toDouble)
    }
    val zs =
      if (!standardizePAA) means
      else {
        val sum = means.reduce(_ + _)
        val sumsq = means.map(m => m * m).reduce(_ + _)
        val mu = sum / lit(wordLen.toDouble)
        val varNaive = sumsq / lit(wordLen.toDouble) -
          (sum * sum) / lit(wordLen.toDouble * wordLen.toDouble)
        val variance =
          if (wordLen > 1) varNaive * lit(wordLen.toDouble) / lit(wordLen - 1.0)
          else varNaive
        val sigma = sqrt(variance)
        means.map(m => when(sigma =!= 0.0, (m - mu) / sigma).otherwise(m - mu))
      }
    // symbol = first i with z <= bounds(i), else |bounds| (SAXUtils.SAX
    // binarySearch: exact bound match maps INTO that bound's interval)
    def symbol(z: Column): Column =
      bounds.zipWithIndex.reverse.foldLeft(lit(bounds.length.toLong)) {
        case (acc, (bp, i)) => when(z <= bp, lit(i.toLong)).otherwise(acc)
      }
    val vocab = math.pow(alphabetSize, wordLen)
    val wordExpr =
      if (vocab <= 65536) {
        val table = graft.kernels.SaxCodec.wordTable(levels, wordLen)
        val v = zs.map(symbol).reduce((acc, s) => acc * alphabetSize + s)
        element_at(array(table.map(lit): _*), (v + 1L).cast(IntegerType))
      } else {
        val wordUdf = udf((syms: Seq[Long]) =>
          graft.kernels.SaxCodec.bsaxWord(levels, syms.map(_.toInt).toArray))
        wordUdf(array(zs.map(symbol): _*))
      }
    df.withColumn("__word", when(xs.last.isNotNull, wordExpr))
  }

  /** PATTERNS / ZPATTERNS (fn/PATTERNS.java → GTSHelper.bSAX): replace
    * each series by the STRING GTS of its per-window bSAX words — one
    * word at every window-start tick, byte-identical to the reference's
    * OPB64 wire words. */
  def bsax(frame: GtsFrame, alphabetSize: Int, wordLen: Int,
           windowLen: Int, standardizePAA: Boolean): DataFrame =
    bsaxWordCol(frame.df, alphabetSize, wordLen, windowLen, standardizePAA)
      .filter(col("__word").isNotNull)
      .withColumn("vstring", col("__word"))
      .withColumn("vtype", lit(graft.model.GtsType.STRING))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vdouble", lit(null).cast(DoubleType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vbinary", lit(null).cast(BinaryType))
      .drop("__word")

  /** PATTERNDETECTION / ZPATTERNDETECTION (GTSHelper.detect:9293-9334):
    * keep every point covered by at least one `windowLen`-point window
    * whose bSAX word is in `patterns`, original values/locations, each
    * tick once. Distributed form: the window word lives on its start
    * row, so a point is covered iff any of the `windowLen`
    * preceding-or-current rows carries a matching word — one rolling
    * max, no join, no driver collect. */
  def bsaxDetect(frame: GtsFrame, patterns: Seq[String], alphabetSize: Int,
                 wordLen: Int, windowLen: Int,
                 standardizePAA: Boolean): DataFrame = {
    val withWords =
      bsaxWordCol(frame.df, alphabetSize, wordLen, windowLen, standardizePAA)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
      .rowsBetween(-(windowLen - 1), 0)
    withWords
      .withColumn("__hit",
        max(when(col("__word").isin(patterns: _*), 1).otherwise(0)).over(w))
      .filter(col("__hit") === 1)
      .drop("__word", "__hit")
  }
}
