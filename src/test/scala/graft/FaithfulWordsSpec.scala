package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine

/** Round-11 word-fidelity goldens: COMPACT vs RANGECOMPACT edge
  * semantics (GTSHelper.compact), the CORRELATE lag word
  * (continuum/gts/CORRELATE.java), VALUEHISTOGRAM's bucketized null
  * count, and MUSIGMA's exact-BigDecimal arithmetic — including the
  * reference's scale-limited HALF_UP divides. */
class FaithfulWordsSpec extends SparkSpec {

  private def mkFrame(vals: Seq[(Long, Double)], cls: String = "m.x"): GtsFrame = {
    import spark.implicits._
    val pts = vals.map { case (t, v) => (cls, Map("user" -> "1"), t, v) }
      .toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))
    GtsFrame(Gts.canonical(pts))
  }

  private def engineOf(f: GtsFrame) = new WarpScriptEngine(
    fetch = (cls, ls, a, b) => f.select(cls, ls).timeclip(a, b),
    nowTs = 0L, session = Some(spark))

  private val FETCH = "[ '' '~m\\..*' { } 99 100 ] FETCH"

  test("COMPACT keeps run starts plus the literal last point") {
    // runs: a a a b b — reference keeps a(t1), b(t4), b(t5)
    val f = mkFrame(Seq(1L -> 7.0, 2L -> 7.0, 3L -> 7.0, 4L -> 3.0, 5L -> 3.0))
    val e = engineOf(f)
    val got = e.runToFrame(s"$FETCH COMPACT")
      .orderBy("ts").collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("vdouble")))
    assert(got.toSeq === Seq(1L -> 7.0, 4L -> 3.0, 5L -> 3.0))
  }

  test("RANGECOMPACT takes no parameter and keeps run starts AND ends") {
    val f = mkFrame(Seq(1L -> 7.0, 2L -> 7.0, 3L -> 7.0, 4L -> 3.0, 5L -> 3.0))
    val e = engineOf(f)
    val got = e.runToFrame(s"$FETCH RANGECOMPACT")
      .orderBy("ts").collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("vdouble")))
    assert(got.toSeq === Seq(1L -> 7.0, 3L -> 7.0, 4L -> 3.0, 5L -> 3.0))
  }

  test("CORRELATE: a linear series correlates 1.0 with itself at lag 0 and 1") {
    import spark.implicits._
    // base m.a = 1..4 at ticks 10,20,30,40; other m.b identical
    val base = mkFrame(Seq(10L -> 1.0, 20L -> 2.0, 30L -> 3.0, 40L -> 4.0), "m.a")
    val other = mkFrame(Seq(10L -> 1.0, 20L -> 2.0, 30L -> 3.0, 40L -> 4.0), "m.b")
    val out = graft.operators.StatOps.crossCorrelate(base, other, Seq(0L, 10L, 1000L), identity)
      .select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // lag 0: z-vectors identical, Σz² = n−1 under Bessel ⇒ exactly 1.0
    assert(math.abs(out(0L) - 1.0) < 1e-12)
    // lag 10: clipped linear segments are again perfectly correlated
    assert(math.abs(out(10L) - 1.0) < 1e-12)
    // lag 1000: nothing aligns ⇒ the reference's 0.0
    assert(out(1000L) === 0.0)
  }

  test("VALUEHISTOGRAM counts typed values and bucketized empties") {
    val f = mkFrame(Seq(1L -> 5.0, 2L -> 5.0, 3L -> 7.0))
    val e = engineOf(f)
    val plain = e.run(s"$FETCH VALUEHISTOGRAM").head.asInstanceOf[Map[Any, Any]]
    assert(plain === Map(5.0 -> 2L, 7.0 -> 1L))
    // bucketized over 5 buckets: 2 empty ⇒ null → 2 (GTSHelper.
    // valueHistogram:9252-9256)
    val bucketized = e.run(
      s"[ $FETCH bucketizer.mean 5 1 5 ] BUCKETIZE VALUEHISTOGRAM")
      .head.asInstanceOf[Map[Any, Any]]
    assert(bucketized(null) === 2L)
    assert(bucketized(5.0) === 2L && bucketized(7.0) === 1L)
  }

  test("DTW/RAWDTW/ZDTW: scalar lag distance with the reference's arity and quirks") {
    val a = mkFrame(Seq(10L -> 0.0, 20L -> 10.0), "m.a")
    val b = mkFrame(Seq(10L -> 0.0, 20L -> 10.0), "m.b")
    def e2 = {
      val merged = GtsFrame(a.df.unionByName(b.df))
      new WarpScriptEngine(
        fetch = (cls, ls, s2, t2) => merged.select(cls, ls).timeclip(s2, t2),
        nowTs = 0L, session = Some(spark))
    }
    // RAWDTW of identical series = 0; with a tiny threshold → -1
    val raw = e2.run(
      "[ '' 'm.a' { } 99 100 ] FETCH [ '' 'm.b' { } 99 100 ] FETCH 0 RAWDTW")
    assert(raw.head === 0.0)
    // a single trailing string is the CHARACTERISTIC (the reference
    // pops it first) — distance needs the characteristic above it
    val rawThr = e2.run(
      "[ '' 'm.a' { } 99 100 ] FETCH [ '' 'm.b' { } 99 100 ] FETCH " +
        "0 'euclidean' 'values' RAWDTW")
    assert(rawThr.head === 0.0)
    intercept[Exception](e2.run(
      "[ '' 'm.a' { } 99 100 ] FETCH [ '' 'm.b' { } 99 100 ] FETCH 0 'euclidean' RAWDTW"))
    // DTW (0-1 normalized) of identical non-constant series = 0
    val norm = e2.run(
      "[ '' 'm.a' { } 99 100 ] FETCH [ '' 'm.b' { } 99 100 ] FETCH 0 DTW")
    assert(norm.head === 0.0)
    // ZDTW of IDENTICAL series is NONZERO: the reference normalizes the
    // second operand by muvar's VARIANCE instead of its sd — quirk-locked
    val z = e2.run(
      "[ '' 'm.a' { } 99 100 ] FETCH [ '' 'm.b' { } 99 100 ] FETCH 0 ZDTW")
      .head.asInstanceOf[Double]
    val (mu1, sd1) = graft.kernels.SeriesKernels.musigmaReference(
      Array(0.0, 10.0), bessel = true)
    val (mu2, var2) = graft.kernels.SeriesKernels.muvarReference(Array(0.0, 10.0))
    val expected = math.abs((0.0 - mu1) / sd1 - (0.0 - mu2) / var2) +
      math.abs((10.0 - mu1) / sd1 - (10.0 - mu2) / var2)
    assert(math.abs(z - expected) < 1e-12 && z > 0.5)
    // a constant series cannot be min-max normalized
    val c = mkFrame(Seq(10L -> 5.0, 20L -> 5.0), "m.c")
    val e3 = {
      val merged = GtsFrame(a.df.unionByName(c.df))
      new WarpScriptEngine(
        fetch = (cls, ls, s2, t2) => merged.select(cls, ls).timeclip(s2, t2),
        nowTs = 0L, session = Some(spark))
    }
    intercept[Exception](e3.run(
      "[ '' 'm.a' { } 99 100 ] FETCH [ '' 'm.c' { } 99 100 ] FETCH 0 DTW"))
    // hand-traced RAWDTW: [0,0] vs [1,1] manhattan = 2
    assert(graft.kernels.SeriesKernels.dtwReference(
      Array(0.0, 0.0), Array(1.0, 1.0), Int.MaxValue,
      Double.PositiveInfinity, "manhattan") === 2.0)
    // threshold early-exit returns the reference's -1
    assert(graft.kernels.SeriesKernels.dtwReference(
      Array(0.0, 0.0), Array(1.0, 1.0), Int.MaxValue, 0.5, "manhattan") === -1.0)
  }

  test("MUSIGMA replays the reference's scale-limited BigDecimal divides") {
    val f = mkFrame(Seq(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    val e = engineOf(f)
    val st = e.run(s"$FETCH true MUSIGMA")
    val sigma = st(0).asInstanceOf[Double]
    val mu = st(1).asInstanceOf[Double]
    assert(mu === 2.0)
    // the reference's BigDecimal path: sumsq "14.00" (scale 2 — each
    // bd.multiply(bd) doubles the scale) / 3 with HALF_UP → 4.67 (NOT
    // 4.666…); 36.00/9 → 4.00; variance 0.67, then * (3 / 2.0) and
    // sqrt — a genuine reference quirk, locked here
    assert(sigma === math.sqrt(0.67 * (3 / 2.0)))
    // NSUMSUMSQ pushes the exact decimal sums as doubles
    val st2 = e.run(s"$FETCH NSUMSUMSQ")
    assert(st2(0).asInstanceOf[Double] === 14.0)
    assert(st2(1).asInstanceOf[Double] === 6.0)
    assert(st2(2).asInstanceOf[Long] === 3L)
  }
}
