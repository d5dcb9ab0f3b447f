package graft.script

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Third extension registry: quaternion words (fn/TOQUATERNION.java
  * family — packed 4x16-bit unit quaternions on the stack, reusing
  * [[graft.functions.Quaternions]] which carries the exact pack
  * arithmetic in driver/Column/SQL twin forms), the interpolator suite
  * (script/interpolation/INTERPOLATOR_1D/2D/3D/ND.java over the same
  * commons-math3 Spark ships), and distribution words (fn/RANDPDF.java).
  */
private[script] object WordsExt3 {
  import WarpScriptEngine._
  import graft.functions.Quaternions

  /** A 1D piecewise-polynomial interpolant (the decomposition of
    * commons-math's PolynomialSplineFunction): scalar EVAL on the
    * driver, and — because the pieces are plain polynomials — a
    * codegen'd nested-CASE Column for MAP, so interpolation of a
    * billion-point frame never leaves the executors. */
  private[script] final case class WsInterp(name: String,
      knots: Array[Double], coefs: Array[Array[Double]]) {

    def value(x: Double): Double = {
      if (x.isNaN || x < knots.head || x > knots.last) return Double.NaN
      var i = java.util.Arrays.binarySearch(knots, x)
      if (i < 0) i = -i - 2
      if (i >= coefs.length) i = coefs.length - 1
      val d = x - knots(i)
      val c = coefs(i)
      var acc = c(c.length - 1)
      var j = c.length - 2
      while (j >= 0) { acc = acc * d + c(j); j -= 1 }
      acc
    }

    /** Same piecewise Horner as a Column (interval via nested CASE). */
    def columnExpr(x: Column): Column = {
      def horner(c: Array[Double], d: Column): Column =
        c.init.foldRight(lit(c.last): Column)((ci, acc) => acc * d + lit(ci))
      // ascending fold so the OUTERMOST case tests the highest knot:
      // the first true `x >= knots(i)` from the top picks interval i
      val body = coefs.indices.foldLeft(lit(Double.NaN): Column) {
        (acc, i) => when(x >= knots(i), horner(coefs(i), x - knots(i))).otherwise(acc)
      }
      when(x.isNaN || x < knots.head || x > knots.last, Double.NaN).otherwise(body)
    }
  }

  private def toDoubles(v: Any, w: String): Array[Double] = v match {
    case l: Vector[Any @unchecked] => l.map {
      case d: Double => d
      case l: Long => l.toDouble
      case o => throw new IllegalArgumentException(s"$w expects a numeric LIST, got $o")
    }.toArray
    case o => throw new IllegalArgumentException(s"$w expects a LIST, got $o")
  }

  private def toGrid(v: Any, w: String): Array[Array[Double]] = v match {
    case l: Vector[Any @unchecked] => l.map(toDoubles(_, w)).toArray
    case o => throw new IllegalArgumentException(s"$w expects a LIST of LIST, got $o")
  }

  private def fromSpline(name: String,
      f: org.apache.commons.math3.analysis.polynomials.PolynomialSplineFunction): WsInterp =
    WsInterp(name, f.getKnots, f.getPolynomials.map(_.getCoefficients))

  private val secureRandom = new java.security.SecureRandom()

  def register(words: WordTable): Unit = {
    // ---- quaternions (fn/TOQUATERNION.java:97-111 packing) ----
    // w x y z ->Q : normalize, quantize each component to 16 bits
    words("->Q") { (w, st, en) =>
      val z = st.popNum(); val y = st.popNum()
      val x = st.popNum(); val q = st.popNum()
      st.push(Quaternions.toQuaternion(q, x, y, z))
    }
    // Q-> : unpack to w x y z doubles (QUATERNIONTO.java pushes
    // w, x, y, z in that order so z ends on top)
    words("Q->") { (w, st, en) =>
      val e = Quaternions.fromQuaternion(st.popLong())
      st.push(e(0)); st.push(e(1)); st.push(e(2)); st.push(e(3))
    }
    words("QCONJUGATE") { (w, st, en) => st.push(Quaternions.conjugate(st.popLong())) }
    // q r QMULTIPLY : Hamilton product, operand order per
    // QMULTIPLY.java:54-57 (r popped first)
    words("QMULTIPLY") { (w, st, en) =>
      val r = st.popLong(); val q = st.popLong()
      st.push(Quaternions.multiply(q, r))
    }
    words("QDIVIDE") { (w, st, en) =>
      val r = st.popLong(); val q = st.popLong()
      st.push(Quaternions.divide(q, r))
    }
    // x y z q QROTATE : rotate the vector, push x' y' z'
    // (QROTATE.java:35-62)
    words("QROTATE") { (w, st, en) =>
      val q = st.popLong()
      val z = st.popNum(); val y = st.popNum(); val x = st.popNum()
      val (a, b, c) = Quaternions.rotate(x, y, z, q)
      st.push(a); st.push(b); st.push(c)
    }
    // q QROTATION : axis x y z + angle in degrees
    // (QROTATION.java:35-63)
    words("QROTATION") { (w, st, en) =>
      val (x, y, z, angle) = Quaternions.rotation(st.popLong())
      st.push(x); st.push(y); st.push(z); st.push(angle)
    }
    // x y z angle ROTATIONQ : axis+angle (degrees) → quaternion
    // (ROTATIONQ.java:34-90: normalize axis, half-angle cos/sin)
    words("ROTATIONQ") { (w, st, en) =>
      val angle = st.popNum()
      val z0 = st.popNum(); val y0 = st.popNum(); val x0 = st.popNum()
      val norm = math.sqrt(x0 * x0 + y0 * y0 + z0 * z0)
      val (x, y, z) =
        if (norm != 0.0) (x0 / norm, y0 / norm, z0 / norm) else (x0, y0, z0)
      val cos = math.cos(math.toRadians(angle / 2.0))
      val sin = math.sin(math.toRadians(angle / 2.0))
      st.push(Quaternions.toQuaternion(cos, x * sin, y * sin, z * sin))
    }

    // ---- interpolators (script/interpolation/INTERPOLATOR_1D.java:
    // 139-193 — xval fval → interpolant; SPLINE needs > 2 points,
    // AKIMA > 4, else the reference FALLS BACK to linear; < 2 points
    // → an all-NaN interpolant)
    words("INTERPOLATOR.1D.LINEAR", "INTERPOLATOR.1D.SPLINE",
      "INTERPOLATOR.1D.AKIMA") { (w, st, en) =>
      import org.apache.commons.math3.analysis.interpolation._
      val fval = toDoubles(st.pop(), w)
      val xval = toDoubles(st.pop(), w)
      require(xval.length == fval.length, s"$w: incoherent argument sizes")
      val d1 = xval.length
      val interp =
        if (w.endsWith("SPLINE") && d1 > 2)
          fromSpline(w, new SplineInterpolator().interpolate(xval, fval))
        else if (w.endsWith("AKIMA") && d1 > 4)
          fromSpline(w, new AkimaSplineInterpolator().interpolate(xval, fval))
        else if (d1 > 1)
          fromSpline(w, new LinearInterpolator().interpolate(xval, fval))
        else WsInterp(w, Array(Double.NaN, Double.NaN), Array(Array(Double.NaN)))
      st.push(interp)
    }

    // INTERPOLATOR_2D.java: xval yval fval-grid → fn over [x, y]
    words("INTERPOLATOR.2D.BICUBIC") { (w, st, en) =>
      import org.apache.commons.math3.analysis.interpolation.BicubicInterpolator
      val fval = toGrid(st.pop(), w)
      val yval = toDoubles(st.pop(), w)
      val xval = toDoubles(st.pop(), w)
      val f = new BicubicInterpolator().interpolate(xval, yval, fval)
      st.push(NativeFn(w, s => {
        val p = toDoubles(s.pop(), w)
        require(p.length == 2, s"$w expects a LIST with 2 components")
        s.push(if (f.isValidPoint(p(0), p(1))) f.value(p(0), p(1)) else Double.NaN)
      }))
    }

    // INTERPOLATOR_3D.java: xval yval zval fval-grid → fn over [x,y,z]
    words("INTERPOLATOR.3D.TRICUBIC") { (w, st, en) =>
      import org.apache.commons.math3.analysis.interpolation.TricubicInterpolator
      val fval = (st.pop() match {
        case l: Vector[Any @unchecked] => l.map(toGrid(_, w)).toArray
        case o => throw new IllegalArgumentException(s"$w expects a LIST^3, got $o")
      })
      val zval = toDoubles(st.pop(), w)
      val yval = toDoubles(st.pop(), w)
      val xval = toDoubles(st.pop(), w)
      val f = new TricubicInterpolator().interpolate(xval, yval, zval, fval)
      st.push(NativeFn(w, s => {
        val p = toDoubles(s.pop(), w)
        require(p.length == 3, s"$w expects a LIST with 3 components")
        s.push(if (f.isValidPoint(p(0), p(1), p(2))) f.value(p(0), p(1), p(2))
          else Double.NaN)
      }))
    }

    // INTERPOLATOR_ND.java: [points] [values] [{params}] → microsphere
    // projection fn (defaults INTERPOLATOR_ND.java:63-68); the S
    // variant draws its sphere from the stack's seeded PRNG
    words("INTERPOLATOR.ND.MICROSPHERE", "INTERPOLATOR.ND.SMICROSPHERE") { (w, st, en) =>
      import org.apache.commons.math3.analysis.interpolation._
      import org.apache.commons.math3.random.{JDKRandomGenerator, UnitSphereRandomVectorGenerator}
      var top = st.pop()
      val params: Map[String, Double] = top match {
        case m: Map[Any @unchecked, Any @unchecked] =>
          top = st.pop()
          m.map { case (k, v) => k.toString -> en.asNum(v) }
        case _ => Map.empty
      }
      val fval = toDoubles(top, w)
      val xval = toGrid(st.pop(), w)
      require(xval.length == fval.length, s"$w: incoherent input list sizes")
      val dim = xval.head.length
      val elements = params.getOrElse("elements", 2.0).toInt
      require(elements <= 50, s"$w: elements above the limit 50")
      val maxDark = params.getOrElse("maxDarkFraction", 0.5)
      val darkThr = params.getOrElse("darkThreshold", 1e-2)
      val background = params.getOrElse("background", Double.NaN)
      val exponent = params.getOrElse("exponent", 2.0)
      val tol = params.getOrElse("noInterpolationTolerance", Math.ulp(1.0))
      val interp =
        if (w.endsWith(".SMICROSPHERE")) {
          val gen = new JDKRandomGenerator(en.prng.nextInt())
          new MicrosphereProjectionInterpolator(
            new InterpolatingMicrosphere(dim, elements, maxDark, darkThr,
              background, new UnitSphereRandomVectorGenerator(dim, gen)),
            exponent, true, tol)
        } else new MicrosphereProjectionInterpolator(dim, elements, maxDark,
          darkThr, background, exponent, true, tol)
      val f = interp.interpolate(xval, fval)
      st.push(NativeFn(w, s => {
        val p = toDoubles(s.pop(), w)
        require(p.length == dim, s"$w expects a LIST with $dim components")
        s.push(f.value(p))
      }))
    }

    // ---- RANDPDF / SRANDPDF (fn/RANDPDF.java): histogram map → a
    // function emitting keys with probability proportional to counts;
    // the S variant draws from the stack's seeded PRNG
    words("RANDPDF", "SRANDPDF") { (w, st, en) =>
      val hist = st.pop() match {
        case m: Map[Any @unchecked, Any @unchecked] => m
        case o => throw new IllegalArgumentException(s"$w expects a MAP, got $o")
      }
      val entries = hist.toSeq.sortBy(_._1.toString)
      val total = entries.map(e => en.asNum(e._2)).sum
      require(total > 0, s"$w: empty histogram")
      val cum = entries.scanLeft(0.0)((acc, e) => acc + en.asNum(e._2) / total)
        .tail.toArray
      val keys = entries.map(_._1).toArray
      val seeded = w == "SRANDPDF"
      st.push(NativeFn(w, s => {
        val u = if (seeded) en.prng.nextDouble() else secureRandom.nextDouble()
        var i = java.util.Arrays.binarySearch(cum, u)
        if (i < 0) i = -i - 1
        s.push(keys(math.min(i, keys.length - 1)))
      }))
    }

    // ---- MACRO* adapters (fn/MACROMAPPER.java: one wrapper value
    // usable as mapper, reducer and bucketizer — here a [[MacroAgg]]
    // consumed by MAP/REDUCE/BUCKETIZE/FILTER and run by MacroKernel
    // on the executors via ScalarEval)
    words("MACROMAPPER", "MACROREDUCER", "MACROBUCKETIZER", "MACROFILTER") { (w, st, en) =>
      val m = st.pop() match {
        case m: WsMacro => m
        case o => throw new IllegalArgumentException(s"$w expects a macro, got $o")
      }
      st.push(MacroAgg(w, m.tokens))
    }

    // fn/math/RANDOM.java (Math.random)
    words("RANDOM") { (w, st, en) => st.push(math.random()) }

    // ---- RSAGEN (fn/RSAGEN.java: exponent keybits RSAGEN → private
    // key map then public key map, the RSAPUBLIC/RSAPRIVATE format)
    words("RSAGEN") { (w, st, en) =>
      val bits = st.popLong().toInt
      require(bits >= 512 && bits <= 8192, s"RSAGEN key length out of range: $bits")
      val exponent = new java.math.BigInteger(st.pop().toString)
      val gen = java.security.KeyPairGenerator.getInstance("RSA")
      gen.initialize(new java.security.spec.RSAKeyGenParameterSpec(bits, exponent))
      val kp = gen.generateKeyPair()
      val priv = kp.getPrivate.asInstanceOf[java.security.interfaces.RSAPrivateKey]
      val pub = kp.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey]
      st.push(Map[Any, Any]("modulus" -> priv.getModulus.toString,
        "algorithm" -> "RSA", "exponent" -> priv.getPrivateExponent.toString))
      st.push(Map[Any, Any]("modulus" -> pub.getModulus.toString,
        "algorithm" -> "RSA", "exponent" -> pub.getPublicExponent.toString))
    }

    // ---- Shamir secret sharing (fn/TOSSSS.java, SSSSTO — re-derived
    // GF(256) scheme, AES reduction polynomial 0x11b; share = x byte
    // followed by the per-byte polynomial evaluations)
    words("->SSSS") { (w, st, en) =>
      var top = st.pop()
      top match { case _: Boolean => top = st.pop(); case _ => () }
      val k = en.asLong(top).toInt
      require(k >= 2 && k <= 255, s"->SSSS needs 2 <= k <= 255: $k")
      val n = st.popLong().toInt
      require(n >= k && n <= 255, s"->SSSS needs k <= n <= 255: $n")
      val secret = en.popBytes(st)
      val rng = new java.security.SecureRandom()
      // per secret byte: random degree-(k-1) poly with the byte as
      // the constant term; share x = 1..n
      val coefs = secret.map { b =>
        val c = new Array[Int](k)
        c(0) = b & 0xff
        (1 until k).foreach(i => c(i) = rng.nextInt(256))
        c
      }
      val shares = (1 to n).map { x =>
        val out = new Array[Byte](1 + secret.length)
        out(0) = x.toByte
        coefs.zipWithIndex.foreach { case (c, i) =>
          out(1 + i) = gf256Eval(c, x).toByte
        }
        out
      }
      st.push(shares.toVector.map(identity[Any]))
    }
    words("SSSS->") { (w, st, en) =>
      val shares = st.pop().asInstanceOf[Vector[Any]].map {
        case b: Array[Byte] => b
        case o => throw new IllegalArgumentException(s"SSSS-> share $o")
      }
      require(shares.nonEmpty, "SSSS-> needs at least one share")
      val len = shares.head.length - 1
      require(shares.forall(_.length == len + 1), "SSSS-> shares of unequal length")
      val xs = shares.map(_(0) & 0xff)
      val secret = new Array[Byte](len)
      (0 until len).foreach { i =>
        val ys = shares.map(s => s(1 + i) & 0xff)
        secret(i) = gf256InterpolateAt0(xs, ys).toByte
      }
      st.push(secret)
    }

    // binary/INPLACEADD.java: list|set element +! → appended
    // container (this stack's containers are immutable, so "+!"
    // returns the grown copy — same observable stack effect)
    words("+!") { (w, st, en) =>
      val b = st.pop()
      st.pop() match {
        case v: Vector[Any @unchecked] => st.push(v :+ b)
        case s: Set[Any @unchecked] => st.push(s + b)
        case o => throw new IllegalArgumentException(s"+! on $o")
      }
    }

    // ---- BUCKETIZE.CALENDAR (fn/BUCKETIZECALENDAR.java: [ gts...
    // bucketizer lastbucket durationString count tz? ] — calendar-
    // aligned buckets whose µs width varies with the month/DST).
    // Subset: auto lastbucket/count (pass 0 0); bucket tick = the
    // calendar bucket START in the zone, as the native g41/g50 rows.
    words("BUCKETIZE.CALENDAR") { (w, st, en) =>
      import org.apache.spark.sql.functions._
      var args = st.pop().asInstanceOf[Vector[Any]]
      val tz = args.last match {
        case s: String => args = args.init; s
        case _ => "UTC"
      }
      val n = args.length
      require(en.asLong(args(n - 1)) == 0L && en.asLong(args(n - 3)) == 0L,
        "BUCKETIZE.CALENDAR: only auto lastbucket/count (0) are supported")
      val dur = args(n - 2).asInstanceOf[String]
      val unit = dur match {
        case "1h" | "h" => "hour"
        case "1d" | "d" => "day"
        case "1w" | "w" => "week"
        case "1m" | "m" => "month"
        case "1y" | "y" => "year"
        case o => throw new IllegalArgumentException(
          s"BUCKETIZE.CALENDAR duration '$o' not supported (1h/1d/1w/1m/1y)")
      }
      val agg = args(n - 4) match {
        case av: AggVal => av.agg
        case o => throw new IllegalArgumentException(s"not a bucketizer: $o")
      }
      val f = en.framesOf(args.take(n - 4))
      val local = from_utc_timestamp(timestamp_micros(col("ts")), tz)
      val tick = unix_micros(to_utc_timestamp(date_trunc(unit, local), tz))
      val grouped = graft.model.Gts.aggBySeries(f.df, tick.as("ts"))(
        agg.column(col("vdouble"), col("ts")).cast("double").as("vdouble"))
      st.push(graft.operators.GtsFrame(graft.model.Gts.canonical(grouped)))
    }

    // ---- parallel-apply aliases (fn/PAPPLY.java family: identical
    // semantics, the reference parallelizes in threads — this engine
    // is Spark-parallel everywhere)
    words("PAPPLY") { (w, st, en) => en.evalWordPub("APPLY", st) }
    words("PFILTER") { (w, st, en) => en.evalWordPub("FILTER", st) }
    words("PREDUCE") { (w, st, en) => en.evalWordPub("REDUCE", st) }

    // ---- misc tail
    // fn/IMMUTABLE.java: this stack's containers are already
    // immutable — identity, type-checked
    words("IMMUTABLE") { (w, st, en) =>
      st.pop() match {
        case v @ (_: Vector[_] | _: Map[_, _] | _: Set[_]) => st.push(v)
        case o => throw new IllegalArgumentException(s"IMMUTABLE on $o")
      }
    }
    // fn/SLEEP.java (capability-capped; fixed 10 s cap here)
    words("SLEEP") { (w, st, en) =>
      val ms = st.popLong()
      require(ms >= 0 && ms <= 10000, s"SLEEP capped at 10000 ms: $ms")
      Thread.sleep(ms)
    }
    // fn/PROBABILITY.java: histogram map → fn(value) = p(value)
    words("PROBABILITY") { (w, st, en) =>
      val hist = st.pop().asInstanceOf[Map[Any, Any]]
      val total = hist.values.map(en.asNum).sum
      require(total > 0, "PROBABILITY: empty histogram")
      val probs = hist.map { case (k, v) => k -> en.asNum(v) / total }
      st.push(NativeFn(w, s => s.push(probs.getOrElse(s.pop(), 0.0))))
    }
    // fn/TOVECTOR.java / VECTORTO: collection ↔ vector (this stack's
    // lists are already immutable vectors — identity both ways, with
    // SET flattening to its sorted list form)
    words("->V") { (w, st, en) =>
      st.pop() match {
        case v: Vector[Any @unchecked] => st.push(v)
        case s0: Set[Any @unchecked] => st.push(s0.toVector.sortWith(en.wsLt))
        case o => throw new IllegalArgumentException(s"->V on $o")
      }
    }
    words("V->") { (w, st, en) => st.push(st.pop().asInstanceOf[Vector[Any]]) }

    // manager toggles (MANAGERONOFF UPDATEON/OFF... — standalone
    // write-path switches; recorded as engine flags)
    words("UPDATEON", "UPDATEOFF", "METAON", "METAOFF", "DELETEON", "DELETEOFF",
      "WFON", "WFOFF", "LOGINIT") { (w, st, en) =>
      if (w.endsWith("OFF")) st.flags += s"off:${w.stripSuffix("OFF")}"
      else st.flags -= s"off:${w.stripSuffix("ON")}"
    }

    // ---- HULLSHAPE (fn/shape/HULLSHAPE.java): the smallest tensor
    // shape able to contain a ragged nested list — element i is the
    // largest list size at nesting depth i
    words("HULLSHAPE") { (w, st, en) =>
      st.push(hullShape(st.pop() match {
        case v: Vector[Any @unchecked] => v
        case o => throw new IllegalArgumentException(s"HULLSHAPE expects a LIST, got $o")
      }))
    }
  }

  // ---- GF(256) arithmetic (AES polynomial x^8+x^4+x^3+x+1) ----

  private def gf256Mul(a0: Int, b0: Int): Int = {
    var a = a0; var b = b0; var p = 0
    while (b != 0) {
      if ((b & 1) != 0) p ^= a
      a <<= 1
      if ((a & 0x100) != 0) a ^= 0x11b
      b >>= 1
    }
    p
  }

  private def gf256Pow(a: Int, e: Int): Int =
    (0 until e).foldLeft(1)((acc, _) => gf256Mul(acc, a))

  private def gf256Inv(a: Int): Int = {
    require(a != 0, "GF(256) inverse of 0")
    gf256Pow(a, 254) // a^(2^8-2)
  }

  private def gf256Eval(coefs: Array[Int], x: Int): Int =
    coefs.foldRight(0)((c, acc) => gf256Mul(acc, x) ^ c)

  /** Lagrange interpolation at x=0 over GF(256). */
  private def gf256InterpolateAt0(xs: Seq[Int], ys: Seq[Int]): Int = {
    var acc = 0
    xs.indices.foreach { i =>
      var li = 1
      xs.indices.foreach { j =>
        if (j != i) li = gf256Mul(li, gf256Mul(xs(j), gf256Inv(xs(i) ^ xs(j))))
      }
      acc ^= gf256Mul(ys(i), li)
    }
    acc
  }

  private def hullShape(list: Vector[Any]): Vector[Long] = {
    val nested = list.collect { case v: Vector[Any @unchecked] => hullShape(v) }
    val hull = nested.foldLeft(Vector.empty[Long]) { (a, b) =>
      val (s, t) = if (a.length < b.length) (a, b) else (b, a)
      s.zip(t).map { case (x, y) => math.max(x, y) } ++ t.drop(s.length)
    }
    list.length.toLong +: hull
  }
}
