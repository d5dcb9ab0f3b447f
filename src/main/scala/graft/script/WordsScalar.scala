package graft.script

/** Scalar math / bit-twiddling / encoding / time words from the
  * reference registry (fn/ADDEXACT.java family, fn/TOVARINT.java,
  * io.warp10.crypto.OrderPreservingBase64, fn/ADDDAYS.java,
  * fn/HUMANDURATION.java, fn/NPDF.java, unary/TOTIMESTAMP.java).
  * All driver-side; time words use the µs platform unit
  * (Constants.TIME_UNITS_PER_S = 1_000_000).
  */
private[script] object WordsScalar {
  import WarpScriptEngine._

  private val US_PER_S = 1000000L
  private val US_PER_MS = 1000L

  /** Order-preserving base64 (re-derived from
    * crypto/OrderPreservingBase64.java: the `.0-9A-Z_a-z` alphabet is
    * ASCII-ordered so encoded strings sort like the raw bytes; no
    * padding, tail length 1+len%3). */
  private val OPB64_ALPHABET =
    ".0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ_abcdefghijklmnopqrstuvwxyz"
  private val OPB64_INV: Array[Int] = {
    val inv = Array.fill(128)(-1)
    OPB64_ALPHABET.zipWithIndex.foreach { case (c, i) => inv(c.toInt) = i }
    inv
  }

  private[script] def opb64Encode(data: Array[Byte]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < data.length) {
      val rem = data.length - i
      val b0 = data(i) & 0xff
      if (rem >= 3) {
        val b1 = data(i + 1) & 0xff; val b2 = data(i + 2) & 0xff
        sb.append(OPB64_ALPHABET(b0 >> 2))
        sb.append(OPB64_ALPHABET(((b0 & 0x3) << 4) | (b1 >> 4)))
        sb.append(OPB64_ALPHABET(((b1 & 0xf) << 2) | (b2 >> 6)))
        sb.append(OPB64_ALPHABET(b2 & 0x3f))
      } else if (rem == 2) {
        val b1 = data(i + 1) & 0xff
        sb.append(OPB64_ALPHABET(b0 >> 2))
        sb.append(OPB64_ALPHABET(((b0 & 0x3) << 4) | (b1 >> 4)))
        sb.append(OPB64_ALPHABET((b1 & 0xf) << 2))
      } else {
        sb.append(OPB64_ALPHABET(b0 >> 2))
        sb.append(OPB64_ALPHABET((b0 & 0x3) << 4))
      }
      i += 3
    }
    sb.toString
  }

  private[script] def opb64Decode(s: String): Array[Byte] = {
    val n = s.length
    val outLen = (n / 4) * 3 + (n % 4 match {
      case 0 => 0
      case 2 => 1
      case 3 => 2
      case _ => throw new IllegalArgumentException("invalid OPB64 length")
    })
    val out = new Array[Byte](outLen)
    var i = 0; var o = 0
    while (i < n) {
      val rem = n - i
      def six(k: Int): Int = {
        val v = OPB64_INV(s.charAt(i + k).toInt)
        require(v >= 0, s"invalid OPB64 char '${s.charAt(i + k)}'")
        v
      }
      if (rem >= 4) {
        val (a, b, c, d) = (six(0), six(1), six(2), six(3))
        out(o) = ((a << 2) | (b >> 4)).toByte
        out(o + 1) = (((b & 0xf) << 4) | (c >> 2)).toByte
        out(o + 2) = (((c & 0x3) << 6) | d).toByte
        o += 3
      } else if (rem == 2) {
        val (a, b) = (six(0), six(1))
        out(o) = ((a << 2) | (b >> 4)).toByte; o += 1
      } else if (rem == 3) {
        val (a, b, c) = (six(0), six(1), six(2))
        out(o) = ((a << 2) | (b >> 4)).toByte
        out(o + 1) = (((b & 0xf) << 4) | (c >> 2)).toByte
        o += 2
      }
      i += 4
    }
    out
  }

  /** Unsigned LEB128 varint (Varint.encodeUnsignedLong). */
  private def varintEncode(l: Long, out: java.io.ByteArrayOutputStream): Unit = {
    var v = l
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def hexToBytes(s: String): Array[Byte] = {
    require(s.length % 2 == 0, "hex string must have even length")
    Array.tabulate(s.length / 2)(i =>
      Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte)
  }

  /** µs tick shifted by calendar units in a tz (fn/ADDDAYS.java:60-75
    * Joda plusDays → java.time). */
  private def calendarAdd(ts: Long, tz: String, n: Long,
      f: (java.time.ZonedDateTime, Long) => java.time.ZonedDateTime): Long = {
    val zdt = java.time.Instant.ofEpochMilli(Math.floorDiv(ts, US_PER_MS))
      .atZone(java.time.ZoneId.of(tz))
    val shifted = f(zdt, n)
    shifted.toInstant.toEpochMilli * US_PER_MS + Math.floorMod(ts, US_PER_MS)
  }

  /** ts [tz] n word prelude: pops n, optional tz, ts. */
  private def popTsTzN(st: State): (Long, String, Long) = {
    val n = st.popLong()
    st.pop() match {
      case tz: String => (st.popLong(), tz, n)
      case ts: Long => (ts, "UTC", n)
      case o => throw new IllegalArgumentException(s"expected ts [tz]: $o")
    }
  }

  /** The reference's OWN leap-year rule in the ADD*-list faces
    * (ADDDAYS.java:103, ADDMONTHS.java:115, ADDYEARS.java:101):
    * `year % 4 == 0 && year % 100 != 0` — century years NEVER leap
    * there (no 400 rule); reproduced verbatim. */
  private def refLeap(year: Int): Boolean = year % 4 == 0 && year % 100 != 0

  /** ADDDAYS' day-walk over a TSELEMENTS list (ADDDAYS.java:88-134):
    * one day at a time with per-month lengths under [[refLeap]]. */
  private def walkDays(y0: Int, m0: Int, d0: Int, n0: Int): (Int, Int, Int) = {
    var (year, month, day, days) = (y0, m0, d0, n0)
    def len31(m: Int) = m == 1 || m == 3 || m == 5 || m == 7 || m == 8 ||
      m == 10 || m == 12
    while (days < 0) {
      days += 1; day -= 1
      if (day < 1) {
        month -= 1
        if (month < 1) { year -= 1; month = 12 }
        day = if (len31(month)) 31
          else if (month != 2) 30
          else if (refLeap(year)) 29 else 28
      }
    }
    while (days > 0) {
      days -= 1; day += 1
      val over = (len31(month) && day > 31) ||
        (!len31(month) && month != 2 && day > 30) ||
        (month == 2 && !refLeap(year) && day > 28) ||
        (month == 2 && day > 29)
      if (over) { month += 1; day = 1 }
      if (month > 12) { month = 1; year += 1 }
    }
    (year, month, day)
  }

  def register(words: WordTable): Unit = {
    // ---- IEEE-754 neighborhood (fn/NEXTUP.java, ULP, GETEXPONENT,
    // SCALB)
    words("GETEXPONENT") { (w, st, en) => st.push(Math.getExponent(st.popNum()).toLong) }
    words("SCALB") { (w, st, en) =>
      val n = st.popLong().toInt; st.push(Math.scalb(st.popNum(), n))
    }

    // ---- bit words (fn/REVBITS.java, BITCOUNT, BITGET,
    // BITSTOBYTES/BYTESTOBITS, FROMBIN/FROMHEX)
    words("REVBITS") { (w, st, en) => st.push(java.lang.Long.reverse(st.popLong())) }
    words("BITCOUNT") { (w, st, en) =>
      st.pop() match {
        case l: Long => st.push(java.lang.Long.bitCount(l).toLong)
        case b: Array[Byte] => st.push(b.map(x => Integer.bitCount(x & 0xff)).sum.toLong)
        case o => throw new IllegalArgumentException(s"BITCOUNT on $o")
      }
    }
    words("BITGET") { (w, st, en) =>
      val bit = st.popLong().toInt
      st.pop() match {
        case l: Long => st.push((l >>> bit) & 1L)
        // byte arrays address bits MSB-first within bytes
        case b: Array[Byte] =>
          st.push(((b(bit / 8) >> (7 - bit % 8)) & 1).toLong)
        case o => throw new IllegalArgumentException(s"BITGET on $o")
      }
    }
    words("BITSTOBYTES") { (w, st, en) =>
      val bits = st.popStr()
      require(bits.length % 8 == 0, "BITSTOBYTES expects a multiple of 8 bits")
      st.push(Array.tabulate(bits.length / 8)(i =>
        Integer.parseInt(bits.substring(8 * i, 8 * i + 8), 2).toByte))
    }
    words("BYTESTOBITS") { (w, st, en) =>
      val b = en.popBytes(st)
      val sb = new StringBuilder(b.length * 8)
      b.foreach { x =>
        var i = 7
        while (i >= 0) { sb.append((x >> i) & 1); i -= 1 }
      }
      st.push(sb.toString)
    }
    words("FROMBIN") { (w, st, en) => st.push(java.lang.Long.parseUnsignedLong(st.popStr(), 2)) }
    words("FROMHEX") { (w, st, en) => st.push(java.lang.Long.parseUnsignedLong(st.popStr(), 16)) }
    words("BINTOHEX") { (w, st, en) =>
      val bits = st.popStr()
      require(bits.length % 8 == 0, "BINTOHEX expects a multiple of 8 bits")
      st.push((0 until bits.length / 8).map(i =>
        "%02x".format(Integer.parseInt(bits.substring(8 * i, 8 * i + 8), 2))).mkString)
    }
    words("HEXTOBIN") { (w, st, en) =>
      val bytes = hexToBytes(st.popStr())
      val sb = new StringBuilder(bytes.length * 8)
      bytes.foreach { x =>
        var i = 7
        while (i >= 0) { sb.append((x >> i) & 1); i -= 1 }
      }
      st.push(sb.toString)
    }
    words("B64TOHEX") { (w, st, en) =>
      st.push(java.util.Base64.getDecoder.decode(st.popStr())
        .map("%02x".format(_)).mkString)
    }
    words("HEXTOB64") { (w, st, en) =>
      st.push(java.util.Base64.getEncoder.encodeToString(hexToBytes(st.popStr())))
    }

    // ---- randomness (fn/RAND.java, PRNG, SRAND): the engine's PRNG
    // has a FIXED default seed for replayability — the reference's
    // RAND is non-deterministic by design; PRNG re-seeds, SRAND
    // draws from the seeded generator
    words("RAND") { (w, st, en) => st.push(en.prng.nextDouble()) }
    words("PRNG") { (w, st, en) => en.prng.setSeed(st.popLong()) }
    words("SRAND") { (w, st, en) => st.push(en.prng.nextDouble()) }
    words("UUID") { (w, st, en) => // reference: UUID.randomUUID(); PRNG-backed here
      val hi = en.prng.nextLong(); val lo = en.prng.nextLong()
      st.push(new java.util.UUID(hi, lo).toString)
    }

    // ---- distribution functions (fn/NPDF.java builder: mu sigma
    // NPDF → function; EVAL pops x, pushes the density)
    words("NPDF") { (w, st, en) =>
      val sigma = st.popNum(); val mu = st.popNum()
      require(sigma > 0, "NPDF expects sigma > 0")
      st.push(NativeFn("NPDF", s => {
        val x = s.popNum()
        s.push(1.0 / (math.sqrt(2 * math.Pi) * sigma) *
          math.exp(-(x - mu) * (x - mu) / (2 * sigma * sigma)))
      }))
    }

    // lowercase constant words (WarpScriptLib 'e' / 'pi')
    words("e") { (w, st, en) => st.push(math.E) }
    words("pi", "PI->") { (w, st, en) => st.push(math.Pi) }

    // ---- regex (fn/MATCHER.java, MATCH: full-match group list)
    words("MATCHER") { (w, st, en) => st.push(java.util.regex.Pattern.compile(st.popStr())) }
    words("MATCH") { (w, st, en) =>
      val pat = st.pop() match {
        case p: java.util.regex.Pattern => p
        case s: String => java.util.regex.Pattern.compile(s)
        case o => throw new IllegalArgumentException(s"MATCH regex: $o")
      }
      val m = pat.matcher(st.popStr())
      if (m.matches())
        st.push((0 to m.groupCount).map(g => m.group(g): Any).toVector)
      else st.push(Vector.empty[Any])
    }

    // ---- encodings (fn/TOB64URL.java, OPB64 family, ->HEX/HEX->,
    // ->BIN/BIN->)
    words("->B64") { (w, st, en) =>
      st.push(java.util.Base64.getEncoder.encodeToString(en.popBytes(st)))
    }
    words("B64->") { (w, st, en) => st.push(java.util.Base64.getDecoder.decode(st.popStr())) }
    words("->B64URL") { (w, st, en) =>
      st.push(java.util.Base64.getUrlEncoder.withoutPadding
        .encodeToString(en.popBytes(st)))
    }
    words("B64URL->") { (w, st, en) => st.push(java.util.Base64.getUrlDecoder.decode(st.popStr())) }
    words("->OPB64") { (w, st, en) => st.push(opb64Encode(en.popBytes(st))) }
    words("OPB64->") { (w, st, en) => st.push(opb64Decode(st.popStr())) }
    words("OPB64TOHEX") { (w, st, en) =>
      st.push(opb64Decode(st.popStr()).map("%02x".format(_)).mkString)
    }
    words("->HEX") { (w, st, en) => st.push(en.popBytes(st).map("%02x".format(_)).mkString) }
    words("HEX->") { (w, st, en) => st.push(hexToBytes(st.popStr())) }
    words("->BIN") { (w, st, en) =>
      val b = en.popBytes(st)
      val sb = new StringBuilder(b.length * 8)
      b.foreach { x =>
        var i = 7
        while (i >= 0) { sb.append((x >> i) & 1); i -= 1 }
      }
      st.push(sb.toString)
    }
    words("BIN->") { (w, st, en) =>
      val bits = st.popStr()
      require(bits.length % 8 == 0, "BIN-> expects a multiple of 8 bits")
      st.push(Array.tabulate(bits.length / 8)(i =>
        Integer.parseInt(bits.substring(8 * i, 8 * i + 8), 2).toByte))
    }

    // ---- raw numeric bits (fn/TODOUBLEBITS.java family)
    words("->DOUBLEBITS") { (w, st, en) =>
      st.push(java.lang.Double.doubleToRawLongBits(st.popNum()))
    }
    words("DOUBLEBITS->") { (w, st, en) =>
      st.push(java.lang.Double.longBitsToDouble(st.popLong()))
    }
    words("->FLOATBITS") { (w, st, en) =>
      st.push(java.lang.Float.floatToRawIntBits(st.popNum().toFloat).toLong & 0xffffffffL)
    }
    words("FLOATBITS->") { (w, st, en) =>
      st.push(java.lang.Float.intBitsToFloat(st.popLong().toInt).toDouble)
    }

    // ->LONGBYTES (fn/TOLONGBYTES.java): value nbBytes → big-endian
    // bytes truncated to the low nbBytes
    words("->LONGBYTES") { (w, st, en) =>
      val nb = st.popLong().toInt
      require(nb >= 1 && nb <= 8, "->LONGBYTES expects 1-8 bytes")
      val v = st.popLong()
      st.push(Array.tabulate(nb)(i => (v >>> (8 * (nb - 1 - i))).toByte))
    }

    // ->VARINT / VARINT-> (fn/TOVARINT.java: unsigned LEB128 of a
    // LONG or list of LONGs; decode takes an optional count)
    words("->VARINT") { (w, st, en) =>
      val out = new java.io.ByteArrayOutputStream
      st.pop() match {
        case l: Long => varintEncode(l, out)
        case v: Vector[Any @unchecked] => v.foreach(x => varintEncode(en.asLong(x), out))
        case o => throw new IllegalArgumentException(s"->VARINT on $o")
      }
      st.push(out.toByteArray)
    }
    words("VARINT->") { (w, st, en) =>
      var top = st.pop()
      var count = Long.MaxValue
      top match {
        case l: Long => count = l; top = st.pop()
        case _ =>
      }
      val data = top.asInstanceOf[Array[Byte]]
      val values = Vector.newBuilder[Any]
      var i = 0; var n = 0L
      while (i < data.length && n < count) {
        var v = 0L; var shift = 0
        var more = true
        while (more) {
          val b = data(i); i += 1
          v |= (b & 0x7fL) << shift; shift += 7
          more = (b & 0x80) != 0
        }
        values += v; n += 1
      }
      st.push(values.result())
    }

    // ---- timestamps & calendar arithmetic (unary/TOTIMESTAMP.java,
    // fn/ADDDAYS.java, ADDMONTHS, ADDYEARS, ADDDURATION, AGO)
    words("TOTIMESTAMP") { (w, st, en) =>
      val zdt = java.time.ZonedDateTime.parse(st.popStr())
      st.push(zdt.toInstant.getEpochSecond * US_PER_S + zdt.getNano / 1000L)
    }
    // each ADD* also takes a TSELEMENTS list below the count
    // (ADDDAYS.java:60-140 and siblings): element arithmetic with
    // the reference's own no-400 leap rule, day clamped after a
    // month/year move
    words("ADDDAYS") { (w, st, en) =>
      st.stack(1) match {
        case _: Vector[_] =>
          val n = st.popLong().toInt
          val elts = st.pop().asInstanceOf[Vector[Any]]
          val (y, m, d) = walkDays(en.asLong(elts(0)).toInt,
            en.asLong(elts(1)).toInt, en.asLong(elts(2)).toInt, n)
          st.push(elts.updated(0, y.toLong).updated(1, m.toLong)
            .updated(2, d.toLong))
        case _ =>
          val (ts, tz, n) = popTsTzN(st)
          st.push(calendarAdd(ts, tz, n, (z, k) => z.plusDays(k)))
      }
    }
    words("ADDMONTHS") { (w, st, en) =>
      st.stack(1) match {
        case _: Vector[_] =>
          val n = st.popLong().toInt
          val elts = st.pop().asInstanceOf[Vector[Any]]
          var year = en.asLong(elts(0)).toInt
          var month = en.asLong(elts(1)).toInt
          var k = n
          while (k < 0) { k += 1; month -= 1
            if (month < 1) { month = 12; year -= 1 } }
          while (k > 0) { k -= 1; month += 1
            if (month > 12) { month = 1; year += 1 } }
          var out = elts.updated(0, year.toLong).updated(1, month.toLong)
          if (elts.size > 2) {
            val day = en.asLong(elts(2)).toInt
            if (month == 2 && day > 28)
              out = out.updated(2, (if (refLeap(year)) 29L else 28L))
            else if (day > 30 && (month == 4 || month == 6 || month == 9 ||
                month == 11))
              out = out.updated(2, 30L)
          }
          st.push(out)
        case _ =>
          val (ts, tz, n) = popTsTzN(st)
          st.push(calendarAdd(ts, tz, n, (z, k) => z.plusMonths(k)))
      }
    }
    words("ADDYEARS") { (w, st, en) =>
      st.stack(1) match {
        case _: Vector[_] =>
          val n = st.popLong().toInt
          val elts = st.pop().asInstanceOf[Vector[Any]]
          val year = en.asLong(elts(0)).toInt + n
          var out = elts.updated(0, year.toLong)
          if (elts.size > 2) {
            val month = en.asLong(elts(1)).toInt
            val day = en.asLong(elts(2)).toInt
            if (month == 2 && day > 28 && !refLeap(year))
              out = out.updated(2, 28L)
          }
          st.push(out)
        case _ =>
          val (ts, tz, n) = popTsTzN(st)
          st.push(calendarAdd(ts, tz, n, (z, k) => z.plusYears(k)))
      }
    }
    // ADDDURATION (fn/ADDDURATION.java, faithful r12): optional
    // LONG count of durations on top, then the ISO-8601 duration,
    // then [tz] and a timestamp OR a TSELEMENTS list (converted,
    // shifted, converted back — both legs in UTC like the
    // reference's FROMTSELEMENTS/TSELEMENTS calls after the tz was
    // consumed). Calendar part applied N times in tz, sub-day part
    // added as exact µs × N.
    words("ADDDURATION") { (w, st, en) =>
      var top = st.pop()
      var nTimes = 1L
      top match {
        case l: Long => nTimes = l; top = st.pop()
        case _ =>
      }
      val iso = top match {
        case s: String => s
        case o => throw new IllegalArgumentException(
          s"ADDDURATION expects an ISO8601 duration, got $o")
      }
      val neg = iso.startsWith("-")
      val body = if (neg) iso.substring(1) else iso
      val (periodPart, durPart) = splitIsoDuration(body)
      val sign = if (neg) -1L else 1L
      def shift(ts: Long, tz: String): Long = {
        val p = periodPart.multipliedBy(
          java.lang.Math.toIntExact(sign * nTimes))
        calendarAdd(ts, tz, 1L, (z, _) => z.plus(p)) +
          sign * durPart * nTimes
      }
      st.pop() match {
        case tz: String => st.push(shift(st.popLong(), tz))
        case ts: Long => st.push(shift(ts, "UTC"))
        case elts: Vector[Any @unchecked] =>
          // FROMTSELEMENTS (UTC) → shift → TSELEMENTS (UTC)
          def at(i: Int, dflt: Long): Long =
            if (i < elts.size) en.asLong(elts(i)) else dflt
          val us = at(6, 0)
          val zdt = java.time.ZonedDateTime.of(at(0, 0).toInt,
            at(1, 1).toInt, at(2, 1).toInt, at(3, 0).toInt,
            at(4, 0).toInt, at(5, 0).toInt, 0, java.time.ZoneId.of("UTC"))
          val ts = zdt.toInstant.getEpochSecond * US_PER_S + us
          val out = shift(ts, "UTC")
          // render back to TSELEMENTS (UTC), mirroring the
          // TSELEMENTS word's element list
          val outMs = Math.floorDiv(out, 1000L)
          val z2 = java.time.Instant.ofEpochMilli(outMs)
            .atZone(java.time.ZoneId.of("UTC"))
          val micros = z2.getLong(
            java.time.temporal.ChronoField.MILLI_OF_SECOND) * 1000L +
            (out - outMs * 1000L)
          st.push(Vector[Any](z2.getYear.toLong, z2.getMonthValue.toLong,
            z2.getDayOfMonth.toLong, z2.getHour.toLong,
            z2.getMinute.toLong, z2.getSecond.toLong, micros,
            z2.getDayOfYear.toLong, z2.getDayOfWeek.getValue.toLong,
            z2.get(java.time.temporal.IsoFields.WEEK_OF_WEEK_BASED_YEAR).toLong))
        case o => throw new IllegalArgumentException(s"ADDDURATION ts: $o")
      }
    }
    words("AGO") { (w, st, en) => st.push(en.nowTick - st.popLong()) }
    words("NOTBEFORE") { (w, st, en) => // ts NOTBEFORE: fail when NOW < ts
      val ts = st.popLong()
      require(en.nowTick >= ts, s"NOTBEFORE: now < $ts")
    }
    words("NOTAFTER") { (w, st, en) =>
      val ts = st.popLong()
      require(en.nowTick <= ts, s"NOTAFTER: now > $ts")
    }

    // DURATION (fn/DURATION.java): ISO8601 duration → µs; month/year
    // components are calendar-ambiguous and rejected, like the
    // reference's allowAmbiguous=false
    words("DURATION") { (w, st, en) =>
      val iso = st.popStr()
      val neg = iso.startsWith("-")
      val body = if (neg) iso.substring(1) else iso
      val (period, micros) = splitIsoDuration(body)
      require(period.getYears == 0 && period.getMonths == 0,
        "DURATION cannot convert ambiguous month/year spans; use ADDDURATION")
      val total = period.getDays * 86400L * US_PER_S + micros
      st.push(if (neg) -total else total)
    }
    // HUMANDURATION (fn/HUMANDURATION.java:40-82): µs → '[-]DdHhMm
    // S.ffffffs' with zero-padded 6-digit fraction
    words("HUMANDURATION") { (w, st, en) =>
      var duration = st.popLong()
      val sb = new StringBuilder
      if (duration < 0) sb.append("-")
      val days = duration / (US_PER_S * 86400L)
      if (math.abs(days) > 0) {
        sb.append(math.abs(days)).append("d")
        duration -= days * US_PER_S * 86400L
      }
      val hours = duration / (US_PER_S * 3600L)
      if (math.abs(hours) > 0 || sb.nonEmpty) {
        sb.append(math.abs(hours)).append("h")
        duration -= hours * US_PER_S * 3600L
      }
      val minutes = duration / (US_PER_S * 60L)
      if (math.abs(minutes) > 0 || sb.nonEmpty) {
        sb.append(math.abs(minutes)).append("m")
        duration -= minutes * US_PER_S * 60L
      }
      val seconds = duration / US_PER_S
      sb.append(math.abs(seconds))
      duration -= seconds * US_PER_S
      sb.append(".")
      sb.append((US_PER_S + math.abs(duration)).toString.substring(1))
      sb.append("s")
      st.push(sb.toString)
    }
    // ISODURATION (fn/ISODURATION.java: Joda ISOPeriodFormat over a
    // millisecond period — hours/minutes/seconds/millis fields)
    words("ISODURATION") { (w, st, en) =>
      val us = st.popLong()
      val ms = us / US_PER_MS
      val h = ms / 3600000L; val m = (ms % 3600000L) / 60000L
      val sMs = ms % 60000L
      val sb = new StringBuilder("PT")
      if (h != 0) sb.append(h).append("H")
      if (m != 0) sb.append(m).append("M")
      if (sMs != 0 || (h == 0 && m == 0)) {
        if (sMs % 1000 == 0) sb.append(sMs / 1000).append("S")
        else sb.append(sMs / 1000).append(".").append("%03d".format(sMs % 1000)).append("S")
      }
      st.push(sb.toString)
    }

    // time-unit constants (Constants.TIME_UNITS_PER_S / _PER_MS on
    // the µs platform)
    words("STU") { (w, st, en) => st.push(US_PER_S) }
    words("MSTU") { (w, st, en) => st.push(US_PER_MS) }

    // TSELEMENTS-> (fn/TSELEMENTSTO.java): [ year month day hour min
    // sec us ] [tz] → µs tick (missing trailing elements default 1/0)
    words("TSELEMENTS->") { (w, st, en) =>
      val tz = st.stack.headOption match {
        case Some(s: String) => st.pop(); s
        case _ => "UTC"
      }
      val el = st.pop().asInstanceOf[Vector[Any]].map(en.asLong)
      def at(i: Int, dflt: Long): Long = if (i < el.size) el(i) else dflt
      val us = at(6, 0)
      val zdt = java.time.ZonedDateTime.of(at(0, 0).toInt, at(1, 1).toInt,
        at(2, 1).toInt, at(3, 0).toInt, at(4, 0).toInt, at(5, 0).toInt,
        0, java.time.ZoneId.of(tz))
      st.push(zdt.toInstant.getEpochSecond * US_PER_S + us)
    }
  }

  /** Split an ISO-8601 duration body (no leading sign) into its
    * calendar Period (Y/M/W/D) and exact sub-day microseconds. */
  private def splitIsoDuration(body: String): (java.time.Period, Long) = {
    val tIdx = body.indexOf('T')
    val datePart = if (tIdx < 0) body else body.substring(0, tIdx)
    val timePart = if (tIdx < 0) "" else "PT" + body.substring(tIdx + 1)
    val period =
      if (datePart == "P" || datePart.isEmpty) java.time.Period.ZERO
      else java.time.Period.parse(datePart)
    val micros =
      if (timePart.isEmpty) 0L
      else {
        val d = java.time.Duration.parse(timePart)
        d.getSeconds * US_PER_S + d.getNano / 1000L
      }
    (period, micros)
  }
}
