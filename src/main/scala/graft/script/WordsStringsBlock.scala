package graft.script

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** String words, comparison/boolean, time words, collections, the
  * BigDecimal tail, RSA, digests/AES key wrap, and SWITCH/TRY.
  */
private[script] object WordsStringsBlock {
  import WsToken._
  import WarpScriptEngine._

  /** WarpURLEncoder.encode (WarpURLEncoder.java): java URLEncoder,
    * then every '+' output (a space) rewritten %20. */
  private def warpUrlEncode(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
      .replace("+", "%20")

  /** WarpURLDecoder.decode (WarpURLDecoder.java): a %-free input is
    * returned AS IS (a bare '+' survives undecoded); otherwise literal
    * '+' is protected as %2B before URLDecoder runs. */
  private def warpUrlDecode(s: String): String =
    if (!s.contains("%")) s
    else java.net.URLDecoder.decode(s.replace("+", "%2B"),
      java.nio.charset.StandardCharsets.UTF_8)

  def register(words: WordTable): Unit = {
    // ---- string words (fn/SUBSTRING.java, SPLIT, JOIN, TEMPLATE family)
    words("TOUPPER") { (w, st, en) => st.push(st.popStr().toUpperCase) }
    words("TOLOWER") { (w, st, en) => st.push(st.popStr().toLowerCase) }
    // encodings (fn/TOB64.java, B64TO, TOHEX, fn/ISO8601.java).
    // B64TO pushes BYTES like the reference (B64TO.java:37) — follow
    // with `'UTF-8' BYTES->` for text.
    words("TOB64") { (w, st, en) =>
      st.push(java.util.Base64.getEncoder.encodeToString(en.popBytes(st)))
    }
    words("B64TO") { (w, st, en) =>
      st.push(java.util.Base64.getDecoder.decode(
        st.popStr().replace("\n", "").replace("\r", "").replace(" ", "")))
    }
    // TOHEX (fn/TOHEX.java): LONG → unpadded hex; STRING/BYTES → hex
    // of the UTF-8 bytes / raw bytes
    words("TOHEX") { (w, st, en) =>
      st.pop() match {
        case l: Long => st.push(java.lang.Long.toHexString(l))
        case b: Array[Byte] => st.push(b.map("%02x".format(_)).mkString)
        case s: String => st.push(
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .map("%02x".format(_)).mkString)
        case o => throw new IllegalArgumentException(s"TOHEX on $o")
      }
    }
    // ->BYTES / BYTES-> (fn/TOBYTES.java, fn/BYTESTO.java): string ↔
    // byte array under an explicit charset
    words("->BYTES") { (w, st, en) =>
      val cs = st.popStr(); st.push(st.popStr().getBytes(cs))
    }
    words("BYTES->") { (w, st, en) =>
      val cs = st.popStr()
      st.push(new String(st.pop().asInstanceOf[Array[Byte]], cs))
    }
    // TOBIN (fn/TOBIN.java): LONG → 64-bit binary text; STRING → bits
    // of its UTF-8 bytes
    words("TOBIN") { (w, st, en) =>
      st.pop() match {
        case l: Long =>
          val s = "0" * 64 + java.lang.Long.toBinaryString(l)
          st.push(s.substring(s.length - 64))
        case s: String =>
          val sb = new StringBuilder
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
            var i = 7
            while (i >= 0) { sb.append((b >> i) & 1); i -= 1 }
          }
          st.push(sb.toString)
        case o => throw new IllegalArgumentException(s"TOBIN on $o")
      }
    }
    // INDEXOF (fn/INDEXOF.java): coll item n INDEXOF → list of the
    // first n matching indices (n <= 0 = all)
    words("INDEXOF") { (w, st, en) =>
      val nRaw = st.popLong()
      val limit = if (nRaw <= 0) Long.MaxValue else nRaw
      val item = st.pop()
      val l = st.pop().asInstanceOf[Vector[Any]]
      st.push(l.zipWithIndex.collect { case (e, i) if e == item => i.toLong }
        .take(math.min(limit, Int.MaxValue).toInt))
    }
    words("ISO8601") { (w, st, en) => // µs tick → UTC ISO text (reference time unit)
      val t = st.popLong()
      st.push(java.time.Instant.ofEpochSecond(
          Math.floorDiv(t, 1000000L), Math.floorMod(t, 1000000L) * 1000L)
        .toString)
    }
    words("TRIM") { (w, st, en) => st.push(st.popStr().trim) }
    // URLENCODE/URLDECODE (fn/URLENCODE.java, fn/URLDECODE.java —
    // WarpURLEncoder/Decoder, faithful r12: spaces encode to %20, not
    // '+'; decode is a NO-OP on %-free input, so a bare '+' survives)
    words("URLENCODE") { (w, st, en) => st.push(warpUrlEncode(st.popStr())) }
    words("URLDECODE") { (w, st, en) => st.push(warpUrlDecode(st.popStr())) }
    // SUBSTRING (fn/SUBSTRING.java, faithful r12): str|bytes start
    // [len] — negative indexes wrap from the end (GET.
    // computeAndCheckIndex), the 3-arg form CLAMPS start+len to the
    // size, and byte arrays slice like strings
    words("SUBSTRING") { (w, st, en) =>
      def ck(index: Int, size: Int): Int = {
        var i = index
        if (i < 0) i += size
        else if (i >= size) throw new IllegalArgumentException(
          s"Index out of bound, $i >= $size")
        if (i < 0) throw new IllegalArgumentException(
          s"Index out of bound, ${i - size} < -$size")
        i
      }
      val n = st.pop() match {
        case l: Long => l.toInt
        case o => throw new IllegalArgumentException(
          s"SUBSTRING expects a numeric length or start index, got $o")
      }
      st.pop() match {
        case s: String => st.push(s.substring(ck(n, s.length)))
        case bs: Array[Byte] => st.push(
          java.util.Arrays.copyOfRange(bs, ck(n, bs.length), bs.length))
        case idxL: Long =>
          val i0 = idxL.toInt
          st.pop() match {
            case s: String =>
              val i = ck(i0, s.length)
              st.push(s.substring(i, math.min(n + i, s.length)))
            case bs: Array[Byte] =>
              val i = ck(i0, bs.length)
              st.push(java.util.Arrays.copyOfRange(bs, i,
                math.min(n + i, bs.length)))
            case o => throw new IllegalArgumentException(
              s"SUBSTRING can only operate on strings or byte arrays, got $o")
          }
        case o => throw new IllegalArgumentException(
          s"SUBSTRING can only operate on strings or byte arrays, got $o")
      }
    }
    // SPLIT (fn/SPLIT.java, faithful r12): single-CHAR delimiter only,
    // optional strictly-positive limit on top (at most limit−1 splits,
    // remainder kept whole); trailing empties are kept
    words("SPLIT") { (w, st, en) =>
      var top = st.pop()
      var limit = Int.MaxValue
      top match {
        case l: Long =>
          require(l > 0,
            "SPLIT expects the limit to be a strictly positive integer.")
          limit = java.lang.Math.toIntExact(l)
          top = st.pop()
        case _ =>
      }
      val sep = top match {
        case s2: String if s2.length == 1 => s2
        case _ => throw new IllegalArgumentException(
          "SPLIT expects a string delimiter of length 1.")
      }
      val s = st.popStr()
      st.push(s.split(java.util.regex.Pattern.quote(sep), limit).toVector)
    }
    words("JOIN") { (w, st, en) =>
      val sep = st.popStr()
        st.push(st.pop().asInstanceOf[Vector[Any]].map(String.valueOf).mkString(sep))
    }
    // REPLACE is regex replaceFIRST (fn/REPLACE.java all=false,
    // faithful r12 — the earlier literal replace-all was wrong twice)
    words("REPLACE") { (w, st, en) =>
      val r = st.popStr(); val p = st.popStr(); val s = st.popStr()
        st.push(s.replaceFirst(p, r))
    }
    words("REPLACEALL") { (w, st, en) =>
      val r = st.popStr(); val p = st.popStr(); val s = st.popStr()
        st.push(s.replaceAll(p, r))
    }
    words("MATCHES") { (w, st, en) =>
      val p = st.popStr(); val s = st.popStr()
        st.push(s.matches(p))
    }
    // CONTAINS (fn/CONTAINS.java, faithful r12): on a collection the
    // operand PEEKS — the list stays under the boolean; only the
    // STRING face pops it
    words("CONTAINS") { (w, st, en) =>
      val n = st.pop(); st.stack.head match {
        case l: Vector[_] => st.push(l.contains(n))
        case s: String if n.isInstanceOf[String] =>
          st.pop(); st.push(s.contains(n.asInstanceOf[String]))
        case o => throw new IllegalArgumentException(
          s"CONTAINS operates on a list, set or STRING, got $o")
      }
    }
    // selector words, faithful r12 (fn/TOSELECTOR.java → GTSHelper.
    // buildSelector:9414 forSearch=true; fn/PARSESELECTOR.java →
    // GTSHelper.parseLabelsSelectors:4149). TOSELECTOR operates on a
    // GTS (or list) — the earlier class+labels-strings arity was
    // invented: the name gets the '='-prefix guard when it starts
    // with '='/'~', names/values are WarpURLEncoder-encoded, labels
    // render key-sorted (the reference's TreeMap), and an EMPTY label
    // value renders '~$' (absent-label support defaults off). A
    // multi-series frame pushes the sorted selector LIST (the
    // element-or-list analog); one series pushes the string.
    words("TOSELECTOR") { (w, st, en) =>
      def build(cls: String, labels: Map[String, String]): String = {
        val sb = new StringBuilder
        if (cls.nonEmpty && (cls(0) == '=' || cls(0) == '~')) sb.append('=')
        sb.append(warpUrlEncode(cls)).append('{')
        labels.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb.append(',')
          sb.append(warpUrlEncode(k))
          if (v == "") sb.append("~$")
          else sb.append('=').append(warpUrlEncode(v))
        }
        sb.append('}').toString
      }
      def ofAny(o: Any): Vector[String] = o match {
        case b: GtsBuilder => Vector(build(b.cls, b.labels))
        case v: Vector[Any @unchecked] => v.flatMap(ofAny)
        case other =>
          val df = en.toFrame(other).df
          val meta = graft.model.Gts.seriesMeta(df)
          WordsGts.collectGuard(meta, "TOSELECTOR")
          meta.collect().toVector
            .map(r => build(r.getString(1),
              r.getMap[String, String](2).toMap)).sorted
      }
      val sels = ofAny(st.pop())
      st.push(if (sels.size == 1) sels.head else sels)
    }
    // PARSESELECTOR: the selector MUST carry a labels block
    // (^([^{]+)\{(.*)\}$ — a brace-less string is an error); the class
    // and every label name/value are WarpURLDecoder-decoded; each
    // label token splits on '=' (exact) FIRST, else '~' (regex) —
    // so 'a~b=c' parses as exact with name 'a~b' — and the kept value
    // is the SECOND split token only ('a=b=c' ⇒ value 'b'); result
    // values carry their '='/'~' marker prefix, insertion-ordered
    words("PARSESELECTOR") { (w, st, en) =>
      val sel = st.popStr()
      val re = "^([^{]+)\\{(.*)\\}$".r
      sel match {
        case re(clsEnc, body) =>
          val cls = warpUrlDecode(clsEnc)
          val entries = body.split(",", -1).toSeq.map(_.trim)
            .filter(_.nonEmpty).map { token =>
              val (exact, parts) =
                if (token.contains("=")) (true, token.split("=", -1))
                else if (token.contains("~")) (false, token.split("~", -1))
                else throw new IllegalArgumentException(
                  s"PARSESELECTOR could not parse input: $token")
              val name = warpUrlDecode(parts(0))
              val value = warpUrlDecode(if (parts.length > 1) parts(1) else "")
              (name: Any) -> (((if (exact) "=" else "~") + value): Any)
            }
          st.push(cls)
          st.push(scala.collection.immutable.ListMap(entries: _*): Map[Any, Any])
        case _ => throw new IllegalArgumentException(
          "PARSESELECTOR could not parse input.")
      }
    }

    // ---- comparison / boolean (binary/ComparisonOperation.java,
    // EQ/NE, CondShortCircuit — full faces incl. exact EQ.compare,
    // NaN flags, GTS filter semantics, list short-circuit)
    words("==", "!=") { (w, st, en) => WordsBinaryOps.equality(w, st, en) }
    words("<", ">", "<=", ">=") { (w, st, en) => WordsBinaryOps.comparison(w, st, en) }
    words("AND", "&&", "OR", "||") { (w, st, en) =>
      WordsBinaryOps.condShortCircuit(w, st, en)
    }
    words("NOT", "!") { (w, st, en) => WordsBinaryOps.booleanNot(st, en) }
    words("ISNULL") { (w, st, en) => st.push(st.pop() == null) }
    words("NULL") { (w, st, en) => st.push(null) }
    words("NaN") { (w, st, en) => st.push(Double.NaN) } // fn/NaN.java (WarpScriptLib.java:1226)
    words("ISNaN") { (w, st, en) =>
      st.push(st.pop() match {
        case d: Double => d.isNaN
        case _ => false
      })
    }

    // ---- time (fn/NOW.java; duration words fn/TOTIMESTAMP-adjacent:
    // the reference registers w/d/h/m/s/ms/us µs-multiplier words)
    words("NOW") { (w, st, en) => st.push(en.nowTick) }
    // TSELEMENTS (fn/TSELEMENTS.java:80-104): tick [tz] → [ year month
    // day hour minute second micros-in-second dayOfYear isoDayOfWeek
    // isoWeek ] — µs platform time unit, floor division to millis
    words("TSELEMENTS", "->TSELEMENTS") { (w, st, en) =>
      val tz = st.stack.headOption match {
        case Some(s: String) => st.pop(); s
        case _ => "UTC"
      }
      val ts = st.popLong()
      val tsms = Math.floorDiv(ts, 1000L)
      val zdt = java.time.Instant.ofEpochMilli(tsms)
        .atZone(java.time.ZoneId.of(tz))
      val microsInSecond =
        zdt.getLong(java.time.temporal.ChronoField.MILLI_OF_SECOND) * 1000L +
          (ts - tsms * 1000L)
      st.push(Vector[Any](
        zdt.getYear.toLong, zdt.getMonthValue.toLong, zdt.getDayOfMonth.toLong,
        zdt.getHour.toLong, zdt.getMinute.toLong, zdt.getSecond.toLong,
        microsInSecond, zdt.getDayOfYear.toLong,
        zdt.getDayOfWeek.getValue.toLong,
        zdt.get(java.time.temporal.IsoFields.WEEK_OF_WEEK_BASED_YEAR).toLong))
    }
    words("w") { (w, st, en) => st.push(st.popLong() * 7L * 86400000000L) }
    words("d") { (w, st, en) => st.push(st.popLong() * 86400000000L) }
    words("h") { (w, st, en) => st.push(st.popLong() * 3600000000L) }
    words("m") { (w, st, en) => st.push(st.popLong() * 60000000L) }
    words("s") { (w, st, en) => st.push(st.popLong() * 1000000L) }
    words("ms") { (w, st, en) => st.push(st.popLong() * 1000L) }
    words("us") { (w, st, en) => st.push(st.popLong()) }
    // sub-STU units (unary/UNIT.java: tick = round(x·factor·units/ms))
    words("ns") { (w, st, en) => st.push(math.round(st.popNum() * 0.001)) }
    words("ps") { (w, st, en) => st.push(math.round(st.popNum() * 0.000001)) }

    // ---- collections
    words("SIZE") { (w, st, en) =>
      st.pop() match {
        case v: Vector[_] => st.push(v.size.toLong)
        case m: Map[_, _] => st.push(m.size.toLong)
        case s: Set[_] => st.push(s.size.toLong)
        case s: String => st.push(s.length.toLong)
        case b: Array[Byte] => st.push(b.length.toLong)
        case f: GtsFrame => st.push(f.df.count())
        case BucketedFrame(f, _, _, _) => st.push(f.df.count())
        case b: GtsBuilder => st.push(b.points.size.toLong)
        // a GEOSHAPE's size is its CELL count (SIZE.java:60-61)
        case g: WordsGeo.WsGeo => st.push(g.cells.size.toLong)
        // Macro.size() — statement count (WarpScriptStack.java:404)
        case m: WsMacro => st.push(m.tokens.length.toLong)
        case o => throw new IllegalArgumentException(s"SIZE on $o")
      }
    }
    // GET (fn/GET.java): single key, or a key-PATH list for nested
    // structures; negative list indices count from the end
    words("GET") { (w, st, en) =>
      val k = st.pop(); val cont = st.pop()
      def get1(c: Any, key: Any): Any = c match {
        case v: Vector[_] =>
          val raw = en.asLong(key).toInt
          v(if (raw < 0) raw + v.size else raw)
        case m: Map[Any @unchecked, _] => m.getOrElse(key, null)
        // GET on a STRING / byte array indexes one element, negative
        // indexes wrapping (GET.java:86-107)
        case s: String =>
          val raw = en.asLong(key).toInt
          String.valueOf(s.charAt(if (raw < 0) raw + s.length else raw))
        case bs: Array[Byte] =>
          val raw = en.asLong(key).toInt
          (bs(if (raw < 0) raw + bs.length else raw).toLong & 0xFFL): java.lang.Long
        case o => throw new IllegalArgumentException(s"GET on $o")
      }
      (k, cont) match {
        // a list key on a MAP is a plain key lookup, not a path
        case (path: Vector[Any @unchecked], _: Vector[_]) =>
          st.push(path.foldLeft(cont)(get1))
        case _ => st.push(get1(cont, k))
      }
    }
    // REVERSE (fn/REVERSE.java): list, STRING or byte array
    words("REVERSE") { (w, st, en) =>
      st.pop() match {
        case v: Vector[Any @unchecked] => st.push(v.reverse)
        case s: String => st.push(s.reverse)
        case bs: Array[Byte] => st.push(bs.reverse)
        case o => throw new IllegalArgumentException(
          s"REVERSE operates on a list, byte array or String, got $o")
      }
    }
    words("FLATTEN") { (w, st, en) => st.push(en.flatten(st.pop().asInstanceOf[Vector[Any]])) }
    // RANGE (fn/RANGE.java): [ stop ] | [ start stop ] | [ start stop
    // step ] → list of longs (stop exclusive, as the reference)
    words("RANGE") { (w, st, en) =>
      val ps = st.pop().asInstanceOf[Vector[Any]].map(en.asLong)
      val (from, until, step) = ps match {
        case Vector(b) => (0L, b, 1L)
        case Vector(a, b) => (a, b, 1L)
        case Vector(a, b, s) => (a, b, s)
        case _ => throw new IllegalArgumentException("RANGE expects 1-3 params")
      }
      require(step != 0, "RANGE step must be non-zero")
      st.push((from until until by step).toVector)
    }
    // PUT (fn/PUT.java): value key PUT — set a map key or list index in
    // the container below; the container stays on the stack (our
    // structures are immutable, so the top is REPLACED by the copy)
    words("PUT") { (w, st, en) =>
      val key = st.pop(); val value = st.pop()
      st.pop() match {
        case m: Map[Any @unchecked, Any @unchecked] => st.push(m + (key -> value))
        case l: Vector[Any @unchecked] => st.push(l.updated(en.asLong(key).toInt, value))
        case o => throw new IllegalArgumentException(s"PUT on $o")
      }
    }
    // REMOVE (fn/REMOVE.java:40-67): key REMOVE → container', removed
    // value (null when absent; negative list indices count from the end)
    words("REMOVE") { (w, st, en) =>
      val key = st.pop()
      st.pop() match {
        case m: Map[Any @unchecked, Any @unchecked] =>
          st.push(m - key); st.push(m.getOrElse(key, null))
        case l: Vector[Any @unchecked] =>
          val raw = en.asLong(key).toInt
          val idx = if (raw < 0) raw + l.size else raw
          if (idx >= 0 && idx < l.size) {
            st.push(l.patch(idx, Nil, 1)); st.push(l(idx))
          } else { st.push(l); st.push(null) }
        case o => throw new IllegalArgumentException(s"REMOVE on $o")
      }
    }
    // CLONE (fn/CLONE.java — replace the top with a deep copy; stack
    // values here are immutable so the copy is the value itself)
    words("CLONE") { (w, st, en) => st.push(st.pop()) }
    // SUBLIST (fn/SUBLIST.java:48-130, indices-list form): 2 indices =
    // inclusive range lesser→bigger; >2 = elements at those indices
    // (duplicates allowed); negative indices count from the end.
    // SUBLIST (fn/SUBLIST.java, faithful r12): THREE faces — a
    // 2-index range list (wrap, swap, clamp), an individual-indices
    // list, and the numeric `start [end [step]]` form the earlier
    // word lacked entirely (default end = max(size−1, start), default
    // step −1 when start > end, nearestValidBound alignment of an
    // out-of-range start, silent stop on index overflow)
    words("SUBLIST") { (w, st, en) =>
      var indices: Vector[Any] = null
      var elements: Vector[Any] = null
      val longParams = scala.collection.mutable.ArrayBuffer[Long]()
      var pi = 0
      var done = false
      while (pi < 4 && !done) {
        st.pop() match {
          case lst: Vector[Any @unchecked] =>
            if (pi == 0) {
              indices = lst
              st.pop() match {
                case e: Vector[Any @unchecked] => elements = e
                case o => throw new IllegalArgumentException(
                  s"SUBLIST expects a list of indices on top of the " +
                    s"stack and will operate on the list below it, got $o")
              }
            } else elements = lst
            done = true
          case nmb: Long => longParams.prepend(nmb)
          case d: Double => longParams.prepend(d.toLong)
          case o => throw new IllegalArgumentException(
            s"SUBLIST expects a list of indices or start end step, got $o")
        }
        pi += 1
      }
      if (elements == null) throw new IllegalArgumentException(
        "SUBLIST expects a list of indices or start end step above a list.")
      val n = elements.size
      def nearestValidBound(bound: Long, step: Long, size: Int): Long =
        if (bound >= size) ((bound - size) % step) - math.abs(step) + size
        else if (bound < 0) ((bound + 1) % step) + math.abs(step) - 1
        else bound
      val out = scala.collection.mutable.ArrayBuffer[Any]()
      if (indices == null) {
        var start = longParams(0)
        var end = if (longParams.size > 1) longParams(1)
                  else math.max(n - 1, start).toLong
        if (start < 0) start += n
        if (end < 0) end += n
        if (!(start < 0 && end < 0 || start >= n && end >= n)) {
          val step =
            if (longParams.size > 2) longParams(2)
            else if (start > end) -1L else 1L
          require(step != 0,
            "SUBLIST expects the step parameter to be a strictly positive or negative number.")
          if (step > 0) require(start <= end,
            "SUBLIST expects start to be before end when step is positive.")
          else require(end <= start,
            "SUBLIST expects start to be after end when step is negative.")
          start = nearestValidBound(start, step, n)
          try {
            if (step > 0) {
              val e2 = math.min(end, n - 1L)
              var i = start
              while (i <= e2) {
                out += elements(java.lang.Math.toIntExact(i))
                i = java.lang.Math.addExact(i, step)
              }
            } else {
              val e2 = math.max(end, 0L)
              var i = start
              while (i >= e2) {
                out += elements(java.lang.Math.toIntExact(i))
                i = java.lang.Math.addExact(i, step)
              }
            }
          } catch { case _: ArithmeticException => }
        }
      } else if (indices.size == 2) {
        var bmin = en.asLong(indices(0)).toInt
        var bmax = en.asLong(indices(1)).toInt
        if (bmin < 0) bmin += n
        if (bmax < 0) bmax += n
        if (bmin > bmax) { val t = bmax; bmax = bmin; bmin = t }
        if (!((bmin < 0 && bmax < 0) || (n <= bmin && n <= bmax))) {
          var i = math.max(0, bmin)
          val e2 = math.min(n - 1, bmax)
          while (i <= e2) { out += elements(i); i += 1 }
        }
      } else {
        indices.foreach { ix =>
          val idx = en.asLong(ix).toInt
          require(idx < n && idx >= -n,
            "SUBLIST reported an out of bound index.")
          out += (if (idx >= 0) elements(idx) else elements(n + idx))
        }
      }
      st.push(out.toVector)
    }
    // LMAP (fn/LMAP.java:75-95): macro called per element with the
    // element then (unless the optional boolean says otherwise) its
    // index on the stack; result of each call collected into a list.
    words("LMAP") { (w, st, en) =>
      var top = st.pop(); var pushIndex = true
      top match {
        case b: Boolean => pushIndex = b; top = st.pop()
        case _ =>
      }
      val m = top.asInstanceOf[WsMacro]
      val l = st.pop().asInstanceOf[Vector[Any]]
      val out = l.zipWithIndex.map { case (e, i) =>
        st.push(e); if (pushIndex) st.push(i.toLong)
        en.evalMacro(m, st); st.pop()
      }
      st.push(out)
    }
    // MMAP (fn/MMAP.java:48-91): macro called per entry with key, value
    // [, index]; pops the new value then the new key back.
    words("MMAP") { (w, st, en) =>
      var top = st.pop(); var pushIndex = true
      top match {
        case b: Boolean => pushIndex = b; top = st.pop()
        case _ =>
      }
      val m = top.asInstanceOf[WsMacro]
      val mp = st.pop().asInstanceOf[Map[Any, Any]]
      var i = 0L
      val out = mp.map { case (k, v) =>
        st.push(k); st.push(v); if (pushIndex) { st.push(i); i += 1 }
        en.evalMacro(m, st)
        val nv = st.pop(); val nk = st.pop(); nk -> nv
      }
      st.push(out)
    }
    // ZIP (continuum/gts/ZIP.java): transpose a list of lists;
    // singletons broadcast to the common length
    words("ZIP") { (w, st, en) =>
      val meta = st.pop().asInstanceOf[Vector[Any]].map(_.asInstanceOf[Vector[Any]])
      require(meta.forall(_.nonEmpty), "ZIP cannot operate on empty lists")
      val lens = meta.map(_.size).filter(_ > 1).distinct
      require(lens.size <= 1, "ZIP: non-singleton lists must share a size")
      val len = lens.headOption.getOrElse(1)
      st.push((0 until len).toVector.map(i =>
        meta.map(l => if (l.size == 1) l.head else l(i))))
    }
    // SORTBY (fn/SORTBY.java): stable sort of a list by the key the
    // macro computes for each element; the MAP form (SORTBY.java:
    // 92-110) pushes key AND value to the macro and re-emits the
    // entries in sorted order (an insertion-ordered map, like the
    // reference's LinkedHashMap rebuild)
    words("SORTBY") { (w, st, en) =>
      val m = st.pop().asInstanceOf[WsMacro]
      st.pop() match {
        case l: Vector[Any @unchecked] =>
          val keyed = l.map { e => st.push(e); en.evalMacro(m, st); (st.pop(), e) }
          st.push(keyed.sortWith((a, b) => en.wsLt(a._1, b._1)).map(_._2))
        case mp: Map[Any @unchecked, Any @unchecked] =>
          val keyed = mp.toVector.map { case (k, v) =>
            st.push(k); st.push(v); en.evalMacro(m, st); (st.pop(), k, v) }
          st.push(scala.collection.immutable.ListMap(
            keyed.sortWith((a, b) => en.wsLt(a._1, b._1))
              .map(t => t._2 -> t._3): _*): Map[Any, Any])
        case o => throw new IllegalArgumentException(
          s"SORTBY operates on a list or a map, got $o")
      }
    }
    // STRINGFORMAT (fn/STRINGFORMAT.java): fmt [ args ] [locale]
    // STRINGFORMAT — Locale.ROOT by default for determinism (the
    // reference falls back to the JVM default locale)
    words("STRINGFORMAT") { (w, st, en) =>
      var top = st.pop()
      val locale = top match {
        case s: String =>
          val lo = java.util.Locale.forLanguageTag(s); top = st.pop(); lo
        case _ => java.util.Locale.ROOT
      }
      val args = top.asInstanceOf[Vector[Any]].map(_.asInstanceOf[AnyRef])
      val fmt = st.popStr()
      st.push(String.format(locale, fmt, args: _*))
    }
    // UNIQUE (fn/UNIQUE.java — set-dedup; kept in deterministic
    // first-occurrence order here, the reference's HashSet order is
    // an implementation accident)
    words("UNIQUE") { (w, st, en) => st.push(st.pop().asInstanceOf[Vector[Any]].distinct) }
    // LSORT (fn/LSORT.java): natural-order in-place sort
    words("LSORT") { (w, st, en) =>
      st.push(st.pop().asInstanceOf[Vector[Any]].sortWith(en.wsLt))
    }
    // APPEND (fn/APPEND.java): two collections (LIST/SET — addAll on
    // the one below), two maps (putAll), or two GTS
    // (GTSHelper.merge:4398 — the BASE below keeps its metadata and
    // the top GTS's points are appended to it; types must match
    // unless the base is empty). Set elements splice into a list in
    // wsLt order (the reference's HashSet order is an accident).
    words("APPEND") { (w, st, en) =>
      val b = st.pop(); val a = st.pop()
      (a, b) match {
        case (x: Vector[Any @unchecked], y: Vector[Any @unchecked]) =>
          st.push(x ++ y)
        case (x: Vector[Any @unchecked], y: Set[Any @unchecked]) =>
          st.push(x ++ y.toVector.sortWith(en.wsLt))
        case (x: Set[Any @unchecked], y: Vector[Any @unchecked]) =>
          st.push(x ++ y)
        case (x: Set[Any @unchecked], y: Set[Any @unchecked]) =>
          st.push(x ++ y)
        case (x: Map[Any @unchecked, Any @unchecked],
              y: Map[Any @unchecked, Any @unchecked]) => st.push(x ++ y)
        case _ if WordsBinaryOps.isGtsOperand(a) &&
            WordsBinaryOps.isGtsOperand(b) =>
          st.push(WordsBinaryOps.gtsAppend(a, b, en))
        case o => throw new IllegalArgumentException(s"APPEND on $o")
      }
    }
    // KEYLIST / VALUELIST (fn/KEYLIST.java, fn/VALUELIST.java) — sorted
    // by key for determinism (our Map is unordered)
    words("KEYLIST") { (w, st, en) =>
      st.push(st.pop().asInstanceOf[Map[Any, Any]].keys.toVector.sortWith(en.wsLt))
    }
    words("VALUELIST") { (w, st, en) =>
      st.push(st.pop().asInstanceOf[Map[Any, Any]].toVector
        .sortWith((a, b) => en.wsLt(a._1, b._1)).map(_._2))
    }

    // ---- BigDecimal words (fn/TOBD.java, BDADD/BDSUB/BDMUL/BDDIV,
    // BDSCALE, BDROUND, BDSTRIP — exact decimal stack arithmetic; the
    // columnar DecimalType twin is the r10 oracle row). BDDIV is
    // BigDecimal.divide with no MathContext, so a non-terminating
    // quotient throws, exactly as BDDIV.java:58 does.
    words("TOBD") { (w, st, en) => st.push(en.toBd(st.pop())) }
    words("BDADD") { (w, st, en) =>
      val b = en.toBd(st.pop()); val a = en.toBd(st.pop()); st.push(a.add(b))
    }
    words("BDSUB") { (w, st, en) =>
      val b = en.toBd(st.pop()); val a = en.toBd(st.pop()); st.push(a.subtract(b))
    }
    words("BDMUL") { (w, st, en) =>
      val b = en.toBd(st.pop()); val a = en.toBd(st.pop()); st.push(a.multiply(b))
    }
    words("BDDIV") { (w, st, en) =>
      val b = en.toBd(st.pop()); val a = en.toBd(st.pop()); st.push(a.divide(b))
    }
    words("BDNEG") { (w, st, en) => st.push(en.toBd(st.pop()).negate()) }
    words("BDABS") { (w, st, en) => st.push(en.toBd(st.pop()).abs()) }
    words("BDSIGNUM") { (w, st, en) => st.push(en.toBd(st.pop()).signum().toLong) }
    words("BDMIN") { (w, st, en) =>
      val b = en.toBd(st.pop()); val a = en.toBd(st.pop()); st.push(a.min(b))
    }
    words("BDMAX") { (w, st, en) =>
      val b = en.toBd(st.pop()); val a = en.toBd(st.pop()); st.push(a.max(b))
    }
    words("BDSTRIP") { (w, st, en) => st.push(en.toBd(st.pop()).stripTrailingZeros()) }
    // BDSCALE (fn/BDSCALE.java:33-55): BigDecimal on top → push its
    // scale; LONG on top → EXACT setScale of the value below (throws
    // when digits would be lost, like the reference)
    words("BDSCALE") { (w, st, en) =>
      st.pop() match {
        case bd: java.math.BigDecimal => st.push(bd.scale().toLong)
        case l: Long => st.push(en.toBd(st.pop()).setScale(l.toInt))
        case o => throw new IllegalArgumentException(s"BDSCALE on $o")
      }
    }
    // BDROUND (fn/BDROUND.java:37-50): round to scale 0, HALF_UP by
    // default, HALF_DOWN when the option string says so
    words("BDROUND") { (w, st, en) =>
      st.pop() match {
        case "HALF_DOWN" =>
          st.push(en.toBd(st.pop()).setScale(0, java.math.RoundingMode.HALF_DOWN))
        case "HALF_UP" =>
          st.push(en.toBd(st.pop()).setScale(0, java.math.RoundingMode.HALF_UP))
        case v => st.push(en.toBd(v).setScale(0, java.math.RoundingMode.HALF_UP))
      }
    }

    // ---- RSA words (fn/RSAPUBLIC.java, RSAPRIVATE, RSASIGN,
    // RSAVERIFY, RSAENCRYPT, RSADECRYPT — JDK java.security; the
    // reference's BouncyCastle is replaced by the platform provider).
    // Key maps: { 'algorithm' 'RSA' 'modulus' '<dec|0x..>' 'exponent'
    // '<dec|0x..>' }, as the reference's new BigInteger(text).
    words("RSAPUBLIC", "RSAPRIVATE") { (w, st, en) =>
      val params = st.pop().asInstanceOf[Map[Any, Any]]
        .map { case (k, v) => k.toString -> String.valueOf(v) }
      require(params.get("algorithm").contains("RSA"),
        s"$w expects 'algorithm' -> 'RSA'")
      def big(s: String) =
        if (s.startsWith("0x")) new java.math.BigInteger(s.substring(2), 16)
        else new java.math.BigInteger(s)
      val mod = big(params("modulus")); val exp = big(params("exponent"))
      val kf = java.security.KeyFactory.getInstance("RSA")
      st.push(
        if (w == "RSAPUBLIC")
          kf.generatePublic(new java.security.spec.RSAPublicKeySpec(mod, exp))
        else
          kf.generatePrivate(new java.security.spec.RSAPrivateKeySpec(mod, exp)))
    }
    // data alg key RSASIGN → signature bytes (PKCS#1 v1.5, deterministic)
    words("RSASIGN") { (w, st, en) =>
      val key = st.pop().asInstanceOf[java.security.PrivateKey]
      val alg = st.popStr()
      val data = en.popBytes(st)
      val sig = java.security.Signature.getInstance(alg)
      sig.initSign(key); sig.update(data)
      st.push(sig.sign())
    }
    // data sig alg key RSAVERIFY → boolean
    words("RSAVERIFY") { (w, st, en) =>
      val key = st.pop().asInstanceOf[java.security.PublicKey]
      val alg = st.popStr()
      val signature = st.pop().asInstanceOf[Array[Byte]]
      val data = en.popBytes(st)
      val sig = java.security.Signature.getInstance(alg)
      sig.initVerify(key); sig.update(data)
      st.push(sig.verify(signature))
    }
    // data key RSAENCRYPT → bytes (8-byte random nonce prefixed, like
    // RSAENCRYPT.java:60-67); data key RSADECRYPT strips the nonce
    words("RSAENCRYPT") { (w, st, en) =>
      val key = st.pop().asInstanceOf[java.security.Key]
      val data = en.popBytes(st)
      val nonced = new Array[Byte](data.length + 8)
      new java.security.SecureRandom().nextBytes(nonced)
      System.arraycopy(data, 0, nonced, 8, data.length)
      val c = javax.crypto.Cipher.getInstance("RSA/ECB/PKCS1Padding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE, key)
      st.push(c.doFinal(nonced))
    }
    words("RSADECRYPT") { (w, st, en) =>
      val key = st.pop().asInstanceOf[java.security.Key]
      val data = st.pop().asInstanceOf[Array[Byte]]
      val c = javax.crypto.Cipher.getInstance("RSA/ECB/PKCS1Padding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE, key)
      val nonced = c.doFinal(data)
      st.push(java.util.Arrays.copyOfRange(nonced, 8, nonced.length))
    }

    // ---- digests + AES key wrap (WarpScriptLib DIGEST registrations;
    // fn/AESWRAP.java = 8-byte nonce + PKCS7-pad-to-8 + RFC 3394 wrap,
    // BouncyCastle AESWrapEngine replaced by the JDK "AESWrap" cipher)
    words("MD5", "SHA1", "SHA256", "SHA512") { (w, st, en) =>
      val algo = Map("MD5" -> "MD5", "SHA1" -> "SHA-1",
        "SHA256" -> "SHA-256", "SHA512" -> "SHA-512")(w)
      st.push(java.security.MessageDigest.getInstance(algo).digest(en.popBytes(st)))
    }
    words("AESWRAP") { (w, st, en) =>
      val key = st.pop().asInstanceOf[Array[Byte]]
      require(Set(16, 24, 32)(key.length), "AESWRAP expects a 128/192/256-bit key")
      val data = en.popBytes(st)
      val nonce = new Array[Byte](8)
      new java.security.SecureRandom().nextBytes(nonce)
      st.push(en.aesWrap(key, nonce ++ data))
    }
    words("AESUNWRAP") { (w, st, en) =>
      val key = st.pop().asInstanceOf[Array[Byte]]
      require(Set(16, 24, 32)(key.length), "AESUNWRAP expects a 128/192/256-bit key")
      val data = st.pop().asInstanceOf[Array[Byte]]
      st.push(en.aesUnwrap(key, data).drop(8))
    }

    // ---- control: SWITCH / TRY (fn/SWITCH.java, fn/TRY.java)
    // SWITCH: N (condition,exec) macro pairs + default macro + N; first
    // true condition wins, its exec runs; else the default runs.
    words("SWITCH") { (w, st, en) =>
      val n = st.popLong().toInt
      val dflt = st.pop().asInstanceOf[WsMacro]
      val pairs = Vector.fill(n) {
        val exec = st.pop().asInstanceOf[WsMacro]
        val cond = st.pop().asInstanceOf[WsMacro]
        (cond, exec)
      }.reverse
      pairs.find { case (cond, _) => en.evalMacro(cond, st); st.popBool() } match {
        case Some((_, exec)) => en.evalMacro(exec, st)
        case None => en.evalMacro(dflt, st)
      }
    }
    // TRY: try / catch / finally macros; the error is recorded where
    // LASTERROR can push it (reference keeps it in a stack attribute,
    // ATTRIBUTE_LAST_ERROR — TRY.java:60).
    words("TRY") { (w, st, en) =>
      val fin = st.pop().asInstanceOf[WsMacro]
      val cat = st.pop().asInstanceOf[WsMacro]
      val tr = st.pop().asInstanceOf[WsMacro]
      try en.evalMacro(tr, st)
      catch {
        case e: Exception =>
          en.lastError = e.getMessage
          en.evalMacro(cat, st)
      }
      finally en.evalMacro(fin, st)
    }
    words("LASTERROR") { (w, st, en) => st.push(en.lastError) }
    // fn/RETHROW.java / ERROR.java over the same last-error attribute
    words("RETHROW") { (w, st, en) =>
      if (en.lastError != null) throw new IllegalStateException(en.lastError)
    }
    words("ERROR") { (w, st, en) =>
      st.push(if (en.lastError == null) Vector.empty[Any]
        else Vector[Any](Map[Any, Any]("type" -> "Exception",
          "message" -> en.lastError)))
    }
  }
}
