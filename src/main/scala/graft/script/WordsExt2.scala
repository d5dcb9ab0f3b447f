package graft.script

import java.math.{BigDecimal => JBigDecimal, BigInteger, MathContext, RoundingMode}

/** Second extension registry: the BigDecimal/BigInteger word suite
  * (fn/BDMOD.java family — TOBD.toBigInteger semantics: exact integer
  * view, fraction loss throws), JSON words (fn/JSONTO.java /
  * fn/TOJSON.java over Jackson, which ships with Spark), SNAPSHOT
  * variants, macro words, Base58/Base58Check, TEMPLATE ({{var}}
  * subset of the reference's Mustache engine) and parse helpers.
  */
private[script] object WordsExt2 {
  import WarpScriptEngine._

  private def toBi(v: Any, en: WarpScriptEngine): BigInteger =
    en.toBd(v).toBigIntegerExact // TOBD.toBigInteger: non-integer throws

  private def bd(bi: BigInteger): JBigDecimal = new JBigDecimal(bi)

  // ---- Base58 (public Bitcoin alphabet; fn/TOB58.java, B58TO —
  // Base58Check adds prefix + first 4 bytes of double-SHA256)
  private val B58_ALPHABET =
    "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

  private[script] def b58Encode(data: Array[Byte]): String = {
    val zeros = data.takeWhile(_ == 0).length
    var num = new BigInteger(1, data)
    val sb = new StringBuilder
    while (num.signum() > 0) {
      val Array(q, r) = num.divideAndRemainder(BigInteger.valueOf(58))
      sb.append(B58_ALPHABET(r.intValue())); num = q
    }
    ("1" * zeros) + sb.reverse.toString
  }

  private[script] def b58Decode(s: String): Array[Byte] = {
    val zeros = s.takeWhile(_ == '1').length
    var num = BigInteger.ZERO
    s.foreach { c =>
      val i = B58_ALPHABET.indexOf(c)
      require(i >= 0, s"invalid base58 char '$c'")
      num = num.multiply(BigInteger.valueOf(58)).add(BigInteger.valueOf(i))
    }
    val body = num.toByteArray.dropWhile(_ == 0)
    Array.fill[Byte](zeros)(0) ++ body
  }

  private def sha256(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)

  // ---- JSON over Jackson (Spark's bundled databind), decoded into
  // the stack's native Vector/Map/Long/Double/String/Boolean shapes
  private def fromJackson(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.jdk.CollectionConverters._
    n match {
      case _ if n.isNull => null
      case _ if n.isTextual => n.asText()
      case _ if n.isBoolean => n.asBoolean()
      case _ if n.isIntegralNumber => n.asLong()
      case _ if n.isNumber => n.asDouble()
      case _ if n.isArray => n.elements().asScala.map(fromJackson).toVector
      case _ if n.isObject =>
        n.properties().asScala
          .map(e => (e.getKey: Any) -> fromJackson(e.getValue)).toMap
      case other: JsonNode =>
        throw new IllegalArgumentException(s"JSON node: $other")
    }
  }

  private def toJson(v: Any, sb: StringBuilder, pretty: Boolean,
      indent: Int, en: WarpScriptEngine): Unit = {
    def pad(n: Int): Unit = if (pretty) { sb.append('\n'); sb.append("  " * n) }
    v match {
      case null => sb.append("null")
      case s: String =>
        sb.append('"')
        s.foreach {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        sb.append('"')
      case b: Boolean => sb.append(b.toString)
      case l: Long => sb.append(l.toString)
      case d: Double if d.isNaN || d.isInfinite => sb.append("null")
      case d: Double => sb.append(d.toString)
      case bdv: JBigDecimal => sb.append(bdv.toPlainString)
      case l: Vector[Any @unchecked] =>
        sb.append('[')
        l.zipWithIndex.foreach { case (e, i) =>
          if (i > 0) sb.append(',')
          pad(indent + 1)
          toJson(e, sb, pretty, indent + 1, en)
        }
        if (l.nonEmpty) pad(indent)
        sb.append(']')
      case m: Map[Any @unchecked, Any @unchecked] =>
        sb.append('{')
        // key-sorted for determinism (the reference renders insertion
        // order, an accident of its LinkedHashMap)
        m.toVector.sortWith((a, b) => en.wsLt(a._1, b._1)).zipWithIndex
          .foreach { case ((k, e), i) =>
            if (i > 0) sb.append(',')
            pad(indent + 1)
            toJson(String.valueOf(k), sb, pretty, indent + 1, en)
            sb.append(':')
            if (pretty) sb.append(' ')
            toJson(e, sb, pretty, indent + 1, en)
          }
        if (m.nonEmpty) pad(indent)
        sb.append('}')
      case o => throw new IllegalArgumentException(s"not JSON-serializable: $o")
    }
  }

  /** Macro body re-rendered as program text (MACRO-> / SNAPSHOT of a
    * macro). A secure macro renders with its body hidden
    * (fn/MSEC.java; Macro.snapshot's hideSecure branch skips the
    * statements, WarpScriptStack.java:501-507). */
  private[script] def macroToString(m: WsMacro): String =
    if (m.secure) "<% %>"
    else m.tokens.map {
      case WsToken.WsStr(s) => "'" + s.replace("%", "%25").replace("'", "%27") + "'"
      case WsToken.WsLong(l) => l.toString
      case WsToken.WsDouble(d) => d.toString
      case WsToken.WsBool(b) => b.toString
      case WsToken.WsWord(w) => w
    }.mkString("<% ", " ", " %>")

  def register(words: WordTable): Unit = {
    // ---- BigDecimal arithmetic tail (fn/BDMOD.java, BDREM, BDPOW,
    // BDDIVINT, BDDIVIDEANDREMAINDER, BDCEIL, BDFLOOR, BDULP, BDCOMP)
    words("BDMOD") { (w, st, en) =>
      val m = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).mod(m)))
    }
    words("BDREM") { (w, st, en) =>
      val m = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).remainder(m)))
    }
    words("BDPOW") { (w, st, en) =>
      val exp = st.pop() match {
        case l: Long => Math.toIntExact(l)
        case b: JBigDecimal => b.intValueExact()
        case o => throw new IllegalArgumentException(s"BDPOW exponent: $o")
      }
      st.push(en.toBd(st.pop()).pow(exp, MathContext.UNLIMITED))
    }
    words("BDDIVINT") { (w, st, en) =>
      val b = en.toBd(st.pop()); st.push(en.toBd(st.pop()).divideToIntegralValue(b))
    }
    words("BDDIVIDEANDREMAINDER") { (w, st, en) =>
      val b = en.toBd(st.pop())
      val Array(q, r) = en.toBd(st.pop()).divideAndRemainder(b)
      st.push(q); st.push(r)
    }
    words("BDCEIL") { (w, st, en) => st.push(en.toBd(st.pop()).setScale(0, RoundingMode.CEILING)) }
    words("BDFLOOR") { (w, st, en) => st.push(en.toBd(st.pop()).setScale(0, RoundingMode.FLOOR)) }
    words("BDULP") { (w, st, en) => st.push(en.toBd(st.pop()).ulp()) }
    words("BDCOMP") { (w, st, en) =>
      val b = en.toBd(st.pop()); st.push(en.toBd(st.pop()).compareTo(b).toLong)
    }
    // BDCLEAR (fn/BDCLEAR.java): drop the fraction (toBigInteger)
    words("BDCLEAR") { (w, st, en) => st.push(bd(en.toBd(st.pop()).toBigInteger)) }

    // ---- BigInteger-view words (TOBD.toBigInteger: exact integer
    // required) — number theory and bit algebra
    words("BDGCD") { (w, st, en) =>
      val b = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).gcd(b)))
    }
    words("BDMODPOW") { (w, st, en) =>
      val m = toBi(st.pop(), en); val e = toBi(st.pop(), en)
      st.push(bd(toBi(st.pop(), en).modPow(e, m)))
    }
    words("BDMODINVERSE") { (w, st, en) =>
      val m = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).modInverse(m)))
    }
    words("BDISPROBABLEPRIME") { (w, st, en) =>
      val certainty = st.popLong().toInt
      st.push(toBi(st.pop(), en).isProbablePrime(certainty))
    }
    words("BDNEXTPROBABLEPRIME") { (w, st, en) =>
      st.push(bd(toBi(st.pop(), en).nextProbablePrime()))
    }
    words("BDAND") { (w, st, en) =>
      val b = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).and(b)))
    }
    words("BDOR") { (w, st, en) =>
      val b = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).or(b)))
    }
    words("BDXOR") { (w, st, en) =>
      val b = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).xor(b)))
    }
    words("BDANDNOT") { (w, st, en) =>
      val b = toBi(st.pop(), en); st.push(bd(toBi(st.pop(), en).andNot(b)))
    }
    words("BDNOT") { (w, st, en) => st.push(bd(toBi(st.pop(), en).not())) }
    words("BDSHIFTLEFT") { (w, st, en) =>
      val n = st.popLong().toInt; st.push(bd(toBi(st.pop(), en).shiftLeft(n)))
    }
    words("BDSHIFTRIGHT") { (w, st, en) =>
      val n = st.popLong().toInt; st.push(bd(toBi(st.pop(), en).shiftRight(n)))
    }
    words("BDSETBIT") { (w, st, en) =>
      val n = st.popLong().toInt; st.push(bd(toBi(st.pop(), en).setBit(n)))
    }
    words("BDCLEARBIT") { (w, st, en) =>
      val n = st.popLong().toInt; st.push(bd(toBi(st.pop(), en).clearBit(n)))
    }
    words("BDFLIPBIT") { (w, st, en) =>
      val n = st.popLong().toInt; st.push(bd(toBi(st.pop(), en).flipBit(n)))
    }
    words("BDTESTBIT") { (w, st, en) =>
      val n = st.popLong().toInt; st.push(toBi(st.pop(), en).testBit(n))
    }
    words("BDBITCOUNT") { (w, st, en) => st.push(toBi(st.pop(), en).bitCount().toLong) }
    words("BDBITLENGTH") { (w, st, en) => st.push(toBi(st.pop(), en).bitLength().toLong) }
    words("BDLOWESTSETBIT") { (w, st, en) => st.push(toBi(st.pop(), en).getLowestSetBit.toLong) }
    // BDRAND/BDPROBABLEPRIME draw from the engine's deterministic
    // PRNG (the reference's unseeded forms are non-replayable; the
    // SBD* seeded twins behave identically here)
    words("BDRAND", "SBDRAND") { (w, st, en) =>
      val bits = st.popLong().toInt
      require(bits >= 1 && bits <= 4096, s"$w bits out of range: $bits")
      st.push(bd(new BigInteger(bits, en.prng)))
    }
    words("BDPROBABLEPRIME", "SBDPROBABLEPRIME") { (w, st, en) =>
      val bits = st.popLong().toInt
      require(bits >= 2 && bits <= 4096, s"$w bits out of range: $bits")
      st.push(bd(BigInteger.probablePrime(bits, en.prng)))
    }
    // ->BD / BD-> (fn/BDTO.java: plain string, or exact-integer
    // bytes when the boolean flag says so)
    words("->BD") { (w, st, en) =>
      st.pop() match {
        case b: Array[Byte] => st.push(bd(new BigInteger(b)))
        case o => st.push(en.toBd(o))
      }
    }
    words("BD->") { (w, st, en) =>
      st.pop() match {
        case java.lang.Boolean.TRUE =>
          st.push(en.toBd(st.pop()).toBigIntegerExact.toByteArray)
        case java.lang.Boolean.FALSE => st.push(en.toBd(st.pop()).toPlainString)
        case o => st.push(en.toBd(o).toPlainString)
      }
    }

    // ---- JSON (fn/TOJSON.java / JSONTO.java over Jackson;
    // JSONPRETTY renders indented; JSONSTRICT/JSONLOOSE toggle NaN
    // tolerance on parse)
    words("->JSON", "TOJSON", "JSONCOMPACT") { (w, st, en) =>
      val sb = new StringBuilder
      toJson(st.pop(), sb, pretty = false, 0, en)
      st.push(sb.toString)
    }
    words("JSONPRETTY") { (w, st, en) =>
      val sb = new StringBuilder
      toJson(st.pop(), sb, pretty = true, 0, en)
      st.push(sb.toString)
    }
    words("JSON->", "JSONTO") { (w, st, en) =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      if (en.jsonLoose) mapper.configure(
        com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS, true)
      st.push(fromJackson(mapper.readTree(st.popStr())))
    }
    words("JSONSTRICT") { (w, st, en) => en.jsonLoose = false }
    words("JSONLOOSE") { (w, st, en) => en.jsonLoose = true }

    // ---- SNAPSHOT variants (fn/SNAPSHOT.java family): COPY peeks,
    // N takes the top n, ALL the whole stack, TOMARK down to a MARK;
    // rendering is bottom-to-top so EVAL rebuilds the same stack
    words("SNAPSHOTCOPY") { (w, st, en) =>
      st.push(graft.sources.Snapshot.render(st.stack.head).trim)
    }
    words("SNAPSHOTN", "SNAPSHOTCOPYN") { (w, st, en) =>
      val n = st.popLong().toInt
      require(n >= 0 && n <= st.stack.length, s"$w out of bounds: $n")
      val items = st.stack.take(n).toVector.reverse // bottom-first
      if (w == "SNAPSHOTN") (1 to n).foreach(_ => st.pop())
      st.push(items.map(snapshotOne).mkString(" "))
    }
    words("SNAPSHOTALL", "SNAPSHOTCOPYALL") { (w, st, en) =>
      val items = st.stack.toVector.reverse
      if (w == "SNAPSHOTALL") st.stack.clear()
      st.push(items.map(snapshotOne).mkString(" "))
    }
    // ALLTOMARK: like TOMARK but the MARK itself stays on the stack
    words("SNAPSHOTALLTOMARK", "SNAPSHOTCOPYALLTOMARK") { (w, st, en) =>
      val n0 = st.stack.indexOf(ListMark)
      require(n0 >= 0, s"$w: no MARK on stack")
      val items0 = st.stack.take(n0).toVector.reverse
      if (w == "SNAPSHOTALLTOMARK") (1 to n0).foreach(_ => st.pop())
      st.push(items0.map(snapshotOne).mkString(" "))
    }
    words("SNAPSHOTREADABLE") { (w, st, en) =>
      st.push(graft.sources.Snapshot.render(st.pop()))
    }
    words("SNAPSHOTTOMARK", "SNAPSHOTCOPYTOMARK") { (w, st, en) =>
      val n = st.stack.indexOf(ListMark)
      require(n >= 0, s"$w: no MARK on stack")
      val items = st.stack.take(n).toVector.reverse
      if (w == "SNAPSHOTTOMARK") (0 to n).foreach(_ => st.pop()) // incl. mark
      st.push(items.map(snapshotOne).mkString(" "))
    }

    // ---- macro words (fn/CHECKMACRO.java is a validation no-op
    // here — the tokenizer already rejected malformed bodies;
    // fn/MACROTO.java / TOMACRO.java re-render / compile)
    words("CHECKMACRO") { (w, st, en) => st.push(st.pop().asInstanceOf[WsMacro]) }
    words("DEFINEDMACRO") { (w, st, en) =>
      st.push(st.symbols.get(st.popStr()).exists(_.isInstanceOf[WsMacro]))
    }
    words("MACRO->") { (w, st, en) => st.push(macroToString(st.pop().asInstanceOf[WsMacro])) }
    words("->MACRO") { (w, st, en) =>
      st.pop() match {
        case m: WsMacro => st.push(m)
        case s: String =>
          val toks = WarpScriptTokenizer.tokenize(s)
          // a bare '<% ... %>' text compiles to one macro token pair —
          // unwrap; otherwise wrap the statements
          st.push(toks match {
            case Vector(WsToken.WsWord("<%"), mid @ _*) if mid.lastOption.contains(WsToken.WsWord("%>")) =>
              WsMacro(mid.dropRight(1).toVector)
            case other => WsMacro(other)
          })
        case o => throw new IllegalArgumentException(s"->MACRO on $o")
      }
    }
    words("RUN") { (w, st, en) =>
      val name = st.popStr()
      st.symbols.get(name) match {
        case Some(m: WsMacro) => en.evalMacro(m, st)
        case other => throw new IllegalArgumentException(
          s"RUN: no macro under '$name' ($other)")
      }
    }
    words("XEVAL") { (w, st, en) =>
      st.pop() match {
        case m: WsMacro => en.evalMacro(m, st)
        case NativeFn(_, f) => f(st)
        case s: String => en.execProgram(s, st)
        case o => throw new IllegalArgumentException(s"XEVAL on $o")
      }
    }

    // ---- string/parse tail (fn/TEMPLATE.java: the {{var}}
    // interpolation subset of its Mustache engine; fn/PARSEVALUE.java
    // reuses the line-protocol value grammar; TOBOOLEAN coercion)
    words("TEMPLATE") { (w, st, en) =>
      val scope = st.pop().asInstanceOf[Map[Any, Any]]
      val text = st.popStr()
      val out = "\\{\\{\\s*([^}\\s]+)\\s*\\}\\}".r.replaceAllIn(text, m =>
        java.util.regex.Matcher.quoteReplacement(
          scope.get(m.group(1)).map(String.valueOf).getOrElse("")))
      st.push(out)
    }
    words("TOBOOLEAN") { (w, st, en) =>
      st.pop() match {
        case b: Boolean => st.push(b)
        case s: String => st.push(s.equalsIgnoreCase("true") || s == "T")
        case l: Long => st.push(l != 0L)
        case d: Double => st.push(d != 0.0)
        case o => throw new IllegalArgumentException(s"TOBOOLEAN on $o")
      }
    }
    words("PARSEVALUE") { (w, st, en) =>
      val (_, value) = graft.sources.LineProtocol.parseValue(st.popStr())
      st.push(value)
    }

    // ---- Base58 / Base58Check (fn/TOB58.java, B58TO)
    words("->B58") { (w, st, en) => st.push(b58Encode(en.popBytes(st))) }
    words("B58->") { (w, st, en) => st.push(b58Decode(st.popStr())) }
    words("->B58C") { (w, st, en) =>
      val prefix = st.pop().asInstanceOf[Array[Byte]]
      val payload = en.popBytes(st)
      val hash = sha256(sha256(prefix ++ payload))
      st.push(b58Encode(prefix ++ payload ++ hash.take(4)))
    }
    words("B58C->") { (w, st, en) =>
      val data = b58Decode(st.popStr())
      require(data.length >= 4, "B58C-> payload too short")
      val (body, check) = data.splitAt(data.length - 4)
      require(sha256(sha256(body)).take(4).sameElements(check),
        "B58C-> checksum mismatch")
      st.push(body)
    }
  }

  private def snapshotOne(v: Any): String = v match {
    case m: WsMacro => macroToString(m)
    case other => graft.sources.Snapshot.render(other).trim
  }
}
