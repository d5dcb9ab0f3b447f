package graft.script

/** Stack-machine introspection, limits, timing, DEF'd words, secure
  * macros and debug words (fn/MAXOPS.java family, DEF/CLEARDEFS/REDEFS,
  * CHRONOSTART/CHRONOEND/CHRONOSTATS, HIDE/SHOW, SECURE/UNSECURE/
  * EVALSECURE, SAVE/RESTORE, PEEK/NPEEK/DUMP, TIMEBOX, EXPORT, VARS,
  * DEREF, REV). Everything here is driver-side stack state — nothing
  * touches a DataFrame.
  */
private[script] object WordsDebug {
  import WarpScriptEngine._

  /** The limit words and their stack-attribute keys (fn/MAXOPS.java
    * family pops the new limit; LIMIT caps fetched points).
    * MAXGEOCELLS is WordsGeo's capacity hint. */
  private val LimitWords = Seq("MAXOPS", "MAXLOOP", "MAXDEPTH", "MAXRECURSION",
    "MAXSYMBOLS", "MAXBUCKETS", "MAXGTS", "MAXPIXELS", "MAXJSON", "LIMIT")

  private val ToggleOn = Map(
    "DEBUGON" -> "debug", "ECHOON" -> "echo", "LINEON" -> "line",
    "TIMEON" -> "timing", "TIMINGS" -> "timing", "INFOMODE" -> "info",
    "WSAUDITMODE" -> "audit")
  private val ToggleOff = Map(
    "DEBUGOFF" -> "debug", "ECHOOFF" -> "echo", "LINEOFF" -> "line",
    "TIMEOFF" -> "timing", "NOTIMINGS" -> "timing")

  def register(words: WordTable): Unit = {
    // ---- limits (value recorded; OPS exposes the op counter)
    words(LimitWords: _*) { (w, st, en) => st.limits(w) = st.popLong() }
    words("OPS") { (w, st, en) => st.push(st.ops) }
    words("NDEBUGON") { (w, st, en) => // n levels of debug output
      st.limits("DEBUGDEPTH") = st.popLong(); st.flags += "debug"
    }
    words(ToggleOn.keys.toSeq: _*) { (w, st, en) => st.flags += ToggleOn(w) }
    words(ToggleOff.keys.toSeq: _*) { (w, st, en) => st.flags -= ToggleOff(w) }

    // ---- timing (fn/CHRONOSTART.java: per-alias cumulative nanos)
    words("CHRONOSTART") { (w, st, en) =>
      val alias = st.popStr()
      val (tot, _, n) = st.chrono.getOrElse(alias, (0L, 0L, 0L))
      st.chrono(alias) = (tot, System.nanoTime(), n)
    }
    words("CHRONOEND") { (w, st, en) =>
      val alias = st.popStr()
      val (tot, since, n) = st.chrono.getOrElse(alias,
        throw new IllegalArgumentException(s"CHRONOEND without CHRONOSTART '$alias'"))
      st.chrono(alias) = (tot + (System.nanoTime() - since), 0L, n + 1)
    }
    words("CHRONOSTATS") { (w, st, en) =>
      st.push(st.chrono.toMap.map { case (k, (tot, _, n)) =>
        (k: Any, Map[Any, Any]("total_ns" -> tot, "calls" -> n): Any) })
    }
    words("ELAPSED") { (w, st, en) => st.push(System.nanoTime() - st.startNanos) }
    words("TIMED") { (w, st, en) => // macro TIMED → run + push elapsed nanos
      val m = st.pop().asInstanceOf[WsMacro]
      val t0 = System.nanoTime()
      en.evalMacro(m, st)
      st.push(System.nanoTime() - t0)
    }
    // TIMEBOX (fn/TIMEBOX.java): macro maxtime(us) TIMEBOX — run the
    // macro on a watchdog'd thread, abort past the deadline
    words("TIMEBOX") { (w, st, en) =>
      val maxUs = math.max(0L, st.popLong())
      val m = st.pop().asInstanceOf[WsMacro]
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try en.evalMacro(m, st) catch { case e: Throwable => err.set(e) })
      t.setDaemon(true); t.start()
      t.join(math.max(1L, maxUs / 1000L))
      if (t.isAlive) {
        t.interrupt()
        throw new IllegalStateException(s"TIMEBOX: macro exceeded $maxUs us")
      }
      if (err.get() != null) throw new RuntimeException("TIMEBOX macro failed", err.get())
    }

    // ---- debug output (fn/PEEK.java prints via the interactive
    // writer; here stderr — engines embedded in Spark jobs log there)
    words("PEEK") { (w, st, en) => Console.err.println(snap(st.stack.headOption.orNull)) }
    words("NPEEK", "PEEKN") { (w, st, en) =>
      val n = st.popLong().toInt
      st.stack.take(n).zipWithIndex.foreach { case (v, i) =>
        Console.err.println(s"${i + 1}: ${snap(v)}") }
    }
    words("STMTPOS") { (w, st, en) => st.push(st.ops) }
    words("DUMP") { (w, st, en) =>
      st.push(st.stack.zipWithIndex
        .map { case (v, i) => s"${i + 1}: ${snap(v)}" }.mkString("\n"))
    }

    // ---- HIDE / SHOW (MemoryWarpScriptStack.hide/show: NULL → all
    // levels, LONG n → keep the top n visible)
    words("HIDE") { (w, st, en) =>
      val keep = st.pop() match {
        case null => 0
        case l: Long => l.toInt
        case o => throw new IllegalArgumentException(s"HIDE expects LONG or NULL, got $o")
      }
      val toHide = st.stack.drop(keep).toList
      while (st.stack.length > keep) st.stack.removeLast()
      st.hidden = toHide ::: st.hidden
      st.push(toHide.length.toLong)
    }
    words("SHOW") { (w, st, en) =>
      val n = st.pop() match {
        case null => st.hidden.length
        case l: Long => math.min(l.toInt, st.hidden.length)
        case o => throw new IllegalArgumentException(s"SHOW expects LONG or NULL, got $o")
      }
      // hidden list is shallow→deep; append in that order so the
      // shallowest hidden level sits just under the visible bottom
      st.hidden.take(n).foreach(v => st.stack.append(v))
      st.hidden = st.hidden.drop(n)
    }

    // ---- DEF'd words (fn/DEF.java: macro 'name' DEF; evalWord
    // consults st.defs first)
    words("DEF") { (w, st, en) =>
      val name = st.popStr()
      val m = st.pop().asInstanceOf[WsMacro]
      if (st.defs.contains(name)) st.redefs += name
      st.defs(name) = m
    }
    words("CLEARDEFS") { (w, st, en) => st.defs.clear(); st.redefs.clear() }
    words("REDEFS") { (w, st, en) => st.popBool() } // allow-redefine flag: always allowed here
    words("FUNCREF") { (w, st, en) =>
      val name = st.popStr()
      st.push(NativeFn(name, s => en.evalWordPub(name, s)))
    }
    words("COMPILE", "SAFECOMPILE", "OPTIMIZE") { (w, st, en) =>
      st.push(st.pop().asInstanceOf[WsMacro]) // already compiled-on-eval
    }
    words("COMPILED") { (w, st, en) => st.pop(); st.push(false) } // no WS2 bytecode form

    // VARS (fn/VARS.java): macro → list of symbols it loads/stores
    words("VARS") { (w, st, en) =>
      var top = st.pop()
      top match { case _: java.lang.Boolean => top = st.pop(); case _ => () }
      val m = top.asInstanceOf[WsMacro]
      st.push(macroVars(m).distinct.toVector.map(identity[Any]))
    }

    // DEREF (fn/DEREF.java): macro {name → value} DEREF → macro with
    // $name / 'name' LOAD occurrences replaced by the literal value
    words("DEREF") { (w, st, en) =>
      val values = st.pop().asInstanceOf[Map[Any, Any]]
        .map { case (k, v) => k.toString -> v }
      val m = st.pop().asInstanceOf[WsMacro]
      st.push(WsMacro(derefTokens(m.tokens, values)))
    }

    // ---- SAVE / RESTORE / RESET (MemoryWarpScriptStack context)
    words("SAVE") { (w, st, en) =>
      st.push(SavedContext(st.symbols.toMap, st.regs.clone(), st.defs.toMap))
    }
    words("RESTORE") { (w, st, en) =>
      val ctx = st.pop().asInstanceOf[SavedContext]
      st.symbols.clear(); st.symbols ++= ctx.symbols
      Array.copy(ctx.regs, 0, st.regs, 0, 256)
      st.defs.clear(); st.defs ++= ctx.defs
    }
    words("RESET") { (w, st, en) =>
      val depth = st.popLong().toInt
      while (st.stack.length > depth) st.pop()
    }

    // ---- EXPORT (fn/EXPORT.java: mark symbols as exported)
    words("EXPORT") { (w, st, en) =>
      val names = st.pop() match {
        case s: String => Seq(s)
        case l: Vector[Any @unchecked] => l.map(v => if (v == null) null else v.toString)
        case o => throw new IllegalArgumentException(s"EXPORT on $o")
      }
      names.foreach(n => if (n != null) st.flags += s"export:$n")
    }

    // ---- SECURE macros (fn/SECURE.java: AES under the secure key;
    // re-derived as AES-GCM keyed by SHA-256 of the key text)
    words("SECUREKEY") { (w, st, en) => st.secureKey = Some(st.popStr()) }
    words("SECURE") { (w, st, en) =>
      val key = st.secureKey.getOrElse(
        throw new IllegalStateException("You need to set the secure key first."))
      st.push(secureEncrypt(key, st.popStr()))
    }
    words("UNSECURE") { (w, st, en) =>
      val key = st.secureKey.getOrElse(
        throw new IllegalStateException("You need to set the secure key first."))
      st.push(secureDecrypt(key, st.popStr()))
    }
    words("EVALSECURE") { (w, st, en) =>
      val key = st.secureKey.getOrElse(
        throw new IllegalStateException("You need to set the secure key first."))
      val script = secureDecrypt(key, st.popStr())
      st.push(script)
      en.evalWordPub("EVAL", st)
    }

    // ---- capabilities (fn/CAPADD.java family; the reference reads
    // them from token attributes — this engine's "token" is a plain
    // 'name=value[,name=value]' list, there being no token registry)
    words("CAPADD") { (w, st, en) =>
      st.popStr().split(',').filter(_.nonEmpty).foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"CAPADD expects name=value pairs: '$kv'")
        st.caps(kv.substring(0, i).trim) = kv.substring(i + 1).trim
      }
    }
    words("CAPGET") { (w, st, en) =>
      st.pop() match {
        case s: String => st.push(st.caps.get(s).orNull)
        case l: Vector[Any @unchecked] =>
          st.push(l.map(_.toString).map(n => n -> st.caps.get(n).orNull)
            .toMap[Any, Any])
        case null => st.push(st.caps.toMap[Any, Any]
          .map { case (k, v) => (k: Any, v: Any) })
        case o => throw new IllegalArgumentException(s"CAPGET on $o")
      }
    }
    words("CAPCHECK") { (w, st, en) => st.push(st.caps.contains(st.popStr())) }
    words("CAPDEL") { (w, st, en) =>
      st.pop() match {
        case s: String => st.caps.remove(s)
        case l: Vector[Any @unchecked] => l.foreach(n => st.caps.remove(n.toString))
        case null => st.caps.clear()
        case o => throw new IllegalArgumentException(s"CAPDEL on $o")
      }
    }
    words("JSONSTACK", "WSSTACK") { (w, st, en) =>
      st.push(st.stack.map(snap).mkString("[", ",", "]"))
    }
    words("STACKATTRIBUTE") { (w, st, en) =>
      val key = st.popStr()
      st.push(key match {
        case "ops" => st.ops
        case k if st.limits.contains(k) => st.limits(k)
        case _ => null
      })
    }

    // EMPTY / NONEMPTY moved to WordsGts (faithful list-filter
    // faces, r13 audit) — WordsGts is consulted first in the chain

    // SET (fn/SET.java): list value idx SET → updated list (negative
    // from end; nested index path as a list)
    words("SET") { (w, st, en) =>
      val key = st.pop()
      val value = st.pop()
      val target = st.pop().asInstanceOf[Vector[Any]]
      def setIn(v: Vector[Any], path: List[Long]): Vector[Any] = path match {
        case i :: Nil =>
          val idx = if (i < 0) v.length + i.toInt else i.toInt
          v.updated(idx, value)
        case i :: rest =>
          val idx = if (i < 0) v.length + i.toInt else i.toInt
          v.updated(idx, setIn(v(idx).asInstanceOf[Vector[Any]], rest))
        case Nil => v
      }
      val path = key match {
        case l: Long => List(l)
        case l: Vector[Any @unchecked] => l.map(_.asInstanceOf[Long]).toList
        case o => throw new IllegalArgumentException(s"SET key $o")
      }
      st.push(setIn(target, path))
    }
  }

  private[script] final case class SavedContext(symbols: Map[String, Any],
      regs: Array[Any], defs: Map[String, WsMacro])

  private def snap(v: Any): String = v match {
    case null => "NULL"
    case s: String => s"'$s'"
    case m: WsMacro => s"<% ${m.tokens.length} ops %>"
    case o => o.toString
  }

  /** Symbols a macro touches: 'x' STORE / 'x' LOAD / CSTORE / $x. */
  private def macroVars(m: WsMacro): Seq[String] = {
    import WsToken._
    val out = Seq.newBuilder[String]
    m.tokens.sliding(2).foreach {
      case Seq(WsStr(s), WsWord("STORE" | "LOAD" | "CSTORE")) => out += s
      case _ => ()
    }
    m.tokens.foreach {
      case WsWord(w) if w.startsWith("$") && w.length > 1 => out += w.drop(1)
      case _ => ()
    }
    out.result()
  }

  private def derefTokens(tokens: Vector[WsToken],
      values: Map[String, Any]): Vector[WsToken] = {
    import WsToken._
    def lit(v: Any): WsToken = v match {
      case s: String => WsStr(s)
      case l: Long => WsLong(l)
      case d: Double => WsDouble(d)
      case b: Boolean => WsBool(b)
      case o => throw new IllegalArgumentException(s"DEREF value $o not a literal")
    }
    val out = Vector.newBuilder[WsToken]
    var i = 0
    while (i < tokens.length) {
      tokens(i) match {
        case WsStr(s) if i + 1 < tokens.length && tokens(i + 1) == WsWord("LOAD")
            && values.contains(s) =>
          out += lit(values(s)); i += 1 // swallow LOAD
        case WsWord(w) if w.startsWith("$") && values.contains(w.drop(1)) =>
          out += lit(values(w.drop(1)))
        case t => out += t
      }
      i += 1
    }
    out.result()
  }

  // AES-GCM under SHA-256(keytext); payload = 12-byte nonce || ciphertext
  private def secureEncrypt(key: String, plain: String): String = {
    val k = new javax.crypto.spec.SecretKeySpec(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.getBytes("UTF-8")), "AES")
    val nonce = new Array[Byte](12)
    new java.security.SecureRandom().nextBytes(nonce)
    val c = javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE, k,
      new javax.crypto.spec.GCMParameterSpec(128, nonce))
    val ct = c.doFinal(plain.getBytes("UTF-8"))
    java.util.Base64.getEncoder.encodeToString(nonce ++ ct)
  }

  private def secureDecrypt(key: String, payload: String): String = {
    val data = java.util.Base64.getDecoder.decode(payload)
    val k = new javax.crypto.spec.SecretKeySpec(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(key.getBytes("UTF-8")), "AES")
    val c = javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
    c.init(javax.crypto.Cipher.DECRYPT_MODE, k,
      new javax.crypto.spec.GCMParameterSpec(128, data.take(12)))
    new String(c.doFinal(data.drop(12)), "UTF-8")
  }
}
