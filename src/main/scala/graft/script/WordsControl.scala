package graft.script

/** Control-flow, stack-manipulation, register and symbol-table words —
  * the WarpScriptLib.java registrations beyond the engine's core match
  * (fn/FOR.java, WHILE, UNTIL, BREAK, RETURN, GUARD, MARK words,
  * POPR/PUSHR register words, LSTORE/MSTORE/CSTORE symbol words).
  * Pure driver-side words: none touch a DataFrame.
  */
private[script] object WordsControl {
  import WarpScriptEngine._

  /** Register-suffixed word names (POPR0..POPR255 etc., as
    * WarpScriptLib.java:3390-3394 registers one word per register).
    * The suffix is any digit string, range-checked when run, so the
    * family is resolved on a table miss rather than listed in it. */
  private[script] val RegWord = "^(POPR|CPOPR|PUSHR|RUNR)([0-9]+)$".r

  /** The registers (MemoryWarpScriptStack 256 registers): POPRn,
    * CPOPRn (store-if-empty), PUSHRn and RUNRn. */
  private[script] def runRegister(op: String, num: String, st: State,
      en: WarpScriptEngine): Unit = {
    val r = num.toInt
    require(r >= 0 && r < st.regs.length, s"register out of range: $r")
    op match {
      case "POPR" => st.regs(r) = st.pop()
      case "CPOPR" => val v = st.pop(); if (st.regs(r) == null) st.regs(r) = v
      case "PUSHR" => st.push(st.regs(r))
      case "RUNR" =>
        en.evalMacro(st.regs(r).asInstanceOf[WsMacro], st)
    }
  }

  def register(words: WordTable): Unit = {
    // ---- loops (fn/FOR.java): FROM TO macro [pushCounter] FOR —
    // inclusive bounds, long counters stay long, doubles step by 1.0
    words("FOR") { (w, st, en) =>
      var top = st.pop()
      val pushCounter = top match {
        case b: Boolean => top = st.pop(); b
        case _ => true
      }
      val m = top.asInstanceOf[WsMacro]
      val to = st.pop(); val from = st.pop()
      (from, to) match {
        case (f: Long, t: Long) =>
          var i = f
          try while (i <= t) {
            if (pushCounter) st.push(i)
            try en.evalMacro(m, st) catch { case _: WsContinueEx => }
            i += 1
          } catch { case _: WsBreakEx => }
        case _ =>
          var d = en.asNum(from); val t = en.asNum(to)
          try while (d <= t) {
            if (pushCounter) st.push(d)
            try en.evalMacro(m, st) catch { case _: WsContinueEx => }
            d += 1.0
          } catch { case _: WsBreakEx => }
      }
    }

    // FORSTEP (fn/FORSTEP.java): FROM TO step-macro run-macro — the
    // step macro maps counter → next counter; direction from
    // sign(to - from)
    words("FORSTEP") { (w, st, en) =>
      var top = st.pop()
      val pushCounter = top match {
        case b: Boolean => top = st.pop(); b
        case _ => true
      }
      val run = top.asInstanceOf[WsMacro]
      val step = st.pop().asInstanceOf[WsMacro]
      val to = en.asNum(st.pop()); val from = en.asNum(st.pop())
      val ascending = from <= to
      var d = from
      try while (if (ascending) d <= to else d >= to) {
        if (pushCounter) st.push(if (d == d.toLong) d.toLong else d)
        try en.evalMacro(run, st) catch { case _: WsContinueEx => }
        st.push(if (d == d.toLong) d.toLong else d)
        en.evalMacro(step, st)
        d = st.popNum()
      } catch { case _: WsBreakEx => }
    }

    // WHILE (fn/WHILE.java): cond-macro run-macro [pushCounter] —
    // cond leaves a boolean; counter (if requested) counts iterations
    words("WHILE") { (w, st, en) =>
      var top = st.pop()
      val pushCounter = top match {
        case b: Boolean => top = st.pop(); b
        case _ => false
      }
      val run = top.asInstanceOf[WsMacro]
      val cond = st.pop().asInstanceOf[WsMacro]
      var counter = 0L
      try while ({ en.evalMacro(cond, st); st.popBool() }) {
        if (pushCounter) { st.push(counter); counter += 1 }
        try en.evalMacro(run, st) catch { case _: WsContinueEx => }
      } catch { case _: WsBreakEx => }
    }

    // UNTIL (fn/UNTIL.java): run-macro until-macro — repeat..until,
    // body runs at least once
    words("UNTIL") { (w, st, en) =>
      var top = st.pop()
      val pushCounter = top match {
        case b: Boolean => top = st.pop(); b
        case _ => false
      }
      val cond = top.asInstanceOf[WsMacro]
      val run = st.pop().asInstanceOf[WsMacro]
      var counter = 0L
      var done = false
      try while (!done) {
        if (pushCounter) { st.push(counter); counter += 1 }
        try en.evalMacro(run, st) catch { case _: WsContinueEx => }
        en.evalMacro(cond, st)
        done = st.popBool()
      } catch { case _: WsBreakEx => }
    }

    words("BREAK") { (w, st, en) => throw new WsBreakEx }
    words("CONTINUE") { (w, st, en) => throw new WsContinueEx }
    // RETURN / NRETURN (fn/RETURN.java): unwind 1 / n macro frames
    words("RETURN") { (w, st, en) => throw new WsReturnEx(1L) }
    words("NRETURN") { (w, st, en) => throw new WsReturnEx(st.popLong()) }
    words("STOP") { (w, st, en) => throw new WsStopEx }

    // ---- assertions / failures (fn/ASSERT.java, ASSERTMSG, FAIL,
    // MSGFAIL)
    words("ASSERT") { (w, st, en) =>
      if (!st.popBool()) throw new IllegalStateException("ASSERT failed")
    }
    words("ASSERTMSG") { (w, st, en) =>
      val msg = st.popStr()
      if (!st.popBool()) throw new IllegalStateException(s"ASSERTMSG failed '$msg'")
    }
    words("FAIL") { (w, st, en) => throw new IllegalStateException("FAIL called") }
    words("MSGFAIL") { (w, st, en) => throw new IllegalStateException("MSGFAIL " + st.pop()) }

    // GUARD (fn/GUARD.java): macro [kept-symbols] GUARD — runs the
    // macro with symbol-table isolation: on exit the table reverts to
    // its pre-call content except for the explicitly kept symbols
    words("GUARD") { (w, st, en) =>
      var top = st.pop()
      val kept: Set[String] = top match {
        case l: Vector[Any @unchecked] =>
          val ks = l.map(String.valueOf).toSet; top = st.pop(); ks
        case null => top = st.pop(); Set.empty
        case _ => Set.empty
      }
      val m = top.asInstanceOf[WsMacro]
      val snapshot = st.symbols.toMap
      st.guardDepth += 1 // CAPEXPORT is only legal inside a GUARD
      try en.evalMacro(m, st)
      finally {
        st.guardDepth -= 1
        val preserved = st.symbols.view.filterKeys(kept).toMap
        st.symbols.clear()
        st.symbols ++= snapshot ++ preserved
      }
    }

    // ---- marks (fn/MARK.java — the same mark `[` pushes, so `]`
    // and COUNTTOMARK interoperate)
    words("MARK") { (w, st, en) => st.push(ListMark) }
    words("COUNTTOMARK") { (w, st, en) =>
      val n = st.stack.indexOf(ListMark)
      require(n >= 0, "COUNTTOMARK: no MARK on stack")
      st.push(n.toLong)
    }
    words("CLEARTOMARK") { (w, st, en) =>
      var v = st.pop()
      while (v != ListMark) v = st.pop()
    }

    // ---- stack tail (fn/DROPN.java, STACKTOLIST.java)
    words("DROPN") { (w, st, en) =>
      val n = st.popLong().toInt
      require(n >= 0 && n <= st.stack.length, s"DROPN out of bounds: $n")
      var i = 0
      while (i < n) { st.pop(); i += 1 }
    }
    words("STACKTOLIST") { (w, st, en) => // bottom of stack = first element
      val l = st.stack.toVector.reverse
      st.stack.clear()
      st.push(l)
    }
    // debug output words (fn/PSTACK.java, STDOUT, STDERR): render to
    // the driver's stderr; PSTACK is non-destructive
    words("PSTACK") { (w, st, en) =>
      st.stack.zipWithIndex.foreach { case (v, i) =>
        Console.err.println(s"${i + 1}: $v")
      }
    }
    words("STDOUT", "STDERR") { (w, st, en) => Console.err.println(String.valueOf(st.pop())) }
    words("NOLOG", "NOOP") { (w, st, en) => () }

    words("CLEARREGS") { (w, st, en) =>
      java.util.Arrays.fill(st.regs.asInstanceOf[Array[AnyRef]], null)
    }
    // ASREGS (fn/ASREGS.java): a macro-rewrite performance hint in
    // the reference (variables → registers); semantically identity
    words("ASREGS") { (w, st, en) => st.push(st.pop().asInstanceOf[WsMacro]) }

    // ---- symbol-table tail (fn/CSTORE.java, LSTORE, MSTORE,
    // FORGET, CLEARSYMBOLS, SYMBOLS)
    words("CSTORE") { (w, st, en) =>
      st.pop() match {
        case name: String =>
          val v = st.pop()
          if (!st.symbols.contains(name)) st.symbols(name) = v
        case r: Long =>
          val v = st.pop()
          if (st.regs(r.toInt) == null) st.regs(r.toInt) = v
        case o => throw new IllegalArgumentException(s"CSTORE name: $o")
      }
    }
    // LSTORE: [ values ] [ names ] LSTORE — positional store; null
    // names skip; LONG names are registers (LSTORE.java:45-80)
    words("LSTORE", "LCSTORE") { (w, st, en) =>
      val names = st.pop().asInstanceOf[Vector[Any]]
      val values = st.pop().asInstanceOf[Vector[Any]]
      names.zipWithIndex.foreach {
        case (null, _) => ()
        case (name, i) if i < values.size =>
          val conditional = w == "LCSTORE"
          name match {
            case s: String =>
              if (!conditional || !st.symbols.contains(s)) st.symbols(s) = values(i)
            case r: Long =>
              if (!conditional || st.regs(r.toInt) == null) st.regs(r.toInt) = values(i)
            case o => throw new IllegalArgumentException(s"$w name: $o")
          }
        case _ => ()
      }
    }
    // MSTORE: { name value } [keys] MSTORE — store map entries as
    // symbols (MSTORE.java:36-75)
    words("MSTORE", "MCSTORE") { (w, st, en) =>
      var top = st.pop()
      val keys: Option[Vector[Any]] = top match {
        case l: Vector[Any @unchecked] => top = st.pop(); Some(l)
        case _ => None
      }
      val m = top.asInstanceOf[Map[Any, Any]]
      val conditional = w == "MCSTORE"
      val it = keys.getOrElse(m.keys.toVector)
      it.foreach {
        case null => ()
        case s: String if m.contains(s) =>
          if (!conditional || !st.symbols.contains(s)) st.symbols(s) = m(s)
        case r: Long if m.contains(r) =>
          if (!conditional || st.regs(r.toInt) == null) st.regs(r.toInt) = m(r)
        case _ => ()
      }
    }
    words("FORGET") { (w, st, en) => st.symbols.remove(st.popStr()) }
    words("CLEARSYMBOLS") { (w, st, en) => st.symbols.clear() }
    words("SYMBOLS") { (w, st, en) => st.push(st.symbols.keys.toVector.sorted) }

    // ---- identity / section markers (fn/REV.java, IDENT, SECTION)
    words("REV", "IDENT") { (w, st, en) => st.push("graft-spark") }
    words("SECTION") { (w, st, en) => en.section = st.popStr() }
    words("GETSECTION") { (w, st, en) => st.push(en.section) }
    words("MAXLONG") { (w, st, en) => st.push(Long.MaxValue) }
    words("MINLONG") { (w, st, en) => st.push(Long.MinValue) }
    // RTFM/MAN are documentation words in the reference; honest no-op
    words("RTFM", "MAN") { (w, st, en) => () }
  }
}
