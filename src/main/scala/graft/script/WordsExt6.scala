package graft.script

import org.apache.spark.sql.functions._

import graft.operators.GtsFrame
import WarpScriptEngine._

/** Round-6 infra/runner word tail — the last block of the reference
  * registry: scheduling context (EVERY, RUNNERAT/RUNNERIN,
  * RUNNERNONCE/RUNNERPATH), exec-surface attributes (HEADER, INFO,
  * MACROTTL, IMPORT), introspection (REPORT, EXTLOADED, WSAUDIT,
  * PIGSCHEMA, TOKENINFO), WarpFleet repos (WF.*), CAPEXPORT, REOPTALT,
  * GOLDWRAP, the MODE statistic, and BOOTSTRAP. Reference classes cited
  * per word; words that exist purely to drive server machinery we don't
  * have (token hooks, runner keystore) take the reference's own
  * "feature absent" path rather than being omitted.
  */
object WordsExt6 {

  def register(words: WordTable): Unit = {
    // ---- BOOTSTRAP (WarpScriptLib.java:1978): registered as a NOOP
    words("BOOTSTRAP") { (w, st, en) =>
    }

    // ---- EVERY (fn/EVERY.java): record the repetition delay (ms)
    // as a stack attribute, then run the macro once
    words("EVERY") { (w, st, en) =>
      val delay = st.popLong()
      st.stackAttrs("every") = delay
      en.evalMacro(st.pop().asInstanceOf[WsMacro], st)
    }

    // ---- HEADER (fn/HEADER.java): set/remove an X- response header
    words("HEADER") { (w, st, en) =>
      val value = Option(st.pop()).map(String.valueOf)
      val name = st.popStr()
      value match {
        case None => st.headers.remove(name)
        case Some(v) =>
          require(name.toUpperCase.startsWith("X-"),
            s"$w only headers beginning with 'X-' can be set.")
          st.headers(name) = v
      }
    }

    // ---- INFO (fn/INFO.java): in INFOMODE push the doc map back
    // and stop the script; otherwise swallow the map
    words("INFO") { (w, st, en) =>
      val doc = st.pop().asInstanceOf[Map[Any, Any]]
      if (st.flags("info")) { st.push(doc); throw new WsStopEx }
    }

    // ---- MODE (fn/MODE.java, faithful r12): valueSort (value asc,
    // tick asc — GTSHelper.quicksortByValue's tie rule) then the
    // reference's run-length loop VERBATIM, including its boxed-
    // object-identity comparison `lastValue != value`
    // (MODE.java:59): GTSHelper.valueAtIndex autoboxes per call, so
    // runs are detected ONLY for values Java caches — LONGs in
    // [-128, 127] and BOOLEANs. DOUBLEs, STRINGs and out-of-cache
    // LONGs compare reference-unequal every time, making every run
    // length 1 and the output the whole value-sorted value list
    // (duplicates included) — kept decision-for-decision.
    words("MODE") { (w, st, en) =>
      val df = WordsGts.singleSeries(en.toFrame(st.pop()), w)
      val rows = df.select(col("ts"), col("vtype"), col("vlong"),
          col("vdouble"), col("vbool"), col("vstring")).collect()
      val typed: Seq[(Long, Any)] = rows.toSeq.map { r =>
        val v: Any =
          if (!r.isNullAt(2)) r.getLong(2)
          else if (!r.isNullAt(3)) r.getDouble(3)
          else if (!r.isNullAt(4)) r.getBoolean(4)
          else if (!r.isNullAt(5)) r.getString(5)
          else null
        (r.getLong(0), v)
      }
      def valueLt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Long, y: Long) => x < y
        case (x: Double, y: Double) => x < y
        case (x: String, y: String) => x < y
        case (x: Boolean, y: Boolean) => !x && y
        case _ => false
      }
      val sorted = typed.sortWith { case ((ta, va), (tb, vb)) =>
        valueLt(va, vb) || (va == vb && ta < tb)
      }
      // Java's autobox caches: Long.valueOf in [-128,127], Boolean
      // always; everything else boxes fresh per valueAtIndex call
      def idEq(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Long, y: Long) => x == y && x >= -128 && x <= 127
        case (x: Boolean, y: Boolean) => x == y
        case _ => false
      }
      val modes = scala.collection.mutable.ArrayBuffer.empty[Any]
      var count = 0
      var modeCount = 0
      var lastValue: Any = null
      val n = sorted.length
      var i = 0
      while (i < n) {
        val value = sorted(i)._2
        if (lastValue == null) { count = 1; lastValue = value }
        else if (!idEq(lastValue, value)) {
          if (count > modeCount) {
            modeCount = count; modes.clear(); modes += lastValue
          } else if (count == modeCount) modes += lastValue
          count = 1; lastValue = value
        } else count += 1
        if (i == n - 1) {
          if (count > modeCount) {
            modeCount = count; modes.clear(); modes += lastValue
          } else if (count == modeCount) modes += lastValue
        }
        i += 1
      }
      st.push(modes.toVector)
    }

    // ---- REPORT (fn/REPORT.java): capability-gated runtime report
    words("REPORT") { (w, st, en) =>
      require(st.caps.contains("report"), s"$w missing capability.")
      st.push(Map[Any, Any](
        "rt" -> "spark-graft",
        "ops" -> st.ops,
        "depth" -> st.stack.length.toLong,
        "symbols" -> st.symbols.size.toLong,
        "uptime.ns" -> (System.nanoTime() - st.startNanos)))
    }

    // ---- IMPORT (fn/IMPORT.java): namespace alias rules; null
    // imported name removes the alias
    words("IMPORT") { (w, st, en) =>
      val alias = st.popStr()
      st.pop() match {
        case null => st.importRules.remove(alias)
        case ns: String => st.importRules(alias) = ns
        case o => throw new IllegalArgumentException(s"$w namespace: $o")
      }
    }

    // ---- GETHOOK (fn/GETHOOK.java): hooks ride on tokens; without
    // a token registry every token has zero hooks → empty macro
    words("GETHOOK") { (w, st, en) =>
      st.popStr(); st.popStr()
      st.push(WsMacro(Vector.empty))
    }

    // ---- EXTLOADED (fn/EXTLOADED.java): extension classes are
    // compile-time modules here, never dynamically loaded
    words("EXTLOADED") { (w, st, en) =>
      st.popStr(); st.push(false)
    }

    // ---- MACROTTL (fn/MACROTTL.java): ttl (STU) → ms attribute
    words("MACROTTL") { (w, st, en) =>
      st.stackAttrs("macro.ttl") = st.popLong() / 1000L
    }

    // ---- TOKENINFO (fn/TOKENINFO.java): decode a token string; with
    // no token keystore both decodes fail, yielding the error map
    words("TOKENINFO") { (w, st, en) =>
      val tok = st.popStr()
      val msg = s"invalid token '${tok.take(16)}': no token keystore"
      st.push(Map[Any, Any](
        "ReadTokenDecodeError" -> msg, "WriteTokenDecodeError" -> msg))
    }

    // ---- LOGMSG (fn/LOGMSG.java): log the value (debug capability
    // gates it, like STDOUT's capability mode)
    words("LOGMSG") { (w, st, en) =>
      val v = st.pop()
      if (st.caps.contains("debug")) Console.err.println(String.valueOf(v))
    }

    // ---- PIGSCHEMA (fn/PIGSCHEMA.java): Pig schema of the stack,
    // top first — "(top: type, l2: type, ...)"
    words("PIGSCHEMA") { (w, st, en) =>
      val entries = st.stack.iterator.zipWithIndex.map { case (o, i) =>
        val t = o match {
          case _: Long => "long"
          case _: Int => "int"
          case _: Double => "double"
          case _: Float => "float"
          case _: java.math.BigDecimal | _: BigDecimal => "bigdecimal"
          case _: java.math.BigInteger | _: BigInt => "biginteger"
          case _: String => "chararray"
          case _: Boolean => "boolean"
          case _: Array[Byte] => "bytearray"
          case _: WordsColl.WsVec | _: Set[_] => "bag{}"
          case _: Vector[_] => "tuple:()"
          case _: Map[_, _] => "map:[]"
          case _ => "bytearray"
        }
        (if (i == 0) "top" else s"l${i + 1}") + ": " + t
      }
      st.push(entries.mkString("(", ", ", ")"))
    }

    // ---- REOPTALT (fn/REOPTALT.java): trie-optimized alternation —
    // a regex matching exactly the given literal set
    words("REOPTALT") { (w, st, en) =>
      val alts = st.pop().asInstanceOf[Vector[Any]].map(String.valueOf)
      st.push(optAlt(alts))
    }

    // ---- RUNNERAT / RUNNERIN (fn/RUNNERAT.java): capability-gated
    // re-scheduling directives, stored as stack attributes (ms)
    words("RUNNERAT", "RUNNERIN") { (w, st, en) =>
      val capName = "runner.reschedule.min.period"
      val minPeriod = st.caps.getOrElse(capName,
        throw new IllegalArgumentException(
          s"$w requires capability $capName.")).toLong
      require(minPeriod > 0,
        s"$w requires capability $capName to be set to a value strictly greater than 0 ms.")
      val ms = st.popLong() / 1000L
      if (w == "RUNNERAT") {
        require(ms >= System.currentTimeMillis() + minPeriod,
          s"$w cannot schedule a task before now + $minPeriod ms.")
        st.stackAttrs("runner.reschedule.timestamp") = ms
      } else {
        require(ms >= minPeriod, s"$w cannot set period below $minPeriod ms.")
        st.stackAttrs("runner.reschedule.period") = ms
      }
    }

    // ---- RUNNERNONCE / RUNNERPATH (fn/RUNNERNONCE.java:71-91): the
    // nonce decrypts under the runner PSK; without a keystore the
    // reference's own fallback path pushes NULL
    words("RUNNERNONCE", "RUNNERPATH") { (w, st, en) =>
      st.popStr(); st.push(null)
    }

    // ---- WSAUDIT (fn/WSAUDIT.java): the parse-error records
    // collected under WSAUDITMODE, as maps
    words("WSAUDIT") { (w, st, en) =>
      st.push(st.parseErrors.toVector.map(identity[Any]))
    }

    // ---- WF.* (ext/warpfleet): session repository list
    words("WF.GETREPOS") { (w, st, en) =>
      st.push(st.wfRepos.toVector.map(identity[Any]))
    }
    words("WF.ADDREPO") { (w, st, en) =>
      val r = st.popStr()
      if (!st.wfRepos.contains(r)) st.wfRepos += r
    }
    words("WF.SETREPOS") { (w, st, en) =>
      val rs = st.pop().asInstanceOf[Vector[Any]].map(String.valueOf)
      st.wfRepos.clear(); st.wfRepos ++= rs
    }

    // ---- CAPEXPORT (fn/CAPEXPORT.java): mark capabilities for
    // export from a GUARDed macro; legal only inside GUARD
    words("CAPEXPORT") { (w, st, en) =>
      require(st.guardDepth > 0, s"$w can only be called from a GUARDed macro.")
      st.pop() match {
        case null => st.exportedCaps += null
        case s: String => st.exportedCaps += s
        case l: Vector[Any @unchecked] =>
          l.foreach {
            case s: String => st.exportedCaps += s
            case null => st.exportedCaps += null
            case o => throw new IllegalArgumentException(
              s"$w expects NULL, a capability name (STRING) or a LIST thereof, got $o")
          }
        case o => throw new IllegalArgumentException(
          s"$w expects NULL, a capability name (STRING) or a LIST thereof, got $o")
      }
    }

    // ---- GOLDWRAP (fn/GOLDWRAP.java): canonical ("gold") wrapper —
    // fullsorted, optimized encoding. The WRAP emit path already
    // sorts points and labels canonically, so the gold form IS the
    // wrap form here — one deterministic OPB64 wire string.
    words("GOLDWRAP") { (w, st, en) =>
      st.push(WordsFramesBlock.wrapOf(st.pop(), raw = false, mv = false,
        compress = true, en.toFrame))
    }
  }

  /** Build a trie-factored alternation regex over literal strings
    * (fn/REOPTALT.java's optimized alternation): common prefixes are
    * factored so the produced pattern matches exactly the input set. */
  def optAlt(alts: Seq[String]): String = {
    def quote(s: String): String =
      s.flatMap(c => if ("\\^$.|?*+()[]{}".contains(c)) "\\" + c else c.toString)
    def build(items: Seq[String]): String = {
      val (empties, rest) = items.distinct.partition(_.isEmpty)
      val groups = rest.groupBy(_.head).toSeq.sortBy(_._1).map { case (h, g) =>
        // extend the common prefix greedily within the group
        val prefixLen = {
          var l = 1
          val min = g.map(_.length).min
          while (l < min && g.forall(_.charAt(l) == g.head.charAt(l))) l += 1
          l
        }
        val prefix = g.head.substring(0, prefixLen)
        val tails = g.map(_.substring(prefixLen))
        if (tails.forall(_.isEmpty)) quote(prefix)
        else quote(prefix) + build(tails)
      }
      val alt = groups.mkString("|")
      val body = if (groups.length > 1) s"(?:$alt)" else alt
      if (empties.nonEmpty) {
        if (rest.isEmpty) "" else s"(?:$body)?"
      } else body
    }
    build(alts)
  }
}
