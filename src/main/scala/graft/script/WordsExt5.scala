package graft.script

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Fifth extension registry (round-6 word tail).
  *
  * Bitwise/shift operators (script/binary/BitwiseAND.java, BitwiseOR,
  * BitwiseXOR, SHIFTLEFT, SHIFTRIGHT; unary/COMPLEMENT.java), ALMOSTEQ
  * (fn/ALMOSTEQ.java), the Morton Z-order codec ->Z / Z->
  * (fn/TOZ.java, fn/ZTO.java), MAPID (fn/MAPID.java), UNSET
  * (fn/UNSET.java), MDETACH (fn/MDETACH.java), MSEC/MRSEC
  * (fn/MSEC.java), POLYFUNC (fn/POLYFUNC.java), the FIND/FINDSTATS
  * directory words (fn/FIND.java, fn/FINDSTATS.java over
  * egress/ThriftDirectoryClient.java stats keys), ATTRSKIP
  * (fn/ATTRSKIP.java) and the ACCEL.* accelerator controls
  * (fn/ACCELCACHE.java family) re-expressed as Spark storage-level
  * directives.
  */
private[script] object WordsExt5 {
  import WarpScriptEngine._
  import WsToken._

  /** POLYFUNC value (fn/POLYFUNC.java): a polynomial applied to the
    * TICK when used over a GTS / as a mapper, or to a plain number via
    * EVAL. Coefficients in ascending-degree order (commons-math
    * PolynomialFunction convention the reference uses). */
  final case class WsPoly(coeffs: Array[Double]) {
    def value(x: Double): Double = {
      var acc = coeffs(coeffs.length - 1)
      var i = coeffs.length - 2
      while (i >= 0) { acc = acc * x + coeffs(i); i -= 1 }
      acc
    }
    /** Codegen'd Horner form — POLYFUNC over a frame/mapper stays a
      * Column expression, never a UDF. */
    def columnExpr(x: Column): Column =
      coeffs.init.foldRight(lit(coeffs.last): Column)((c, acc) => acc * x + lit(c))
  }

  /** SipHash-2-4 of data || reverse(data) — SipHashInline
    * .hash24_palindromic's contract (crypto/SipHashInline.java:337
    * streams the reversal instead of materializing it). */
  private def sip24Palindromic(k0: Long, k1: Long, data: Array[Byte]): Long =
    WordsCrypto.sipHash24(k0, k1, data ++ data.reverse)

  /** GTSHelper.labelsId (continuum/gts/GTSHelper.java:3780): palindromic
    * SipHash of each label key and value (UTF-8), pairs sorted by
    * (keyHash, valueHash), hashes concatenated big-endian, outer
    * palindromic SipHash over the concatenation. */
  private[script] def labelsId(k0: Long, k1: Long, labels: Map[String, String]): Long = {
    val pairs = labels.toArray.map { case (k, v) =>
      (sip24Palindromic(k0, k1, k.getBytes("UTF-8")),
        sip24Palindromic(k0, k1, v.getBytes("UTF-8")))
    }
    val sorted = pairs.sortBy(identity)
    val buf = java.nio.ByteBuffer.allocate(sorted.length * 16)
    sorted.foreach { case (hk, hv) => buf.putLong(hk); buf.putLong(hv) }
    sip24Palindromic(k0, k1, buf.array())
  }

  // fn/MAPID.java:31-34 — fixed, public SipHash keys that define the
  // word's observable output
  private val MAPID_KEY1 = (0x39A9DD7D71B64E3CL, 0xA14C3749DCAAB408L)
  private val MAPID_KEY2 = (0xB5BBEC1071A64C48L, 0xB872C16B37A07597L)

  /** Morton (Z-order) encode: interleave `bitwidth` low bits of each
    * long, bit-reversed per output byte, big-endian packing — the exact
    * fn/TOZ.java:75-97 layout so encodings round-trip byte-for-byte
    * with the reference. */
  private[script] def mortonEncode(longsIn: Vector[Long], bitwidth: Int): Array[Byte] = {
    require(bitwidth >= 0 && bitwidth <= 63, "->Z expects a bit width <= 63.")
    require(longsIn.forall(_ >= 0), "->Z operates on a list of positive LONGs.")
    val longs = longsIn.toArray
    val nbits = bitwidth * longs.length
    val nbytes = nbits / 8 + (if (nbits % 8 == 0) 0 else 1)
    val encoded = new Array[Byte](nbytes)
    var bitcount = nbytes * 8 - nbits
    var value = 0L
    var byteidx = nbytes
    var i = 0
    while (i < bitwidth) {
      var j = longs.length - 1
      while (j >= 0) {
        value = (value << 1) | (longs(j) & 0x1L)
        longs(j) = longs(j) >>> 1
        bitcount += 1
        if (bitcount == 8) {
          // reverse the low 8 bits (bithacks ReverseByteWith64BitsDiv)
          value = (value * 0x0202020202L & 0x010884422010L) % 1023L
          byteidx -= 1
          encoded(byteidx) = (value & 0xFFL).toByte
          bitcount = 0
          value = 0L
        }
        j -= 1
      }
      i += 1
    }
    encoded
  }

  /** Morton decode (fn/ZTO.java:58-92 inverse). */
  private[script] def mortonDecode(encoded: Array[Byte], nlongs: Int, bitwidth: Int): Vector[Long] = {
    require(bitwidth >= 0 && bitwidth <= 63, "Z-> expects a bit width <= 63.")
    val longs = new Array[Long](nlongs)
    var byteidx = 0
    var bitcount = 0
    var value = 0L
    var i = 0
    while (i < bitwidth) {
      var j = 0
      while (j < nlongs) {
        if (bitcount == 0) {
          value = encoded(byteidx) & 0xFFL
          byteidx += 1
          value = (value * 0x0202020202L & 0x010884422010L) % 1023L
          bitcount = 8
        }
        longs(j) = (longs(j) << 1) | (value & 0x1L)
        value = value >>> 1
        bitcount -= 1
        j += 1
      }
      i += 1
    }
    longs.toVector
  }

  /** The trailing [pubkey, sig, curve-ish string triple + MSIG] of a
    * signed macro, as produced by MSIGN (same layout WordsExt4.sigTokens
    * recognizes). */
  private def splitSignature(m: WsMacro): Option[(Vector[WsToken], Vector[WsToken])] =
    m.tokens.takeRight(4) match {
      case sig @ Vector(_: WsStr, _: WsStr, _: WsStr, WsWord("MSIG")) =>
        Some((m.tokens.dropRight(4), sig))
      case _ => None
    }

  // scalastyle:off cyclomatic.complexity method.length
  def eval(w: String, st: State, en: WarpScriptEngine): Boolean = {
    w match {
      // ---- bitwise + shifts (binary/BitwiseOperation.java incl.
      // SHIFTLEFT/SHIFTRIGHT — LONGs, BIGDECIMAL combos, LONG GTS
      // faces); `~` is unary/COMPLEMENT.java, LONG only
      case "&" | "|" | "^" | "<<" | ">>" | ">>>" =>
        WordsBinaryOps.bitwise(w, st, en)
      case "~" => st.push(~st.popLong())

      // ---- ALMOSTEQ (fn/ALMOSTEQ.java): a b lambda ~= -> |a-b| <= |lambda|;
      // NaN ~= NaN is true
      case "~=" =>
        val lambda = math.abs(st.popNum())
        val b = st.popNum(); val a = st.popNum()
        st.push(if (a.isNaN || b.isNaN) a.isNaN && b.isNaN
          else lambda >= math.abs(a - b))

      // ---- Morton Z-order codec (fn/TOZ.java, fn/ZTO.java)
      case "->Z" =>
        val bitwidth = st.popLong().toInt
        val longs = st.pop().asInstanceOf[Vector[Any]].map(en.asLong)
        st.push(mortonEncode(longs, bitwidth))
      case "Z->" =>
        val bitwidth = st.popLong().toInt
        val nlongs = st.popLong().toInt
        val encoded = en.popBytes(st)
        st.push(mortonDecode(encoded, nlongs, bitwidth).map(identity[Any]))

      // ---- MAPID (fn/MAPID.java): UUID from the two fixed-key labelsId
      // hashes of a string map — byte-exact with the reference
      case "MAPID" =>
        val m = st.pop().asInstanceOf[Map[Any, Any]]
          .map { case (k, v) => k.toString -> String.valueOf(v) }
        val msb = labelsId(MAPID_KEY1._1, MAPID_KEY1._2, m)
        val lsb = labelsId(MAPID_KEY2._1, MAPID_KEY2._2, m)
        st.push(new java.util.UUID(msb, lsb).toString)

      // ---- UNSET (fn/UNSET.java): spread a SET onto the stack behind
      // a list mark (the reference pushes a Mark then the elements)
      case "UNSET" =>
        val s = st.pop() match {
          case set: Set[Any @unchecked] => set
          case o => throw new IllegalArgumentException(s"UNSET expects a SET, got $o")
        }
        st.push(ListMark)
        // deterministic spread order (reference order is Set-impl-defined)
        s.toVector.sortBy(String.valueOf(_)).foreach(st.push)

      // ---- MDETACH (fn/MDETACH.java): split the trailing signature off
      // a signed macro; push macro-without-signature then the signature
      case "MDETACH" =>
        val m = st.pop().asInstanceOf[WsMacro]
        splitSignature(m) match {
          case Some((body, sig)) =>
            st.push(m.copy(tokens = body)); st.push(WsMacro(sig))
          case None =>
            throw new IllegalArgumentException("MDETACH operates on a signed macro.")
        }

      // ---- MSEC / MRSEC (fn/MSEC.java): flag a macro secure — its
      // body is hidden from SNAPSHOT/TOSTRING (WarpScriptStack.Macro
      // .snapshot(hideSecure), :501-507); MRSEC additionally marks
      // nested macros secure on render
      case "MSEC" => st.push(st.pop().asInstanceOf[WsMacro].copy(secure = true))
      case "MRSEC" =>
        st.push(st.pop().asInstanceOf[WsMacro]
          .copy(secure = true, secureRecursive = true))

      // ---- POLYFUNC (fn/POLYFUNC.java Builder): ascending-degree
      // coefficients -> polynomial-in-the-tick function value (EVAL on
      // numbers/lists/frames, mapper face under MAP)
      case "POLYFUNC" =>
        val coeffs = st.pop().asInstanceOf[Vector[Any]].map(en.asNum).toArray
        require(coeffs.nonEmpty, "POLYFUNC expects a non-empty coefficient list")
        st.push(WsPoly(coeffs))

      // ---- FIND (fn/FIND.java): selector -> the matching series as
      // metadata-only GTS (no datapoints, like the reference's
      // directory Metadata). ONE distributed metadata pass + one
      // bounded collect; each result is a driver-side GtsBuilder so
      // NAME/LABELS/SIZE on it cost zero Spark actions.
      case "FIND" =>
        val (cls, labels) = findArgs(st)
        val meta = graft.model.Gts.seriesMeta(
          en.fetchPub(cls, labels, Long.MinValue, Long.MaxValue).df)
        val rows = meta.limit(10001).collect()
        require(rows.length <= 10000, "FIND: too many series")
        val series = rows.map { r =>
          (r.getString(1), r.getMap[String, String](2).toMap)
        }.sortBy(_.toString()).map { case (c, l) =>
          GtsBuilder(c, l, Vector.empty): Any
        }.toVector
        st.push(series)

      // ---- FINDSTATS (fn/FINDSTATS.java): cardinality stats of the
      // matching series. The reference returns HyperLogLogPlus
      // ESTIMATES (egress/ThriftDirectoryClient.java:576-606,
      // error.rate 1.04/sqrt(2^p)); a distributed countDistinct is
      // exact at any scale, so error.rate is honestly 0.0 here. Same
      // keys, one aggregation pass.
      case "FINDSTATS" =>
        val (cls, labels) = findArgs(st)
        val meta = graft.model.Gts.seriesMeta(
          en.fetchPub(cls, labels, Long.MinValue, Long.MaxValue).df)
          .cache()
        try {
          // TWO jobs, not four (r14, guide §1.2): the per-class and
          // per-label collects are directory-cardinality, and the
          // global stats are exact derivations of them — gts = Σ
          // per-class counts, classes = #classes, labelnames =
          // #label keys, labelvalues = countDistinct(k, v) = Σ over k
          // of per-key distinct values. The dropped global-agg jobs
          // each carried their own codegen + scheduling cost.
          val perClass = meta.groupBy(col("class")).count().collect()
            .map(r => (r.getString(0): Any) -> (r.getLong(1): Any)).toMap
          val lab = meta.select(explode(col("labels")).as(Seq("__k", "__v")))
          val perLabel = lab.groupBy(col("__k"))
            .agg(countDistinct(col("__v")).as("n")).collect()
            .map(r => (r.getString(0): Any) -> (r.getLong(1): Any)).toMap
          st.push(Map[Any, Any](
            "gts.estimate" -> perClass.values.map(_.asInstanceOf[Long]).sum,
            "classes.estimate" -> perClass.size.toLong,
            "labelnames.estimate" -> perLabel.size.toLong,
            "labelvalues.estimate" -> perLabel.values.map(_.asInstanceOf[Long]).sum,
            "per.class.estimate" -> perClass,
            "per.label.value.estimate" -> perLabel,
            "error.rate" -> 0.0))
        } finally { meta.unpersist() }

      // ---- ATTRSKIP (fn/ATTRSKIP.java): BOOLEAN sets the skip flag
      // (FINDSETS omits the attribute sets while set), NULL reads it
      case "ATTRSKIP" =>
        st.pop() match {
          case b: Boolean => st.attrSkip = b
          case null => st.push(st.attrSkip)
          case o => throw new IllegalArgumentException(
            s"ATTRSKIP invalid parameter, expected a BOOLEAN or NULL, got $o")
        }

      // ---- ACCEL.* (fn/ACCELCACHE.java family): the reference toggles
      // its in-memory accelerator for subsequent FETCH/UPDATE; the
      // Spark-native reading is the executor block-manager storage
      // level of subsequently FETCHed frames — CACHE -> memory,
      // PERSIST -> disk-backed, both off -> no caching. REPORT uses the
      // reference's keys (fn/ACCELREPORT.java:16-25).
      case "ACCEL.CACHE"     => st.accelCache = true
      case "ACCEL.NOCACHE"   => st.accelCache = false
      case "ACCEL.PERSIST"   => st.accelPersist = true
      case "ACCEL.NOPERSIST" => st.accelPersist = false
      case "ACCEL.REPORT" =>
        st.push(Map[Any, Any](
          "status" -> true, // Spark's block manager is always present
          "cache" -> st.accelCache,
          "persist" -> st.accelPersist,
          "accelerated" -> (st.accelCache || st.accelPersist),
          "chunkcount" -> 0L,
          "chunkspan" -> 0L,
          "defaults.read" -> Vector[Any](
            if (st.accelCache) "cache" else "nocache",
            if (st.accelPersist) "persist" else "nopersist"),
          "defaults.write" -> Vector[Any]("cache", "persist"),
          "defaults.delete" -> Vector[Any]("cache", "persist")))

      // ---- empty-collection literals and set/vector delimiters
      // (WarpScriptLib EMPTY_LIST "[]" :990, EMPTY_MAP "{}" :986,
      // EMPTY_SET "()" :994, SET_START "(" :995, EMPTY_VECTOR "[[]]"
      // :998). The reference's VECTOR is an optimized list; both map
      // to the engine's Vector here (TYPEOF LIST), documented delta.
      case "[]"   => st.push(Vector.empty[Any])
      case "{}"   => st.push(Map.empty[Any, Any])
      case "()"   => st.push(Set.empty[Any])
      case "[[]]" => st.push(Vector.empty[Any])
      case "("    => st.push(SetMark)
      case ")" =>
        var acc = Set.empty[Any]
        var top = st.pop()
        while (!top.equals(SetMark)) { acc += top; top = st.pop() }
        st.push(acc)
      case "[[" => st.push(VecMark)
      case "]]" =>
        var acc = List.empty[Any]
        var top = st.pop()
        while (!top.equals(VecMark)) { acc = top :: acc; top = st.pop() }
        st.push(acc.toVector)

      // ---- MFILTER (fn/MFILTER.java): keep map entries the macro
      // accepts; optional BOOLEAN suppresses the index argument
      case "MFILTER" =>
        var top = st.pop(); var pushIndex = true
        top match {
          case b: Boolean => pushIndex = b; top = st.pop()
          case _ =>
        }
        val m = top.asInstanceOf[WsMacro]
        val mp = st.pop().asInstanceOf[Map[Any, Any]]
        var i = 0L
        st.push(mp.filter { case (k, v) =>
          st.push(k); st.push(v); if (pushIndex) { st.push(i); i += 1 }
          en.evalMacro(m, st)
          st.pop() match {
            case b: Boolean => b
            case o => throw new IllegalArgumentException(
              s"MFILTER macro must leave a BOOLEAN, got $o")
          }
        })

      // ---- MINREV/MAXREV (fn/CHECKREV.java): dotted-revision gate
      // against the engine's platform revision; throws when the
      // requirement is not met
      case "MINREV" | "MAXREV" =>
        val wanted = revSplit(st.popStr())
        val have = revSplit(PlatformRev)
        val cmp = have.zipAll(wanted, 0, 0)
          .collectFirst { case (a, b) if a != b => a.compareTo(b) }.getOrElse(0)
        if (w == "MINREV" && cmp < 0) throw new IllegalStateException(
          s"$w: revision $PlatformRev is below required minimum")
        if (w == "MAXREV" && cmp > 0) throw new IllegalStateException(
          s"$w: revision $PlatformRev is above required maximum")

      // ---- REF (fn/REF.java): pushes the function reference itself
      case "REF" => st.push(refFn)

      // ---- UPDATE (fn/UPDATE.java): write series into the session
      // point store; subsequent FETCHes merge it with the fetch hook
      // (the standalone reference writes through its embedded store —
      // the durable distributed path is LineProtocol.ingest)
      case "UPDATE" =>
        def toBuilders(v: Any): Seq[GtsBuilder] = v match {
          case b: GtsBuilder => Seq(b)
          case l: Vector[Any @unchecked] => l.flatMap(toBuilders)
          case o => throw new IllegalArgumentException(s"UPDATE on $o")
        }
        st.pop() match {
          case s: String => st.updates ++= toBuilders(st.pop()) // token form
          case other => st.updates ++= toBuilders(other)
        }

      // ---- DELETE (fn/DELETE.java): token selector start end DELETE
      // -> removes matching points from the session store, pushes the
      // number of series touched
      case "DELETE" =>
        val endO = st.pop(); val startO = st.pop()
        val sel = graft.sources.Selector.parse(st.popStr())
        st.pop() // token, ignored like FETCH
        val (lo, hi) = (startO, endO) match {
          case (null, null) => (Long.MinValue, Long.MaxValue)
          case (a: Long, b: Long) => (a, b)
          case _ => throw new IllegalArgumentException(
            "DELETE expects both start and end to be LONG or both NULL")
        }
        var touched = 0L
        val kept = st.updates.map { b =>
          if (!matchesBuilder(sel, b)) b
          else {
            val remaining = b.points.filterNot(p => p._1 >= lo && p._1 <= hi)
            if (remaining.size != b.points.size) touched += 1
            b.copy(points = remaining)
          }
        }.filter(_.points.nonEmpty)
        st.updates.clear(); st.updates ++= kept
        st.push(touched)

      // ---- MACROCONFIG family (fn/MACROCONFIG.java,
      // SETMACROCONFIG, MACROCONFIGDEFAULT): the reference resolves
      // `macroconfig.<key>` warp10 properties; session-scope config
      // map with explicit defaults here, same lookup contract (missing
      // key without default throws)
      case "SETMACROCONFIG" =>
        val v = st.pop(); val k = st.popStr(); st.macroConfig(k) = v
      case "MACROCONFIGDEFAULT" =>
        val v = st.pop(); val k = st.popStr(); st.macroConfigDefaults(k) = v
      case "MACROCONFIG" =>
        val k = st.popStr()
        st.push(st.macroConfig.getOrElse(k,
          st.macroConfigDefaults.getOrElse(k,
            throw new IllegalArgumentException(s"MACROCONFIG: no value for '$k'"))))

      // ---- Python pickle codec (fn ->PICKLE / PICKLE->: the reference
      // wraps the razorvine pickle library, TOPICKLE.java:64-67 /
      // PICKLETO.java:46-49; a GTS pickles as the map shape of
      // continuum/gts/GTSPickler.java:52-105). PickleCodec emits the
      // protocol opcodes directly — scalars/lists/maps/bytes round-trip;
      // a frame on top pickles to a list of per-series GTS maps.
      case "->PICKLE" => st.pop() match {
        case f: graft.operators.GtsFrame =>
          st.push(PickleCodec.pickle(frameToPickleMaps(f)))
        case b: BucketedFrame =>
          st.push(PickleCodec.pickle(frameToPickleMaps(b.frame)))
        case o => st.push(PickleCodec.pickle(o))
      }
      case "PICKLE->" => st.push(PickleCodec.unpickle(st.pop() match {
        case b: Array[Byte] => b
        case o => throw new IllegalArgumentException(
          s"PICKLE-> expects a byte array, got ${String.valueOf(o)}")
      }))

      // ---- CALL (fn/CALL.java): invoke an external subprogram from
      // the configured call directory over the reference's line
      // protocol — on start the program prints its capacity; per call
      // the URL-encoded argument line goes in, one line comes back,
      // a leading space marking an error whose URL-encoded message
      // follows. Directory from -Dgraft.call.directory or
      // 'call.directory' SETMACROCONFIG (the reference reads
      // warpscript.call.directory from WarpConfig).
      case "CALL" =>
        val name = st.popStr()
        val args = st.popStr()
        val dir = sys.props.get("graft.call.directory")
          .orElse(st.macroConfig.get("call.directory").map(_.toString))
          .getOrElse(throw new IllegalStateException(
            "CALL: no call directory configured " +
            "(-Dgraft.call.directory or 'call.directory' SETMACROCONFIG)"))
        val exe = new java.io.File(dir, name)
        require(exe.canExecute, s"CALL: no executable subprogram '$name' in $dir")
        def spawn(): (Process, java.io.BufferedReader) = {
          val p = new ProcessBuilder(exe.getAbsolutePath).start()
          sys.addShutdownHook(p.destroy())
          val r = new java.io.BufferedReader(
            new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
          require(r.readLine() != null,
            s"CALL: subprogram '$name' did not report its capacity")
          (p, r)
        }
        var (proc, br) = WarpScriptEngine.callProcs.getOrElseUpdate(exe.getAbsolutePath, spawn())
        if (!proc.isAlive) { // one respawn, like the reference's retry
          WarpScriptEngine.callProcs.remove(exe.getAbsolutePath)
          val pr = spawn(); WarpScriptEngine.callProcs(exe.getAbsolutePath) = pr
          proc = pr._1; br = pr._2
        }
        proc.getOutputStream.write(
          (java.net.URLEncoder.encode(args, "UTF-8") + "\n").getBytes("UTF-8"))
        proc.getOutputStream.flush()
        val ret = br.readLine()
        require(ret != null, s"CALL: subprogram '$name' died unexpectedly")
        if (ret.startsWith(" ")) throw new RuntimeException(
          java.net.URLDecoder.decode(ret.substring(1), "UTF-8"))
        st.push(java.net.URLDecoder.decode(ret, "UTF-8"))

      case _ => return false
    }
    true
  }
  // scalastyle:on cyclomatic.complexity method.length

  /** Marker objects for the `( )` set and `[[ ]]` vector literals. */
  private[script] object SetMark
  private[script] object VecMark

  /** Engine platform revision for MINREV/MAXREV gates — tracks the
    * reference release whose word surface this engine mirrors. */
  private[script] val PlatformRev = "3.5.0"

  private def revSplit(rev: String): Seq[Int] = {
    val core = rev.split("-")(0)
    require(core.nonEmpty, s"invalid revision '$rev'")
    core.split("\\.").toSeq.map { p =>
      try p.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"invalid revision '$rev'") }
    }
  }

  /** REF pushes itself (fn/REF.java pushes the function object). */
  private[script] lazy val refFn: NativeFn = NativeFn("REF", st => st.push(refFn))

  /** Driver-side selector match for session-store builders. */
  private[script] def matchesBuilder(sel: graft.sources.Selector,
      b: GtsBuilder): Boolean =
    sel.classExact.forall(_ == b.cls) &&
      sel.classRegex.forall(r => b.cls.matches("^(?:" + r + ")$")) &&
      sel.labelExact.forall { case (k, v) => b.labels.get(k).contains(v) } &&
      sel.labelRegex.forall { case (k, r) =>
        b.labels.get(k).exists(_.matches("^(?:" + r + ")$")) }

  /** `[ token cls {labels} ]` selector args (token ignored, like FETCH). */
  private def findArgs(st: State): (String, Map[String, String]) =
    st.pop().asInstanceOf[Vector[Any]] match {
      case Vector(_: String, c: String, l: Map[_, _]) =>
        (c, l.asInstanceOf[Map[String, String]])
      case Vector(c: String, l: Map[_, _]) =>
        (c, l.asInstanceOf[Map[String, String]])
      case other => throw new IllegalArgumentException(s"selector args: $other")
    }

  /** POLYFUNC application under EVAL (the reference applies the stack
    * function to the top operand: number, list, or GTS — the GTS form
    * maps tick -> p(tick) keeping location/elevation, distributed as a
    * Column Horner chain). */
  private[script] def applyPoly(p: WsPoly, st: State, en: WarpScriptEngine): Unit = {
    def overFrame(f: graft.operators.GtsFrame): graft.operators.GtsFrame =
      graft.operators.GtsFrame(f.df.withColumn("vdouble",
        p.columnExpr(col("ts").cast("double")))
        .withColumn("vtype", lit(graft.model.GtsType.DOUBLE))
        .withColumn("vlong", lit(null).cast("long")))
    st.pop() match {
      case l: Vector[Any @unchecked] => st.push(l.map(v => p.value(en.asNum(v)): Any))
      case f: graft.operators.GtsFrame => st.push(overFrame(f))
      case b: BucketedFrame => st.push(b.copy(frame = overFrame(b.frame)))
      case n => st.push(p.value(en.asNum(n)))
    }
  }

  /** A frame as the reference's pickled-GTS shape: one map per series
    * with classname/labels/attributes/timestamps/values, plus
    * latitudes/longitudes (NaN for unlocated points) when any point has
    * a location and elevations (Long.MIN_VALUE for missing) when any
    * point has one — the exact key set and sentinel conventions of
    * continuum/gts/GTSPickler.java:52-105. Driver-side collect, guarded
    * by the same 1M-point accessor cap as the other inspection words. */
  private def frameToPickleMaps(f: graft.operators.GtsFrame): Vector[Any] = {
    import graft.model.GtsType
    WordsGts.collectGuard(f.df, "->PICKLE")
    f.df.select(col("class"), col("labels"), col("ts"), col("lat"),
        col("lon"), col("elev"), col("vtype"), col("vlong"), col("vdouble"),
        col("vbool"), col("vstring"), col("vbinary"))
      .collect()
      .groupBy(r => (r.getString(0), r.getMap[String, String](1).toMap))
      .toVector
      .sortBy { case ((c, l), _) => (c, l.toSeq.sorted.mkString(",")) }
      .map { case ((cls, labels), rows) =>
        val sorted = rows.sortBy(_.getLong(2))
        val values: Vector[Any] = sorted.toVector.map { r =>
          r.getByte(6) match {
            case GtsType.LONG    => r.getLong(7)
            case GtsType.DOUBLE  => r.getDouble(8)
            case GtsType.BOOLEAN => r.getBoolean(9)
            case GtsType.BINARY  => r.getAs[Array[Byte]](11)
            case _               => r.getString(10)
          }
        }
        val base = Map[Any, Any](
          "classname" -> cls,
          "labels" -> labels.asInstanceOf[Map[Any, Any]],
          "attributes" -> Map.empty[Any, Any],
          "timestamps" -> sorted.toVector.map(_.getLong(2): Any),
          "values" -> values)
        val withLoc =
          if (sorted.exists(r => !r.isNullAt(3))) base ++ Map[Any, Any](
            "latitudes" -> sorted.toVector.map(r =>
              (if (r.isNullAt(3)) Double.NaN else r.getDouble(3)): Any),
            "longitudes" -> sorted.toVector.map(r =>
              (if (r.isNullAt(4)) Double.NaN else r.getDouble(4)): Any))
          else base
        val withElev =
          if (sorted.exists(r => !r.isNullAt(5))) withLoc + ("elevations" ->
            sorted.toVector.map(r =>
              (if (r.isNullAt(5)) Long.MinValue else r.getLong(5)): Any))
          else withLoc
        withElev: Any
      }
  }
}
