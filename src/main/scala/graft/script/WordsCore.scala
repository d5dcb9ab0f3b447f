package graft.script

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GtsFrame

/** The core words: list and map marks, variables, stack words, the
  * arithmetic and java.lang.Math families, conversions, and the
  * control words EVAL/IFT/IFTE/FOREACH (MemoryWarpScriptStack and the
  * reference classes cited per word).
  */
private[script] object WordsCore {
  import WarpScriptEngine._

  /** NumericalUnaryFunction registrations (WarpScriptLib.java:
    * 2996-3030): (longOp, doubleOp, doubleToLongOp) — exactly the
    * reference's operator triples, incl. ROUND's long-identity and the
    * EXACT family's long-only faces. */
  private val unaryOps: Map[String,
      (Option[Long => Long], Option[Double => Double],
        Option[Double => Long])] = {
    def d(f: Double => Double) = (None, Some(f), None)
    Map(
      "ABS" -> ((Some((l: Long) => math.abs(l)),
        Some((x: Double) => math.abs(x)), None)),
      "COS" -> d(math.cos), "COSH" -> d(math.cosh), "ACOS" -> d(math.acos),
      "SIN" -> d(math.sin), "SINH" -> d(math.sinh), "ASIN" -> d(math.asin),
      "TAN" -> d(math.tan), "TANH" -> d(math.tanh), "ATAN" -> d(math.atan),
      "SIGNUM" -> d(math.signum),
      "FLOOR" -> d(math.floor), "CEIL" -> d(math.ceil),
      "ROUND" -> ((Some((l: Long) => l), None,
        Some((x: Double) => math.round(x)))),
      "RINT" -> d(math.rint), "ULP" -> d(Math.ulp),
      "NEXTUP" -> d(Math.nextUp), "NEXTDOWN" -> d(Math.nextDown),
      "SQRT" -> d(math.sqrt), "CBRT" -> d(math.cbrt),
      "EXP" -> d(math.exp), "EXPM1" -> d(math.expm1),
      "LN" -> d(math.log), "LOG" -> d(math.log), "LOG10" -> d(math.log10),
      "LOG1P" -> d(math.log1p),
      "TORADIANS" -> d(math.toRadians), "TODEGREES" -> d(math.toDegrees),
      "INCREMENTEXACT" -> ((Some((l: Long) => Math.incrementExact(l)),
        None, None)),
      "DECREMENTEXACT" -> ((Some((l: Long) => Math.decrementExact(l)),
        None, None)),
      "NEGATEEXACT" -> ((Some((l: Long) => Math.negateExact(l)),
        None, None)),
      "TOINTEXACT" -> ((Some((l: Long) => Math.toIntExact(l).toLong),
        None, None)))
  }

  /** NumericalBinaryFunction registrations (WarpScriptLib.java:
    * 3032-3046): (longOp, doubleOp, applyOnSingleList). `**` on two
    * LONGs is the reference's truncated (long) Math.pow; MIN/MAX and
    * the EXACT arithmetic also FOLD a single list or a GTS's values
    * (applyOnSingleList). */
  private val binaryOps: Map[String,
      (Option[(Long, Long) => Long], Option[(Double, Double) => Double],
        Boolean)] = Map(
    "**" -> ((Some((a: Long, b: Long) => math.pow(a.toDouble, b.toDouble).toLong),
      Some((a: Double, b: Double) => math.pow(a, b)), false)),
    "MAX" -> ((Some((a: Long, b: Long) => math.max(a, b)),
      Some((a: Double, b: Double) => math.max(a, b)), true)),
    "MIN" -> ((Some((a: Long, b: Long) => math.min(a, b)),
      Some((a: Double, b: Double) => math.min(a, b)), true)),
    "COPYSIGN" -> ((None,
      Some((a: Double, b: Double) => math.copySign(a, b)), false)),
    "HYPOT" -> ((None,
      Some((a: Double, b: Double) => math.hypot(a, b)), false)),
    "IEEEREMAINDER" -> ((None,
      Some((a: Double, b: Double) => math.IEEEremainder(a, b)), false)),
    "NEXTAFTER" -> ((None,
      Some((a: Double, b: Double) => math.nextAfter(a, b)), false)),
    "ATAN2" -> ((None,
      Some((a: Double, b: Double) => math.atan2(a, b)), false)),
    "FLOORDIV" -> ((Some((a: Long, b: Long) => Math.floorDiv(a, b)),
      None, false)),
    "FLOORMOD" -> ((Some((a: Long, b: Long) => Math.floorMod(a, b)),
      None, false)),
    "ADDEXACT" -> ((Some((a: Long, b: Long) => Math.addExact(a, b)),
      None, true)),
    "SUBTRACTEXACT" -> ((Some((a: Long, b: Long) => Math.subtractExact(a, b)),
      None, true)),
    "MULTIPLYEXACT" -> ((Some((a: Long, b: Long) => Math.multiplyExact(a, b)),
      None, true)))

  /** The NumericalUnaryFunction family (WarpScriptLib.java:2996-3030),
    * faithful r12: operator selection follows the reference — a LONG
    * falls to the long op only when one is registered, so FLOOR/CEIL/
    * SIGNUM return DOUBLEs even for LONG input, ROUND is long-identity
    * / Math.round (not rint), and the EXACT family truncates a DOUBLE
    * to its longValue. The words are ListRecursiveStackFunctions: they
    * apply DIRECTLY to GTS operands (and lists mixing scalars and GTS)
    * elementwise on the typed value slot — java.lang.Math itself runs
    * on the executors (a udf per cold face; none of these sit on a
    * plan-locked hot path). Non-numeric points pass through unchanged
    * (the reference throws on non-numeric GTS; a frame carries the
    * type per row, so the numeric rows are the op's domain). */
  private def unaryMathWord(st: State,
      spec: (Option[Long => Long], Option[Double => Double],
        Option[Double => Long]), en: WarpScriptEngine): Unit = {
    val (opL, opD, opDL) = spec
    def applyDf(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{udf => sudf}
      val isNum = col("vlong").isNotNull || col("vdouble").isNotNull
      if (opL.isDefined) {
        val uL = sudf(opL.get)
        val base = df.withColumn("vlong",
          when(col("vlong").isNotNull, uL(col("vlong")))
            .otherwise(col("vlong")))
        (opD, opDL) match {
          case (Some(f), _) =>
            val uD = sudf(f)
            base.withColumn("vdouble",
              when(col("vdouble").isNotNull, uD(col("vdouble")))
                .otherwise(col("vdouble")))
          case (_, Some(f)) =>
            val uDL = sudf(f)
            base
              .withColumn("vlong",
                when(col("vdouble").isNotNull, uDL(col("vdouble")))
                  .otherwise(col("vlong")))
              .withColumn("vtype",
                when(col("vdouble").isNotNull,
                  lit(graft.model.GtsType.LONG)).otherwise(col("vtype")))
              .withColumn("vdouble", lit(null).cast("double"))
          case _ => base
        }
      } else {
        val v = coalesce(col("vdouble"), col("vlong").cast("double"))
        if (opD.isDefined) {
          val uD = sudf(opD.get)
          df.withColumn("__v", when(isNum, uD(v)))
            .withColumn("vtype",
              when(isNum, lit(graft.model.GtsType.DOUBLE))
                .otherwise(col("vtype")))
            .withColumn("vlong",
              when(isNum, lit(null).cast("long")).otherwise(col("vlong")))
            .withColumn("vdouble", when(isNum, col("__v"))
              .otherwise(col("vdouble")))
            .drop("__v")
        } else {
          val uDL = sudf(opDL.get)
          df.withColumn("__v", when(isNum, uDL(v)))
            .withColumn("vtype",
              when(isNum, lit(graft.model.GtsType.LONG))
                .otherwise(col("vtype")))
            .withColumn("vdouble",
              when(isNum, lit(null).cast("double")).otherwise(col("vdouble")))
            .withColumn("vlong", when(isNum, col("__v"))
              .otherwise(col("vlong")))
            .drop("__v")
        }
      }
    }
    def applyAny(x: Any): Any = x match {
      case l: Long =>
        if (opD.isDefined && opL.isEmpty) opD.get(l.toDouble)
        else if (opDL.isDefined && opL.isEmpty) opDL.get(l.toDouble)
        else opL.get(l)
      case d: Double =>
        if (opD.isDefined) opD.get(d)
        else if (opDL.isDefined) opDL.get(d)
        else opL.get(d.toLong)
      // a BigDecimal operand forces the double face like a Double
      // (NumericalUnaryFunction.java:80-82); long-only ops truncate
      // via Number.longValue
      case bd: java.math.BigDecimal =>
        if (opD.isDefined) opD.get(bd.doubleValue)
        else if (opDL.isDefined) opDL.get(bd.doubleValue)
        else opL.get(bd.longValue)
      case v: Vector[Any @unchecked] => v.map(applyAny)
      case BucketedFrame(f, lb, sp, c) =>
        BucketedFrame(GtsFrame(applyDf(f.df)), lb, sp, c)
      case other => GtsFrame(applyDf(en.toFrame(other).df))
    }
    st.push(applyAny(st.pop()))
  }

  /** The NumericalBinaryFunction family (WarpScriptLib.java:3032-3046),
    * faithful r12 — every operand shape the reference accepts:
    * scalar×scalar (long face only when both are LONGs and a long op
    * exists — `2 3 **` is 8 LONG via the truncated (long) Math.pow),
    * scalar-atop-list / list-atop-scalar (elementwise, the SCALAR is
    * the op's left operand when it sits BELOW the list and the right
    * operand when it sits on top — the reference's own asymmetry),
    * scalar×GTS in either order (elementwise on the typed slot), and —
    * for the applyOnSingleList words MIN/MAX/ADDEXACT/SUBTRACTEXACT/
    * MULTIPLYEXACT — a SINGLE list or single-series GTS folds its
    * values left-to-right to one scalar. */
  private def binaryMathWord(st: State, spec: (Option[(Long, Long) => Long],
      Option[(Double, Double) => Double], Boolean), en: WarpScriptEngine): Unit = {
    val (opL, opD, inList) = spec
    // a Double OR BigDecimal operand forces the double face
    // (NumericalBinaryFunction.java:122, `op0 instanceof BigDecimal`)
    def isD(x: Any) = x.isInstanceOf[Double] ||
      x.isInstanceOf[java.math.BigDecimal]
    def toD(x: Any): Double = x match {
      case l: Long => l.toDouble; case d: Double => d
      case bd: java.math.BigDecimal => bd.doubleValue
      case o => throw new IllegalArgumentException(s"not numeric: $o")
    }
    def toL(x: Any): Long = x match {
      case l: Long => l; case d: Double => d.toLong
      case bd: java.math.BigDecimal => bd.longValue
      case o => throw new IllegalArgumentException(s"not numeric: $o")
    }
    def scalarOp(a: Any, b: Any): Any =
      if (opD.isDefined && (opL.isEmpty || isD(a) || isD(b)))
        opD.get(toD(a), toD(b))
      else opL.get(toL(a), toL(b))
    def gtsOp(x: Any, c: Any, scalarLeft: Boolean): Any = {
      def applyDf(df: DataFrame): DataFrame = {
        import org.apache.spark.sql.functions.{udf => sudf}
        val isNum = col("vlong").isNotNull || col("vdouble").isNotNull
        val uD = opD.map { f =>
          val cD = toD(c)
          if (scalarLeft) sudf((v: Double) => f(cD, v))
          else sudf((v: Double) => f(v, cD))
        }
        val uL = opL.map { f =>
          val cL = toL(c)
          if (scalarLeft) sudf((v: Long) => f(cL, v))
          else sudf((v: Long) => f(v, cL))
        }
        // the double face wins per the reference's per-row rule unless
        // a long op exists AND both the scalar and the row are LONGs
        val vD = coalesce(col("vdouble"), col("vlong").cast("double"))
        val rowLong = col("vlong").isNotNull && lit(opL.isDefined && !isD(c))
        (uL, uD) match {
          case (Some(fl), Some(fd)) =>
            df.withColumn("__vl", when(rowLong, fl(col("vlong"))))
              .withColumn("__vd", when(isNum && !rowLong, fd(vD)))
              .withColumn("vtype",
                when(isNum && !rowLong, lit(graft.model.GtsType.DOUBLE))
                  .otherwise(col("vtype")))
              .withColumn("vlong", when(rowLong, col("__vl")))
              .withColumn("vdouble", when(isNum && !rowLong, col("__vd")))
              .drop("__vl", "__vd")
          case (Some(fl), None) =>
            df.withColumn("__vl", when(isNum, fl(coalesce(col("vlong"),
                col("vdouble").cast("long")))))
              .withColumn("vtype",
                when(isNum, lit(graft.model.GtsType.LONG))
                  .otherwise(col("vtype")))
              .withColumn("vdouble", lit(null).cast("double"))
              .withColumn("vlong", when(isNum, col("__vl")))
              .drop("__vl")
          case (None, Some(fd)) =>
            df.withColumn("__vd", when(isNum, fd(vD)))
              .withColumn("vtype",
                when(isNum, lit(graft.model.GtsType.DOUBLE))
                  .otherwise(col("vtype")))
              .withColumn("vlong", lit(null).cast("long"))
              .withColumn("vdouble", when(isNum, col("__vd")))
              .drop("__vd")
          case _ => df
        }
      }
      x match {
        case BucketedFrame(f, lb, sp, cc) =>
          BucketedFrame(GtsFrame(applyDf(f.df)), lb, sp, cc)
        case other => GtsFrame(applyDf(en.toFrame(other).df))
      }
    }
    val op0 = st.pop()
    op0 match {
      case _: Long | _: Double | _: java.math.BigDecimal =>
        st.pop() match {
          case n1 @ (_: Long | _: Double | _: java.math.BigDecimal) =>
            st.push(scalarOp(n1, op0))
          case l: Vector[Any @unchecked] => st.push(l.map(e => scalarOp(e, op0)))
          case g @ (_: GtsFrame | _: BucketedFrame | _: GtsBuilder) =>
            st.push(gtsOp(g, op0, scalarLeft = false))
          case o => throw new IllegalArgumentException(
            s"binary numeric word cannot operate on $o")
        }
      case l: Vector[Any @unchecked] if inList =>
        st.push(l.reduceLeft(scalarOp))
      case l: Vector[Any @unchecked] =>
        st.pop() match {
          case n1 @ (_: Long | _: Double | _: java.math.BigDecimal) =>
            st.push(l.map(e => scalarOp(n1, e)))
          case o => throw new IllegalArgumentException(
            s"binary numeric word cannot operate on $o")
        }
      case g @ (_: GtsFrame | _: BucketedFrame | _: GtsBuilder) if inList =>
        // fold the single series' values in tick order (the reference
        // folds one GTS's value array)
        val df = WordsGts.singleSeries(en.toFrame(g), "fold")
        val rows = df.select(col("ts"), col("vlong"), col("vdouble"))
          .collect().sortBy(_.getLong(0))
          .map(r => if (!r.isNullAt(1)) (r.getLong(1): Any)
                    else (r.getDouble(2): Any))
        require(rows.nonEmpty, "cannot fold an empty GTS")
        st.push(rows.reduceLeft(scalarOp))
      case g @ (_: GtsFrame | _: BucketedFrame | _: GtsBuilder) =>
        st.pop() match {
          case n1 @ (_: Long | _: Double | _: java.math.BigDecimal) =>
            st.push(gtsOp(g, n1, scalarLeft = true))
          case o => throw new IllegalArgumentException(
            s"binary numeric word cannot operate on $o")
        }
      case o => throw new IllegalArgumentException(
        s"binary numeric word cannot operate on $o")
    }
  }

  def register(words: WordTable): Unit = {
    for ((n, spec) <- unaryOps) words(n) { (w, st, en) => unaryMathWord(st, spec, en) }
    for ((n, spec) <- binaryOps) words(n) { (w, st, en) => binaryMathWord(st, spec, en) }
    // ---- structure: lists and maps (MemoryWarpScriptStack MARK/ENDLIST)
    words("[") { (w, st, en) => st.push(ListMark) }
    words("]") { (w, st, en) =>
      val items = mutable.ArrayBuffer.empty[Any]
      var v = st.pop()
      while (v != ListMark) { items.prepend(v); v = st.pop() }
      st.push(items.toVector)
    }
    words("{") { (w, st, en) => st.push(MapMark) }
    words("}") { (w, st, en) =>
      val pairs = mutable.ArrayBuffer.empty[(Any, Any)]
      var v = st.pop()
      while (v != MapMark) {
        val k = st.pop()
        if (k == MapMark) throw new IllegalStateException("odd map entries")
        pairs.prepend((k, v)); v = st.pop()
      }
      st.push(pairs.toMap)
    }

    // ---- variables (fn/STORE.java, $deref MemoryWarpScriptStack.java:973)
    // STORE accepts a name, a LONG register number, or a list of
    // names/registers consuming one stack value per non-null entry,
    // top value bound to the LAST name (fn/STORE.java:48-90)
    words("STORE") { (w, st, en) =>
      st.pop() match {
        case name: String => st.symbols(name) = st.pop()
        case r: Long => st.regs(r.toInt) = st.pop()
        case names: Vector[Any @unchecked] =>
          // bind FIRST→LAST reading by depth, so a duplicated name ends
          // holding the value nearest the top — the reference's own
          // documented order: `1 2 3 [ 'a' 'b' 'b' ] STORE $b` is 3
          // (fn/STORE.java:60-76); nulls skip the binding but still
          // consume their slot (the trailing dropn drops count values)
          val count = names.size
          require(st.stack.length >= count,
            s"STORE expects $count elements on the stack")
          names.zipWithIndex.foreach {
            case (null, _) =>
            case (s: String, i) => st.symbols(s) = st.stack(count - 1 - i)
            case (r: Long, i) => st.regs(r.toInt) = st.stack(count - 1 - i)
            case (o, _) => throw new IllegalArgumentException(s"STORE name: $o")
          }
          (0 until count).foreach(_ => st.pop())
        case o => throw new IllegalArgumentException(s"STORE name: $o")
      }
    }
    words("LOAD") { (w, st, en) =>
      st.pop() match {
        case r: Long => st.push(st.regs(r.toInt))
        case name: String => st.push(st.symbols.getOrElse(name,
          throw new IllegalArgumentException("unknown symbol")))
        case o => throw new IllegalArgumentException(s"LOAD name: $o")
      }
    }

    // ---- stack words (fn/DUP.java, SWAP, DROP, CLEAR, DEPTH, PICK, ROT)
    words("DUP") { (w, st, en) => val v = st.pop(); st.push(v); st.push(v) }
    words("SWAP") { (w, st, en) => val a = st.pop(); val b = st.pop(); st.push(a); st.push(b) }
    words("DROP") { (w, st, en) => st.pop() }
    words("CLEAR") { (w, st, en) => st.stack.clear() }
    words("DEPTH") { (w, st, en) => st.push(st.stack.length.toLong) }
    words("PICK") { (w, st, en) => val n = st.popLong().toInt; st.push(st.stack(n - 1)) }
    // OVER: copy the second element to the top — not in the reference
    // registry (use `2 PICK` there) but ScalarEval's macro interpreter
    // supports it, and driver/executor word sets must agree
    words("OVER") { (w, st, en) => st.push(st.stack(1)) }
    words("ROT") { (w, st, en) =>
      val a = st.pop(); val b = st.pop(); val c = st.pop()
      st.push(b); st.push(a); st.push(c)
    }
    // DUPN (MemoryWarpScriptStack.dupn:341): duplicate the top n
    // elements as a block, order preserved
    words("DUPN") { (w, st, en) =>
      val n = st.popLong().toInt
      require(n >= 0 && n <= st.stack.length, s"DUPN out of bounds: $n")
      st.stack.take(n).reverse.foreach(st.push)
    }
    // ROLL (stack.roll:443): move the n-th element (1 = top) to the top
    words("ROLL") { (w, st, en) =>
      val n = st.popLong().toInt
      require(n >= 1 && n <= st.stack.length, s"ROLL out of bounds: $n")
      st.push(st.stack.remove(n - 1))
    }
    // ROLLD (stack.rolld:1374): move the top element down to depth n
    words("ROLLD") { (w, st, en) =>
      val n = st.popLong().toInt
      require(n >= 1 && n <= st.stack.length, s"ROLLD out of bounds: $n")
      val v = st.pop()
      st.stack.insert(n - 1, v)
    }
    // TYPEOF (fn/TYPEOF.java:118-160 type names)
    words("TYPEOF") { (w, st, en) => st.push(WarpScriptEngine.typeNameOf(st.pop())) }
    // DEFINED (fn/DEFINED.java): symbol-table membership
    words("DEFINED") { (w, st, en) => st.push(st.symbols.contains(st.popStr())) }

    // ---- the binary operator family (binary/ADD.java, SUB, MUL,
    // DIV, MOD): every face — BigDecimal-exact numbers, ADD's
    // list/set/macro appends, matrix/vector forms, GTS×GTS tick
    // joins, GTS×scalar — lives in WordsBinaryOps
    words("+", "-", "*", "/", "%") { (w, st, en) => WordsBinaryOps.arith(w, st, en) }
    words("PI") { (w, st, en) => st.push(math.Pi) }
    words("E") { (w, st, en) => st.push(math.E) }
    // TOGEOHASH (fn/TOGEOHASH.java lat/lon form): lat lon → max-
    // precision geohash text; GEOHASHTO decodes to the cell CENTER
    // (lat then lon — the reference's HHCode form is toHHCode)
    words("TOGEOHASH") { (w, st, en) =>
      val lon = st.popNum(); val lat = st.popNum()
      st.push(graft.functions.GeoHash.encodeScalar(lat, lon, 12))
    }
    words("GEOHASHTO") { (w, st, en) =>
      val (la, lo) = graft.functions.GeoHash.decodeScalar(st.popStr())
      st.push(la); st.push(lo)
    }
    // HAVERSINE (fn/HAVERSINE.java): lat1 lon1 lat2 lon2 → meters on
    // the reference's MEAN Earth radius 6371000 (not the WGS84
    // equatorial radius), Math.toRadians conversions
    words("HAVERSINE") { (w, st, en) =>
      val lon2 = st.popNum(); val lat2 = st.popNum()
      val lon1 = st.popNum(); val lat1 = st.popNum()
      val a = math.pow(math.sin((math.toRadians(lat2) - math.toRadians(lat1)) / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin((math.toRadians(lon2) - math.toRadians(lon1)) / 2), 2)
      st.push(2.0 * 6371000.0 * math.asin(math.sqrt(a)))
    }
    words("TODOUBLE") { (w, st, en) => st.push(st.popNum()) }
    words("TOLONG") { (w, st, en) => st.push(st.popNum().toLong) }
    words("TOSTRING") { (w, st, en) => st.push(String.valueOf(st.pop())) }

    // ---- control (fn/EVAL.java, IFT, IFTE, FOREACH)
    words("EVAL") { (w, st, en) =>
      st.pop() match {
        case m: WsMacro => en.evalMacro(m, st)
        case NativeFn(_, f) => f(st)
        case i: WordsExt3.WsInterp => st.push(i.value(st.popNum()))
        case p: WordsExt5.WsPoly => WordsExt5.applyPoly(p, st, en)
        case s: String => en.execProgram(s, st)
        case o => throw new IllegalArgumentException(s"EVAL on $o")
      }
    }
    words("IFT") { (w, st, en) =>
      val m = st.pop().asInstanceOf[WsMacro]
      if (en.bool(st.pop())) en.evalMacro(m, st)
    }
    words("IFTE") { (w, st, en) =>
      val mf = st.pop().asInstanceOf[WsMacro]
      val mt = st.pop().asInstanceOf[WsMacro]
      if (en.bool(st.pop())) en.evalMacro(mt, st) else en.evalMacro(mf, st)
    }
    // FOREACH (fn/FOREACH.java): list pushes the element, map pushes
    // key then value; BREAK/CONTINUE honored per-iteration
    // FOREACH (fn/FOREACH.java, faithful r12): optional boolean on
    // top pushes the element INDEX after the element(s); iterates a
    // list, a map (key then value), a STRING (one character at a
    // time), or a GTS — each point as [ tick lat lon elev value ]
    // with NaN geo/elevation sentinels, in tick order
    words("FOREACH") { (w, st, en) =>
      var top = st.pop(); var pushIndex = false
      top match {
        case b: Boolean => pushIndex = b; top = st.pop()
        case _ =>
      }
      val m = top.asInstanceOf[WsMacro]
      var index = 0L
      val items: Iterable[() => Unit] = st.pop() match {
        case l: Vector[Any @unchecked] => l.map(v => () => st.push(v))
        case mp: Map[Any @unchecked, Any @unchecked] =>
          mp.map { case (k, v) => () => { st.push(k); st.push(v) } }
        case s: String =>
          s.toSeq.map(c => () => st.push(c.toString))
        case g @ (_: GtsFrame | _: BucketedFrame | _: GtsBuilder) =>
          val rows = en.toFrame(g).df.select(col("ts"), col("lat"),
            col("lon"), col("elev"), col("vtype"), col("vlong"),
            col("vdouble"), col("vbool"), col("vstring")).collect()
            .sortBy(_.getLong(0)).toSeq
          rows.map(r => () => {
            val v: Any = r.getByte(4) match {
              case graft.model.GtsType.LONG => r.getLong(5)
              case graft.model.GtsType.DOUBLE => r.getDouble(6)
              case graft.model.GtsType.BOOLEAN => r.getBoolean(7)
              case _ => r.getString(8)
            }
            st.push(Vector[Any](r.getLong(0),
              if (r.isNullAt(1)) Double.NaN else r.getDouble(1),
              if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
              if (r.isNullAt(3)) Double.NaN else r.getLong(3),
              v))
          })
        case o => throw new IllegalArgumentException(s"FOREACH on $o")
      }
      try items.foreach { pushArgs =>
        pushArgs()
        if (pushIndex) { st.push(index); index += 1 }
        try en.evalMacro(m, st) catch { case _: WsContinueEx => }
      } catch { case _: WsBreakEx => }
    }
  }
}
