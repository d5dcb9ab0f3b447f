package graft.script

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** WarpScript text front end: an RPN stack evaluator that COMPILES
  * programs onto the [[GtsFrame]] operator algebra — the frame words
  * (FETCH/BUCKETIZE/MAP/REDUCE/APPLY/FILTER/...) build lazy DataFrames,
  * so a WarpScript program becomes one Catalyst plan with zero
  * interpretation cost at execution time; only scalar words run on the
  * driver. This is the reference's user-facing language
  * (WarpScriptLib.java registry; fn/&#42;.java words) re-expressed over
  * Spark: a Warp 10 user can paste the core of their scripts.
  *
  * Word semantics re-derived from the reference (cited per word below);
  * the GTS object model differs by design: a [[GtsFrame]] IS a set of
  * series (gtsid-keyed long table), so a "list of GTS" and a frame are
  * interchangeable here — frame words accept both and merge lists.
  *
  * @param fetch  storage access for FETCH: (classSelector, labelSelectors,
  *               startTs, endTs) => frame. Supplied by the host (a
  *               LongTable scan, a parquet dir, a test fixture...).
  * @param nowTs  the tick NOW pushes (fn/NOW.java) — injected for
  *               determinism.
  * @param meta   optional INGEST-MAINTAINED directory table with
  *               (gtsid, class, labels, lastactivity) columns — the
  *               [[graft.model.Gts.metaTable]] / upsertMeta schema.
  *               The reference keeps per-series activity in directory
  *               Metadata, updated by ingress on every write
  *               (StandaloneDirectoryClient.java:604-609). When
  *               supplied, FETCH's directory consumers (active.after/
  *               quiet.after gates, gskip/gcount pagination,
  *               multi-selector ownership, 'extra' companion match
  *               set) consult it instead of scanning point history;
  *               when absent, scan fallbacks keep every consumer
  *               correct for stores without a maintained directory.
  */
final class WarpScriptEngine(
    fetch: (String, Map[String, String], Long, Long) => GtsFrame,
    nowTs: Long = 0L,
    session: Option[org.apache.spark.sql.SparkSession] = None,
    meta: Option[() => DataFrame] = None)
    extends WordsStringsBlock with WordsFramesBlock {

  import WsToken._
  import WarpScriptEngine._

  /** Last TRY-caught error message (reference ATTRIBUTE_LAST_ERROR). */
  private[script] var lastError: String = _
  private[script] def setLastError(msg: String): Unit = lastError = msg

  /** Deterministic PRNG behind RAND/SHUFFLE — the reference draws from
    * an unseeded java.util.Random (RAND.java); a fixed default seed
    * (re-seedable via SRAND) keeps scripts replayable here. */
  private[script] val prng = new java.util.Random(42L)

  /** SECTION marker for error reporting (fn/SECTION.java). */
  private[script] var section: String = _

  /** JSONLOOSE/JSONSTRICT parse-mode flag (NaN tolerance). */
  private[script] var jsonLoose: Boolean = false

  private[script] def nowTick: Long = nowTs
  private[script] def sparkSessionOpt: Option[org.apache.spark.sql.SparkSession] = session
  private[script] def execProgram(s: String, st: State): Unit =
    exec(WarpScriptTokenizer.tokenize(s), st)
  private[script] def evalWordPub(w: String, st: State): Unit = evalWord(w, st)
  private[script] def fetchPub(cls: String, labels: Map[String, String],
      start: Long, stop: Long): GtsFrame = fetch(cls, labels, start, stop)
  private[script] def metaPub: Option[() => DataFrame] = meta

  /** Run a program over an initially empty stack; returns the final
    * stack, top first. */
  def run(program: String): List[Any] = {
    val st = new State
    try exec(WarpScriptTokenizer.tokenize(program), st)
    catch { case _: WsStopEx => } // fn/STOP.java: silent end of program
    st.stack.toList
  }

  /** Re-execute a captured macro on a fresh stack (the Mobius period
    * fire, EgressMobiusHandler.java:415: `stack.exec(fmacro)` on a new
    * MemoryWarpScriptStack); returns the final stack, top first. */
  def runMacro(m: WsMacro): List[Any] = {
    val st = new State
    try evalMacro(m, st)
    catch { case _: WsStopEx => }
    st.stack.toList
  }

  /** Run a program whose result (top of stack) is a GTS frame (or a
    * list of frames — merged). */
  def runToFrame(program: String): DataFrame =
    toFrame(run(program).headOption.getOrElse(
      throw new IllegalStateException("empty stack after program"))).df

  /** Public face of [[toFrame]] for callers that keep several frames
    * on the stack (items of a run() result). */
  def frameOf(v: Any): DataFrame = toFrame(v).df

  /** Apply a frame→frame word while PRESERVING the operand's
    * bucketization — GeoTimeSerie.cloneEmpty copies the bucket fields
    * (GeoTimeSerie.java:369-375), so the reference's structural GTS
    * words (DEDUP, COMPACT, NORMALIZE…) keep lastbucket/span/count. */
  private[script] def keepBuckets(v: Any)(f: GtsFrame => GtsFrame): Any =
    v match {
      case BucketedFrame(fr, lb, sp, cc) => BucketedFrame(f(fr), lb, sp, cc)
      case other => f(toFrame(other))
    }

  // ---------------------------------------------------------------- core

  /** LOWESS/RLOWESS dispatch: run the faithful rlowess kernel over a
    * plain or bucketized operand; a bucketized input estimates every
    * bucket tick and keeps its BUCKETIZE metadata (the reference
    * returns the smoothed GTS with bucket parameters intact). */
  private[script] def runRlowess(obj: Any, q: Int, r: Int, d: Long,
                                 p: Int): Any = obj match {
    case b: BucketedFrame =>
      // FILLVALUE fusion (r14): pack the sparse twin, synthesize the
      // grid in the kernel; class/labels ride through the kernel group
      b.copy(frame = GtsFrame(kernelOpsFor(b.frame)
        .rlowessSmooth(q, r, d, p, Some((b.lastbucket, b.span, b.count)))))
    case o =>
      GtsFrame(new graft.kernels.KernelOps(toFrame(o).df).rlowessSmooth(q, r, d, p, None))
  }

  /** DTW/ZDTW/RAWDTW (fn/DTW.java:59-228, faithful r11): gts2 gts1
    * [window:LONG] threshold:NUMBER [distance:STRING]
    * [characteristic:STRING] → the scalar DTW pseudo-distance, −1 when
    * over the threshold (≤ 0 ⇒ no threshold). Characteristics values
    * (default) and timestamps are carried; locations/elevations need
    * geo this path drops — rejected loudly. Normalization per word:
    * DTW min-max 0-1 (constant GTS ⇒ error), ZDTW the reference's
    * ASYMMETRIC pair — gts1 by musigma(bessel) sd, gts2 by muvar's
    * VARIANCE, quirks kept verbatim — RAWDTW none. Both series collect
    * to the driver: the reference's own in-RAM contract. */
  private[script] def runDtw(st: State, normalize: Boolean,
                             znormalize: Boolean): Unit = {
    var top = st.pop()
    var characteristic = "values"
    top match {
      case s: String =>
        characteristic = s.toLowerCase
        require(Set("values", "locations", "elevations", "timestamps")
          .contains(characteristic),
          "DTW expects the characteristic of the GTS to compute the DTW " +
            "on to be values, locations, elevations or timestamps.")
        top = st.pop()
      case _ =>
    }
    var dist = "manhattan"
    top match {
      case s: String =>
        dist = s.toLowerCase
        require(Set("manhattan", "euclidean", "squaredeuclidean",
          "loxodromic", "orthodromic").contains(dist),
          "DTW expects the distance to use in the DTW to be manhattan, " +
            "euclidean, loxodromic or orthodromic.")
        top = st.pop()
      case _ =>
    }
    var threshold = top match {
      case d: Double => d
      case l: Long => l.toDouble
      case o => throw new IllegalArgumentException(
        s"DTW expects a numeric threshold on top of the stack, got $o")
    }
    if (threshold <= 0.0) threshold = Double.PositiveInfinity
    top = st.pop()
    var window = Int.MaxValue
    top match {
      case l: Long =>
        window = math.min(Int.MaxValue.toLong, l).toInt
        if (window < 0) window = Int.MaxValue
        top = st.pop()
      case _ =>
    }
    require(characteristic == "values" || characteristic == "timestamps",
      s"DTW on $characteristic needs locations/elevations, which the " +
        "frame path does not carry")
    def seriesValues(o: Any): Array[Double] = {
      val df = WordsGts.singleSeries(toFrame(o), "DTW")
      val rows = df.select(col("ts"),
          coalesce(col("vdouble"), col("vlong").cast("double")).as("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (t._1, t._2))
      if (characteristic == "timestamps") rows.map(_._1.toDouble)
      else rows.map(_._2)
    }
    val v1 = seriesValues(top)
    val v2 = seriesValues(st.pop())
    def normalized(v: Array[Double], first: Boolean): Array[Double] =
      if (!normalize) v
      else if (znormalize) {
        if (first) {
          val (mu, sd) = graft.kernels.SeriesKernels.musigmaReference(v, bessel = true)
          v.map(x => (x - mu) / sd)
        } else {
          // the reference normalizes the SECOND operand by muvar's
          // VARIANCE, not its sd (fn/DTW.java:299-303) — kept verbatim
          val (mu, varr) = graft.kernels.SeriesKernels.muvarReference(v)
          v.map(x => (x - mu) / varr)
        }
      } else {
        var mn = Double.PositiveInfinity
        var mx = Double.NegativeInfinity
        v.foreach { x => if (x < mn) mn = x; if (x > mx) mx = x }
        val range = mx - mn
        require(range != 0.0, "DTW cannot normalize a constant GTS.")
        v.map(x => (x - mn) / range)
      }
    st.push(graft.kernels.SeriesKernels.dtwReference(
      normalized(v1, first = true), normalized(v2, first = false),
      window, threshold, dist))
  }

  /** Shared DISCORDS/ZDISCORDS parameter pop + kernel dispatch
    * (continuum/gts/DISCORDS.java:82-146 retrieveParameters): gts
    * windowLen wordLen alphabetSize count overlap distratio. */
  private[script] def popDiscords(st: State, standardizePAA: Boolean): GtsFrame = {
    val distRatio = st.popNum()
    require(distRatio >= 0.0, "DISCORDS expects a positive distance ratio")
    val overlap = st.popBool()
    val count = st.popLong().toInt
    val alphabet = st.popLong().toInt
    val wordLen = st.popLong().toInt
    val windowLen = st.popLong().toInt
    require(windowLen % wordLen == 0,
      "DISCORDS expects pattern length to divide detection window length")
    val f = toFrame(st.pop())
    GtsFrame(new graft.kernels.KernelOps(f.df)
      .discords(windowLen, wordLen, alphabet, count, overlap, distRatio,
        standardizePAA)
      .join(graft.model.Gts.seriesMeta(f.df), "gtsid"))
  }

  private def exec(tokens: Vector[WsToken], st: State): Unit = {
    var i = 0
    var macroDepth = 0
    var macroBuf: mutable.ArrayBuffer[WsToken] = null
    while (i < tokens.length) {
      val t = tokens(i)
      if (macroDepth > 0) {
        t match {
          case WsWord("<%") => macroDepth += 1; macroBuf += t
          case WsWord("%>") =>
            macroDepth -= 1
            if (macroDepth == 0) st.push(WsMacro(macroBuf.toVector))
            else macroBuf += t
          case other => macroBuf += other
        }
      } else t match {
        case WsWord("<%") => macroDepth = 1; macroBuf = mutable.ArrayBuffer.empty
        case WsWord("%>") => throw new IllegalStateException("%> outside macro")
        case WsStr(s) => st.push(s)
        case WsLong(l) => st.push(l)
        case WsDouble(d) => st.push(d)
        case WsBool(b) => st.push(b)
        case WsWord(w) => evalWord(w, st)
      }
      i += 1
    }
    if (macroDepth > 0) throw new IllegalStateException("unterminated macro")
  }

  /** Evaluate a macro; a macro boundary absorbs one RETURN level
    * (fn/RETURN.java: COUNTER_RETURN_DEPTH decrements per frame,
    * NRETURN unwinds several). */
  private[script] def evalMacro(m: WsMacro, st: State): Unit =
    try exec(m.tokens, st)
    catch {
      case r: WsReturnEx =>
        r.levels -= 1
        if (r.levels > 0) throw r
    }

  // ---------------------------------------------------------------- words

  private def evalWord(w: String, st: State): Unit = {
    st.ops += 1 // fn/OPS.java: operations performed so far
    if (st.defs.contains(w)) { evalMacro(st.defs(w), st); return }
    try evalWordDispatch(w, st)
    catch {
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.startsWith("unknown function") =>
        // IMPORT alias rewrite (fn/IMPORT.java: longest alias wins) —
        // resolves namespaced macro names through the rules table
        val rewritten = st.importRules.toSeq.sortBy(-_._1.length).collectFirst {
          case (alias, ns) if w.startsWith(alias) => ns + w.stripPrefix(alias)
        }
        rewritten match {
          case Some(w2) if st.defs.contains(w2) => evalMacro(st.defs(w2), st)
          // WSAUDITMODE (fn/WSAUDITMODE.java): collect instead of throw
          case _ if st.flags("audit") =>
            st.parseErrors += Map("type" -> "UNKNOWN", "line" -> 0L,
              "position" -> 0L, "position.end" -> 0L, "statement" -> w)
          case _ => throw e
        }
    }
  }

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
        Option[Double => Long])): Unit = {
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
      case other => GtsFrame(applyDf(toFrame(other).df))
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
      Option[(Double, Double) => Double], Boolean)): Unit = {
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
        case other => GtsFrame(applyDf(toFrame(other).df))
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
        val df = WordsGts.singleSeries(toFrame(g), "fold")
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

  private def evalWordDispatch(w: String, st: State): Unit = w match {
    case u if WarpScriptEngine.unaryOps.contains(u) =>
      unaryMathWord(st, WarpScriptEngine.unaryOps(u))
    case u if WarpScriptEngine.binaryOps.contains(u) =>
      binaryMathWord(st, WarpScriptEngine.binaryOps(u))
    // ---- structure: lists and maps (MemoryWarpScriptStack MARK/ENDLIST)
    case "[" => st.push(ListMark)
    case "]" =>
      val items = mutable.ArrayBuffer.empty[Any]
      var v = st.pop()
      while (v != ListMark) { items.prepend(v); v = st.pop() }
      st.push(items.toVector)
    case "{" => st.push(MapMark)
    case "}" =>
      val pairs = mutable.ArrayBuffer.empty[(Any, Any)]
      var v = st.pop()
      while (v != MapMark) {
        val k = st.pop()
        if (k == MapMark) throw new IllegalStateException("odd map entries")
        pairs.prepend((k, v)); v = st.pop()
      }
      st.push(pairs.toMap)

    // ---- variables (fn/STORE.java, $deref MemoryWarpScriptStack.java:973)
    // STORE accepts a name, a LONG register number, or a list of
    // names/registers consuming one stack value per non-null entry,
    // top value bound to the LAST name (fn/STORE.java:48-90)
    case "STORE" => st.pop() match {
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
    case "LOAD" => st.pop() match {
      case r: Long => st.push(st.regs(r.toInt))
      case name: String => st.push(st.symbols.getOrElse(name,
        throw new IllegalArgumentException("unknown symbol")))
      case o => throw new IllegalArgumentException(s"LOAD name: $o")
    }
    case v if v.startsWith("!$") => st.push(st.symbols.getOrElse(v.substring(2),
      throw new IllegalArgumentException(s"unknown symbol '${v.substring(2)}'")))
    case v if v.startsWith("$") && v.length > 1 => st.push(st.symbols.getOrElse(v.substring(1),
      throw new IllegalArgumentException(s"unknown symbol '${v.substring(1)}'")))

    // ---- stack words (fn/DUP.java, SWAP, DROP, CLEAR, DEPTH, PICK, ROT)
    case "DUP" => val v = st.pop(); st.push(v); st.push(v)
    case "SWAP" => val a = st.pop(); val b = st.pop(); st.push(a); st.push(b)
    case "DROP" => st.pop()
    case "CLEAR" => st.stack.clear()
    case "DEPTH" => st.push(st.stack.length.toLong)
    case "PICK" => val n = st.popLong().toInt; st.push(st.stack(n - 1))
    // OVER: copy the second element to the top — not in the reference
    // registry (use `2 PICK` there) but ScalarEval's macro interpreter
    // supports it, and driver/executor word sets must agree
    case "OVER" => st.push(st.stack(1))
    case "ROT" =>
      val a = st.pop(); val b = st.pop(); val c = st.pop()
      st.push(b); st.push(a); st.push(c)
    // DUPN (MemoryWarpScriptStack.dupn:341): duplicate the top n
    // elements as a block, order preserved
    case "DUPN" =>
      val n = st.popLong().toInt
      require(n >= 0 && n <= st.stack.length, s"DUPN out of bounds: $n")
      st.stack.take(n).reverse.foreach(st.push)
    // ROLL (stack.roll:443): move the n-th element (1 = top) to the top
    case "ROLL" =>
      val n = st.popLong().toInt
      require(n >= 1 && n <= st.stack.length, s"ROLL out of bounds: $n")
      st.push(st.stack.remove(n - 1))
    // ROLLD (stack.rolld:1374): move the top element down to depth n
    case "ROLLD" =>
      val n = st.popLong().toInt
      require(n >= 1 && n <= st.stack.length, s"ROLLD out of bounds: $n")
      val v = st.pop()
      st.stack.insert(n - 1, v)
    // TYPEOF (fn/TYPEOF.java:118-160 type names)
    case "TYPEOF" => st.push(WarpScriptEngine.typeNameOf(st.pop()))
    // DEFINED (fn/DEFINED.java): symbol-table membership
    case "DEFINED" => st.push(st.symbols.contains(st.popStr()))

    // ---- the binary operator family (binary/ADD.java, SUB, MUL,
    // DIV, MOD): every face — BigDecimal-exact numbers, ADD's
    // list/set/macro appends, matrix/vector forms, GTS×GTS tick
    // joins, GTS×scalar — lives in WordsBinaryOps
    case "+" | "-" | "*" | "/" | "%" => WordsBinaryOps.arith(w, st, this)
    case "PI" => st.push(math.Pi)
    case "E" => st.push(math.E)
    // java.lang.Math BINARY tail (the unary family dispatches through
    // unaryMathWord above): ATAN2, HYPOT, IEEEREMAINDER, COPYSIGN,
    // NEXTAFTER, FLOORDIV, FLOORMOD
    // TOGEOHASH (fn/TOGEOHASH.java lat/lon form): lat lon → max-
    // precision geohash text; GEOHASHTO decodes to the cell CENTER
    // (lat then lon — the reference's HHCode form is toHHCode)
    case "TOGEOHASH" =>
      val lon = st.popNum(); val lat = st.popNum()
      st.push(graft.functions.GeoHash.encodeScalar(lat, lon, 12))
    case "GEOHASHTO" =>
      val (la, lo) = graft.functions.GeoHash.decodeScalar(st.popStr())
      st.push(la); st.push(lo)
    // HAVERSINE (fn/HAVERSINE.java): lat1 lon1 lat2 lon2 → meters on
    // the reference's MEAN Earth radius 6371000 (not the WGS84
    // equatorial radius), Math.toRadians conversions
    case "HAVERSINE" =>
      val lon2 = st.popNum(); val lat2 = st.popNum()
      val lon1 = st.popNum(); val lat1 = st.popNum()
      val a = math.pow(math.sin((math.toRadians(lat2) - math.toRadians(lat1)) / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin((math.toRadians(lon2) - math.toRadians(lon1)) / 2), 2)
      st.push(2.0 * 6371000.0 * math.asin(math.sqrt(a)))
    case "TODOUBLE" => st.push(st.popNum())
    case "TOLONG" => st.push(st.popNum().toLong)
    case "TOSTRING" => st.push(String.valueOf(st.pop()))

    // ---- control (fn/EVAL.java, IFT, IFTE, FOREACH)
    case "EVAL" => st.pop() match {
      case m: WsMacro => evalMacro(m, st)
      case NativeFn(_, f) => f(st)
      case i: WordsExt3.WsInterp => st.push(i.value(st.popNum()))
      case p: WordsExt5.WsPoly => WordsExt5.applyPoly(p, st, this)
      case s: String => exec(WarpScriptTokenizer.tokenize(s), st)
      case o => throw new IllegalArgumentException(s"EVAL on $o")
    }
    case "IFT" =>
      val m = st.pop().asInstanceOf[WsMacro]
      if (bool(st.pop())) evalMacro(m, st)
    case "IFTE" =>
      val mf = st.pop().asInstanceOf[WsMacro]
      val mt = st.pop().asInstanceOf[WsMacro]
      if (bool(st.pop())) evalMacro(mt, st) else evalMacro(mf, st)
    // FOREACH (fn/FOREACH.java): list pushes the element, map pushes
    // key then value; BREAK/CONTINUE honored per-iteration
    // FOREACH (fn/FOREACH.java, faithful r12): optional boolean on
    // top pushes the element INDEX after the element(s); iterates a
    // list, a map (key then value), a STRING (one character at a
    // time), or a GTS — each point as [ tick lat lon elev value ]
    // with NaN geo/elevation sentinels, in tick order
    case "FOREACH" =>
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
          val rows = toFrame(g).df.select(col("ts"), col("lat"),
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
        try evalMacro(m, st) catch { case _: WsContinueEx => }
      } catch { case _: WsBreakEx => }

    // extension registries (separate objects keep each dispatch method
    // under the JVM method-size ceiling): control flow + stack tail,
    // scalar math/conversions, collections, crypto, GTS tail
    case other =>
      if (!wordsStringsBlock(other, st) &&
          !wordsFramesBlock(other, st) &&
          !WordsControl.eval(other, st, this) &&
          !WordsScalar.eval(other, st, this) &&
          !WordsColl.eval(other, st, this) &&
          !WordsCrypto.eval(other, st, this) &&
          !WordsGts.eval(other, st, this) &&
          !WordsExt2.eval(other, st, this) &&
          !WordsGeo.eval(other, st, this) &&
          !WordsAnalytics.eval(other, st, this) &&
          !WordsExt3.eval(other, st, this) &&
          !WordsDebug.eval(other, st, this) &&
          !WordsGts2.eval(other, st, this) &&
          !WordsExt4.eval(other, st, this) &&
          !WordsExt5.eval(other, st, this) &&
          !WordsExt6.eval(other, st, this) &&
          !WordsPgp.eval(other, st, this) &&
          !WordsProcessing.eval(other, st, this))
        throw new IllegalArgumentException(s"unknown function '$other'")
  }

  // ---------------------------------------------------------------- helpers

  private[script] def binNum(st: State, fl: (Long, Long) => Long, fd: (Double, Double) => Double,
                     fs: Option[(String, String) => String] = None): Unit = {
    val b = st.pop(); val a = st.pop()
    (a, b) match {
      case (x: Long, y: Long) => st.push(fl(x, y))
      case (x: Long, y: Double) => st.push(fd(x.toDouble, y))
      case (x: Double, y: Long) => st.push(fd(x, y.toDouble))
      case (x: Double, y: Double) => st.push(fd(x, y))
      case (x: String, y: String) if fs.isDefined => st.push(fs.get(x, y))
      case _ => throw new IllegalArgumentException(s"type error: $a ? $b")
    }
  }

  private[script] def numEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Double) => x.toDouble == y
    case (x: Double, y: Long) => x == y.toDouble
    case _ => a == b
  }

  private[script] def cmp(st: State, ok: Int => Boolean): Unit = {
    val b = st.pop(); val a = st.pop()
    val c = (a, b) match {
      case (x: String, y: String) => x.compareTo(y)
      case _ => java.lang.Double.compare(
        a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue())
    }
    st.push(ok(c))
  }

  private[script] def bool(v: Any): Boolean = v match {
    case b: Boolean => b
    case o => throw new IllegalArgumentException(s"expected BOOLEAN, got $o")
  }

  private[script] def asLong(v: Any): Long = v match {
    case l: Long => l
    case d: Double if d == d.toLong => d.toLong
    case o => throw new IllegalArgumentException(s"expected LONG, got $o")
  }

  private[script] def asNum(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case o => throw new IllegalArgumentException(s"expected number, got $o")
  }

  /** RFC 3394 key wrap of PKCS7-padded payload (CryptoUtils.wrap:64-83
    * semantics — a full pad block is added when already 8-aligned). */
  private[script] def aesWrap(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val padLen = 8 - data.length % 8
    val padded = java.util.Arrays.copyOf(data, data.length + padLen)
    java.util.Arrays.fill(padded, data.length, padded.length, padLen.toByte)
    val c = javax.crypto.Cipher.getInstance("AESWrap")
    c.init(javax.crypto.Cipher.WRAP_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"))
    c.wrap(new javax.crypto.spec.SecretKeySpec(padded, "AES"))
  }

  private[script] def aesUnwrap(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AESWrap")
    c.init(javax.crypto.Cipher.UNWRAP_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"))
    val un = c.unwrap(data, "AES", javax.crypto.Cipher.SECRET_KEY).getEncoded
    un.dropRight(un.last & 0xff)
  }

  /** Byte-array operand: raw bytes pass through, strings are UTF-8. */
  private[script] def popBytes(st: State): Array[Byte] = st.pop() match {
    case b: Array[Byte] => b
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    case o => throw new IllegalArgumentException(s"expected BYTES, got $o")
  }

  /** Calendar-field mapper over the tick rendered as UTC (MapperYear
    * family); result cast to double like every vdouble. */
  private[script] def calMapper(w: String, f: Column => Column): MapperDf =
    MapperDf(w, df => df.withColumn("vdouble",
      f(timestamp_micros(col("ts"))).cast(org.apache.spark.sql.types.DoubleType)))

  /** TOBD.toBigDecimal (TOBD.java:44-64): exact from string (0x/0b
    * integer forms included), long, double, or pass-through. */
  private[script] def toBd(v: Any): java.math.BigDecimal = v match {
    case bd: java.math.BigDecimal => bd
    case s: String if s.startsWith("0x") =>
      new java.math.BigDecimal(new java.math.BigInteger(s.substring(2), 16))
    case s: String if s.startsWith("-0x") =>
      new java.math.BigDecimal(new java.math.BigInteger(s.substring(3), 16).negate())
    case s: String if s.startsWith("0b") =>
      new java.math.BigDecimal(new java.math.BigInteger(s.substring(2), 2))
    case s: String if s.startsWith("-0b") =>
      new java.math.BigDecimal(new java.math.BigInteger(s.substring(3), 2).negate())
    case s: String => new java.math.BigDecimal(s)
    case l: Long => java.math.BigDecimal.valueOf(l)
    case d: Double => java.math.BigDecimal.valueOf(d)
    case o => throw new IllegalArgumentException(s"cannot convert to BigDecimal: $o")
  }

  /** Natural WarpScript ordering: numbers by value, strings
    * lexicographically, mixed by rendered text (LSORT/KEYLIST). */
  private[script] def wsLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Number, y: Number) => x.doubleValue() < y.doubleValue()
    case (x: String, y: String) => x < y
    case _ => String.valueOf(a) < String.valueOf(b)
  }

  private[script] def flatten(v: Vector[Any]): Vector[Any] = v.flatMap {
    case inner: Vector[_] => flatten(inner.asInstanceOf[Vector[Any]])
    case x => Vector(x)
  }

  private[script] def toFrame(v: Any): GtsFrame = v match {
    case f: GtsFrame => f
    case BucketedFrame(f, _, _, _) => f
    case b: GtsBuilder => materialize(b)
    case l: Vector[_] => framesOf(l)
    case o => throw new IllegalArgumentException(s"not a GTS frame: $o")
  }

  /** Bucket metadata for fill words; derives the count from the data
    * extent when BUCKETIZE was called with count 0 (the reference keeps
    * bucketcount on the bucketized GTS itself — GTSHelper.java bucket
    * fields). One tiny driver-side agg, same as bucketizeAuto. */
  private[script] def toBucketed(v: Any): BucketedFrame = v match {
    case b @ BucketedFrame(f, lb, span, count) =>
      if (count > 0) b
      else {
        val ft = f.df.agg(org.apache.spark.sql.functions.min(col("ts")))
          .head().getLong(0)
        BucketedFrame(f, lb, span, (lb - ft) / span + 1)
      }
    case o => throw new IllegalArgumentException(
      s"fill words need a BUCKETIZE result with explicit span: $o")
  }

  /** NEWGTS builder → one-series canonical frame (needs the session
    * the engine was constructed with). */
  /** Builder→frame memo: programs routinely reference the same stored
    * builder many times ($fix in N FILTER calls, the session-overlay
    * merge per selector) — materializing once per OBJECT keeps the
    * plan subtree shared instead of re-created. Identity-keyed:
    * builders are immutable (every mutation is a copy()). */
  private val materializeCache = new java.util.IdentityHashMap[GtsBuilder, GtsFrame]()

  /** FILLVALUE provenance for kernel fusion (r14, guide §2.3): filled
    * frame instance → (sparse pre-fill frame, grid spec, fill value).
    * Kernel words consuming a FILLVALUE result hand the kernel the
    * SPARSE frame + grid spec so the dense grid is synthesized per
    * series AFTER the pack shuffle — count×series grid rows never
    * exist pre-shuffle (w54: 99k sparse cells packed instead of 5.4M
    * grid rows through a grid-explode + left-join + pack cascade).
    * Identity-keyed like [[materializeCache]]: frames are immutable,
    * and any word that rebuilds the frame (rename, filter, …) misses
    * the map and falls back to the materialized dense plan — results
    * are identical either way. */
  private val fillValueOrigin =
    new java.util.IdentityHashMap[GtsFrame, (GtsFrame, Long, Long, Long, Double)]()

  private[script] def recordFillValue(filled: GtsFrame, sparse: GtsFrame,
      lastbucket: Long, span: Long, count: Long, value: Double): Unit =
    fillValueOrigin.put(filled, (sparse, lastbucket, span, count, value))

  /** KernelOps over a bucketized frame, honoring FILLVALUE provenance:
    * when fused, the kernel packs the sparse twin and synthesizes the
    * grid itself. */
  private[script] def kernelOpsFor(f: GtsFrame): graft.kernels.KernelOps = {
    val o = fillValueOrigin.get(f)
    if (o != null && o._4 > 0 && o._4 <= Int.MaxValue.toLong)
      new graft.kernels.KernelOps(o._1.df, Some(
        graft.kernels.KernelOps.GridFill(o._2, o._3, o._4.toInt, o._5)))
    else new graft.kernels.KernelOps(f.df)
  }

  private[script] def materialize(b: GtsBuilder): GtsFrame = {
    val cached = materializeCache.get(b)
    if (cached != null) return cached
    val f = doMaterialize(b)
    materializeCache.put(b, f)
    f
  }

  private def doMaterialize(b: GtsBuilder): GtsFrame = {
    val spark = session.getOrElse(throw new IllegalStateException(
      "NEWGTS requires a WarpScriptEngine constructed with a session"))
    val schema = graft.model.Gts.pointSchema
    val rows = b.points.map { case (ts, loc, elev, v) =>
      // typed value dispatch: an encoder's points carry any value type
      // (GTSEncoder.addValue), one typed column set per point
      val (vt, vl, vd, vb, vs, vbin): (Byte, Any, Any, Any, Any, Any) = v match {
        case l: Long => (graft.model.GtsType.LONG, Long.box(l), null, null, null, null)
        case d: Double => (graft.model.GtsType.DOUBLE, null, Double.box(d), null, null, null)
        case b2: Boolean => (graft.model.GtsType.BOOLEAN, null, null, Boolean.box(b2), null, null)
        case s2: String => (graft.model.GtsType.STRING, null, null, null, s2, null)
        case bin: Array[Byte] => (graft.model.GtsType.BINARY, null, null, null, null, bin)
        case o => throw new IllegalArgumentException(s"encoder value: $o")
      }
      org.apache.spark.sql.Row(b.cls, b.labels, 0L, ts,
        loc.map(_._1).map(Double.box).orNull, loc.map(_._2).map(Double.box).orNull,
        elev.map(Long.box).orNull, vt, vl, vd, vb, vs, vbin)
    }
    // LocalRelation, NOT an RDD: parallelize() makes every literal
    // builder a distributed scan (a real job per 3-row fixture, no
    // constant folding, no auto-broadcast stats) — driver-local rows
    // keep tiny fixtures in the optimizer's hands
    import scala.jdk.CollectionConverters._
    GtsFrame(graft.model.Gts.canonicalRehash(
      spark.createDataFrame(rows.toSeq.asJava, schema)))
  }

  /** Merge any frames found in a (possibly nested) list into one frame. */
  private[script] def framesOf(items: Seq[Any]): GtsFrame = {
    val frames = items.flatMap {
      case f: GtsFrame => Seq(f)
      case BucketedFrame(f, _, _, _) => Seq(f)
      case b: GtsBuilder => Seq(materialize(b))
      case l: Vector[_] => Seq(framesOf(l))
      case o => throw new IllegalArgumentException(s"not a GTS frame: $o")
    }
    if (frames.isEmpty) throw new IllegalArgumentException("no GTS on stack")
    frames.reduce(_ merge _)
  }
}

object WarpScriptEngine {

  /** NumericalUnaryFunction registrations (WarpScriptLib.java:
    * 2996-3030): (longOp, doubleOp, doubleToLongOp) — exactly the
    * reference's operator triples, incl. ROUND's long-identity and the
    * EXACT family's long-only faces. */
  private[script] val unaryOps: Map[String,
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
  private[script] val binaryOps: Map[String,
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

  /** CALL subprogram pool, JVM-wide like the reference's static
    * subprograms map (fn/CALL.java:208): one long-lived process per
    * executable path, reaped by a shutdown hook. */
  private[script] val callProcs =
    mutable.Map.empty[String, (Process, java.io.BufferedReader)]

  /** The evaluation state: operand stack (head = top), symbol table,
    * and the reference's 256 numbered registers
    * (MemoryWarpScriptStack regs; POPR/PUSHR words). */
  private[script] final class State {
    val stack = new mutable.ArrayDeque[Any] // head = top of stack
    val symbols = mutable.Map.empty[String, Any]
    val regs = new Array[Any](256)
    // fn/DEF.java named-macro table, consulted before the builtin words
    val defs = mutable.Map.empty[String, WsMacro]
    val redefs = mutable.Set.empty[String]
    var ops: Long = 0 // fn/OPS.java counter
    // MAXOPS/MAXDEPTH/... soft limits (fn/MAXOPS.java family)
    val limits = mutable.Map.empty[String, Long]
    // DEBUGON/TIMEON/LINEON/... toggles
    val flags = mutable.Set.empty[String]
    // CHRONOSTART/CHRONOEND per-alias (totalNanos, activeSince, calls)
    val chrono = mutable.Map.empty[String, (Long, Long, Long)]
    // HIDE'd stack levels (SHOW restores)
    var hidden: List[Any] = Nil
    // SAVE/RESTORE contexts and the SECUREKEY
    var secureKey: Option[String] = None
    val startNanos: Long = System.nanoTime()
    // SETATTRIBUTES/ATTRIBUTES per-gtsid attribute store (the
    // distributed path is MetaOps; this is the stack-word surface)
    val attrs = mutable.Map.empty[Long, Map[String, String]]
    // ATTRSKIP flag (fn/ATTRSKIP.java): FINDSETS omits attribute sets
    var attrSkip = false
    // ATTRDELTA stack mode (fn/ATTRDELTA.java →
    // ATTRIBUTE_ATTRIBUTES_DELTA): META/UPDATE attribute handling
    // becomes a delta merge while set; NULL ATTRDELTA reads it back
    var attrDeltaMode = false
    // UPDATE/DELETE session point store (fn/UPDATE.java, DELETE.java):
    // the standalone reference writes through its embedded store;
    // here session-scope series that FETCH merges with the fetch hook.
    // The durable distributed path stays LineProtocol.ingest/MetaOps.
    val updates = mutable.Buffer.empty[GtsBuilder]
    // MACROCONFIG store + defaults (fn/MACROCONFIG.java family; the
    // reference reads warp10 properties — session-scope map here)
    val macroConfig = mutable.Map.empty[String, Any]
    val macroConfigDefaults = mutable.Map.empty[String, Any]
    // ACCEL.* accelerator directives (fn/ACCELCACHE.java family) —
    // mapped to the Spark storage level of subsequently FETCHed frames
    var accelCache = false
    var accelPersist = false
    // CAPADD/CAPGET capability store (reference: token-carried caps)
    val caps = mutable.Map.empty[String, String]
    // KVSTORE/KVLOAD engine-side key-value store (the reference writes
    // through StoreClient; session state here, NEVER a data path — no
    // DataFrame-derived iterator may be stored)
    val kv = mutable.Map.empty[String, Any]
    // generic stack attributes (EVERY/MACROTTL/RUNNERAT... — the
    // reference's setAttribute surface for scheduling words)
    val stackAttrs = mutable.Map.empty[String, Any]
    // HEADER response headers (ATTRIBUTE_HEADERS)
    val headers = mutable.Map.empty[String, String]
    // IMPORT namespace alias rules (ATTRIBUTE_IMPORT_RULES)
    val importRules = mutable.Map.empty[String, String]
    // WSAUDITMODE parse-error records (ATTRIBUTE_PARSING_ERRORS)
    val parseErrors = mutable.Buffer.empty[Map[String, Any]]
    // GUARD nesting + CAPEXPORT export set (fn/GUARD.java, CAPEXPORT)
    var guardDepth: Int = 0
    val exportedCaps = mutable.Set.empty[String]
    // WF.ADDREPO/WF.SETREPOS WarpFleet repository list
    val wfRepos = mutable.Buffer.empty[String]
    def push(v: Any): Unit = stack.prepend(v)
    def pop(): Any =
      if (stack.isEmpty) throw new IllegalStateException("stack underflow")
      else stack.removeHead()
    def popLong(): Long = pop() match {
      case l: Long => l
      case d: Double if d == d.toLong => d.toLong
      case other => throw new IllegalArgumentException(s"expected LONG, got $other")
    }
    def popNum(): Double = pop() match {
      case l: Long => l.toDouble
      case d: Double => d
      case other => throw new IllegalArgumentException(s"expected number, got $other")
    }
    def popStr(): String = pop() match {
      case s: String => s
      case other => throw new IllegalArgumentException(s"expected STRING, got $other")
    }
    def popBool(): Boolean = pop() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(s"expected BOOLEAN, got $other")
    }
  }

  /** Loop/macro control transfer, mirroring the reference's
    * WarpScriptLoopBreakException / LoopContinueException /
    * ReturnException / StopException hierarchy. Stackless — these are
    * jumps, not errors (but TRY catches them, as the reference's
    * `catch (Throwable)` does). */
  private[script] final class WsBreakEx
    extends RuntimeException("BREAK outside loop", null, false, false)
  private[script] final class WsContinueEx
    extends RuntimeException("CONTINUE outside loop", null, false, false)
  private[script] final class WsReturnEx(var levels: Long)
    extends RuntimeException("RETURN outside macro", null, false, false)
  private[script] final class WsStopEx
    extends RuntimeException("STOP", null, false, false)

  /** A native function value (NPDF-style builders): EVAL applies it to
    * the state like a macro. */
  private[script] final case class NativeFn(name: String, f: State => Unit)

  /** MACROMAPPER-family wrapper (MACROMAPPER.java's MacroMapperWrapper
    * implements mapper+reducer+bucketizer at once — one value, consumed
    * by MAP/REDUCE/BUCKETIZE/FILTER, executed by [[MacroKernel]]). */
  private[script] final case class MacroAgg(name: String, tokens: Vector[WsToken])

  /** A filler value (script/filler/Filler*.java builders), consumed by
    * the FILL word over a BUCKETIZE result. */
  private[script] final case class FillerVal(name: String,
      value: Double = Double.NaN)

  /** List/map builder marks (reference MARK object). */
  private[script] object ListMark
  private[script] object MapMark

  /** A captured `<% %>` macro (reference Macro). `secure` hides the
    * body from SNAPSHOT/TOSTRING (fn/MSEC.java, Macro.snapshot's
    * hideSecure branch); `secureRecursive` extends that to nested
    * macros on render. */
  final case class WsMacro(tokens: Vector[WsToken],
      secure: Boolean = false, secureRecursive: Boolean = false)

  /** A GTS under construction via NEWGTS/ADDVALUE, materialized into a
    * frame when first consumed by a frame word. */
  final case class GtsBuilder(cls: String, labels: Map[String, String],
      points: Vector[(Long, Option[(Double, Double)], Option[Long], Any)])

  /** A BUCKETIZE result carrying its bucket parameters — the reference
    * stores lastbucket/bucketspan/bucketcount on the GTS itself and the
    * fill words read them from there (fn/FILLPREVIOUS.java). */
  final case class BucketedFrame(frame: GtsFrame, lastbucket: Long,
      span: Long, count: Long)

  /** TYPEOF name of a stack value (fn/TYPEOF.java typeof). Shared by
    * TYPEOF and TDESCRIBE (the recursive variant). */
  private[script] def typeNameOf(v: Any): String = v match {
    case null => "NULL"
    case _: String => "STRING"
    case _: Long => "LONG"
    case _: Double => "DOUBLE"
    case _: java.math.BigDecimal => "BIGDECIMAL"
    case _: Boolean => "BOOLEAN"
    case _: Vector[_] => "LIST"
    case _: Map[_, _] => "MAP"
    case _: WsMacro => "MACRO"
    case _: Set[_] => "SET"
    case _: Array[Byte] => "BYTES"
    case _: WordsColl.WsMat => "MATRIX"
    case _: WordsColl.WsVec => "VECTOR"
    case _: java.util.regex.Pattern => "MATCHER"
    case _: GtsFrame | _: BucketedFrame | _: GtsBuilder => "GTS"
    case _: AggVal | _: ArgMinMaxVal => "AGGREGATOR"
    case _: FilterVal | _: LatencyFilterVal => "FILTER"
    case _ => "FUNCTION"
  }

  /** Named aggregator usable as bucketizer/windowed-mapper/reducer —
    * the three families share implementations, as in the reference
    * (script/aggregator classes). */
  final case class AggVal(name: String, agg: ValueAgg,
      forbidNulls: Boolean = false, includeNulls: Boolean = false)
  /** Pointwise value mapper (mapper.abs etc.). */
  final case class MapperCol(name: String, f: Column => Column)
  /** Whole-frame mapper reading columns beyond vdouble (mapper.tick,
    * the calendar mappers). */
  final case class MapperDf(name: String, f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
  /** Tick-aligned binary op for APPLY (script/op/Op*.java). */
  final case class OpVal(name: String, f: (Column, Column) => Column)
  /** Whole-series filter predicate over the per-series aggregate row
    * (last_v/min_v/max_v/size_v — see GtsFrame.filterSeries).
    * `anyPred` is a per-POINT predicate (FilterAny.java): retain the
    * series when ANY point satisfies it — or NO point, when `negate`
    * (the reference's complementSet flag building filter.all.*). */
  final case class FilterVal(name: String, pred: Column,
      anyPred: Option[Column] = None, negate: Boolean = false)
  /** reducer.argmax/argmin value (aggregator/Argminmax.java Builder:
    * `'label' count reducer.argmax`). */
  final case class ArgMinMaxVal(name: String, label: String, count: Int,
      isArgmin: Boolean)
  /** filter.latencies value (script/filter/LatencyFilter.java Builder:
    * `minLat maxLat [ options ] filter.latencies`). */
  final case class LatencyFilterVal(name: String, minLat: Long,
      maxLat: Long, options: Vector[String])
  /** filler.lowess / filler.rlowess value (script/filler/
    * FillerLowess.java, FillerRlowess.java Builders: `bandwidth
    * [robustness] [accuracy] filler.(r)lowess`). */
  final case class LowessFillerVal(name: String, bandwidth: Long,
      robustness: Int, accuracy: Double)

  private val aggByName: Map[String, ValueAgg] = Map(
    "sum" -> Sum, "mean" -> Mean, "min" -> Min, "max" -> Max,
    "count" -> CountAgg, "sd" -> Sd, "sd.pop" -> SdPop, "var" -> Var,
    "mad" -> Mad,
    // Welford-accumulation variants (aggregator/Variance.Builder with
    // useWelford=true, WarpScriptLib.java:3240,3270,3318-3325): same
    // value as sd/var — Welford is an accumulation ORDER, not a
    // different statistic; Spark's stddev/var aggregates are themselves
    // numerically-stable merge formulas of the same family
    "sd.welford" -> Sd, "var.welford" -> Var,
    "var.pop" -> VarPop, "median" -> Median, "rms" -> Rms,
    "first" -> First, "last" -> Last, "delta" -> Delta, "rate" -> Rate,
    // boolean / product / entropy families (aggregator/And.java, Or,
    // MapperProduct, ShannonEntropy)
    "and" -> BoolAnd, "or" -> BoolOr, "product" -> ProductAgg,
    "shannonentropy.0" -> Entropy(false), "shannonentropy.1" -> Entropy(true),
    // geo window aggregators (aggregator/HDist.java family)
    "hdist" -> Hdist, "vdist" -> Vdist, "hspeed" -> Hspeed,
    "vspeed" -> Vspeed, "truecourse" -> TrueCourse)

  /** Aggregator null-variant suffixes (WarpScriptLib.java:3295-3339
    * registrations): `.forbid-nulls`/`.nonnull` null out the result
    * when an aligned member is absent; `.exclude-nulls` skips them
    * (Spark's default); `.include-nulls` (count only) counts every
    * aligned slot. Plain reducer.and/or/count default to the strict
    * side, matching their reference constructors. */
  private def parseVariant(n0: String): (String, Boolean, Boolean) = {
    val (base, variant) =
      Seq(".exclude-nulls", ".include-nulls", ".forbid-nulls", ".nonnull")
        .find(n0.endsWith) match {
        case Some(v) => (n0.stripSuffix(v), v)
        case None => (n0, "")
      }
    val forbid = variant == ".forbid-nulls" || variant == ".nonnull" ||
      (variant.isEmpty && (base == "and" || base == "or"))
    val includeNulls = base == "count" &&
      (variant == ".include-nulls" || variant.isEmpty)
    (base, forbid, includeNulls)
  }

  object BucketizerName {
    def unapply(w: String): Option[AggVal] =
      if (w.startsWith("bucketizer.")) aggByName.get(w.stripPrefix("bucketizer."))
        .map(AggVal(w, _))
      else None
  }
  object ReducerName {
    def unapply(w: String): Option[AggVal] =
      if (!w.startsWith("reducer.")) None
      else {
        val (base, forbid, includeNulls) = parseVariant(w.stripPrefix("reducer."))
        aggByName.get(base).map(AggVal(w, _, forbid, includeNulls))
      }
  }
  object MapperName {
    private val pointwise: Map[String, Column => Column] = Map(
      "abs" -> abs, "ceil" -> (v => ceil(v)), "floor" -> (v => floor(v)),
      "round" -> (v => round(v)), "sqrt" -> sqrt, "exp" -> exp, "ln" -> log,
      "tanh" -> tanh,
      "sigmoid" -> (v => lit(1.0) / (lit(1.0) + exp(-v))),
      "tolong" -> (_.cast(org.apache.spark.sql.types.LongType)),
      "todouble" -> (_.cast(org.apache.spark.sql.types.DoubleType)))
    def unapply(w: String): Option[Any] =
      if (!w.startsWith("mapper.")) None
      else {
        val n = w.stripPrefix("mapper.")
        aggByName.get(n).map(AggVal(w, _))
          .orElse(pointwise.get(n).map(MapperCol(w, _)))
      }
  }
  /** mapper.<cmp>.<coord> names (MapperTickEQ/GE/... families):
    * cmp ∈ eq/ne/gt/ge/lt/le, coord ∈ tick/lat/lon/elev/hhcode. The
    * hhcode coordinate compares the 64-bit interleaved cell id computed
    * from lat/lon (MapperHhcodeGE-style families over
    * GeoXPLib.toGeoXPPoint). */
  object CoordMapperName {
    private val Pat = "^mapper\\.(eq|ne|gt|ge|lt|le)\\.(tick|lat|lon|elev|hhcode)$".r
    def unapply(w: String): Option[(String, String)] = w match {
      case Pat(cmp, coord) =>
        Some((if (coord == "tick") "ts" else coord, cmp))
      case _ => None
    }
  }

  object OpName {
    private val dbl = org.apache.spark.sql.types.DoubleType
    // boolean ops over the double-typed frame: truthiness = value != 0,
    // result 1.0/0.0. Strict forms (op.and/op.or, OpBoolean forbidNulls
    // = true) null out when an operand is absent — the explicit isNull
    // guard matters because SQL's 3-valued `false AND null` is false.
    private def strictAnd(a: Column, b: Column): Column =
      when(a.isNull || b.isNull, lit(null).cast(dbl))
        .otherwise(((a =!= 0.0) && (b =!= 0.0)).cast(dbl))
    private def strictOr(a: Column, b: Column): Column =
      when(a.isNull || b.isNull, lit(null).cast(dbl))
        .otherwise(((a =!= 0.0) || (b =!= 0.0)).cast(dbl))
    private val ops: Map[String, (Column, Column) => Column] = Map(
      "add" -> (_ + _), "sub" -> (_ - _), "mul" -> (_ * _),
      // Java semantics, not ANSI: ±Infinity / NaN on zero divisors
      "div" -> (graft.operators.GtsFrame.ieeeDiv(_, _)),
      "eq" -> (_ === _), "ne" -> (_ =!= _), "gt" -> (_ > _), "ge" -> (_ >= _),
      "lt" -> (_ < _), "le" -> (_ <= _),
      "mask" -> ((v, _) => v), "negmask" -> ((v, _) => v),
      // `.ignore-nulls` variants (OpAdd/OpMul/OpBoolean with the
      // ignore flag): absent operands contribute the op's identity
      "add.ignore-nulls" -> ((a, b) => coalesce(a, lit(0.0)) + coalesce(b, lit(0.0))),
      "mul.ignore-nulls" -> ((a, b) => coalesce(a, lit(1.0)) * coalesce(b, lit(1.0))),
      "and" -> (strictAnd(_, _)), "or" -> (strictOr(_, _)),
      "and.ignore-nulls" -> ((a, b) =>
        ((coalesce(a, lit(1.0)) =!= 0.0) && (coalesce(b, lit(1.0)) =!= 0.0)).cast(dbl)),
      "or.ignore-nulls" -> ((a, b) =>
        ((coalesce(a, lit(0.0)) =!= 0.0) || (coalesce(b, lit(0.0)) =!= 0.0)).cast(dbl)))
    def unapply(w: String): Option[OpVal] =
      if (w.startsWith("op.")) ops.get(w.stripPrefix("op.")).map(OpVal(w, _))
      else None
  }
}
