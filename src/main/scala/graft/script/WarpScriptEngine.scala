package graft.script

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
    meta: Option[() => DataFrame] = None) {

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
    * stack, top first. Starts a new program scope: what the previous
    * program left cached is released first. */
  def run(program: String): List[Any] = {
    release()
    val st = new State
    try exec(WarpScriptTokenizer.tokenize(program), st)
    catch { case _: WsStopEx => } // fn/STOP.java: silent end of program
    st.stack.toList
  }

  /** Re-execute a captured macro on a fresh stack (the Mobius period
    * fire, EgressMobiusHandler.java:415: `stack.exec(fmacro)` on a new
    * MemoryWarpScriptStack); returns the final stack, top first. */
  def runMacro(m: WsMacro): List[Any] = {
    release()
    val st = new State
    try evalMacro(m, st)
    catch { case _: WsStopEx => }
    st.stack.toList
  }

  /** The program scope: Datasets the current program's words persisted.
    * They stay cached while the host consumes the program's result and
    * are unpersisted when the next program starts or on [[release]].
    * A released frame stays valid; reading it again recomputes it. */
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]

  /** Persist a frame for the rest of the program: the ACCEL.CACHE /
    * ACCEL.PERSIST FETCH (fn/ACCELCACHE.java), whose storage level the
    * program chose. Pair words need no cache: their two results are
    * parts of one frame that a merge reads once (GtsFrame.parts). */
  private[script] def persistForProgram(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    persisted += df.persist(level)
    df
  }

  /** End the program scope: unpersist what the program's words cached
    * and drop the builder memo. `run` and `runMacro` call it first; a
    * host that drops the engine after rendering calls it itself. */
  def release(): Unit = {
    persisted.foreach(_.unpersist(blocking = false))
    persisted.clear()
    materializeCache.clear()
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
      // a FILLVALUE grid packs its sparse origin (KernelOps.GridFill);
      // class/labels ride through the kernel group
      b.copy(frame = GtsFrame(graft.kernels.KernelOps(b.frame)
        .rlowessSmooth(q, r, d, p, Some((b.lastbucket, b.span, b.count)))))
    case o =>
      GtsFrame(graft.kernels.KernelOps(toFrame(o)).rlowessSmooth(q, r, d, p, None))
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
    GtsFrame(graft.model.Gts.canonical(graft.kernels.KernelOps(f)
      .discords(windowLen, wordLen, alphabet, count, overlap, distRatio,
        standardizePAA)))
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

  /** One name, resolved in the reference's order: a DEF'd macro, the
    * word table, then the name families the table cannot list — the
    * `$name`/`!$name` symbol derefs (MemoryWarpScriptStack.java:973)
    * and the numbered registers. */
  private def evalWord(w: String, st: State): Unit = {
    st.ops += 1 // fn/OPS.java: operations performed so far
    val m = st.defs.getOrElse(w, null)
    if (m != null) { evalMacro(m, st); return }
    val word = words.getOrElse(w, null)
    if (word != null) word(w, st, this)
    else if (w.startsWith("!$")) deref(w.substring(2), st)
    else if (w.startsWith("$") && w.length > 1) deref(w.substring(1), st)
    else w match {
      case WordsControl.RegWord(op, num) => WordsControl.runRegister(op, num, st, this)
      case _ => unknownWord(w, st)
    }
  }

  private def deref(name: String, st: State): Unit =
    st.push(st.symbols.getOrElse(name,
      throw new IllegalArgumentException(s"unknown symbol '$name'")))

  /** A name nothing resolves: the IMPORT alias rewrite (fn/IMPORT.java:
    * longest alias wins) onto a DEF'd macro, else the WSAUDITMODE
    * record (fn/WSAUDITMODE.java: collect instead of throw), else the
    * unknown-function error. */
  private def unknownWord(w: String, st: State): Unit = {
    val rewritten = st.importRules.toSeq.sortBy(-_._1.length).collectFirst {
      case (alias, ns) if w.startsWith(alias) => ns + w.stripPrefix(alias)
    }
    rewritten match {
      case Some(w2) if st.defs.contains(w2) => evalMacro(st.defs(w2), st)
      case _ if st.flags("audit") =>
        st.parseErrors += Map("type" -> "UNKNOWN", "line" -> 0L,
          "position" -> 0L, "position.end" -> 0L, "statement" -> w)
      case _ => throw new IllegalArgumentException(s"unknown function '$w'")
    }
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
    * builders are immutable (every mutation is a copy()). Lives for
    * one program: [[release]] clears it. */
  private val materializeCache = new java.util.IdentityHashMap[GtsBuilder, GtsFrame]()

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

  /** A builtin word. `w` is the name it was called by, so one body can
    * serve several names. */
  private[script] type Word = (String, State, WarpScriptEngine) => Unit

  /** The word table: every builtin name → its body, the reference's
    * single WarpScriptLib registry (FUNCTIONS lists its keys). Built
    * once per JVM, not per engine: RestFacade and Mobius build an
    * engine per request. */
  private[script] lazy val words: Map[String, Word] = {
    val t = new WordTable
    Seq[WordTable => Unit](WordsCore.register, WordsStringsBlock.register,
      WordsFramesBlock.register, WordsControl.register, WordsScalar.register,
      WordsColl.register, WordsCrypto.register, WordsGts.register,
      WordsExt2.register, WordsGeo.register, WordsAnalytics.register,
      WordsExt3.register, WordsDebug.register, WordsGts2.register,
      WordsExt4.register, WordsExt5.register, WordsExt6.register,
      WordsPgp.register, WordsProcessing.register).foreach(_(t))
    t.result
  }

  /** The word table under construction. A name registered twice is an
    * error: no body may silently shadow another. */
  private[script] final class WordTable {
    private val m = mutable.HashMap.empty[String, Word]
    def apply(names: String*)(body: Word): Unit = names.foreach { n =>
      if (m.contains(n)) throw new IllegalStateException(s"word '$n' registered twice")
      m(n) = body
    }
    def result: Map[String, Word] = m.toMap
  }

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
}
