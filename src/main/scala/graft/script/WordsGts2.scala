package graft.script

import org.apache.spark.sql.functions._

import graft.kernels.KernelOps
import graft.operators.GtsFrame

/** GTS metadata / MV / wrapper word tail (fn/ATBUCKET.java,
  * SETATTRIBUTES, FILLTICKS, PACK/UNPACK bit codec, LOCSTRINGS,
  * LASTACTIVITY, MVSPLIT tick/index forms, WRAP variants).
  */
private[script] object WordsGts2 {
  import WarpScriptEngine._
  import WordsGts.{collectGuard, singleSeries, pointList}

  def register(words: WordTable): Unit = {
    // ---- ATBUCKET (fn/ATBUCKET.java): bucket index → the point
    // tuple at tick = lastbucket - (bucketcount-1-idx)·span
    words("ATBUCKET") { (w, st, en) =>
      val idx = st.popLong()
      val b = en.toBucketed(st.pop())
      require(idx >= 0 && idx < b.count,
        s"ATBUCKET cannot retrieve bucket $idx of a GTS with ${b.count} buckets")
      val tick = b.lastbucket - (b.count - 1 - idx) * b.span
      val df = singleSeries(b.frame, w)
      val rows = df.filter(col("ts") === tick)
        .select(WordsGts.pointCols: _*)
        .collect()
      st.push(pointList(rows.headOption, tick))
    }

    // ---- attributes (fn/ATTRIBUTES.java, SETATTRIBUTES, ATTRDELTA):
    // mutable metadata NOT part of the series identity — kept in an
    // engine-side per-gtsid store (the distributed attribute pipeline
    // is MetaOps.metaUpsert, the m06 path; these words are the stack
    // surface). Empty value removes (ATTRDELTA semantics).
    // SETATTRIBUTES (SETATTRIBUTES.java updateAttribute:84-106,
    // faithful r13 audit): merge ONTO the existing attributes — an
    // EMPTY update map keeps them all (the old binding cleared); a
    // NULL KEY in the map drops the existing set first (the RELABEL
    // reset marker); a null or '' value removes that key
    words("SETATTRIBUTES") { (w, st, en) =>
      val raw = st.pop().asInstanceOf[Map[Any, Any]]
      val reset = raw.keys.exists(_ == null)
      val m = raw.collect { case (k, v) if k != null =>
        k.toString -> (if (v == null) "" else v.toString) }
      val operand = st.pop()
      val f = en.toFrame(operand)
      val ids = f.df.select(col("gtsid")).distinct().collect().map(_.getLong(0))
      ids.foreach { id =>
        val base = if (reset) Map.empty[String, String]
                   else st.attrs.getOrElse(id, Map.empty)
        st.attrs(id) = (base ++ m).filter(_._2.nonEmpty)
      }
      // metadata-only op: a bucketized operand keeps its params
      st.push(operand match {
        case bf: WarpScriptEngine.BucketedFrame => bf
        case _ => f
      })
    }
    // ATTRDELTA (fn/ATTRDELTA.java, faithful r13 audit — the old
    // binding invented a per-GTS merge word): a STACK-MODE toggle.
    // BOOLEAN sets the delta-attributes mode (UPDATE/META attribute
    // handling becomes a delta merge); NULL pushes the current mode
    words("ATTRDELTA") { (w, st, en) =>
      st.pop() match {
        case b: Boolean => st.attrDeltaMode = b
        case null => st.push(st.attrDeltaMode)
        case o => throw new IllegalArgumentException(
          s"ATTRDELTA invalid parameter, expected a BOOLEAN or NULL, got $o")
      }
    }
    words("ATTRIBUTES") { (w, st, en) =>
      val df = singleSeries(en.toFrame(st.pop()), w)
      val id = df.select(col("gtsid")).limit(1).collect()(0).getLong(0)
      st.push(st.attrs.getOrElse(id, Map.empty[String, String])
        .asInstanceOf[Map[Any, Any]])
    }

    // ---- LOCSTRINGS (fn/LOCSTRINGS.java): located points → compact
    // HHCode hex strings, tick order
    words("LOCSTRINGS") { (w, st, en) =>
      val df = singleSeries(en.toFrame(st.pop()), w)
      collectGuard(df, w)
      val rows = df.filter(col("lat").isNotNull && col("lon").isNotNull)
        .select(col("ts"), col("lat"), col("lon")).collect().sortBy(_.getLong(0))
      st.push(rows.map { r =>
        f"${graft.functions.GeoFunctions.toHHCode(r.getDouble(1), r.getDouble(2))}%016x": Any
      }.toVector)
    }

    // ---- LASTACTIVITY (fn/LASTACTIVITY.java): most recent tick
    words("LASTACTIVITY") { (w, st, en) =>
      val df = singleSeries(en.toFrame(st.pop()), w)
      st.push(df.agg(max(col("ts"))).collect()(0).getLong(0))
    }

    // ---- FILLTICKS (fn/FILLTICKS.java): gts [ lat lon elev value
    // [ticks] ] FILLTICKS → add the point at each tick the series
    // does not already have (anti-join union — no driver loop)
    words("FILLTICKS") { (w, st, en) =>
      val p = st.pop().asInstanceOf[Vector[Any]]
      require(p.length == 5, "FILLTICKS expects [ lat lon elev value ticks ]")
      val ticks = p(4).asInstanceOf[Vector[Any]].map(en.asLong)
      val value = en.asNum(p(3))
      val f = en.toFrame(st.pop())
      val spark = f.df.sparkSession
      import spark.implicits._
      val latV = p(0) match { case null => None; case v => Some(en.asNum(v)).filterNot(_.isNaN) }
      val lonV = p(1) match { case null => None; case v => Some(en.asNum(v)).filterNot(_.isNaN) }
      val elevV = p(2) match { case null => None; case l: Long => Some(l); case _ => None }
      val grid = ticks.toDF("__t")
      val meta = graft.model.Gts.seriesMeta(f.df)
      val missing = meta.crossJoin(broadcast(grid))
        .join(f.df.select(col("gtsid").as("__g"), col("ts").as("__ts")),
          col("gtsid") === col("__g") && col("__t") === col("__ts"), "left_anti")
        .select(col("class"), col("labels"), col("gtsid"), col("__t").as("ts"),
          lit(latV.orNull).cast("double").as("lat"),
          lit(lonV.orNull).cast("double").as("lon"),
          lit(elevV.orNull).cast("long").as("elev"),
          lit(graft.model.GtsType.DOUBLE).as("vtype"),
          lit(null).cast("long").as("vlong"), lit(value).as("vdouble"),
          lit(null).cast("boolean").as("vbool"),
          lit(null).cast("string").as("vstring"),
          lit(null).cast("binary").as("vbinary"))
      st.push(GtsFrame(f.df.unionByName(missing)))
    }

    // ---- PACK / UNPACK (fn/PACK.java bit codec, re-derived:
    // format specs <L/ >L / <U / >U with bit length, D doubles,
    // B booleans, S/s skip-ones/skip-zeros)
    words("PACK") { (w, st, en) =>
      val fmt = st.popStr()
      val values = st.pop().asInstanceOf[Vector[Any]]
      st.push(packBits(fmt, values))
    }
    words("UNPACK") { (w, st, en) =>
      val fmt = st.popStr()
      val data = en.popBytes(st)
      st.push(unpackBits(fmt, data))
    }

    // ---- WRAP variants (fn/WRAPFAST.java, WRAPOPT, WRAPRAW, WRAPMV):
    // all emit the REFERENCE wire format (WrapperCodec); RAW forms
    // push bytes, MV forms drop metadata+count (WRAP.java mv=true).
    // The opt/fast distinction tunes the reference serializer's
    // compression effort, not the decoded content.
    words("WRAPFAST", "WRAPOPT", "WRAPRAW", "WRAPRAWOPT", "WRAPMV", "WRAPFASTRAW",
      "WRAPMV!") { (w, st, en) =>
      // flags per WarpScriptLib.java:2596-2606: only WRAPOPT keeps
      // the string form; the FAST forms and WRAPMV! skip compression
      st.push(WordsFramesBlock.wrapOf(st.pop(),
        raw = w != "WRAPOPT",
        mv = w.startsWith("WRAPMV"),
        compress = !(w == "WRAPFAST" || w == "WRAPFASTRAW" || w == "WRAPMV!"),
        en.toFrame))
    }
    // UNWRAPEMPTY: metadata only (an empty gts with the blob's meta);
    // UNWRAPSIZE: the number of points in the blob
    words("UNWRAPEMPTY") { (w, st, en) =>
      val unwrapped = unwrapOf(st.pop(), en)
      st.push(GtsFrame(unwrapped.limit(0)))
    }
    words("UNWRAPSIZE") { (w, st, en) =>
      val unwrapped = unwrapOf(st.pop(), en)
      st.push(unwrapped.count())
    }

    // ---- MV splits (WarpScriptLib.java:2608-2609 registers MVSPLIT
    // with a tick/index flag). Subset: the optional renaming map is
    // not supported; the split key lands in the '.mvsplit' label
    // (the TIMESPLIT label convention).
    words("MVTICKSPLIT", "MVINDEXSPLIT") { (w, st, en) =>
      val keep: Option[Set[Long]] = st.stack.headOption match {
        case Some(l: Vector[Any @unchecked]) =>
          st.pop(); Some(l.map(en.asLong).toSet)
        case _ => None
      }
      val f = en.toFrame(st.pop())
      val expanded = graft.sources.GtsCodec.mvSplit(f.df)
      val keyCol =
        if (w == "MVTICKSPLIT") col("ts")
        else row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("gtsid"), col("ts"))
          .orderBy(col("vdouble"))).cast("long") - 1
      var out = expanded.withColumn("__mvkey", keyCol)
      keep.foreach(ks => out = out.filter(col("__mvkey").isin(ks.toSeq: _*)))
      st.push(GtsFrame(graft.model.Gts.canonicalRehash(out
        .withColumn("labels", map_concat(col("labels"),
          map(lit(".mvsplit"), col("__mvkey").cast("string"))))
        .drop("__mvkey"))))
    }

    // MVHHCODES (MVEXTRACT LOCATION): per-point location hhcodes
    words("MVHHCODES") { (w, st, en) =>
      val expanded = graft.sources.GtsCodec.mvSplit(en.toFrame(st.pop()).df)
      collectGuard(expanded, w)
      val rows = expanded.select(col("ts"), col("lat"), col("lon"))
        .collect().sortBy(_.getLong(0))
      st.push(rows.map { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) null
        else graft.functions.GeoFunctions.toHHCode(r.getDouble(1), r.getDouble(2)): Any
      }.toVector)
    }

    // ---- METAMATCH (fn/METAMATCH.java): gts selector → do the
    // series match? single-series → BOOLEAN, multi-series frame →
    // per-series boolean list (class,labels order)
    words("METAMATCH") { (w, st, en) =>
      // faithful r13 (mined from the reference's own
      // MetadataSelectorMatcherTest): Selector.matches mirrors
      // MetadataSelectorMatcher.matches — standard-form
      // label-then-attribute fallback, extended-form strict maps,
      // `k=` absence, bare `=`/`~` empty-name classes; attributes
      // come from the engine-side SETATTRIBUTES store
      val sel = graft.sources.Selector.parse(st.popStr())
      st.pop() match {
        // builder face: metadata is on the stack — an EMPTY series
        // still matches (`={}` matches the empty-name metadata in
        // the reference test), which a zero-row frame cannot express
        case b: WarpScriptEngine.GtsBuilder =>
          st.push(sel.matches(b.cls, b.labels, Map.empty))
        case o =>
          val f = en.toFrame(o)
          val matches = graft.model.Gts.seriesMeta(f.df)
            .collect()
            .map(r => (r.getLong(0), r.getString(1),
              r.getMap[String, String](2).toMap))
            .sortBy(t => (t._2, t._3.toString))
            .map { case (id, c, l) =>
              sel.matches(c, l, st.attrs.getOrElse(id, Map.empty))
            }
          if (matches.length == 1) st.push(matches(0))
          else st.push(matches.map(x => x: Any).toVector)
      }
    }

    // ---- SMARTPARSE (fn/SMARTPARSE.java:88-230): named regexp
    // groups over a STRING GTS — (?<VDname>…)/VL/VB/VS value groups
    // become series named after the group, (?<Lxx>…) groups become
    // labels, (?<Ts|Tms|Tus|Tns>…) override the tick, lat/lon/elev
    // set the location. Distributed: regexp_extract_all + posexplode
    // yields one row per matcher.find() hit (the reference loops
    // find(), :150-230 — ALL matches in a string produce points, not
    // just the first), then one branch per value group, unioned — no
    // UDF, no driver loop.
    words("SMARTPARSE") { (w, st, en) =>
      val regexp = st.popStr()
      val f = en.toFrame(st.pop())
      val idx = capturingGroupIndexes(regexp)
      val names = idx.keys.toSeq
      val vgroups = names.filter(n => n.length > 2 && n.startsWith("V"))
      val lgroups = names.filter(n => n.length > 1 && n.startsWith("L"))
      val tgroups = names.filter(n => n.startsWith("T"))
      require(vgroups.nonEmpty, "SMARTPARSE: no (?<V...>) value group in regexp")
      // per-group capture arrays are parallel (one element per find());
      // __mi indexes into them so every group reads the SAME match
      def ex(g: String) = element_at(
        regexp_extract_all(col("vstring"), lit(regexp), lit(idx(g))),
        col("__mi") + 1)
      val base = f.df.filter(col("vstring").isNotNull &&
          col("vstring").rlike(regexp))
        .select(col("*"), posexplode(
          regexp_extract_all(col("vstring"), lit(regexp), lit(0)))
          .as(Seq("__mi", "__match")))
      val labelCols = lgroups.foldLeft(col("labels")) { (acc, g) =>
        when(ex(g) =!= "", map_concat(acc, map(lit(g.drop(1)), ex(g))))
          .otherwise(acc)
      }
      // first T-group that parses wins (Ts seconds, Tms, Tus, Tns)
      val tick = tgroups.foldLeft(col("ts")) { (acc, g) =>
        val scaled =
          if (g.startsWith("Tms")) ex(g).cast("double") * 1000.0
          else if (g.startsWith("Tus")) ex(g).cast("double")
          else if (g.startsWith("Tns")) ex(g).cast("double") / 1000.0
          else ex(g).cast("double") * 1000000.0 // Ts…
        when(ex(g) =!= "", scaled.cast("long")).otherwise(acc)
      }
      val latC = names.find(_ == "lat").map(ex)
      val lonC = names.find(_ == "lon").map(ex)
      val elevC = names.find(_ == "elev").map(ex)
      val latCol = (latC, lonC) match {
        case (Some(la), Some(lo)) =>
          when(la =!= "" && lo =!= "", la.cast("double"))
            .otherwise(lit(null).cast("double"))
        case _ => lit(null).cast("double")
      }
      val lonCol = (latC, lonC) match {
        case (Some(la), Some(lo)) =>
          when(la =!= "" && lo =!= "", lo.cast("double"))
            .otherwise(lit(null).cast("double"))
        case _ => lit(null).cast("double")
      }
      val elevCol = elevC.map(e => when(e =!= "",
          round(e.cast("double")).cast("long"))
        .otherwise(lit(null).cast("long")))
        .getOrElse(lit(null).cast("long"))
      val parts = vgroups.map { g =>
        val tpe = g.charAt(1)
        val raw = ex(g)
        val vt = tpe match {
          case 'L' => graft.model.GtsType.LONG
          case 'D' => graft.model.GtsType.DOUBLE
          case 'B' => graft.model.GtsType.BOOLEAN
          case _ => graft.model.GtsType.STRING
        }
        val vd = tpe match {
          case 'L' | 'D' => raw.cast("double")
          case 'B' => when(lower(raw) === "true", 1.0).otherwise(0.0)
          case _ => lit(null).cast("double")
        }
        base.filter(raw =!= "").select(
          lit(g.drop(2)).as("class"),
          labelCols.as("labels"),
          lit(0L).as("gtsid"),
          tick.as("ts"),
          latCol.as("lat"), lonCol.as("lon"), elevCol.as("elev"),
          lit(vt).as("vtype"),
          (if (tpe == 'L') raw.cast("long") else lit(null).cast("long")).as("vlong"),
          vd.as("vdouble"),
          (if (tpe == 'B') lower(raw) === "true" else lit(null).cast("boolean")).as("vbool"),
          (if (tpe == 'S') raw else lit(null).cast("string")).as("vstring"),
          lit(null).cast("binary").as("vbinary"))
      }
      st.push(GtsFrame(graft.model.Gts.canonicalRehash(
        parts.reduce(_ unionByName _))))
    }

    // ---- fillers (script/filler/Filler*.java builders) + the FILL
    // word over a BUCKETIZE result. filler.value pops the value (or
    // the [lat lon elev value] list form, FillerValue.java:30-60).
    words("filler.previous", "filler.next", "filler.interpolate", "filler.linear",
      "filler.trend", "filler.spline", "filler.akima", "filler.newton") { (w, st, en) =>
      st.push(FillerVal(w))
    }
    words("filler.value") { (w, st, en) =>
      val v = st.pop() match {
        case l: Vector[Any @unchecked] => en.asNum(l.last)
        case n => en.asNum(n)
      }
      st.push(FillerVal(w, v))
    }
    // filler.lowess (FillerLowess.java Builder: `bandwidth [accuracy]
    // filler.lowess` — a DOUBLE on top is the optional accuracy);
    // filler.rlowess adds the robustness-iterations LONG in between
    words("filler.lowess") { (w, st, en) =>
      var acc = 1e-12 // LoessInterpolator.DEFAULT_ACCURACY
      val bw = st.pop() match {
        case d: Double => acc = d; st.popLong()
        case l: Long => l
        case o => throw new IllegalArgumentException(s"$w bandwidth: $o")
      }
      require(acc > 0, s"$w expects a positive accuracy, instead got $acc")
      st.push(LowessFillerVal(w, bw, 0, acc))
    }
    words("filler.rlowess") { (w, st, en) =>
      var acc = 1e-12
      val rob = (st.pop() match {
        case d: Double => acc = d; st.popLong()
        case l: Long => l
        case o => throw new IllegalArgumentException(s"$w robustness: $o")
      }).toInt
      require(rob > 0, s"$w expects a positive robustness")
      val bw = st.popLong()
      require(bw > 1, s"$w expects a bandwidth > 1")
      st.push(LowessFillerVal(w, bw, rob, acc))
    }
    words("MACROFILLER") { (w, st, en) =>
      val m = st.pop() match {
        case m: WsMacro => m
        case o => throw new IllegalArgumentException(s"MACROFILLER expects a macro, got $o")
      }
      st.push(MacroAgg(w, m.tokens))
    }
    words("FILL") { (w, st, en) =>
      val filler = st.pop()
      val b = en.toBucketed(st.pop())
      // every filler but MACROFILLER is a fill rule on the one grid;
      // the interpolators' result holds only the ticks they fill
      def filled(r: KernelOps.FillRule) =
        b.copy(frame = b.frame.fill(b.lastbucket, b.span, b.count, r))
      def interpolated(r: KernelOps.Interpolator) =
        b.copy(frame = GtsFrame(filled(r).frame.df.filter(col("vdouble").isNotNull)))
      val out: Any = filler match {
        case FillerVal("filler.previous", _) => filled(KernelOps.Previous)
        case FillerVal("filler.next", _) => filled(KernelOps.Next)
        case FillerVal("filler.interpolate" | "filler.linear", _) => filled(KernelOps.Linear)
        case FillerVal("filler.value", v) => filled(KernelOps.Value(v))
        case FillerVal("filler.trend", _) => filled(KernelOps.Trend)
        case FillerVal("filler.spline", _) => interpolated(KernelOps.Spline)
        case FillerVal("filler.akima", _) => interpolated(KernelOps.Akima)
        case FillerVal("filler.newton", _) => interpolated(KernelOps.Newton)
        case LowessFillerVal(_, bw, rob, acc) => interpolated(KernelOps.Lowess(bw, rob, acc))
        // MACROFILLER (FILL.java:40-44: the macro gets the missing
        // tick, leaves the fill value) — executor-side ScalarEval
        case MacroAgg(_, tokens) =>
          b.copy(frame = GtsFrame(macroFill(b, tokens)))
        case o => throw new IllegalArgumentException(s"FILL: not a filler: $o")
      }
      st.push(out)
    }

    // ---- sliding-window size constants: MaxTickSlidingWindow.java
    // pushes Long.MAX_VALUE/2; MaxTimeSlidingWindow.java pushes
    // Long.MIN_VALUE/2 (NEGATIVE — MAP's time-window convention)
    words("max.tick.sliding.window") { (w, st, en) => st.push(Long.MaxValue / 2L) }
    words("max.time.sliding.window") { (w, st, en) => st.push(Long.MinValue / 2L) }

    // ---- COUNTER words (fn/COUNTER.java AtomicLong family)
    words("COUNTER") { (w, st, en) => st.push(new java.util.concurrent.atomic.AtomicLong(0L)) }
    words("COUNTERVALUE") { (w, st, en) =>
      st.push(st.pop().asInstanceOf[java.util.concurrent.atomic.AtomicLong].get())
    }
    words("COUNTERDELTA") { (w, st, en) =>
      val delta = st.popLong()
      st.stack.head.asInstanceOf[java.util.concurrent.atomic.AtomicLong]
        .addAndGet(delta)
    }
    words("COUNTERSET") { (w, st, en) =>
      val v = st.popLong()
      st.stack.head.asInstanceOf[java.util.concurrent.atomic.AtomicLong].set(v)
    }
  }

  /** MACROFILLER executor kernel: evaluate the macro at every EMPTY
    * bucket tick (the macro sees the tick, leaves the value; null
    * leaves the bucket unfilled). */
  private def macroFill(b: BucketedFrame, tokens: Vector[WsToken]) = {
    val df = b.frame.df
    val spark = df.sparkSession
    import spark.implicits._
    val first = b.lastbucket - (b.count - 1) * b.span
    val meta = graft.model.Gts.seriesMeta(df)
    val gridDf = spark.range(b.count)
      .select((col("id") * b.span + first).as("__t"))
    val missing = meta.crossJoin(broadcast(gridDf))
      .join(df.select(col("gtsid").as("__g"), col("ts").as("__ts")),
        col("gtsid") === col("__g") && col("__t") === col("__ts"), "left_anti")
      .select(col("gtsid"), col("class"), col("labels"), col("__t").as("ts"))
    val filled = missing
      .select(col("gtsid"), col("class"), col("labels"), col("ts")).as[(Long, String, Map[String, String], Long)]
      .flatMap { case (id, cls, labels, t) =>
        ScalarEval.run(tokens, List(t)) match {
          case (v: Double) :: _ => Some((id, cls, labels, t, v))
          case (v: Long) :: _ => Some((id, cls, labels, t, v.toDouble))
          case null :: _ => None
          case Nil => None
          case o :: _ => throw new IllegalArgumentException(s"MACROFILLER returned $o")
        }
      }.toDF("gtsid", "class", "labels", "ts", "vdouble")
    df.unionByName(graft.model.Gts.canonical(filled))
  }

  private def unwrapOf(v: Any, en: WarpScriptEngine) = v match {
    case f: GtsFrame => graft.sources.GtsCodec.unwrap(f.df)
    case df: org.apache.spark.sql.DataFrame @unchecked if df.columns.contains("blob") =>
      graft.sources.GtsCodec.unwrap(df)
    // reference wire blobs — string, bytes, or list thereof
    // (fn/UNWRAPSIZE.java operates on the same inputs as UNWRAP)
    case s: String => en.materialize(WordsFramesBlock.wrapperBuilder(
      graft.sources.WrapperCodec.unwrapString(s))).df
    case b: Array[Byte] => en.materialize(WordsFramesBlock.wrapperBuilder(
      graft.sources.WrapperCodec.unwrapBytes(b))).df
    case o => throw new IllegalArgumentException(s"unwrap on $o")
  }

  /** Named-group name → capturing-group index for a Java regexp
    * (counts unescaped '(' that start a capturing group — plain or
    * named; '(?:' lookarounds etc. don't count). */
  private[script] def capturingGroupIndexes(regexp: String): Map[String, Int] = {
    val out = Map.newBuilder[String, Int]
    var i = 0
    var group = 0
    var inClass = false
    while (i < regexp.length) {
      regexp.charAt(i) match {
        case '\\' => i += 1
        case '[' => inClass = true
        case ']' => inClass = false
        case '(' if !inClass =>
          if (i + 1 < regexp.length && regexp.charAt(i + 1) == '?') {
            // named group '(?<name>' counts; other (?...) don't
            if (i + 2 < regexp.length && regexp.charAt(i + 2) == '<' &&
                i + 3 < regexp.length && regexp.charAt(i + 3) != '=' &&
                regexp.charAt(i + 3) != '!') {
              group += 1
              val end = regexp.indexOf('>', i + 3)
              out += regexp.substring(i + 3, end) -> group
            }
          } else group += 1
        case _ => ()
      }
      i += 1
    }
    out.result()
  }

  // ---- PACK/UNPACK bit machinery (PACK.java:145-210 format grammar,
  // :88-140 MSB-first bit stream; big-endian specs reverse the value's
  // bit order before emission) ----

  private[script] final case class Spec(tpe: Char, len: Int, bigendian: Boolean)

  private[script] def parseFormat(fmt: String): Seq[Spec] = {
    val out = Seq.newBuilder[Spec]
    var i = 0
    while (i < fmt.length) {
      var big = false
      var t = fmt.charAt(i); i += 1
      var len = 0
      if (t == '<' || t == '>') {
        big = t == '>'
        require(i < fmt.length, "invalid format specification")
        t = fmt.charAt(i); i += 1
        if (t == 'L' || t == 'U') {
          while (i < fmt.length && fmt.charAt(i).isDigit) {
            len = len * 10 + (fmt.charAt(i) - '0'); i += 1
          }
          if (len == 0) len = 64
          require(len <= 64, "max length for 'L'/'U' is 64")
        } else if (t == 'D') len = 64
        else throw new IllegalArgumentException(s"invalid format spec '$t'")
      } else if (t == 'S' || t == 's') {
        while (i < fmt.length && fmt.charAt(i).isDigit) {
          len = len * 10 + (fmt.charAt(i) - '0'); i += 1
        }
        require(len > 0, "skip length must be strictly positive")
      } else if (t == 'B') len = 1
      else throw new IllegalArgumentException(s"invalid format spec '$t'")
      out += Spec(t, len, big)
    }
    out.result()
  }

  private[script] def packBits(fmt: String, values: Vector[Any]): Array[Byte] = {
    val specs = parseFormat(fmt)
    val baos = new java.io.ByteArrayOutputStream()
    var curbyte = 0L
    var nbits = 0
    var vidx = 0
    specs.foreach { s =>
      var value: Long = s.tpe match {
        case 's' => 0L
        case 'S' => -1L
        case _ =>
          val v0 = values(vidx) match {
            case b: Boolean => if (b) 1L else 0L
            case o => o
          }
          vidx += 1
          s.tpe match {
            case 'D' => java.lang.Double.doubleToRawLongBits(v0 match {
              case l: Long => l.toDouble
              case d: Double => d
              case o => throw new IllegalArgumentException(s"PACK D on $o")
            })
            case 'L' | 'U' => v0 match {
              case l: Long => l
              case d: Double => d.toLong
              case o => throw new IllegalArgumentException(s"PACK on $o")
            }
            case 'B' => v0 match {
              case l: Long => if (l != 0) 1L else 0L
              case d: Double => if (d != 0) 1L else 0L
              case o => throw new IllegalArgumentException(s"PACK B on $o")
            }
            case o => throw new IllegalArgumentException(s"PACK spec '$o'")
          }
      }
      if (s.bigendian) {
        value = java.lang.Long.reverse(value)
        if (s.len < 64) value >>>= (64 - s.len)
      }
      var k = 0
      while (k < s.len) {
        curbyte = (curbyte << 1) | (value & 0x1L)
        value >>= 1
        nbits += 1
        if (nbits % 8 == 0) { baos.write((curbyte & 0xffL).toInt); curbyte = 0L }
        k += 1
      }
    }
    if (nbits % 8 != 0) {
      curbyte <<= 8 - (nbits % 8)
      baos.write((curbyte & 0xffL).toInt)
    }
    baos.toByteArray
  }

  private[script] def unpackBits(fmt: String, data: Array[Byte]): Vector[Any] = {
    val specs = parseFormat(fmt)
    def bit(j: Int): Long =
      if (j >= data.length * 8) 0L
      else (data(j / 8) >> (7 - j % 8)) & 0x1L
    val out = Vector.newBuilder[Any]
    var bitno = 0
    specs.foreach { s =>
      if (s.tpe == 'S' || s.tpe == 's') bitno += s.len
      else {
        var value = 0L
        var k = 0
        while (k < s.len) {
          value <<= 1
          value |= (if (s.bigendian) bit(bitno + k) else bit(bitno + s.len - 1 - k))
          k += 1
        }
        bitno += s.len
        s.tpe match {
          case 'D' => out += java.lang.Double.longBitsToDouble(value)
          case 'L' => out += (value << (64 - s.len)) >> (64 - s.len)
          case 'U' => out += value
          case 'B' => out += (value != 0L)
          case _ => ()
        }
      }
    }
    out.result()
  }
}
