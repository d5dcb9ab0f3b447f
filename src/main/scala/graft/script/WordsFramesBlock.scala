package graft.script

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.kernels.KernelOps
import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** The GTS frame words (FETCH/BUCKETIZE/MAP/REDUCE/APPLY family and
  * accessors) and the function-value words (bucketizer.*, mapper.*,
  * reducer.*, op.*, filter.*).
  */
private[script] object WordsFramesBlock {
  import WsToken._
  import WarpScriptEngine._
  import graft.sources.WrapperCodec

  /** gtsid-membership predicate from the engine-side attribute store
    * (SETATTRIBUTES — the authoritative attribute surface, see
    * WordsExt4): series whose attributes satisfy the selector
    * (''/'=' = key ABSENT; '=x'/bare = exact; '~re' = full regex).
    * `matchOnly` disables absence handling (caller resolved it on the
    * label side). The store is driver-resident session state, so the
    * membership list is a tiny isin literal — never a data-path
    * collect. */
  private def attrStorePred(st: State, sel: Map[String, String],
      matchOnly: Boolean = false): Column =
    sel.map { case (k, s) =>
      if (s.isEmpty || s == "=") {
        if (matchOnly) lit(false)
        else {
          val has = st.attrs.collect { case (id, m) if m.contains(k) => id }.toSeq
          if (has.isEmpty) lit(true) else !col("gtsid").isin(has: _*)
        }
      } else {
        val p: String => Boolean =
          if (s.startsWith("~")) {
            val r = ("^(?:" + s.substring(1) + ")$").r
            v => r.matches(v)
          } else { val e = s.stripPrefix("="); v => v == e }
        val ids = st.attrs.collect { case (id, m) if m.get(k).exists(p) => id }.toSeq
        if (ids.isEmpty) lit(false) else col("gtsid").isin(ids: _*)
      }
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** Reference-wrapper decode → stack value: a bucketized wrapper
    * becomes a BucketedFrame (the fill words read the bucket fields),
    * a plain one stays a lightweight GtsBuilder. */
  private def unwrapRefBlob(decoded: (WrapperCodec.Wrapper,
      Vector[WrapperCodec.WPoint]), en: WarpScriptEngine): Any = {
    val b = wrapperBuilder(decoded)
    val w = decoded._1
    if (w.bucketspan != 0 && w.bucketcount != 0)
      BucketedFrame(en.materialize(b), w.lastbucket, w.bucketspan, w.bucketcount)
    else b
  }

  /** The named aggregators behind the bucketizer./mapper./reducer.
    * faces — the three families share implementations, as in the
    * reference (script/aggregator classes). */
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

  /** Reducer null-variant suffixes (WarpScriptLib.java:3295-3339
    * registrations): `.forbid-nulls`/`.nonnull` null out the result
    * when an aligned member is absent; `.exclude-nulls` skips them
    * (Spark's default); `.include-nulls` (count only) counts every
    * aligned slot. Plain reducer.and/or/count default to the strict
    * side, matching their reference constructors. */
  private val NullVariants =
    Seq(".exclude-nulls", ".include-nulls", ".forbid-nulls", ".nonnull")

  private val PointwiseMappers: Map[String, Column => Column] = Map(
    "abs" -> abs, "ceil" -> (v => ceil(v)), "floor" -> (v => floor(v)),
    "round" -> (v => round(v)), "sqrt" -> sqrt, "exp" -> exp, "ln" -> log,
    "tanh" -> tanh,
    "sigmoid" -> (v => lit(1.0) / (lit(1.0) + exp(-v))),
    "tolong" -> (_.cast(org.apache.spark.sql.types.LongType)),
    "todouble" -> (_.cast(org.apache.spark.sql.types.DoubleType)))

  /** Tick-aligned binary ops for APPLY (script/op/Op*.java). */
  private val Ops: Map[String, (Column, Column) => Column] = {
    val dbl = org.apache.spark.sql.types.DoubleType
    // boolean ops over the double-typed frame: truthiness = value != 0,
    // result 1.0/0.0. Strict forms (op.and/op.or, OpBoolean forbidNulls
    // = true) null out when an operand is absent — the explicit isNull
    // guard matters because SQL's 3-valued `false AND null` is false.
    def strictAnd(a: Column, b: Column): Column =
      when(a.isNull || b.isNull, lit(null).cast(dbl))
        .otherwise(((a =!= 0.0) && (b =!= 0.0)).cast(dbl))
    def strictOr(a: Column, b: Column): Column =
      when(a.isNull || b.isNull, lit(null).cast(dbl))
        .otherwise(((a =!= 0.0) || (b =!= 0.0)).cast(dbl))
    Map(
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
  }

  def register(words: WordTable): Unit = {
    // ---- GTS frame words ------------------------------------------------
    // FETCH (fn/FETCH.java list form [ token class labels start stop ];
    // the auth token is accepted and ignored — storage ACLs are the
    // host's concern, not the algebra's)
    words("FETCH") { (w, st, en) =>
      // reference parameterization (fn/FETCH.java:195-218, 1290-1299,
      // 1372): list form [ token class labels end timespan ] with LONG
      // end/timespan → interval [end−timespan+1, end], NEGATIVE
      // timespan = count of most-recent points; STRING 4th/5th = ISO8601
      // (start, end). Map form accepts token/class/labels/start/end
      // (LONG tick or ISO8601)/timespan/count.
      def isoTick(s: String): Long = graft.sources.Formats.isoTick(s)
      // getTimestamp (FETCH.java:1742-1770): Long tick, the literal
      // 'now', a Long string, or ISO-8601
      def tickOf(v: Any): Long = v match {
        case l: Long => l
        case "now" => en.nowTick
        case s: String if s.matches("-?\\d+") => s.toLong
        case s: String => isoTick(s)
        case o => throw new IllegalArgumentException(s"FETCH timestamp: $o")
      }
      // timespan value (computeTimeRange, FETCH.java:1644-1688): Long,
      // Long string, or ISO-8601 duration ('P…'; ambiguous months/
      // years rejected — java.time.Duration shares that restriction)
      def spanOf(v: Any): Long = v match {
        case l: Long => l
        case s: String if s.nonEmpty && s.charAt(0) == 'P' =>
          java.time.Duration.parse(s).toNanos / 1000L
        case s: String if s.matches("-?\\d+") => s.toLong
        case o => throw new IllegalArgumentException(
          s"FETCH Invalid format for parameter 'timespan': $o")
      }
      /** computeTimeRange mirror (FETCH.java:1607-1740 plus the
        * negative-Long-timespan-as-count alias :1292-1303): returns
        * (start, stop, countOpt). Faithful to the reference's edge
        * errors — start/end swap when inverted, 'start'+'end'+
        * 'timespan' all defined rejected, timespan-0 at the open end
        * rejected (the +1/−1 would overflow), 'end' alone without
        * 'count' rejected. */
      def computeRange(startRaw: Option[Any], endRaw: Option[Any],
          tsRaw0: Option[Any], cntRaw0: Option[Any]): (Long, Long, Option[Long]) = {
        val (tsRaw, cntRaw) = tsRaw0 match {
          case Some(t: Long) if t < 0 =>
            require(cntRaw0.isEmpty,
              "FETCH cannot be given both 'count' and negative 'timespan'.")
            // MIN_VALUE negates to itself — bump by one like the
            // reference (FETCH.java:1297-1299)
            val t2 = if (t == Long.MinValue) t + 1 else t
            (None, Some(-t2): Option[Any])
          case _ => (tsRaw0, cntRaw0)
        }
        val count: Option[Long] = cntRaw.map {
          case n: Long =>
            require(n >= 0, s"FETCH 'count' must be >= 0, got $n"); n
          case o => throw new IllegalArgumentException(
            s"FETCH Invalid type for parameter 'count': $o")
        }
        var sOpt = startRaw.map(tickOf)
        var eOpt = endRaw.map(tickOf)
        require(sOpt.nonEmpty || eOpt.nonEmpty,
          "FETCH Missing either 'start' or 'end' parameter.")
        if (sOpt.nonEmpty && eOpt.nonEmpty && sOpt.get > eOpt.get) {
          val t = sOpt; sOpt = eOpt; eOpt = t
        }
        tsRaw.foreach { t =>
          require(sOpt.isEmpty || eOpt.isEmpty, "FETCH Invalid time " +
            "range specification: 'start', 'end' and 'timespan' " +
            "cannot all be defined. Only 2 out of those 3 parameters " +
            "should be defined.")
          val ts = spanOf(t)
          require(ts >= 0, "FETCH 'timespan' cannot be negative.")
          if (eOpt.nonEmpty) {
            require(ts != 0L || eOpt.get != Long.MaxValue,
              "FETCH Cannot set timespan to 0 and end to MAX_VALUE.")
            val s0 = BigInt(eOpt.get) - BigInt(ts) + 1
            sOpt = Some(if (s0 < Long.MinValue) Long.MinValue else s0.toLong)
          } else {
            require(ts != 0L || sOpt.get != Long.MinValue,
              "FETCH Cannot set timespan to 0 and start to MIN_VALUE.")
            val e0 = BigInt(sOpt.get) + BigInt(ts) - 1
            eOpt = Some(if (e0 > Long.MaxValue) Long.MaxValue else e0.toLong)
          }
        }
        require(eOpt.nonEmpty,
          "FETCH Missing 'end' or 'start' and 'timespan' parameter.")
        if (sOpt.isEmpty) {
          require(count.nonEmpty, "FETCH Invalid time range " +
            "specification: 'count' is mandatory if 'start' and " +
            "'timespan' are not specified.")
          sOpt = Some(Long.MinValue)
        }
        (sOpt.get, eOpt.get, count)
      }
      val popped = st.pop()
      // boundary.pre/post (map form only, fn/FETCH.java:125-127): n
      // points per series just OUTSIDE the requested interval;
      // 'boundary' sets both
      val (bPre, bPost) = popped match {
        case params: Map[Any, Any] @unchecked =>
          // the generic key seeds both sides, the SPECIFIC keys then
          // override (FETCH.java:1461-1487 processing order)
          val both = params.get("boundary").collect { case n: Long => n }
          (params.get("boundary.pre").collect { case n: Long => n }
             .orElse(both).getOrElse(0L).toInt,
           params.get("boundary.post").collect { case n: Long => n }
             .orElse(both).getOrElse(0L).toInt)
        case _ => (0, 0)
      }
      // skip/step/timestep/sample/type/gskip/gcount (map form only;
      // FETCH.java:1380-1394 type, :1489-1538 skip/step/timestep/sample,
      // :1561-1584 gskip/gcount — validation bounds mirrored here)
      val (pSkip, pStep, pTimestep, pSample, pType, pGskip, pGcount) =
        popped match {
          case params: Map[Any, Any] @unchecked =>
            def longP(k: String, min: Long, default: Long): Long =
              params.get(k) match {
                case Some(n: Long) =>
                  require(n >= min, s"FETCH Parameter '$k' must be >= $min.")
                  n
                case Some(o) => throw new IllegalArgumentException(
                  s"FETCH Invalid type for parameter '$k': $o")
                case None => default
              }
            val sample = params.get("sample") match {
              case Some(d: Double) =>
                require(d > 0.0 && d <= 1.0,
                  "FETCH Parameter 'sample' must be in the range ( 0.0, 1.0 ].")
                d
              case Some(o) => throw new IllegalArgumentException(
                s"FETCH Invalid type for parameter 'sample': $o")
              case None => 1.0
            }
            val typ = params.get("type").map { o =>
              val t = String.valueOf(o).toLowerCase
              require(Set("long", "double", "string", "boolean")(t),
                "FETCH Invalid value for parameter 'type'.")
              t
            }
            (longP("skip", 0L, 0L), longP("step", 1L, 1L),
              longP("timestep", 1L, 1L), sample, typ,
              longP("gskip", 0L, 0L), longP("gcount", 0L, Long.MaxValue))
          case _ => (0L, 1L, 1L, 1.0, None, 0L, Long.MaxValue)
        }
      // selector forms (FETCH.java:1263-1284 map parse; :495-541 pair
      // processing): 'selectors' = list of full selector strings (each
      // parsed like PARSESELECTOR), 'selpairs' = list of
      // [ classSelector labelsMap ] pairs, 'selector' = one string, or
      // 'class' + 'labels'. A multi-selector fetch is the UNION of the
      // per-selector scans composed into ONE plan, DEDUPED at the
      // series level: StandaloneDirectoryClient.find() collects the
      // multi-selector match set into a LinkedHashSet<Metadata> when
      // classExpr.size() > 1, and iterator() explicitly falls back to
      // find() for multi-selector requests "since we cannot otherwise
      // ensure that we do not have duplicates" — a series matched by
      // several selectors is fetched exactly ONCE. Here each series is
      // assigned to its FIRST matching selector and that selector's
      // scan is restricted to its owned ids, so the per-point pipeline
      // (count/skip/step/timestep/sample, boundaries) runs once per
      // series over a single delivery.
      def selToPair(sel: String): (String, Map[String, String]) = {
        val s = graft.sources.Selector.parse(sel)
        // the reference FETCH rejects attribute blocks here too:
        // PARSESELECTOR.parse's ^([^{]+)\{(.*)\}$ feeds "l}{attrs" into
        // the labels parser, which throws (PARSESELECTOR.java:38,71-93)
        require(!s.extended,
          s"FETCH selector '$sel' must not carry an attribute block " +
            "(use filter.byattr / filter.bylabelsattr).")
        // exact values whose literal begins with '~' or '=' need the
        // explicit '=' exact marker or the storage hook would
        // re-interpret them (GtsFrame.select's selector conventions)
        def exact(v: String) =
          if (v.startsWith("~") || v.startsWith("=")) "=" + v else v
        val c = s.classExact.map(exact)
          .getOrElse("~" + s.classRegex.getOrElse(".*"))
        val l = s.labelExact.map { case (k, v) => k -> exact(v) } ++
          s.labelRegex.map { case (k, v) => k -> ("~" + v) } ++
          // absent assertions travel as the empty value, the
          // selectorPredicate convention for `k=`
          s.labelAbsent.map(k => k -> "").toMap
        (c, l)
      }
      val (selPairs, start, stop, countOpt) = popped match {
        case args: Vector[Any @unchecked] =>
          val (c, l, e4, e5) = args match {
            case Vector(_: String, c0: String, l0: Map[_, _], a, b) =>
              (c0, l0.asInstanceOf[Map[String, String]], a, b)
            case Vector(c0: String, l0: Map[_, _], a, b) =>
              (c0, l0.asInstanceOf[Map[String, String]], a, b)
            case other => throw new IllegalArgumentException(s"FETCH args: $other")
          }
          (e4, e5) match {
            case (end: Long, ts: Long) => // [end − timespan + 1, end];
              // negative timespan = count (FETCH.java:206-207 routes
              // the list form through the same map machinery)
              val (s1, e1, c1) = computeRange(None, Some(end), Some(ts), None)
              (Seq((c, l)), s1, e1, c1)
            case (s0: String, e0: String) =>
              val (s1, e1, c1) = computeRange(Some(s0), Some(e0), None, None)
              (Seq((c, l)), s1, e1, c1)
            case other => throw new IllegalArgumentException(
              "FETCH expects 'start'/'end' Strings or 'end'/'timespan' Longs, got " + other)
          }
        case params: Map[Any, Any] @unchecked =>
          // Keys whose reference semantics this at-rest engine cannot
          // honor are rejected LOUDLY — silently returning different
          // data is worse than an error (see COVERAGE.md "FETCH map
          // parameters"). Genuinely unknown keys are ignored, like the
          // reference's map parse; 'priority' only re-orders label
          // resolution inside the reference directory (a lookup hint),
          // a semantics-neutral no-op here.
          val unsupported = Seq(
            "metaset" -> params.contains("metaset"),
            "gts" -> params.contains("gts"),
            "encoders" -> (params.get("encoders") contains true),
            "merge" -> (params.get("merge") contains false),
            "keepempty" -> (params.get("keepempty") contains true),
            "wtimestamp" -> (params.get("wtimestamp") contains true),
            "ttl" -> (params.get("ttl") contains true),
            "showuuid" -> (params.get("showuuid") contains true))
            .collect { case (k, true) => k }
          require(unsupported.isEmpty, "FETCH parameter(s) " +
            unsupported.mkString("'", "', '", "'") +
            " are not supported by this engine (see COVERAGE.md).")
          val pairs: Seq[(String, Map[String, String])] =
            (params.get("selectors"), params.get("selpairs"),
              params.get("selector")) match {
              case (Some(sels: Vector[Any @unchecked]), _, _) =>
                require(sels.nonEmpty, "FETCH 'selectors' must be non-empty.")
                sels.map(s => selToPair(String.valueOf(s)))
              case (Some(o), _, _) => throw new IllegalArgumentException(
                s"FETCH Invalid parameter 'selectors': $o")
              case (None, Some(sp: Vector[Any @unchecked]), _) =>
                require(sp.nonEmpty, "FETCH 'selpairs' must be non-empty.")
                sp.map {
                  case Vector(c, l: Map[Any, Any] @unchecked) =>
                    (String.valueOf(c),
                      l.map { case (k, v) => k.toString -> String.valueOf(v) })
                  case o => throw new IllegalArgumentException(
                    s"FETCH 'selpairs' entries must be [ class labels ], got $o")
                }
              case (None, Some(o), _) => throw new IllegalArgumentException(
                s"FETCH Invalid parameter 'selpairs': $o")
              case (None, None, Some(sel)) => Seq(selToPair(String.valueOf(sel)))
              case (None, None, None) =>
                val c = String.valueOf(params.getOrElse("class",
                  throw new IllegalArgumentException("FETCH missing " +
                    "'class'/'selector'/'selectors'/'selpairs' parameter.")))
                val l = params.getOrElse("labels", Map.empty[Any, Any])
                  .asInstanceOf[Map[Any, Any]]
                  .map { case (k, v) => k.toString -> String.valueOf(v) }
                Seq((c, l))
            }
          val (s1, e1, c1) = computeRange(params.get("start"),
            params.get("end"), params.get("timespan"), params.get("count"))
          (pairs, s1, e1, c1)
        case o => throw new IllegalArgumentException(
          s"FETCH expects a map or a list as parameter, got $o")
      }
      // active.after / quiet.after (FETCH.java:1443-1455; directory
      // check StandaloneDirectoryClient.java:604-609): series-level
      // liveness gates on each series' LAST ACTIVITY. The reference
      // tracks last activity as ms metadata maintained by ingress; the
      // at-rest analog is the most recent stored tick (exactly the
      // LASTACTIVITY word, fn/LASTACTIVITY.java). Both params arrive
      // in time units and compare at ms resolution (TIME_UNITS_PER_MS
      // division, FETCH.java:1447,1454): keep la >= active.after,
      // keep la < quiet.after.
      val (pActive, pQuiet) = popped match {
        case params: Map[Any, Any] @unchecked =>
          def lp(k: String) = params.get(k).map {
            case n: Long => n
            case _ => throw new IllegalArgumentException(
              s"FETCH Invalid type for parameter '$k'.")
          }
          (lp("active.after"), lp("quiet.after"))
        case _ => (None, None)
      }
      // extra (FETCH.java:1404-1426 validation; :653-672 expansion):
      // for every series of the (activity-gated, paginated) match set,
      // also fetch each extra CLASS under the SAME labels — a
      // LinkedHashSet, so a companion that already matched is not
      // doubled
      val pExtra: Seq[String] = popped match {
        case params: Map[Any, Any] @unchecked =>
          params.get("extra") match {
            case Some(l: Vector[Any @unchecked]) => l.map {
              case s: String => s
              case _ => throw new IllegalArgumentException(
                "FETCH Invalid type for parameter 'extra'.")
            }
            case Some(_) => throw new IllegalArgumentException(
              "FETCH Invalid type for parameter 'extra'.")
            case None => Seq.empty
          }
        case _ => Seq.empty
      }
      // union of the per-selector scans — one Spark plan, no barrier;
      // with a single selector this is exactly the pre-round-10 path
      // session-store builders matched per selector (a builder matched
      // by several selectors contributes once per match, like the
      // storage side), UN-clipped — the activity gate below needs the
      // full-history last tick
      val multiSel = selPairs.size > 1
      val overlaySelectors: Seq[graft.sources.Selector] =
        selPairs.map { case (cls, labels) =>
          val (ce, cr) =
            if (cls.startsWith("~")) (None, Some(cls.drop(1)))
            else if (cls.isEmpty) (None, Some(".*"))
            // strip the '=' exact marker like the label branch below —
            // a class literal starting with '~'/'=' travels as "=~foo"
            else (Some(cls.stripPrefix("=")), None)
          val (lr, le) = labels.partition(_._2.startsWith("~"))
          graft.sources.Selector(ce, cr,
            le.map { case (k, v) => k -> v.stripPrefix("=") },
            lr.map { case (k, v) => k -> v.drop(1) }, Map.empty, Map.empty)
        }
      // LinkedHashSet series dedup on the overlay: the FIRST matching
      // selector owns a builder's series, and EVERY builder of that
      // series delivers there (assignment is by selector predicate,
      // not by builder equality — two UPDATEs of the same series stay
      // two point sets, and multiplicity cannot differ between
      // single- and multi-selector fetches)
      val overlayByPair: Seq[Seq[WarpScriptEngine.GtsBuilder]] =
        overlaySelectors.zipWithIndex.map { case (sel, i) =>
          st.updates.toSeq.filter { b =>
            WordsExt5.matchesBuilder(sel, b) &&
              !overlaySelectors.take(i).exists(
                s2 => WordsExt5.matchesBuilder(s2, b))
          }
        }
      // all-time union subtree: the ACTIVITY-GATE fallback (no
      // maintained metadata) — liveness genuinely needs the
      // full-history last tick. The other directory consumers go
      // through dirMeta below.
      lazy val allTimeStore: DataFrame =
        selPairs.map { case (c, l) =>
          en.fetchPub(c, l, Long.MinValue, Long.MaxValue).df }
          .reduceLeft(_ unionByName _)
      // directory view of one selector pair: (gtsid, labels) of the
      // matching series. With a maintained metadata table (engine
      // `meta` param) this is a FILTER over the one-row-per-series
      // directory — the reference's directory lookup — and never
      // touches point storage; without one it falls back to a
      // full-history scan (pagination and companion expansion are
      // directory-semantics consumers: a series with no in-range
      // points still occupies its page slot / companion labels).
      def dirMeta(c: String, l: Map[String, String]): DataFrame =
        en.metaPub match {
          case Some(m) => m()
            .filter(GtsFrame.selectorPredicate(c, l))
            .select(col("gtsid"), col("class"), col("labels"))
          case None => en.fetchPub(c, l, Long.MinValue, Long.MaxValue).df
            .select(col("gtsid"), col("class"), col("labels"))
        }
      // activity gate: the series page and the delivered points are
      // restricted to series whose LAST ACTIVITY passes the
      // ms-resolution liveness test — the directory-level filter of
      // StandaloneDirectoryClient:604-609. The reference keeps last
      // activity as directory metadata maintained by ingress on every
      // write; when the host supplies that table (engine `meta`
      // param), the gate reads it directly — the tiny one-row-per-
      // series directory, no point-history scan. Session-overlay
      // builders (UPDATE) contribute their in-memory last ticks on
      // both paths, exactly like ingress bumping the metadata. The
      // full-history max(ts) aggregate remains the FALLBACK for
      // stores without a maintained directory.
      val activityIds: Option[DataFrame] =
        if (pActive.isEmpty && pQuiet.isEmpty) None
        else {
          val overlayTicks = overlayByPair.flatten
            .map(b => en.materialize(b).df.select(col("gtsid"), col("ts")))
          val baseTicks = en.metaPub match {
            case Some(m) => m().select(
              col("gtsid"), col("lastactivity").as("ts"))
            case None => allTimeStore.select(col("gtsid"), col("ts"))
          }
          val allTicks = overlayTicks.foldLeft(baseTicks)(_ unionByName _)
          val la = allTicks.groupBy(col("gtsid")).agg(max(col("ts")).as("la"))
          val laMs = expr("la DIV 1000")
          val cond = Seq(
            pActive.map(a => laMs >= lit(a / 1000L)),
            pQuiet.map(q => laMs < lit(q / 1000L))).flatten.reduce(_ && _)
          Some(la.where(cond).select(col("gtsid")))
        }
      // both directory-derived id sets are metadata-sized (one row per
      // matched series — the reference's directory fits its Directory
      // service), so the point-scan prunes are BROADCAST semi-joins:
      // without the hint Spark cannot size the window-over-aggregate
      // build side and plans sort-merge joins, adding two exchanges +
      // sorts per selector scan (w122 paid ~6 extra stages per page)
      def activityBound(f: GtsFrame): GtsFrame = activityIds
        .map(ids => GtsFrame(f.df.join(broadcast(ids), Seq("gtsid"),
          "left_semi")))
        .getOrElse(f)
      // series pagination BEFORE per-point work (the reference selects
      // the metadata page before scanning points, FETCH.java:325-331).
      // The page ranks over the DIRECTORY match set — the selector's
      // all-time series (the FIND path's scan) plus the session
      // overlay — NOT just the series with points in [start, stop]:
      // a series that is empty in-range still occupies its page slot
      // (its boundary points may be delivered) exactly like the
      // reference's metadata-level pagination.
      val pagedIds: Option[org.apache.spark.sql.DataFrame] =
        if (pGskip > 0 || pGcount != Long.MaxValue) {
          val storeIds = selPairs
            .map { case (c, l) => dirMeta(c, l).select(col("gtsid")) }
            .reduceLeft(_ unionByName _)
          val directory = overlayByPair.flatten
            .map(b => en.materialize(b).df.select(col("gtsid")))
            .foldLeft(storeIds)(_ unionByName _)
          val dir2 = activityIds
            .map(ids => directory.join(broadcast(ids), Seq("gtsid"),
              "left_semi"))
            .getOrElse(directory)
          Some(GtsFrame.pageIds(dir2, pGskip, pGcount))
        } else None
      def pageBound(f: GtsFrame): GtsFrame = pagedIds
        .map(ids => GtsFrame(f.df.join(broadcast(ids), Seq("gtsid"),
          "left_semi")))
        .getOrElse(f)
      // EACH selector scan runs the whole per-point pipeline
      // independently — the reference's storage streams one scan per
      // directory match, so count/skip/step/timestep/sample and the
      // boundary trims apply PER SELECTOR, not to the unioned rows
      // (on the union, a series matched by two selectors would have
      // its duplicate copies consume the rank slots). The directory-
      // level gates (activity, pagination) stay global, like the
      // reference's directory. Single-selector fetches compose the
      // exact pre-round-10 plan.
      def perScan(scan: (Long, Long) => GtsFrame,
                  overlayBs: Seq[WarpScriptEngine.GtsBuilder],
                  bound: GtsFrame => GtsFrame,
                  extraRanged: Option[DataFrame] = None): GtsFrame = {
        val ranged = scan(start, stop)
        // merge session-store series written by UPDATE (fn/UPDATE.java —
        // the standalone reference reads back through its embedded
        // store) BEFORE count trimming, so `count` sees the whole store
        // like the reference's unified StoreClient does; `extraRanged`
        // is the companion path's pre-clipped overlay frame
        val merged = {
          val mine = overlayBs
            .map(b => b.copy(points = b.points.filter(
              p => p._1 >= start && p._1 <= stop)))
            .filter(_.points.nonEmpty)
          GtsFrame((mine.map(b => en.materialize(b).df) ++ extraRanged.toSeq)
            .foldLeft(ranged.df)(_ unionByName _))
        }
        val paged = bound(merged)
        val counted =
          if (pSkip > 0 || pStep > 1 || pTimestep > 1 || pSample < 1.0)
            paged.fetchPostFilters(pSkip, pStep, pTimestep, pSample, countOpt)
          else countOpt match {
            case Some(n) =>
              paged.lastN(math.min(n, Int.MaxValue.toLong).toInt)
            case None => paged
          }
        // boundary points come from storage complements (session-store
        // points outside the interval are not boundary candidates);
        // under gskip/gcount they cover only the paginated series
        var acc = counted
        if (bPre > 0 && start > Long.MinValue)
          acc = GtsFrame(acc.df.unionByName(bound(
            scan(Long.MinValue, start - 1)).lastN(bPre).df))
        if (bPost > 0 && stop < Long.MaxValue)
          acc = GtsFrame(acc.df.unionByName(bound(
            scan(stop + 1, Long.MaxValue)).firstN(bPost).df))
        acc
      }
      val selectorBound: GtsFrame => GtsFrame =
        f => pageBound(activityBound(f))
      // store-side LinkedHashSet dedup (multi-selector only): each
      // gtsid is owned by the FIRST selector whose scan matches it —
      // one metadata-level aggregate over the per-selector directory
      // scans, then a broadcast semi-join prunes each point scan to
      // its owned series. Single-selector fetches keep the exact
      // pre-round-11 plan (no semi-join).
      val ownedIds: Option[Seq[DataFrame]] =
        if (!multiSel) None
        else {
          // ownership needs only the series that can deliver points
          // from the ranges perScan actually reads — [start, stop]
          // plus the boundary complements when requested. Identical
          // per-selector row sets mean identical min-selector
          // assignment, so the meta-less fallback stays time-pruned
          // instead of paying a full-history scan per selector.
          val (oStart, oStop) = (
            if (bPre > 0) Long.MinValue else start,
            if (bPost > 0) Long.MaxValue else stop)
          val dirAll = selPairs.zipWithIndex.map { case ((c, l), i) =>
            (en.metaPub match {
              case Some(m) => m().filter(GtsFrame.selectorPredicate(c, l))
              case None => en.fetchPub(c, l, oStart, oStop).df
            }).select(col("gtsid")).withColumn("sidx", lit(i))
          }.reduceLeft(_ unionByName _)
          val first = dirAll.groupBy(col("gtsid"))
            .agg(min(col("sidx")).as("sidx"))
          Some(selPairs.indices.map(i =>
            first.where(col("sidx") === i).select(col("gtsid"))))
        }
      val selectorFrames = selPairs.zip(overlayByPair).zipWithIndex.map {
        case (((c, l), o), i) =>
          val scan: (Long, Long) => GtsFrame = ownedIds match {
            case Some(own) => (a, b) => GtsFrame(en.fetchPub(c, l, a, b).df
              .join(broadcast(own(i)), Seq("gtsid"), "left_semi"))
            case None => (a, b) => en.fetchPub(c, l, a, b)
          }
          perScan(scan, o, selectorBound).df
      }
      // extra companions: derived from the DELIVERED match set (after
      // the activity gate and the page, FETCH.java:653 runs on the
      // iterated metadatas) — distinct companion gtsids = hash(extra
      // class, matched labels) minus the already-matched ids, fetched
      // as ONE ids-pruned match-all scan; the activity/page bounds do
      // NOT re-apply to companions (they are additions, not matches)
      val companionFrames: Seq[DataFrame] =
        if (pExtra.isEmpty) Seq.empty
        else {
          val storeMeta = selPairs
            .map { case (c, l) => dirMeta(c, l) }
            .reduceLeft(_ unionByName _)
          val matchedMeta = overlayByPair.flatten
            .map(b => en.materialize(b).df.select(col("gtsid"), col("class"),
              col("labels")))
            .foldLeft(storeMeta)(_ unionByName _)
          val matched = graft.model.Gts.seriesMeta(selectorBound(GtsFrame(matchedMeta)).df)
          val companionIds = pExtra.map { cls =>
            matched.select(
              graft.model.Gts.gtsIdCol(lit(cls), col("labels")).as("gtsid"))
          }.reduceLeft(_ unionByName _)
            .except(matched.select(col("gtsid"))) // the LinkedHashSet dedup
          // the companion classes are LITERAL names — push each down as
          // an exact-class scan instead of a match-all scan, then prune
          // by the broadcast id set ('~'/'='-prefixed names travel via
          // the '=' exact marker)
          def exactCls(cls: String) =
            if (cls.startsWith("~") || cls.startsWith("=")) "=" + cls else cls
          def companionScan(a: Long, b: Long): GtsFrame = {
            val base = pExtra.map(c => en.fetchPub(exactCls(c), Map.empty, a, b).df)
              .reduceLeft(_ unionByName _)
            GtsFrame(base.join(broadcast(companionIds), Seq("gtsid"),
              "left_semi"))
          }
          // session overlay of companion classes participates in the
          // RANGED window only, like the selector scans' overlay merge
          // (boundary points come from storage complements on every
          // path — the overlay is never a boundary candidate)
          val overlayDf: Option[DataFrame] = {
            val mine = st.updates.toSeq
              .filter(b => pExtra.contains(b.cls))
              .map(b => en.materialize(b).df)
            if (mine.isEmpty) None
            else Some(mine.reduceLeft(_ unionByName _)
              .filter(col("ts") >= start && col("ts") <= stop)
              .join(broadcast(companionIds), Seq("gtsid"), "left_semi"))
          }
          Seq(perScan(companionScan, Seq.empty, identity,
            extraRanged = overlayDf).df)
        }
      val fetched = {
        val unioned = GtsFrame((selectorFrames ++ companionFrames)
          .reduceLeft(_ unionByName _))
        // value-type forcing happens at decode time in the reference
        // (GTSDecoder.decode(type)), i.e. AFTER boundary fetches
        pType.map(unioned.forceType).getOrElse(unioned)
      }
      // ACCEL.* directives -> Spark storage level for the fetched frame
      // (fn/ACCELCACHE.java family; see WordsExt5)
      if (st.accelCache || st.accelPersist) {
        val level =
          if (st.accelCache && st.accelPersist)
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
          else if (st.accelCache)
            org.apache.spark.storage.StorageLevel.MEMORY_ONLY
          else org.apache.spark.storage.StorageLevel.DISK_ONLY
        en.persistForProgram(fetched.df, level)
      }
      st.push(fetched)
    }

    // BUCKETIZE (fn/BUCKETIZE.java): [ gts bucketizer lastbucket span count ]
    words("BUCKETIZE") { (w, st, en) =>
      val args = st.pop().asInstanceOf[Vector[Any]]
      val n = args.length
      val (count, span, lb) =
        (en.asLong(args(n - 1)), en.asLong(args(n - 2)), en.asLong(args(n - 3)))
      args(n - 4) match {
        case av: AggVal =>
          val bucketed = en.framesOf(args.take(n - 4)).bucketizeAuto(av.agg, lb, span, count)
          // explicit params → carry them for downstream fill words; auto
          // params → plain frame (metadata was data-derived inside)
          st.push(if (span > 0 && lb != 0) BucketedFrame(bucketed, lb, span, count)
            else bucketed)
        case MacroAgg(_, tokens) =>
          st.push(GtsFrame(MacroKernel.macroBucketize(
            en.framesOf(args.take(n - 4)).df, tokens, lb, span)))
        case o => throw new IllegalArgumentException(s"not a bucketizer: $o")
      }
    }

    // MAP (fn/MAP.java): list form [ gts... mapper pre post occurrences
    // [step] ] — negative pre/post = time span, positive = tick count
    // (GTSHelper.java:6440); occurrences may be a LIST of output ticks
    // (the ticks override, MAP.java:96); or the 2015 dictionary form
    // { 'mapper' 'pre' 'post' 'occurrences' 'step' } over a GTS list
    words("MAP") { (w, st, en) =>
      def isMapper(v: Any): Boolean = v match {
        case _: AggVal | _: MapperCol | _: MapperDf | _: MacroAgg |
             _: WordsExt3.WsInterp | _: WordsExt5.WsPoly => true
        case _ => false
      }
      def evalMap(fr: GtsFrame, mapper: Any, pre: Long, post: Long,
          occObj: Any, step: Int): Unit = {
        require(step >= 1, "MAP expects a step parameter which is strictly positive.")
        (mapper, occObj) match {
          case (av: AggVal, ticks: Vector[Any @unchecked]) =>
            // explicit output-tick list (GTSHelper.java:6389-6432);
            // only the look-back half is implemented — refuse a post
            // window instead of silently dropping it
            require(post == 0,
              "MAP ticks override supports pre windows only (post must be 0)")
            st.push(GtsFrame(fr.mapWindowAtTicks(av.agg, pre,
              ticks.map(en.asLong), dedup = true)))
          case (_, _: Vector[_]) => throw new IllegalArgumentException(
            "MAP ticks override needs a named aggregator mapper")
          case (av: AggVal, occ) =>
            val mapped = fr.mapWindow(av.agg, pre, post, step, en.asLong(occ))
            // a window mapper producing null drops the tick — only the
            // dotproduct family can (|window| != |ω|,
            // MapperDotProduct.java:70); named aggs never return null
            st.push(if (av.name.startsWith("mapper.dotproduct"))
              GtsFrame(mapped.df.filter(col("vdouble").isNotNull))
            else mapped)
          case (m, occ) =>
            require(step == 1,
              s"MAP step is supported for aggregator mappers (got ${m.getClass.getSimpleName})")
            m match {
              case MapperCol(_, f) =>
                // a mapper producing no value drops the tick (the
                // comparison mappers MapperEQ/GT/... return null)
                st.push(GtsFrame(fr.df.withColumn("vdouble", f(col("vdouble")))
                  .filter(col("vdouble").isNotNull)))
              case MapperDf(_, f) => st.push(GtsFrame(f(fr.df)))
              // 1D interpolant as mapper (INTERPOLATOR_1D.java):
              // out-of-range → NaN, point kept
              case i: WordsExt3.WsInterp =>
                st.push(GtsFrame(fr.df.withColumn("vdouble",
                  i.columnExpr(col("vdouble")))))
              // POLYFUNC mapper face: Horner on the TICK
              case p: WordsExt5.WsPoly =>
                st.push(GtsFrame(fr.df.withColumn("vdouble",
                  p.columnExpr(col("ts").cast("double")))))
              case MacroAgg(_, tokens) =>
                st.push(GtsFrame(MacroKernel.macroMap(fr.df, tokens, pre,
                  post, en.asLong(occ))))
              case o => throw new IllegalArgumentException(s"not a mapper: $o")
            }
        }
      }
      st.pop() match {
        case params: Map[Any, Any] @unchecked =>
          val fr = en.framesOf(Seq(st.pop()))
          val mapper = params.getOrElse("mapper",
            throw new IllegalArgumentException("MAP Missing 'mapper' parameter."))
          evalMap(fr, mapper,
            en.asLong(params.getOrElse("pre", 0L)),
            en.asLong(params.getOrElse("post", 0L)),
            params.getOrElse("occurrences", 0L),
            en.asLong(params.getOrElse("step", 1L)).toInt)
        case args0: Vector[Any @unchecked] =>
          val mi = args0.indexWhere(isMapper)
          require(mi > 0, "MAP expects Geo Time Series then a mapper function.")
          val tail = args0.drop(mi + 1)
          require(tail.size >= 2 && tail.size <= 4,
            "MAP expects [ gts... mapper pre post occurrences [step] ]")
          evalMap(en.framesOf(args0.take(mi)), args0(mi),
            en.asLong(tail(0)), en.asLong(tail(1)),
            if (tail.size >= 3) tail(2) else 0L,
            if (tail.size >= 4) en.asLong(tail(3)).toInt else 1)
        case o => throw new IllegalArgumentException(
          s"MAP expects a list as input or a map of parameters, got $o")
      }
    }

    // REDUCE (fn/REDUCE.java): [ gts... [labels] reducer ] — NULL
    // labels partitions by the series' FULL label sets
    // (GTSHelper.partition: eqcls.putAll(labels)); the EMPTY list is
    // the one-global-class form
    words("REDUCE") { (w, st, en) =>
      val args = st.pop().asInstanceOf[Vector[Any]]
      val (labels, byAll) = args(args.length - 2) match {
        case null => (Vector.empty[String], true)
        case v: Vector[Any @unchecked] => (v.map(_.toString), false)
        case o => throw new IllegalArgumentException(
          s"REDUCE expects a list of label names or null, got $o")
      }
      args.last match {
        case av: AggVal =>
          // REDUCE emits the flattened shape (labels..., ts, vdouble);
          // null-variant flags come from the reducer name
          st.push(GtsFrame(en.framesOf(args.take(args.length - 2))
            .reduce(av.agg, labels.toSeq, av.forbidNulls, av.includeNulls,
              byAllLabels = byAll)))
        case ArgMinMaxVal(_, lbl, count, isArgmin) =>
          st.push(GtsFrame(en.framesOf(args.take(args.length - 2))
            .reduceArg(lbl, count, isArgmin, labels.toSeq, byAllLabels = byAll)))
        case MacroAgg(_, tokens) =>
          st.push(GtsFrame(MacroKernel.macroReduce(
            en.framesOf(args.take(args.length - 2)).df, tokens, labels.toSeq)))
        case o => throw new IllegalArgumentException(s"not a reducer: $o")
      }
    }

    // FILTER (fn/FILTER.java): [ gts... [labels] filter ]
    words("FILTER") { (w, st, en) =>
      val args = st.pop().asInstanceOf[Vector[Any]]
      args.last match {
        case fv: FilterVal =>
          st.push(en.framesOf(args.take(args.length - 2))
            .filterSeries(fv.pred, fv.anyPred, fv.negate))
        // filter.latencies (LatencyFilter.java:202): the FIRST operand
        // list is the uplink (exactly one series), the remaining
        // operand lists are the downlinks, one per series in list order
        case LatencyFilterVal(_, minLat, maxLat, options) =>
          val operands = args.take(args.length - 2)
          require(operands.length >= 2,
            "filter.latencies expects [ [uplink] [downlink]... ]")
          val up = en.toFrame(operands.head)
          // LatencyFilter.java:209: the first operand list must hold
          // exactly one series
          require(up.df.select(col("gtsid")).distinct().limit(2).count() == 1,
            "filter.latencies expects exactly one uplink series")
          val downs = operands.tail.flatMap {
            case v: Vector[Any @unchecked] => v.map(en.toFrame)
            case o => Seq(en.toFrame(o))
          }
          st.push(GtsFrame(up.latencyFilterSeries(
            downs.toSeq, minLat, maxLat, options)))
        case MacroAgg(_, tokens) =>
          st.push(GtsFrame(MacroKernel.filterSeries(
            en.framesOf(args.take(args.length - 2)).df, tokens)))
        case o => throw new IllegalArgumentException(s"not a filter: $o")
      }
    }

    // APPLY (fn/APPLY.java): [ [gts-a] [gts-b] ... [labels] op ] — two
    // or more operand sets; N-ary evaluation for the ops whose
    // reference implementations accept the whole aligned value array
    words("APPLY") { (w, st, en) =>
      val args = st.pop().asInstanceOf[Vector[Any]]
      val opv = args.last match {
        case o: OpVal => o
        case o => throw new IllegalArgumentException(s"not an op: $o")
      }
      val (labels, byAll) = args(args.length - 2) match {
        case null => (Seq.empty[String], true) // partition by FULL label sets
        case v: Vector[Any @unchecked] => (v.map(_.toString).toSeq, false)
        case o => throw new IllegalArgumentException(
          s"APPLY expects a list of label names or null, got $o")
      }
      val operands = args.take(args.length - 2).map(en.toFrame)
      require(operands.length >= 2, "APPLY needs at least two GTS operands")
      // intra-side aggregate per N-ary op (the reference's value array
      // has a slot per member; its N-ary ops are commutative folds)
      val nArySideAgg: Map[String, Column => Column] = Map(
        "op.add" -> (c => sum(c)), "op.add.ignore-nulls" -> (c => sum(c)),
        "op.mul" -> (c => product(c)), "op.mul.ignore-nulls" -> (c => product(c)),
        "op.and" -> (c => min(when(c =!= 0.0, 1.0).otherwise(0.0))),
        "op.and.ignore-nulls" -> (c => min(when(c =!= 0.0, 1.0).otherwise(0.0))),
        "op.or" -> (c => max(when(c =!= 0.0, 1.0).otherwise(0.0))),
        "op.or.ignore-nulls" -> (c => max(when(c =!= 0.0, 1.0).otherwise(0.0))))
      val out = opv.name match {
        case "op.mask" =>
          require(operands.length == 2, "op.mask takes exactly two operands")
          operands(0).mask(operands(1), labels)
        case "op.negmask" =>
          require(operands.length == 2, "op.negmask takes exactly two operands")
          operands(0).mask(operands(1), labels, negate = true)
        // N-ary-capable ops ALWAYS take the fold path — the reference
        // evaluates them over every aligned member even with two
        // operand sets (applyNAryFunction feeds OpAdd all slots)
        case n if nArySideAgg.contains(n) =>
          operands.head.applyOpN(operands.tail, opv.f, nArySideAgg(n),
            labels, byAllLabels = byAll)
        case _ if operands.length == 2 =>
          operands(0).applyOp(operands(1), opv.f, labels, byAllLabels = byAll)
        // the reference's binary-only ops emit null for every tick when
        // given more operands (op/OpSub.java:40 commented-out throw) —
        // an explicit error is the recognizable version of that
        case n => throw new IllegalArgumentException(
          s"$n can only be applied to two Geo Time Series")
      }
      // APPLY emits the flattened shape (labels..., ts, vdouble)
      st.push(GtsFrame(out))
    }

    // structural frame words — direct GtsFrame methods
    // fill words (fn/FILLPREVIOUS.java etc.): operate on a BUCKETIZE
    // result, bucket params read from the carried metadata
    // fills preserve bucketization metadata, as the reference keeps
    // lastbucket/span/count on the filled GTS (GTSHelper.fill)
    words("FILLPREVIOUS") { (w, st, en) =>
      val b = en.toBucketed(st.pop())
      st.push(b.copy(frame = b.frame.fill(b.lastbucket, b.span, b.count, KernelOps.Previous)))
    }
    words("FILLNEXT") { (w, st, en) =>
      val b = en.toBucketed(st.pop())
      st.push(b.copy(frame = b.frame.fill(b.lastbucket, b.span, b.count, KernelOps.Next)))
    }
    words("FILLVALUE") { (w, st, en) => // [ lat lon elev value ] list form; value used
      val v = st.pop() match {
        case l: Vector[_] => en.asNum(l.last)
        case n => en.asNum(n)
      }
      val b = en.toBucketed(st.pop())
      st.push(b.copy(frame = b.frame.fill(b.lastbucket, b.span, b.count, KernelOps.Value(v))))
    }
    words("INTERPOLATE") { (w, st, en) =>
      val b = en.toBucketed(st.pop())
      st.push(b.copy(frame = b.frame.fill(b.lastbucket, b.span, b.count, KernelOps.Linear)))
    }
    // DEDUP (fn/DEDUP.java → GTSHelper.dedup:7193-7216): keep ONE point
    // per tick — the reference keeps "the last value found for a given
    // timestamp" in backing-array (append) order. A stack-built series
    // still CARRIES that order (GtsBuilder.points is the append
    // vector), so dedup it exactly: last occurrence per tick, original
    // order otherwise. Storage-backed frames have no append order (the
    // long table is ts-keyed, where the two rules coincide) and use
    // GtsFrame.dedup's canonical-max determinization — see COVERAGE.md.
    words("DEDUP") { (w, st, en) =>
      st.pop() match {
        case b: WarpScriptEngine.GtsBuilder =>
          val lastIdx = b.points.zipWithIndex
            .groupBy(_._1._1).map { case (ts, ps) => (ts, ps.last._2) }
          st.push(b.copy(points = b.points.zipWithIndex
            .filter { case (p, i) => lastIdx(p._1) == i }.map(_._1)))
        case other => st.push(en.keepBuckets(other)(_.dedup()))
      }
    }
    // COMPACT (fn/COMPACT.java → GTSHelper.compact preserveRanges
    // false): run starts + the series' last point
    words("COMPACT") { (w, st, en) =>
      st.push(en.keepBuckets(st.pop())(_.compact(preserveRanges = false)))
    }
    words("ISONORMALIZE") { (w, st, en) => st.push(en.keepBuckets(st.pop())(_.isonormalize())) }
    // RENAME / RELABEL (fn/RENAME.java, fn/RELABEL.java) — also valid
    // on a NEWGTS builder before materialization
    words("RENAME") { (w, st, en) =>
      val n = st.popStr(); st.pop() match {
        case b: GtsBuilder =>
          st.push(b.copy(cls = if (n.startsWith("+")) b.cls + n.substring(1) else n))
        // metadata-only op: bucketization survives (the reference
        // mutates the GTS's Metadata, bucket fields untouched)
        case bf @ BucketedFrame(f, _, _, _) =>
          st.push(bf.copy(frame = f.rename(n)))
        case f => st.push(en.toFrame(f).rename(n))
      }
    }
    words("RELABEL") { (w, st, en) =>
      // a NULL KEY means "drop the existing labels first"; a null or
      // empty value removes that label (GTSHelper.relabel:6713-6734)
      val raw = st.pop().asInstanceOf[Map[Any, Any]]
      val reset = raw.keys.exists(_ == null)
      val m = raw.collect { case (k, v) if k != null =>
        k.toString -> (if (v == null) "" else v.toString) }
      st.pop() match {
        case b: GtsBuilder =>
          val (removes, sets) = m.partition(_._2.isEmpty)
          val base = if (reset) Map.empty[String, String] else b.labels
          st.push(b.copy(labels = (base ++ sets) -- removes.keys))
        // metadata-only op: bucketization survives
        case bf @ BucketedFrame(f, _, _, _) =>
          st.push(bf.copy(frame = f.relabel(m, reset)))
        case f => st.push(en.toFrame(f).relabel(m, reset))
      }
    }
    // NEWGTS / ADDVALUE (fn/NEWGTS.java, fn/ADDVALUE.java): build a GTS
    // from literals on the stack; materializes into a one-series frame
    // when a frame word consumes it. `gts ts lat lon elev value ADDVALUE`
    // — NaN lat/lon and NULL elev mean absent, as in the reference.
    words("NEWGTS", "NEWENCODER") { (w, st, en) =>
      st.push(GtsBuilder("", Map.empty, Vector.empty))
    }
    words("ADDVALUE") { (w, st, en) =>
      // reference arities (ADDVALUE.java:14-56): five scalars
      // `ts lat lon elev value`, or ONE [ts lat lon elev value] tuple
      // (the mapper-result shape)
      val (ts, lat, lon, elevRaw, rawV) = st.pop() match {
        case tup: Vector[Any @unchecked] if tup.size == 5 =>
          (en.asLong(tup(0)), en.asNum(tup(1)), en.asNum(tup(2)), tup(3), tup(4))
        case value =>
          val elev = st.pop(); val lon = st.popNum(); val lat = st.popNum()
          (st.popLong(), lat, lon, elev, value)
      }
      val v: Any = rawV match {
        case l: Long => l
        case d: Double => d
        case b: Boolean => b
        case str: String => str
        case bin: Array[Byte] => bin
        case o => throw new IllegalArgumentException(s"ADDVALUE value: $o")
      }
      val elev = elevRaw match {
        case null => None
        case l: Long => Some(l)
        case d: Double if !d.isNaN => Some(d.toLong)
        case _ => None
      }
      st.pop() match {
        case b: GtsBuilder =>
          val loc = if (lat.isNaN || lon.isNaN) None else Some((lat, lon))
          st.push(b.copy(points = b.points :+ (ts, loc, elev, v)))
        case o => throw new IllegalArgumentException(s"ADDVALUE on $o")
      }
    }
    // accessor words (fn/FIRSTTICK.java, LASTTICK, TICKS, VALUES, NAME,
    // LABELS, SIZE-for-GTS handled under SIZE): driver-side scalars over
    // the frame — tiny aggs, same contract as GtsFrame auto-params
    // GtsBuilder fast-paths: driver-side metadata (NEWGTS results, FIND
    // results) answers accessor words with zero Spark actions
    // a BUCKETIZED operand answers from its bucket fields
    // (GTSHelper.firsttick:6882-6885, lasttick:6913-6915); an empty
    // unbucketized one returns the reference's MAX/MIN sentinels
    words("FIRSTTICK") { (w, st, en) =>
      st.pop() match {
        case b: GtsBuilder =>
          st.push(if (b.points.isEmpty) Long.MaxValue else b.points.map(_._1).min)
        case bf: BucketedFrame =>
          val c = en.toBucketed(bf)
          st.push(c.lastbucket - (c.count - 1) * c.span)
        case o =>
          val r = en.toFrame(o).df.agg(min(col("ts"))).head()
          st.push(if (r.isNullAt(0)) Long.MaxValue else r.getLong(0))
      }
    }
    words("LASTTICK") { (w, st, en) =>
      st.pop() match {
        case b: GtsBuilder =>
          st.push(if (b.points.isEmpty) Long.MinValue else b.points.map(_._1).max)
        case BucketedFrame(_, lb, _, _) => st.push(lb)
        case o =>
          val r = en.toFrame(o).df.agg(max(col("ts"))).head()
          st.push(if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
      }
    }
    words("NAME") { (w, st, en) =>
      st.pop() match {
        case b: GtsBuilder => st.push(Vector(b.cls: Any))
        case o => st.push(en.toFrame(o).df.select(col("class")).distinct()
          .collect().map(_.getString(0)).sorted.toVector)
      }
    }
    // LABELS (fn/LABELS.java — the labels map of a single GTS; a frame
    // holding several distinct label sets has no single answer)
    words("LABELS") { (w, st, en) =>
      st.pop() match {
        case b: GtsBuilder => st.push(b.labels.asInstanceOf[Map[Any, Any]])
        case o =>
          val maps = graft.model.Gts.seriesMeta(en.toFrame(o).df)
            .collect().map(_.getMap[String, String](2).toMap).distinct
          maps match {
            case Array(one) => st.push(one.asInstanceOf[Map[Any, Any]])
            case _ => throw new IllegalArgumentException(
              s"LABELS needs a single-series frame, found ${maps.length} label sets")
          }
      }
    }
    // CLONEEMPTY (fn/CLONEEMPTY.java): same shape, zero points
    // cloneEmpty COPIES the bucket fields (GeoTimeSerie.java:369-375)
    words("CLONEEMPTY") { (w, st, en) =>
      st.push(en.keepBuckets(st.pop())(f =>
        GtsFrame(f.df.limit(0))))
    }
    // TICKLIST (GTSHelper.tickList:1310-1318): one entry PER POINT in
    // the CURRENT order — no dedup, no sort (TICKS is the set+sort
    // word). Builder: append order; frame: canonical tick order with
    // duplicates kept (the old distinct() dropped duplicate ticks)
    words("TICKLIST") { (w, st, en) =>
      st.pop() match {
        case b: WarpScriptEngine.GtsBuilder =>
          st.push(b.points.map(_._1).toVector)
        case o => st.push(en.toFrame(o).df.select(col("ts"))
          .collect().map(_.getLong(0)).sorted.toVector)
      }
    }
    // CORRELATE (continuum/gts/CORRELATE.java, faithful r11): base-gts
    // [gts...] [offsets] CORRELATE → per input series a lag cross-
    // correlation GTS (ticks = offsets); operands must share the
    // bucketspan and offsets must be multiples of it — validated when
    // both operands carry BUCKETIZE metadata
    words("CORRELATE") { (w, st, en) =>
      val offsets = st.pop().asInstanceOf[Vector[Any]].map(en.asLong)
      val othersObj = st.pop(); val baseObj = st.pop()
      (baseObj, othersObj) match {
        case (b1: BucketedFrame, b2: BucketedFrame) =>
          require(b1.span == b2.span,
            "CORRELATE operates on bucketized Geo Time Series with all " +
              s"the same bucketspan. The expected bucketspan is ${b1.span}")
          offsets.foreach(o => require(o % b1.span == 0,
            s"CORRELATE expects offsets to be multiples of the bucketspan (${b1.span})."))
        case _ => ()
      }
      st.push(GtsFrame(graft.operators.StatOps.crossCorrelate(
        en.toFrame(baseObj), en.toFrame(othersObj), offsets)))
    }
    // LTTB (fn/LTTB.java, GTSHelper.lttb:12319-12485): gts threshold
    // LTTB — the reference's own bucket/average/anchor arithmetic
    // (SeriesKernels.lttbReference), quirks included
    words("LTTB") { (w, st, en) =>
      val thr = st.popLong().toInt
      val f = en.toFrame(st.pop())
      st.push(GtsFrame(graft.model.Gts.canonical(KernelOps(f).lttbRef(thr, timebased = false))))
    }
    // FFT surface (continuum/gts/FFT.java): gts bins span lastbucket FFT
    // → per-series spectrum rows (k, re, im, mag); see StatOps.dft
    words("FFT") { (w, st, en) =>
      val lb = st.popLong(); val span = st.popLong(); val bins = st.popLong().toInt
      st.push(GtsFrame(graft.operators.StatOps.dft(en.toFrame(st.pop()), bins, span, lb)))
    }
    // LOWESS (fn/LOWESS.java, faithful r11): gts q LOWESS ≡
    // GTSHelper.rlowess(gts, q, 0, 0, 1) — the reference's own
    // pointwise locally weighted regression kernel
    words("LOWESS") { (w, st, en) =>
      val q = st.popLong().toInt
      st.push(en.runRlowess(st.pop(), q, 0, 0L, 1))
    }
    // RLOWESS (fn/RLOWESS.java, faithful r11): gts q r d p RLOWESS —
    // robustness iterations r, skip distance d, polynomial degree p
    words("RLOWESS") { (w, st, en) =>
      val p = st.popLong().toInt
      val d = st.popLong()
      val r = st.popLong().toInt
      val q = st.popLong().toInt
      st.push(en.runRlowess(st.pop(), q, r, d, p))
    }
    // DTW (fn/DTW.java, faithful r11): gts2 gts1 [window] threshold
    // [distance] [characteristic] DTW → scalar pseudo-distance with
    // 0-1 min-max normalization (the frame-pair composition lives on
    // as StatOps.dtwPairs, the g82 extension)
    words("DTW") { (w, st, en) => en.runDtw(st, normalize = true, znormalize = false) }
    // OPTDTW (fn/OPTDTW.java): sequence query [window] count OPTDTW →
    // top-`count` [start-index, distance] pairs from sliding the
    // z-normalized query over every |query|-length subsequence with
    // Sakoe-Chiba banded DTW (Manhattan cost, bessel-corrected sd, as
    // the reference's DoubleUtils.musigma(values, true))
    words("OPTDTW") { (w, st, en) =>
      val count = st.popLong().toInt
      var top = st.pop()
      var window = Int.MaxValue
      top match {
        case l: Long =>
          window = if (l < 0 || l > Int.MaxValue) Int.MaxValue else l.toInt
          top = st.pop()
        case _ =>
      }
      val query = top.asInstanceOf[Vector[Any]].map(en.asNum).toIndexedSeq
      val series = st.pop().asInstanceOf[Vector[Any]].map(en.asNum).toIndexedSeq
      require(series.length >= query.length,
        "OPTDTW expects the query to be shorter than the sequence")
      def znorm(v: IndexedSeq[Double]): IndexedSeq[Double] = {
        val n = v.length
        val mu = v.sum / n
        val varPop = v.map(x => (x - mu) * (x - mu)).sum / n
        val sd = math.sqrt(if (n > 1) varPop * n / (n - 1) else varPop)
        if (sd == 0) v.map(_ => 0.0) else v.map(x => (x - mu) / sd)
      }
      val q = znorm(query)
      val hits = (0 to series.length - query.length).map { i =>
        val sub = znorm(series.slice(i, i + query.length))
        (i.toLong, graft.kernels.SeriesKernels.dtwBanded(q, sub, window))
      }.sortBy(r => (r._2, r._1))
      val kept = if (count > 0) hits.take(count) else hits
      st.push(kept.map { case (i, d) => Vector[Any](i, d) }.toVector)
    }

    // PATTERNS (fn/PATTERNS.java → GTSHelper.bSAX): gts windowLen
    // wordLen alphabetSize PATTERNS → STRING GTS of the reference's
    // OPB64-encoded bSAX word at every window-start tick
    words("PATTERNS") { (w, st, en) =>
      val alphabet = st.popLong().toInt
      val wordLen = st.popLong().toInt
      val windowLen = st.popLong().toInt
      st.push(GtsFrame(graft.operators.StatOps.bsax(en.toFrame(st.pop()),
        alphabet, wordLen, windowLen, standardizePAA = true)))
    }
    // SINGLEEXPONENTIALSMOOTHING (fn/SINGLEEXPONENTIALSMOOTHING.java →
    // GTSHelper.singleExponentialSmoothing:9112-9160): gts alpha →
    // smoothed gts; 0 < α < 1 enforced like the reference (sub-2-point
    // series are skipped by the kernel — documented divergence from
    // the reference's per-GTS rejection)
    words("SINGLEEXPONENTIALSMOOTHING") { (w, st, en) =>
      val alpha = st.popNum()
      require(alpha > 0.0 && alpha < 1.0,
        "The smoothing factor must be in 0 < alpha < 1.")
      val f = en.toFrame(st.pop())
      st.push(GtsFrame(graft.model.Gts.canonical(KernelOps(f).expSmooth(alpha))))
    }
    // DOUBLEEXPONENTIALSMOOTHING (fn/DOUBLEEXPONENTIALSMOOTHING.java →
    // GTSHelper.doubleExponentialSmoothing:9162-9223, faithful r11):
    // gts alpha beta → [ level-GTS best-estimate-GTS ] — the reference
    // returns the PAIR, both starting at tick[1], from one pass per
    // series: here two parts of the one kernel frame (GtsFrame.parts),
    // so a consumer that merges them runs the kernel once, uncached
    words("DOUBLEEXPONENTIALSMOOTHING") { (w, st, en) =>
      val beta = st.popNum(); val alpha = st.popNum()
      require(alpha > 0.0 && alpha < 1.0,
        "The data smoothing factor must be in 0 < alpha < 1.")
      require(beta > 0.0 && beta < 1.0,
        "The trend smoothing factor must be in 0 < beta < 1.")
      val f = en.toFrame(st.pop())
      val whole = graft.model.Gts.canonical(KernelOps(f).holtSmooth(alpha, beta), "which")
      st.push(GtsFrame.parts(whole, "which", Seq("s", "b")))
    }
    // ZSCORETEST (fn/ZSCORETEST.java): gts useMedian threshold → flagged
    // points; useMedian selects median/MAD (modified z), else mean with
    // Bessel sd (GTSOutliersHelper.zScoreTest:227-246)
    words("ZSCORETEST") { (w, st, en) =>
      val thr = st.popNum(); val useMedian = st.popBool()
      st.push(GtsFrame(graft.operators.StatOps.zscoreFlag(en.toFrame(st.pop()), thr, useMedian)))
    }
    // ESDTEST (fn/ESDTEST.java): gts k useMedian alpha → flagged outlier
    // rounds (mean/sd or median/MAD per the flag)
    words("ESDTEST") { (w, st, en) =>
      val alpha = st.popNum(); val useMedian = st.popBool()
      val k = st.popLong().toInt
      val f = en.toFrame(st.pop())
      val flagged =
        if (useMedian) graft.operators.StatOps.esdMadFlag(f, k, alpha)
        else graft.operators.StatOps.esdFlag(f, k, alpha)
      st.push(GtsFrame(flagged))
    }
    // RESETS (fn/RESETS.java): gts decreasing:BOOLEAN RESETS — the flag
    // selects the counter direction (true = decreasing counter, a
    // reset is an upward jump; GTSHelper.compensateResets:5960-6020)
    words("RESETS") { (w, st, en) =>
      val resethigher = st.pop() match {
        case b: Boolean => b
        case o => throw new IllegalArgumentException(
          s"RESETS expects a boolean as parameter, got $o")
      }
      st.push(en.toFrame(st.pop()).compensateResets(resethigher))
    }
    // RANGECOMPACT (fn/RANGECOMPACT.java → GTSHelper.compact
    // preserveRanges true, faithful r11): NO parameter — each constant
    // value/location/elevation run collapses to its first + last point
    words("RANGECOMPACT") { (w, st, en) =>
      st.push(en.keepBuckets(st.pop())(_.compact(preserveRanges = true)))
    }
    // LR (fn/LR.java): gts span lastbucket LR → per-series regression
    words("LR") { (w, st, en) =>
      val lb = st.popLong(); val span = st.popLong()
      st.push(GtsFrame(graft.operators.StatOps.linReg(en.toFrame(st.pop()), span, lb)))
    }
    // SKEWNESS/KURTOSIS/NSUMSUMSQ surface (fn/SKEWNESS.java family):
    // one word pushes the whole per-series moment table
    words("MOMENTS", "SKEWNESS", "KURTOSIS") { (w, st, en) =>
      st.push(GtsFrame(graft.operators.StatOps.momentStats(en.toFrame(st.pop()))))
    }
    // FDWT Haar (fn/FDWT.java): gts levels span lastbucket FDWT
    words("FDWT") { (w, st, en) =>
      val lb = st.popLong(); val span = st.popLong(); val lv = st.popLong().toInt
      // bound: levels <= 0 would make the approx cascade empty and large
      // levels allocate 1<<levels columns — a request-triggered OOM via
      // POST /api/v0/exec without this check
      require(lv >= 1 && lv <= 20, s"FDWT levels must be in [1, 20]: $lv")
      st.push(GtsFrame(graft.operators.StatOps.haarDwt(en.toFrame(st.pop()), lv, span, lb)))
    }
    // IDWT (fn/IDWT.java): dwt-frame levels IDWT → reconstructed buckets
    words("IDWT") { (w, st, en) =>
      val lv = st.popLong().toInt
      require(lv >= 1 && lv <= 20, s"IDWT levels must be in [1, 20]: $lv")
      st.push(GtsFrame(graft.operators.StatOps.haarIdwt(en.toFrame(st.pop()).df, lv)))
    }
    // DISCORDS (continuum/gts/DISCORDS.java): gts windowLen wordLen
    // alphabetSize count overlap distratio DISCORDS → the HOTSAX-style
    // discord windows' points (faithful sequential kernel per series)
    words("DISCORDS") { (w, st, en) =>
      st.push(en.popDiscords(st, standardizePAA = true))
    }
    // POLYFIT degree 2 (fn/POLYFIT.java): gts span lastbucket buckets
    words("POLYFIT") { (w, st, en) =>
      val nb = st.popLong().toInt; val lb = st.popLong(); val span = st.popLong()
      st.push(GtsFrame(graft.operators.StatOps.polyFit2(en.toFrame(st.pop()),
        span, lb, nb)))
    }
    // WRAP/UNWRAP (fn/WRAP.java, fn/UNWRAP.java): the REFERENCE stack
    // contract — one OPB64 wire-format wrapper string per series
    // (sources/WrapperCodec.scala, byte-compatible), lists wrap
    // element-wise. The whole series lands on the stack, so this is a
    // bounded driver collect (accessor-cap contract); the distributed
    // at-rest path stays graft.sources.GtsCodec.wrap over frames.
    words("WRAP") { (w, st, en) =>
      st.push(WordsFramesBlock.wrapOf(st.pop(), raw = false, mv = false,
        compress = true, en.toFrame))
    }
    words("UNWRAP") { (w, st, en) =>
      st.pop() match {
        case f: GtsFrame => st.push(GtsFrame(graft.sources.GtsCodec.unwrap(f.df)))
        case df: org.apache.spark.sql.DataFrame @unchecked
            if df.columns.contains("blob") =>
          st.push(GtsFrame(graft.sources.GtsCodec.unwrap(df)))
        // reference wire format (fn/UNWRAP.java:59 — a string, byte
        // array, or list thereof): real Warp 10 WRAP exports load
        // byte-compatibly (sources/WrapperCodec.scala); a bucketized
        // wrapper restores its lastbucket/bucketspan/bucketcount so the
        // fill words see a BUCKETIZE result
        case s: String =>
          st.push(unwrapRefBlob(graft.sources.WrapperCodec.unwrapString(s), en))
        case b: Array[Byte] =>
          st.push(unwrapRefBlob(graft.sources.WrapperCodec.unwrapBytes(b), en))
        case l: Vector[Any @unchecked]
            if l.forall(x => x.isInstanceOf[String] || x.isInstanceOf[Array[Byte]]) =>
          st.push(l.map {
            case s: String =>
              unwrapRefBlob(graft.sources.WrapperCodec.unwrapString(s), en)
            case b: Array[Byte] =>
              unwrapRefBlob(graft.sources.WrapperCodec.unwrapBytes(b), en)
          })
        case o => throw new IllegalArgumentException(s"UNWRAP on $o")
      }
    }
    // SNAPSHOT (fn/SNAPSHOT.java): render the top of the stack as a
    // re-evaluable WarpScript literal (driver-side scalar)
    words("SNAPSHOT") { (w, st, en) => st.push(graft.sources.Snapshot.render(st.pop())) }
    // QUANTIZE (fn/QUANTIZE.java): gts bounds targets QUANTIZE — the
    // reference form (corrected r11; the old word took a scalar step,
    // a form the reference never had): strictly increasing finite
    // bounds, targets empty (emit the bucket index) or bounds+1 long
    words("QUANTIZE") { (w, st, en) =>
      val targets = st.pop() match {
        case v: Vector[Any @unchecked] => v
        case o => throw new IllegalArgumentException(
          s"QUANTIZE expects a list of target values on top of the stack, got $o")
      }
      val bounds = st.pop() match {
        case v: Vector[Any @unchecked] => v.map {
          case l: Long => l.toDouble
          case d: Double => d
          case o => throw new IllegalArgumentException(
            s"QUANTIZE expects numeric bounds, got $o")
        }
        case o => throw new IllegalArgumentException(
          s"QUANTIZE expects a list of bounds under the top of the stack, got $o")
      }
      require(bounds.forall(b => !b.isNaN && !b.isInfinite),
        "QUANTIZE expects the bounds to be finite.")
      require(bounds.zip(bounds.drop(1)).forall { case (a, b) => a < b },
        "QUANTIZE identified unordered or duplicate bounds.")
      require(targets.isEmpty || targets.size == bounds.size + 1,
        s"QUANTIZE expected ${bounds.size + 1} values but got ${targets.size}")
      st.push(en.toFrame(st.pop()).quantizeRef(bounds,
        if (targets.isEmpty) None else Some(targets)))
    }
    // TIMECLIP (fn/TIMECLIP.java, corrected r11): the TOP is a Long
    // DURATION → [now − duration + 1, now], or an ISO-8601 string →
    // the absolute origin; under it 'now' (Long tick or ISO-8601).
    // The old word read a plain [start, end] pair — a form the
    // reference never had.
    words("TIMECLIP") { (w, st, en) =>
      val (isoStart, topVal) = st.pop() match {
        case s: String => (true, graft.sources.Formats.isoTick(s))
        case l: Long => (false, l)
        case o => throw new IllegalArgumentException(
          s"TIMECLIP expects either an ISO8601 timestamp as the origin timestamp or a duration, got $o")
      }
      val end = st.pop() match {
        case s: String => graft.sources.Formats.isoTick(s)
        case l: Long => l
        case o => throw new IllegalArgumentException(
          s"TIMECLIP expects either an ISO8601 timestamp or a delta since Unix Epoch as 'now' parameter, got $o")
      }
      // Long-wrapping arithmetic like the reference's raw Java math
      val start = if (isoStart) topVal else end - topVal + 1
      st.push(en.toFrame(st.pop()).timeclip(start, end))
    }
    words("TIMESHIFT") { (w, st, en) =>
      val d = st.popLong()
        // GTSHelper.timeshift clones (bucket fields kept) and shifts
        // lastbucket along with the ticks
        st.push(st.pop() match {
          case BucketedFrame(fr, lb, sp, cc) =>
            BucketedFrame(fr.timeshift(d), lb + d, sp, cc)
          case other => en.toFrame(other).timeshift(d)
        })
    }
    words("TIMESCALE") { (w, st, en) =>
      val k = st.popNum()
        st.pop() match {
          // GTSHelper.timescale:10247 rejects bucketized operands
          case _: BucketedFrame => throw new IllegalArgumentException(
            "Cannot apply timescale on a bucketized GTS. Unbucketize it first.")
          case other => st.push(en.toFrame(other).timescale(k))
        }
    }
    words("TIMEMODULO") { (w, st, en) =>
      val lbl = st.popStr(); val mod = st.popLong()
      st.push(en.toFrame(st.pop()).timemodulo(mod, lbl))
    }
    // TIMESPLIT (fn/TIMESPLIT.java): gts quietperiod minvalues label
    // TIMESPLIT — the 3-parameter reference form (corrected r11; the
    // split id becomes a label, sub-series under minvalues drop, a
    // series already carrying the label passes through unchanged)
    words("TIMESPLIT") { (w, st, en) =>
      val label = st.popStr()
      val minvalues = st.popLong()
      val quiet = st.popLong()
      st.push(en.toFrame(st.pop()).timesplitRef(quiet, minvalues, label))
    }
    // CHUNK (fn/CHUNK.java): gts lastchunk chunkwidth chunkcount
    // chunklabel keepempty CHUNK — the 5-parameter reference form
    // (corrected round 11; the chunk id becomes a label = new series
    // per chunk, GtsFrame.chunkRef). keepempty=true would require
    // empty-series rows a points-frame cannot carry — rejected loudly
    // like FETCH's keepempty (see COVERAGE.md).
    words("CHUNK") { (w, st, en) =>
      val keepempty = st.popBool()
      val chunklabel = st.popStr()
      val count = st.popLong()
      val width = st.popLong()
      val lastchunk = st.popLong()
      require(!keepempty, "CHUNK 'keepempty' true is not supported by " +
        "this engine (a points-frame has no empty-series rows; see COVERAGE.md).")
      st.push(en.toFrame(st.pop()).chunkRef(lastchunk, width, count, chunklabel))
    }
    words("NORMALIZE") { (w, st, en) => st.push(en.keepBuckets(st.pop())(_.normalize())) }
    words("STANDARDIZE") { (w, st, en) => st.push(en.keepBuckets(st.pop())(_.standardize())) }
    // COMMONTICKS (fn/COMMONTICKS.java): keep only ticks present in
    // EVERY series of the frame/list — fully lazy: per-tick distinct
    // series count equi-joined against the broadcast 1-row total
    words("COMMONTICKS") { (w, st, en) =>
      val f = en.toFrame(st.pop())
      val total = f.df.agg(countDistinct(col("gtsid")).as("__total"))
      val ticks = f.df.groupBy(col("ts"))
        .agg(countDistinct(col("gtsid")).as("__n"))
        .crossJoin(broadcast(total))
        .filter(col("__n") === col("__total"))
        .select(col("ts"))
      st.push(GtsFrame(f.df.join(ticks, "ts")))
    }
    // SORT/RSORT (fn/SORT.java, RSORT): the reference orders the
    // materialized point list; the frame algebra is set-semantic and
    // every order-sensitive operator sorts internally, so these accept
    // and pass the frame through unchanged
    // SORT/RSORT = GTSHelper.sort(gts, reversed) by tick; FULLSORT =
    // fullsort:282-331 by (tick, value, location, elevation). A
    // stack-built series keeps its order state (builder vector, stable
    // among equal keys — the reference's quicksort leaves ties
    // arbitrary; stability is the determinization); a frame stays the
    // canonical point set (order-sensitive consumers sort internally)
    words("SORT", "RSORT", "FULLSORT") { (w, st, en) =>
      st.pop() match {
        case b: WarpScriptEngine.GtsBuilder =>
          val sorted = w match {
            case "RSORT" => b.points.sortBy(_._1)(Ordering[Long].reverse)
            case "SORT" => b.points.sortBy(_._1)
            case _ => b.points.sortBy(p => (p._1,
              WordsGts.valueSortKey(p._4),
              p._2.map(_._1).getOrElse(Double.NaN),
              p._2.map(_._2).getOrElse(Double.NaN),
              p._3.getOrElse(Long.MinValue)))
          }
          st.push(b.copy(points = sorted))
        case o => st.push(en.toFrame(o))
      }
    }
    // INTEGRATE (fn/INTEGRATE.java): gts initialValue INTEGRATE —
    // values are rates/second, left-rectangle time integral (r11: the
    // word now pops the reference's numeric initial value)
    words("INTEGRATE") { (w, st, en) =>
      val initial = st.popNum()
      st.push(en.toFrame(st.pop()).integrate(initial))
    }
    // PIVOT (frame word over the native groupBy().pivot() path — the
    // wide-table view the reference builds via per-class FETCH+APPLY):
    // gts [ classes ] labelkey lastbucket span PIVOT → one row per
    // (label value, bucket end), one sum column per class.
    words("PIVOT") { (w, st, en) =>
      val span = st.popLong(); val lb = st.popLong()
      val lbl = st.popStr()
      val classes = st.pop().asInstanceOf[Vector[Any]].map(_.toString)
      val f = en.toFrame(st.pop())
      st.push(GtsFrame(f.withBucketCol(lb, span)
        .groupBy(col("labels").getItem(lbl).as(lbl), col("__bucket").as("ts"))
        .pivot("class", classes)
        .agg(sum(col("vdouble")))))
    }
    words("MERGE") { (w, st, en) =>
      st.pop() match {
        case v: Vector[_] => st.push(en.framesOf(v))
        case f: GtsFrame => val g = en.toFrame(st.pop()); st.push(g.merge(f))
        case o => throw new IllegalArgumentException(s"MERGE on $o")
      }
    }

    // ---- function-value words -------------------------------------------
    // parameterized aggregators pop their parameter NOW, like the
    // reference's builder words (script/aggregator/Percentile.Builder,
    // aggregator/Join.Builder): `90.0 bucketizer.percentile`,
    // `'|' reducer.join`
    words("bucketizer.percentile", "reducer.percentile", "mapper.percentile") { (w, st, en) =>
      st.push(AggVal(w, Percentile(st.popNum())))
    }
    words("bucketizer.percentile.cont", "reducer.percentile.cont") { (w, st, en) =>
      st.push(AggVal(w, PercentileCont(st.popNum())))
    }
    // bucketizer.join reads chronologically (Join.java appends in
    // argument order = tick order for a bucket); the reducer face
    // canonicalizes its member order by value sort (no reference-
    // defined cross-series order)
    words("bucketizer.join") { (w, st, en) =>
      st.push(AggVal(w, JoinTickOrdered(st.popStr())))
    }
    words("reducer.join") { (w, st, en) =>
      st.push(AggVal(w, JoinAgg(st.popStr())))
    }
    // parameterized pointwise mappers (script/mapper/MapperAdd.java,
    // MapperMul, MapperMod, MapperPow; comparison mappers keep the
    // value when the predicate holds and DROP the tick otherwise)
    words("mapper.add") { (w, st, en) => val k = st.popNum(); st.push(MapperCol(w, _ + lit(k))) }
    words("mapper.mul") { (w, st, en) => val k = st.popNum(); st.push(MapperCol(w, _ * lit(k))) }
    words("mapper.mod") { (w, st, en) => val k = st.popNum(); st.push(MapperCol(w, _ % lit(k))) }
    words("mapper.pow") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => pow(c, lit(k))))
    }
    // frame-column mappers: value := tick / calendar field of the tick
    // (script/mapper/MapperTick.java, MapperYear/Month/Day/Hour/Minute/
    // Second/DayOfWeek — UTC; ticks < 2^53 µs stay exact in double)
    words("mapper.tick") { (w, st, en) =>
      st.push(MapperDf(w, df => df.withColumn("vdouble",
        col("ts").cast(org.apache.spark.sql.types.DoubleType))))
    }
    words("mapper.year") { (w, st, en) => st.push(en.calMapper(w, year)) }
    words("mapper.month") { (w, st, en) => st.push(en.calMapper(w, month)) }
    words("mapper.day") { (w, st, en) => st.push(en.calMapper(w, dayofmonth)) }
    words("mapper.hour") { (w, st, en) => st.push(en.calMapper(w, hour)) }
    words("mapper.minute") { (w, st, en) => st.push(en.calMapper(w, minute)) }
    words("mapper.second") { (w, st, en) => st.push(en.calMapper(w, second)) }
    // ISO weekday 1=Monday..7=Sunday (Joda getDayOfWeek)
    words("mapper.weekday") { (w, st, en) =>
      st.push(en.calMapper(w, t => (dayofweek(t) + lit(5)) % 7 + lit(1)))
    }
    words("mapper.eq") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => when(c === k, c)))
    }
    words("mapper.ne") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => when(c =!= k, c)))
    }
    words("mapper.gt") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => when(c > k, c)))
    }
    words("mapper.ge") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => when(c >= k, c)))
    }
    words("mapper.lt") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => when(c < k, c)))
    }
    words("mapper.le") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => when(c <= k, c)))
    }
    // coordinate-comparison mappers (script/mapper/MapperTickGE-style
    // families over tick/lat/lon/elev/hhcode): keep the point when the
    // coordinate passes; null coordinates drop (SQL three-valued
    // logic). hhcode compares the 64-bit interleaved cell id computed
    // from lat/lon (GeoXPLib.toGeoXPPoint)
    for (cmp <- Seq("eq", "ne", "gt", "ge", "lt", "le");
         coord <- Seq("tick", "lat", "lon", "elev", "hhcode")) {
      val colName = if (coord == "tick") "ts" else coord
      words(s"mapper.$cmp.$coord") { (w, st, en) =>
        // pop the threshold type-faithfully: hhcode/tick/elev thresholds
        // are 64-bit longs whose low bits a double round-trip would lose
        val k: Column = st.pop() match {
          case l: Long => lit(l)
          case d: Double => lit(d)
          case o => throw new IllegalArgumentException(s"$w threshold: $o")
        }
        val coord: Column =
          if (colName == "hhcode")
            graft.functions.GeoFunctions.hhcodeCol(col("lat"), col("lon"))
          else col(colName)
        val cond: Column = cmp match {
          case "eq" => coord === k
          case "ne" => coord =!= k
          case "gt" => coord > k
          case "ge" => coord >= k
          case "lt" => coord < k
          case _ => coord <= k
        }
        st.push(MapperDf(w, df => df.filter(cond)))
      }
    }
    // geo mappers (script/mapper/MapperGeoWithin.java, MapperGeoOutside,
    // MapperGeoClearPosition, MapperGeoApproximate — the g47/g98 plans
    // as MAP-word mappers)
    words("mapper.geo.within", "mapper.geo.outside") { (w, st, en) =>
      val g = st.pop() match {
        case geo: WordsGeo.WsGeo => geo
        case o => throw new IllegalArgumentException(s"$w expects a GEOSHAPE: $o")
      }
      val inside = g.shape match {
        case Some(shape) => shape.containsCol(col("lat"), col("lon"))
        case None => graft.functions.GeoCells.inCover(col("lat"), col("lon"), g.cells, g.res)
      }
      val pred = if (w endsWith "within") inside
        else !org.apache.spark.sql.functions.coalesce(inside, lit(false))
      st.push(MapperDf(w, df => df.filter(pred)))
    }
    words("mapper.geo.clear") { (w, st, en) =>
      st.push(MapperDf(w, df => df
        .withColumn("lat", lit(null).cast("double"))
        .withColumn("lon", lit(null).cast("double"))
        .withColumn("elev", lit(null).cast("long"))))
    }
    words("mapper.geo.approximate") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 1 && res <= 28, s"$w resolution out of range: $res")
      st.push(MapperDf(w, df => {
        val n = 1L << res
        val cell = graft.functions.GeoCells.cellIdCol(col("lat"), col("lon"), res)
        val aLat = (cell.cast("double") / n).cast("long").cast("double") /
          n * 180.0 - 90.0 + 90.0 / n
        val aLon = pmod(cell, lit(n)).cast("double") / n * 360.0 - 180.0 + 180.0 / n
        df.withColumn("lat", when(col("lat").isNotNull, aLat))
          .withColumn("lon", when(col("lon").isNotNull, aLon))
      }))
    }
    // coordinate-extraction mappers (script/mapper/MapperLatitude.java,
    // MapperLongitude, MapperElevation): value := the coordinate;
    // points without it are dropped (the reference emits null)
    words("mapper.lat", "mapper.lon") { (w, st, en) =>
      val c = if (w endsWith "lat") "lat" else "lon"
      st.push(MapperDf(w, df => df.filter(col(c).isNotNull)
        .withColumn("vdouble", col(c))))
    }
    words("mapper.elev") { (w, st, en) =>
      st.push(MapperDf(w, df => df.filter(col("elev").isNotNull)
        .withColumn("vdouble", col("elev").cast(org.apache.spark.sql.types.DoubleType))))
    }
    // mapper.finite (script/mapper/MapperFinite.java): keep only finite
    // values — NaN/±Inf produce null and the tick is dropped
    words("mapper.finite") { (w, st, en) =>
      st.push(MapperCol(w, c => when(!isnan(c) &&
        abs(c) =!= lit(Double.PositiveInfinity), c)))
    }
    // type-cast mappers (MapperToBoolean/MapperToString): the frame is
    // double-typed, so toboolean emits 1.0/0.0 truthiness and tostring
    // writes the rendered value into vstring
    words("mapper.toboolean") { (w, st, en) =>
      st.push(MapperCol(w, c => (c =!= 0.0).cast(
        org.apache.spark.sql.types.DoubleType)))
    }
    words("mapper.tostring") { (w, st, en) =>
      st.push(MapperDf(w, df => df
        .withColumn("vstring", col("vdouble").cast(org.apache.spark.sql.types.StringType))
        .withColumn("vdouble", lit(null).cast(org.apache.spark.sql.types.DoubleType))
        .withColumn("vtype", lit(graft.model.GtsType.STRING))))
    }
    // kernel-smoother builders (script/mapper/MapperKernel.java): pop
    // window width in ticks (MUST be odd) and step, push a
    // Nadaraya-Watson smoother over the per-series tick order. The
    // KernelRegistry weight vector mirrors the reference's half-kernel
    // (u = i/(len-1) over 1+width/2 entries); row offsets stand in for
    // the reference's |Δt|/step index, identical on step-regular series
    // (BUCKETIZE first, as the reference docs advise).
    graft.kernels.KernelRegistry.Names.foreach { kname =>
      words("mapper.kernel." + kname) { (w, st, en) =>
        val width = st.popLong().toInt
        require(width % 2 == 1, s"$w window width MUST be odd")
        st.popLong() // step: subsumed by the row-offset contract above
        val half = width / 2
        st.push(MapperDf(w, df => {
          val win = org.apache.spark.sql.expressions.Window
            .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
          df.withColumn("vdouble",
            graft.kernels.KernelRegistry.smoothCol(kname, half, col("vdouble"), win))
        }))
      }
    }
    // selection mappers (script/mapper/MapperHighest.java, Lowest):
    // the k extreme values per series — the g25/r03 rank pattern
    words("mapper.highest", "mapper.lowest") { (w, st, en) =>
      val k = st.popLong()
      require(k >= 1, s"$w expects k >= 1")
      st.push(MapperDf(w, df => {
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gtsid"))
          .orderBy(
            if (w == "mapper.highest") col("vdouble").desc else col("vdouble").asc,
            col("ts"))
        df.withColumn("__rn", row_number().over(win))
          .filter(col("__rn") <= k).drop("__rn")
      }))
    }
    // STRICT* wrappers (fn/STRICTMAPPER.java: type-checking decorators;
    // the frame algebra is already typed)
    words("STRICTMAPPER", "STRICTREDUCER", "STRICTPARTITION") { (w, st, en) =>
      st.push(st.pop())
    }
    // join/percentile null variants (WarpScriptLib.java:3313-3336
    // registrations; Join.Builder ignoreNulls=false → null result when
    // an aligned member is absent ≡ AggVal.forbidNulls)
    words("reducer.percentile.forbid-nulls") { (w, st, en) =>
      st.push(AggVal(w, Percentile(st.popNum()), forbidNulls = true))
    }
    // the mapper face joins its WINDOW chronologically, like the
    // bucketizer face (tick order is the reference's argument order)
    words("mapper.join") { (w, st, en) => st.push(AggVal(w, JoinTickOrdered(st.popStr()))) }
    words("reducer.join.forbid-nulls", "reducer.join.nonnull") { (w, st, en) =>
      st.push(AggVal(w, JoinAgg(st.popStr()), forbidNulls = true))
    }
    words("reducer.join.urlencoded") { (w, st, en) =>
      st.push(AggVal(w, JoinAgg(st.popStr(), urlencode = true),
        forbidNulls = true))
    }
    // circular mean (aggregator/CircularMean.java; Builder pops the
    // period — `24.0 bucketizer.mean.circular`). Registered with
    // forbidNulls=true except the .exclude-nulls reducer
    // (WarpScriptLib.java:3237,3285,3337-3338)
    words("bucketizer.mean.circular", "mapper.mean.circular",
      "reducer.mean.circular") { (w, st, en) =>
      st.push(AggVal(w, CircularMeanAgg(st.popNum()), forbidNulls = true))
    }
    words("reducer.mean.circular.exclude-nulls") { (w, st, en) =>
      st.push(AggVal(w, CircularMeanAgg(st.popNum())))
    }
    // reducer.argmax/argmin (aggregator/Argminmax.java Builder:
    // `'label' count reducer.argmax`; count 0 = report all ties)
    words("reducer.argmax", "reducer.argmin") { (w, st, en) =>
      val count = st.popLong().toInt
      val label = st.popStr()
      st.push(ArgMinMaxVal(w, label, count, isArgmin = w.endsWith("argmin")))
    }
    // mapper.log (mapper/MapperLog.java): log in the constant base
    // popped at build time — ln(v)/ln(base)
    words("mapper.log") { (w, st, en) =>
      val base = st.popNum()
      st.push(MapperCol(w, c => log(c) / lit(math.log(base))))
    }
    // mapper.npdf (mapper/MapperNPDF.java:100-105): gaussian pdf with
    // mu/sigma popped at build time (`mu sigma mapper.npdf`)
    words("mapper.npdf") { (w, st, en) =>
      val sigma = st.popNum()
      require(sigma > 0, s"$w expects a positive standard deviation")
      val mu = st.popNum()
      st.push(MapperCol(w, c =>
        lit(1.0 / (sigma * math.sqrt(2.0 * math.Pi))) *
          exp(lit(-1.0) * (c - lit(mu)) * (c - lit(mu)) /
            lit(2.0 * sigma * sigma))))
    }
    // mapper.min.x / mapper.max.x (mapper/MapperMinX.java, MapperMaxX):
    // clamp against the constant popped at build time
    words("mapper.min.x") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => least(c, lit(k))))
    }
    words("mapper.max.x") { (w, st, en) =>
      val k = st.popNum(); st.push(MapperCol(w, c => greatest(c, lit(k))))
    }
    // mapper.parsedouble (mapper/MapperParseDouble.java): parse STRING
    // values as doubles under the popped IETF language tag's decimal/
    // grouping separators (NumberFormat.getInstance(Locale))
    words("mapper.parsedouble") { (w, st, en) =>
      val tag = st.popStr()
      val sym = java.text.DecimalFormatSymbols.getInstance(
        java.util.Locale.forLanguageTag(tag))
      val dec = sym.getDecimalSeparator.toString
      val grp = sym.getGroupingSeparator.toString
      st.push(MapperDf(w, df => {
        // NumberFormat.parse semantics: the longest numeric PREFIX
        // parses ("12,5°C" → 12.5 under fr); unparsable values drop
        val cleaned = translate(regexp_replace(col("vstring"),
          java.util.regex.Pattern.quote(grp), ""), dec, ".")
        val prefix = regexp_extract(cleaned,
          "^[+-]?(?:[0-9]+(?:\\.[0-9]*)?|\\.[0-9]+)", 0)
        df.withColumn("vdouble",
            prefix.cast(org.apache.spark.sql.types.DoubleType))
          .withColumn("vstring",
            lit(null).cast(org.apache.spark.sql.types.StringType))
          .withColumn("vtype", lit(graft.model.GtsType.DOUBLE))
          .filter(col("vdouble").isNotNull)
      }))
    }
    // mapper.replace (mapper/MapperReplace.java): every present tick's
    // value := the constant popped at build time (NOT string-replace)
    words("mapper.replace") { (w, st, en) =>
      def clearVals(df: DataFrame): DataFrame = df
        .withColumn("vlong", lit(null).cast(org.apache.spark.sql.types.LongType))
        .withColumn("vdouble", lit(null).cast(org.apache.spark.sql.types.DoubleType))
        .withColumn("vbool", lit(null).cast(org.apache.spark.sql.types.BooleanType))
        .withColumn("vstring", lit(null).cast(org.apache.spark.sql.types.StringType))
      st.pop() match {
        case s: String => st.push(MapperDf(w, df => clearVals(df)
          .withColumn("vstring", lit(s))
          .withColumn("vtype", lit(graft.model.GtsType.STRING))))
        case b: Boolean => st.push(MapperDf(w, df => clearVals(df)
          .withColumn("vbool", lit(b))
          .withColumn("vdouble", lit(if (b) 1.0 else 0.0))
          .withColumn("vtype", lit(graft.model.GtsType.BOOLEAN))))
        case l: Long => st.push(MapperDf(w, df => clearVals(df)
          .withColumn("vlong", lit(l))
          .withColumn("vdouble", lit(l.toDouble))
          .withColumn("vtype", lit(graft.model.GtsType.LONG))))
        case d: Double => st.push(MapperDf(w, df => clearVals(df)
          .withColumn("vdouble", lit(d))
          .withColumn("vtype", lit(graft.model.GtsType.DOUBLE))))
        case o => throw new IllegalArgumentException(s"$w value: $o")
      }
    }
    // mapper.regexp.match (mapper/MapperRegExpMatch.java): keep the
    // STRING value when it FULLY matches (Matcher.matches), else the
    // tick drops (null value)
    words("mapper.regexp.match") { (w, st, en) =>
      val re = st.popStr()
      st.push(MapperDf(w, df =>
        df.filter(col("vstring").rlike("^(?:" + re + ")$"))))
    }
    // mapper.regexp.replace (mapper/MapperRegExpReplace.java:
    // `'regexp' 'replacement' mapper.regexp.replace`,
    // Matcher.replaceAll)
    words("mapper.regexp.replace") { (w, st, en) =>
      val replacement = st.popStr()
      val re = st.popStr()
      st.push(MapperDf(w, df => df.withColumn("vstring",
        regexp_replace(col("vstring"), re, replacement))))
    }
    // mapper.dotproduct[.sigmoid|.tanh|.positive] (mapper/
    // MapperDotProduct*.java: `[ w1 w2 ... ] mapper.dotproduct`)
    words("mapper.dotproduct", "mapper.dotproduct.sigmoid",
      "mapper.dotproduct.tanh", "mapper.dotproduct.positive") { (w, st, en) =>
      val omega = st.pop() match {
        case v: Vector[Any @unchecked] => v.map(en.asNum)
        case o => throw new IllegalArgumentException(s"$w expects a list: $o")
      }
      val act: Column => Column = w.stripPrefix("mapper.dotproduct") match {
        case ".sigmoid" => c => lit(1.0) / (lit(1.0) + exp(-c))
        case ".tanh" => tanh
        case ".positive" => c => greatest(lit(0.0), c)
        case _ => identity
      }
      st.push(AggVal(w, DotProductAgg(omega, act)))
    }
    // mapper.geo.fence (mapper/MapperGeoFence.java): value := BOOLEAN
    // point-in-shape; points without a location yield null (dropped)
    words("mapper.geo.fence") { (w, st, en) =>
      val g = st.pop() match {
        case geo: WordsGeo.WsGeo => geo
        case o => throw new IllegalArgumentException(s"$w expects a GEOSHAPE: $o")
      }
      val inside = g.shape match {
        case Some(shape) => shape.containsCol(col("lat"), col("lon"))
        case None => graft.functions.GeoCells.inCover(col("lat"), col("lon"), g.cells, g.res)
      }
      st.push(MapperDf(w, df => df.filter(col("lat").isNotNull)
        .withColumn("vbool", inside)
        .withColumn("vdouble", inside.cast(org.apache.spark.sql.types.DoubleType))
        .withColumn("vtype", lit(graft.model.GtsType.BOOLEAN))))
    }
    // the named aggregators' bucketizer./mapper./reducer. faces (the
    // reducer with every null variant), the pointwise mappers and
    // APPLY's op.* values
    for ((n, agg) <- aggByName) {
      words("bucketizer." + n, "mapper." + n) { (w, st, en) => st.push(AggVal(w, agg)) }
      for (v <- "" +: NullVariants) {
        val forbid = v == ".forbid-nulls" || v == ".nonnull" ||
          (v.isEmpty && (n == "and" || n == "or"))
        val includeNulls = n == "count" && (v == ".include-nulls" || v.isEmpty)
        words("reducer." + n + v) { (w, st, en) =>
          st.push(AggVal(w, agg, forbid, includeNulls))
        }
      }
    }
    for ((n, f) <- PointwiseMappers)
      words("mapper." + n) { (w, st, en) => st.push(MapperCol(w, f)) }
    for ((n, f) <- Ops) words("op." + n) { (w, st, en) => st.push(OpVal(w, f)) }
    // parametric filters pop their threshold NOW (value words compose:
    // `90.0 filter.last.gt` — script/filter/FilterLastGT-style)
    words("filter.last.gt") { (w, st, en) => st.push(FilterVal(w, col("last_v") > st.popNum())) }
    words("filter.last.ge") { (w, st, en) => st.push(FilterVal(w, col("last_v") >= st.popNum())) }
    words("filter.last.lt") { (w, st, en) => st.push(FilterVal(w, col("last_v") < st.popNum())) }
    words("filter.last.le") { (w, st, en) => st.push(FilterVal(w, col("last_v") <= st.popNum())) }
    words("filter.last.eq") { (w, st, en) => st.push(FilterVal(w, col("last_v") === st.popNum())) }
    words("filter.bysize.gt") { (w, st, en) => st.push(FilterVal(w, col("size_v") > st.popLong())) }
    // metadata filters (script/filter/FilterByClass.java, FilterByLabels):
    // regex on the series class; exact-or-~regex per-label selectors
    words("filter.byclass") { (w, st, en) =>
      val sel = st.popStr()
      // selector form: '~regex' (full match, like the reference's
      // Pattern.matches) or '=exact' / bare exact
      val pred =
        if (sel.startsWith("~")) col("class").rlike("^(?:" + sel.substring(1) + ")$")
        else col("class") === sel.stripPrefix("=")
      st.push(FilterVal(w, pred))
    }
    words("filter.bylabels") { (w, st, en) =>
      val sel = st.pop().asInstanceOf[Map[Any, Any]]
      val pred = sel.map { case (k, v) =>
        val s = String.valueOf(v)
        if (s.startsWith("~"))
          col("labels").getItem(k.toString).rlike("^(?:" + s.substring(1) + ")$")
        else col("labels").getItem(k.toString) === s.stripPrefix("=")
      }.reduceOption(_ && _).getOrElse(lit(true))
      st.push(FilterVal(w, pred))
    }
    words("filter.any.gt") { (w, st, en) => st.push(FilterVal(w, col("max_v") > st.popNum())) }
    words("filter.all.gt") { (w, st, en) => st.push(FilterVal(w, col("min_v") > st.popNum())) }
    words("filter.last.ne") { (w, st, en) => st.push(FilterVal(w, col("last_v") =!= st.popNum())) }
    // filter.any.* / filter.all.* (script/filter/FilterAny.java:98-160):
    // retain the series when ANY point compares true against the popped
    // threshold; the all.* family is the complement of the inverse
    // comparator (registrations WarpScriptLib.java:2789-2801). STRING
    // thresholds compare against STRING-valued points (vstring); the
    // remaining comparators run on the numeric value.
    words("filter.any.eq", "filter.any.ne", "filter.any.ge", "filter.any.le",
      "filter.any.lt", "filter.all.eq", "filter.all.ne", "filter.all.ge",
      "filter.all.le", "filter.all.lt") { (w, st, en) =>
      // threshold-typed comparison columns (FilterAny.java:119-140):
      // LONG thresholds compare value.longValue() (doubles truncate,
      // 64-bit exactness kept), DOUBLE thresholds value.doubleValue(),
      // STRING thresholds val.toString() over EVERY value type
      val (vc, t): (Column, Column) = st.pop() match {
        case s: String => (coalesce(col("vstring"),
          col("vlong").cast(org.apache.spark.sql.types.StringType),
          col("vdouble").cast(org.apache.spark.sql.types.StringType),
          col("vbool").cast(org.apache.spark.sql.types.StringType)), lit(s))
        case b: Boolean => (col("vbool"), lit(b))
        case l: Long => (coalesce(col("vlong"),
          col("vdouble").cast(org.apache.spark.sql.types.LongType)), lit(l))
        case d: Double => (coalesce(col("vdouble"),
          col("vlong").cast(org.apache.spark.sql.types.DoubleType)), lit(d))
        case o => throw new IllegalArgumentException(s"$w threshold: $o")
      }
      val isAll = w.startsWith("filter.all.")
      // all.X ≡ NOT any(inverse-of-X) — the reference's complementSet
      // construction: all.ne=¬any.eq, all.lt=¬any.ge, all.le=¬any.gt,
      // all.gt=¬any.le, all.ge=¬any.lt, all.eq=¬any.ne
      val probe = if (!isAll) w.stripPrefix("filter.any.")
        else w.stripPrefix("filter.all.") match {
          case "ne" => "eq"; case "lt" => "ge"; case "le" => "gt"
          case "gt" => "le"; case "ge" => "lt"; case _ => "ne"
        }
      val p: Column = probe match {
        case "eq" => vc === t
        case "ne" => vc =!= t
        case "ge" => vc >= t
        case "le" => vc <= t
        case "lt" => vc < t
        case _ => vc > t
      }
      st.push(FilterVal(w, lit(true), anyPred = Some(p), negate = isAll))
    }
    // filter.bysize (script/filter/FilterBySize.java: `min max
    // filter.bysize` retains size in [min, max])
    words("filter.bysize") { (w, st, en) =>
      val max = st.popLong(); val min = st.popLong()
      st.push(FilterVal(w,
        col("size_v") >= lit(min) && col("size_v") <= lit(max)))
    }
    // filter.byselector (script/filter/FilterBySelector.java →
    // MetadataSelectorMatcher, faithful r13 — mined from the
    // reference's own MetadataSelectorMatcherTest): the STANDARD
    // one-map form matches each component against the label IF
    // PRESENT, else the attribute (matcher:217-245); only the
    // EXTENDED `class{labels}{attrs}` form checks the two maps
    // strictly (:183-215); `k=` components assert ABSENCE. Attribute
    // components consult the engine-side store (SETATTRIBUTES) by
    // gtsid
    words("filter.byselector") { (w, st, en) =>
      val s = graft.sources.Selector.parse(st.popStr())
      val classPred = (s.classExact, s.classRegex) match {
        case (Some(c), _) => col("class") === c
        case (_, Some(r)) if r == ".*" => lit(true)
        case (_, Some(r)) => col("class").rlike("^(?:" + r + ")$")
        case _ => lit(true)
      }
      val pred =
        if (s.extended) {
          val la = s.labelAbsent.foldLeft(classPred)((acc, k) =>
            acc && col("labels").getItem(k).isNull)
          val le = s.labelExact.foldLeft(la) { case (acc, (k, v)) =>
            acc && col("labels").getItem(k) === v
          }
          val lr = s.labelRegex.foldLeft(le) { case (acc, (k, v)) =>
            acc && col("labels").getItem(k).rlike("^(?:" + v + ")$")
          }
          lr && attrStorePred(st,
            s.attrExact.map { case (k, v) => k -> ("=" + v) } ++
              s.attrRegex.map { case (k, v) => k -> ("~" + v) } ++
              s.attrAbsent.map(k => k -> "=").toMap)
        } else {
          val comps: Map[String, String] =
            s.labelExact.map { case (k, v) => k -> ("=" + v) } ++
              s.labelRegex.map { case (k, v) => k -> ("~" + v) }
          val base = s.labelAbsent.foldLeft(classPred)((acc, k) =>
            acc && col("labels").getItem(k).isNull &&
              attrStorePred(st, Map(k -> "=")))
          comps.foldLeft(base) { case (acc, (k, v)) =>
            val lp =
              if (v.startsWith("~"))
                col("labels").getItem(k).rlike("^(?:" + v.substring(1) + ")$")
              else col("labels").getItem(k) === v.stripPrefix("=")
            acc && when(col("labels").getItem(k).isNotNull, lp)
              .otherwise(attrStorePred(st, Map(k -> v), matchOnly = true))
          }
        }
      st.push(FilterVal(w, pred))
    }
    // filter.byattr / filter.bylabelsattr (script/filter/
    // FilterByLabels.java Builder checkLabels/checkAttributes flags,
    // registrations :2776-2777): selector map per key; a key matches on
    // the label (bylabelsattr) or the attribute; ''/'=' selectors
    // assert ABSENCE (Constants.ABSENT_LABEL_SUPPORT)
    words("filter.byattr", "filter.bylabelsattr") { (w, st, en) =>
      val sel = st.pop().asInstanceOf[Map[Any, Any]]
        .map { case (k, v) => k.toString -> String.valueOf(v) }
      val checkLabels = w == "filter.bylabelsattr"
      val pred = sel.map { case (k, s) =>
        val attrP = attrStorePred(st, Map(k -> s))
        if (!checkLabels) attrP
        else if (s.isEmpty || s == "=")
          // absence asserted on BOTH sides (FilterByLabels.java:118-125)
          col("labels").getItem(k).isNull && attrP
        else {
          // the label takes PRIORITY: when the key exists as a label its
          // value must match — the attribute is consulted only when the
          // label is absent (FilterByLabels.java:131-155)
          val lp =
            if (s.startsWith("~"))
              col("labels").getItem(k).rlike("^(?:" + s.substring(1) + ")$")
            else col("labels").getItem(k) === s.stripPrefix("=")
          when(col("labels").getItem(k).isNotNull, lp)
            .otherwise(attrStorePred(st, Map(k -> s), matchOnly = true))
        }
      }.reduceOption(_ && _).getOrElse(lit(true))
      st.push(FilterVal(w, pred))
    }
    // filter.bymetadata (script/filter/FilterByMetadata.java): pops a
    // list of GTS; retains the series whose (class, labels) equal one
    // of theirs — Metadata equality keyed on the canonical sorted
    // label rendering (attributes excluded: list elements come from
    // NEWGTS+RELABEL and carry none)
    words("filter.bymetadata") { (w, st, en) =>
      val metas: Seq[(String, String)] = st.pop() match {
        case v: Vector[Any @unchecked] => v.map {
          case b: GtsBuilder =>
            // the driver-side twin of GtsFrame.labelsKeyCol's rendering
            // (\u0001 between entries, \u0002 key/value separator —
            // the control chars keep the key unambiguous)
            (b.cls, b.labels.toSeq.sortBy(_._1)
              .map { case (k, vv) => k + "\u0002" + vv }.mkString("\u0001"))
          case f: GtsFrame =>
            val r = f.df.select(col("class"),
              GtsFrame.labelsKeyCol.as("__lk")).distinct().limit(2).collect()
            require(r.length == 1, "filter.bymetadata: multi-series element")
            (r(0).getString(0), r(0).getString(1))
          case o => throw new IllegalArgumentException(
            s"filter.bymetadata element: $o")
        }
        case o => throw new IllegalArgumentException(s"$w expects a list: $o")
      }
      // the SAME canonical rendering over the aggregate row's labels
      val lkey = concat_ws("\u0001", transform(
        array_sort(map_entries(col("labels"))),
        e => concat_ws("\u0002", e.getField("key"), e.getField("value"))))
      val pred = metas.map { case (c, lk) =>
        col("class") === c && lkey === lk
      }.reduceOption(_ || _).getOrElse(lit(false))
      st.push(FilterVal(w, pred))
    }
    // filter.latencies (script/filter/LatencyFilter.java Builder:
    // `minLat maxLat [ options ] filter.latencies`)
    words("filter.latencies") { (w, st, en) =>
      val options = st.pop() match {
        case v: Vector[Any @unchecked] => v.map(_.toString)
        case o => throw new IllegalArgumentException(s"$w options: $o")
      }
      val maxLat = st.popLong(); val minLat = st.popLong()
      st.push(LatencyFilterVal(w, minLat, maxLat, options))
    }
  }

  /** Reference-wrapper decode → GtsBuilder: delete tombstones are
    * skipped (a frame carries no deletions), GeoXPPoint locations
    * resolve to cell-center lat/lon via GeoFunctions.fromHHCode. */
  def wrapperBuilder(decoded: (WrapperCodec.Wrapper,
      Vector[WrapperCodec.WPoint])): WarpScriptEngine.GtsBuilder = {
    val (w, pts) = decoded
    WarpScriptEngine.GtsBuilder(w.name, w.labels,
      pts.filter(_.value != null).map { p =>
        (p.ts, p.location.map(graft.functions.GeoFunctions.fromHHCode),
          p.elevation, p.value)
      })
  }

  /** WRAP word emit path: collect the frame's series into
    * (class, labels, points) triples for [[WrapperCodec]] — the
    * reference stack contract puts the WHOLE series blob on the stack,
    * so this is a driver collect with the accessor words' bounded-cap
    * guard (WordsGts.collectGuard). Series and points sort
    * canonically so the emitted strings are deterministic. */
  def collectWrapSeries(df: org.apache.spark.sql.DataFrame)
      : Vector[(String, Map[String, String], Vector[WrapperCodec.WPoint])] = {
    import graft.model.GtsType
    WordsGts.collectGuard(df, "WRAP")
    val rows = df.select(col("class"), col("labels"), col("ts"),
      col("lat"), col("lon"), col("elev"), col("vtype"), col("vlong"),
      col("vdouble"), col("vbool"), col("vstring"), col("vbinary")).collect()
    rows.toVector.map { r =>
      val v: Any = r.getByte(6) match {
        case GtsType.LONG => r.getLong(7)
        case GtsType.DOUBLE => r.getDouble(8)
        case GtsType.BOOLEAN => r.getBoolean(9)
        case GtsType.STRING => r.getString(10)
        case _ => r.getAs[Array[Byte]](11)
      }
      val loc = if (r.isNullAt(3) || r.isNullAt(4)) None
        else Some(graft.functions.GeoFunctions.toHHCode(r.getDouble(3), r.getDouble(4)))
      val elev = if (r.isNullAt(5)) None else Some(r.getLong(5))
      val labels = r.getAs[Map[String, String]](1)
      (r.getString(0), labels, WrapperCodec.WPoint(r.getLong(2), loc, elev, v))
    }.groupBy(t => (t._1, t._2)).toVector
      .map { case ((cls, labels), pts) =>
        (cls, labels, pts.map(_._3).sortBy(p => (p.ts, String.valueOf(p.value))))
      }
      .sortBy { case (cls, labels, _) =>
        (cls, labels.toSeq.sortBy(_._1).map { case (k, vv) => k + "\u0002" + vv }
          .mkString("\u0001"))
      }
  }

  /** One stack value per the reference WRAP contract: a single series
    * → one string (or bytes), several series → a LIST. `buckets` are
    * the (lastbucket, bucketspan, bucketcount) wrapper fields of a
    * BUCKETIZE result (GTSWrapperHelper carries them). */
  def wrapValue(series: Vector[(String, Map[String, String],
      Vector[WrapperCodec.WPoint])], raw: Boolean, mv: Boolean,
      compress: Boolean, buckets: (Long, Long, Long) = (0L, 0L, 0L)): Any = {
    val outs: Vector[Any] = series.map { case (cls, labels, pts) =>
      val encoded = WrapperCodec.encodePoints(pts, 0L)
      val (body, compressed) =
        if (compress) {
          val z = WrapperCodec.gzipPass(encoded)
          if (z.length < encoded.length) (z, true) else (encoded, false)
        } else (encoded, false)
      val bytes = WrapperCodec.writeWrapper(WrapperCodec.Wrapper(
        cls, labels, Map.empty, 0L, body, pts.length.toLong,
        compressed, 1, buckets._1, buckets._2, buckets._3),
        includeMeta = !mv)
      if (raw) bytes else WrapperCodec.opb64Encode(bytes)
    }
    if (outs.length == 1) outs.head else outs
  }

  /** WRAP family dispatch on the stack value (fn/WRAP.java
    * ElementStackFunction: element-wise on lists). Flags per the
    * reference registrations (WarpScriptLib.java:2596-2606): raw =
    * push bytes, mv = drop metadata+count, compress = gzip when it
    * helps (WRAPFAST/WRAPMV! registered compress=false). */
  def wrapOf(v: Any, raw: Boolean, mv: Boolean, compress: Boolean,
      toFrame: Any => graft.operators.GtsFrame): Any = v match {
    case b: WarpScriptEngine.GtsBuilder =>
      wrapValue(Vector((b.cls, b.labels,
        b.points.map { case (ts, loc, elev, value) =>
          WrapperCodec.WPoint(ts,
            loc.map { case (la, lo) => graft.functions.GeoFunctions.toHHCode(la, lo) },
            elev, value)
        })), raw, mv, compress)
    case bf: WarpScriptEngine.BucketedFrame =>
      wrapValue(collectWrapSeries(bf.frame.df), raw, mv, compress,
        buckets = (bf.lastbucket, bf.span, bf.count))
    case l: Vector[Any @unchecked] =>
      l.map(x => wrapOf(x, raw, mv, compress, toFrame))
    case other => wrapValue(collectWrapSeries(toFrame(other).df), raw, mv,
      compress)
  }
}
