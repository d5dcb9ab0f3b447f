package graft.script

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.GtsFrame

/** GTS word tail: bucket-metadata accessors, structural trims,
  * point-level editors, per-series statistics scalars and the
  * outlier-test words beyond ESDTEST (fn/LASTBUCKET.java,
  * fn/CLIP.java, fn/SHRINK.java, fn/SETVALUE.java, fn/MUSIGMA.java,
  * fn/THRESHOLDTEST.java, fn/GRUBBSTEST.java, fn/MONOTONIC.java,
  * fn/VALUEHISTOGRAM.java, fn/PARTITION.java, fn/GROUPBY.java...).
  *
  * Scalar-returning accessors (VALUES, VALUEHISTOGRAM, ATTICK...)
  * collect to the driver — they are script-level inspection words; the
  * guard below caps them at 1M points, the same bounded-driver
  * contract as the engine's FIRSTTICK/LABELS words.
  */
private[script] object WordsGts {
  import WarpScriptEngine._

  private val MAX_COLLECT = 1000000L

  private[script] def collectGuard(df: DataFrame, word: String): Unit = {
    val n = df.count()
    require(n <= MAX_COLLECT,
      s"$word collects to the driver; $n points exceeds the $MAX_COLLECT cap")
  }

  /** Single-series guard: the scalar accessors follow the reference's
    * per-GTS contract. */
  private[script] def singleSeries(f: GtsFrame, word: String): DataFrame = {
    val ids = f.df.select(col("gtsid")).distinct().limit(2).collect()
    require(ids.length <= 1, s"$word needs a single-series frame")
    f.df
  }

  private[script] def tickWindow = Window.partitionBy(col("gtsid")).orderBy(col("ts"))

  /** Exact (n, Σx, Σx²) in BigDecimal — the MUSIGMA/NSUMSUMSQ numeric
    * contract (fn/MUSIGMA.java:69-85: BigDecimal.valueOf of each
    * value's double, exact decimal adds). Per-partition decimal folds
    * reduced on the driver: exact addition is associative, so the
    * distributed order is immaterial. LONG-typed values go through the
    * vlong slot like the reference's TYPE.LONG branch. */
  private[script] def exactNSumSumsq(
      df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df
      .select(coalesce(col("vdouble"), col("vlong").cast("double")).as("v"))
      .as[Double]
      .mapPartitions { it =>
        var n = 0L
        var s = java.math.BigDecimal.ZERO
        var q = java.math.BigDecimal.ZERO
        it.foreach { v =>
          n += 1
          val bd = java.math.BigDecimal.valueOf(v)
          s = s.add(bd); q = q.add(bd.multiply(bd))
        }
        Iterator.single((n, s.toString, q.toString))
      }.collect()
    parts.foldLeft((0L, java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO)) {
      case ((n, s, q), (pn, ps, pq)) =>
        (n + pn, s.add(new java.math.BigDecimal(ps)),
          q.add(new java.math.BigDecimal(pq)))
    }
  }

  /** Collect (ts → typed value) rows, preserving scala-side types
    * (the typed-column dispatch of GTSHelper.valueAtIndex). */
  private def typedRows(df: DataFrame): Array[(Long, Any)] = {
    import graft.model.GtsType
    df.select(col("ts"), col("vtype"), col("vlong"), col("vdouble"),
        col("vbool"), col("vstring")).collect()
      .map { r =>
        val v: Any = r.getByte(1) match {
          case GtsType.LONG => if (r.isNullAt(2)) null else r.getLong(2)
          case GtsType.DOUBLE => if (r.isNullAt(3)) null else r.getDouble(3)
          case GtsType.BOOLEAN => if (r.isNullAt(4)) null else r.getBoolean(4)
          case _ => if (r.isNullAt(5)) null else r.getString(5)
        }
        (r.getLong(0), v)
      }.sortBy(_._1)
  }

  def eval(w: String, st: State, en: WarpScriptEngine): Boolean = {
    w match {
      // ---- bucket metadata accessors (fn/LASTBUCKET.java,
      // BUCKETSPAN, BUCKETCOUNT — 0 on a non-bucketized frame, like
      // the reference's unbucketized GTS)
      case "LASTBUCKET" => st.push(st.pop() match {
        case BucketedFrame(_, lb, _, _) => lb
        case _ => 0L
      })
      case "BUCKETSPAN" => st.push(st.pop() match {
        case BucketedFrame(_, _, span, _) => span
        case _ => 0L
      })
      case "BUCKETCOUNT" => st.push(st.pop() match {
        case b: BucketedFrame => en.toBucketed(b).count
        case _ => 0L
      })
      case "UNBUCKETIZE" | "UNBUCKETIZE.CALENDAR" =>
        st.push(en.toFrame(st.pop()))
      // ONLYBUCKETS (fn/ONLYBUCKETS.java): keep points exactly on the
      // bucket boundaries
      case "ONLYBUCKETS" =>
        val b = en.toBucketed(st.pop())
        st.push(BucketedFrame(GtsFrame(b.frame.df.filter(
          pmod(lit(b.lastbucket) - col("ts"), lit(b.span)) === 0)),
          b.lastbucket, b.span, b.count))
      // CROP (fn/CROP.java): clip to the bucketized extent
      case "CROP" =>
        val b = en.toBucketed(st.pop())
        val first = b.lastbucket - (b.count - 1) * b.span
        st.push(BucketedFrame(
          GtsFrame(b.frame.df.filter(col("ts") >= first && col("ts") <= b.lastbucket)),
          b.lastbucket, b.span, b.count))

      // ---- structural trims
      // CLIP (fn/CLIP.java): gts [ [from to] ... ] → union of clips
      // CLIP (fn/CLIP.java, faithful r12): an INVERTED pair is SWAPPED
      // (CLIP.java:61-63), not empty; and the output is one timeclip
      // PER PAIR — overlapping ranges DUPLICATE the shared points
      // (the reference returns a list of clipped copies), so the
      // frame is the union of per-range filters, not an OR-predicate
      case "CLIP" =>
        val ranges = st.pop().asInstanceOf[Vector[Any]].map {
          case r: Vector[Any @unchecked] =>
            val a = en.asLong(r(0)); val b = en.asLong(r(1))
            if (a > b) (b, a) else (a, b)
          case o => throw new IllegalArgumentException(s"CLIP range: $o")
        }
        val f = en.toFrame(st.pop())
        val legs = ranges.map { case (a, b) =>
          f.df.filter(col("ts") >= a && col("ts") <= b) }
        st.push(GtsFrame(legs.reduceOption(_ unionByName _)
          .getOrElse(f.df.limit(0))))
      // SHRINK (fn/SHRINK.java): n > 0 keeps the n earliest points per
      // series, n < 0 the n most recent (distributed rank, no collect)
      case "SHRINK" =>
        val n = st.popLong()
        val f = en.toFrame(st.pop())
        if (n == 0) st.push(GtsFrame(f.df.limit(0)))
        else {
          // value tiebreak keeps coincident ticks deterministic (the
          // reference sorts primitive arrays, where ties are stable)
          val win = Window.partitionBy(col("gtsid"))
            .orderBy(
              if (n > 0) col("ts").asc else col("ts").desc,
              if (n > 0) col("vdouble").asc else col("vdouble").desc)
          st.push(GtsFrame(f.df.withColumn("__rn", row_number().over(win))
            .filter(col("__rn") <= math.abs(n)).drop("__rn")))
        }

      // ---- order words (faithful r13 audit). The reference's GTS
      // carries ARRAY ORDER as state; a stack-built GtsBuilder carries
      // the same (its append vector), so order words act on it
      // exactly. A storage frame remains a canonical point SET whose
      // order-sensitive consumers sort internally — the documented
      // determinization (same argument as DEDUP, COVERAGE.md §2.2).
      // CLONEREVERSE (WarpScriptLib.java:2042 registers it as
      // `new REVERSE(name, stable=false)`) is NOT a GTS word at all —
      // it copy-reverses a LIST, STRING or byte array; the old binding
      // passed lists through UNreversed.
      case "CLONEREVERSE" => st.pop() match {
        case v: Vector[Any @unchecked] => st.push(v.reverse)
        case s: String => st.push(s.reverse)
        case bs: Array[Byte] => st.push(bs.reverse)
        case o => throw new IllegalArgumentException(
          s"CLONEREVERSE operates on a list, byte array or String, got $o")
      }
      // VALUESORT/RVALUESORT (GTSHelper.valueSort → quicksortByValue:
      // 735-935): reorder each series' points by (value, tick), BOTH
      // reversed for R; boolean series sort false-block-then-true
      // (booleanGTSSplit:706-733), which the same comparator yields
      case "VALUESORT" | "RVALUESORT" => st.pop() match {
        case b: GtsBuilder => st.push(valueSortBuilder(b, w == "RVALUESORT"))
        case v: Vector[Any @unchecked] => st.push(v.map {
          case b: GtsBuilder => valueSortBuilder(b, w == "RVALUESORT")
          case o => o
        })
        case o => st.push(o)
      }
      // LASTSORT (fn/LASTSORT.java LAST_COMPARATOR): sort a LIST of
      // series by the value at their newest tick — empty series last,
      // ties broken newer-tick-first, then metadata text order
      case "LASTSORT" => st.pop() match {
        case v: Vector[Any @unchecked] =>
          st.push(v.sortWith((a, b) => lastCompare(a, b, en) < 0))
        case o => st.push(o)
      }
      // METASORT (fn/METASORT.java): [gts...] [fields] (attrFlag?)
      // METASORT — pops the optional boolean and the MANDATORY fields
      // list (the old binding consumed neither: an arity bug), then
      // sorts the list by MetadataTextComparator — no fields: name,
      // interleaved sorted label (k,v) pairs, label count; with
      // fields: each field's label value (null field = the name),
      // nulls first (MetadataTextComparator.java:105-139)
      case "METASORT" =>
        val fields = st.pop() match {
          case _: Boolean => st.pop() match {
            case fs: Vector[Any @unchecked] => fs
            case o => throw new IllegalArgumentException(
              s"METASORT expects a list of fields, got $o")
          }
          case fs: Vector[Any @unchecked] => fs
          case o => throw new IllegalArgumentException(
            s"METASORT expects a list of fields on top of the stack, got $o")
        }
        val fs = fields.map(f => if (f == null) null else f.toString)
        st.pop() match {
          case v: Vector[Any @unchecked] =>
            st.push(v.sortWith((a, b) =>
              metaCompare(metaOf(a, en), metaOf(b, en), fs) < 0))
          case o => st.push(o)
        }
      // FUSE (fn/FUSE.java): merge the chunks of a GTS list
      case "FUSE" => st.push(en.toFrame(st.pop()))
      // EMPTY / NONEMPTY (fn/EMPTY.java, NONEMPTY.java — faithful r13
      // audit): FILTER a list of series (flattened one level) into the
      // empty / non-empty subset — the old NONEMPTY binding merged the
      // list into one frame. Single-frame face: a point-row frame has
      // no empty series, so EMPTY is the empty frame and NONEMPTY the
      // identity (documented encoding)
      case "EMPTY" | "NONEMPTY" =>
        def isEmptySeries(x: Any): Boolean = x match {
          case b: GtsBuilder => b.points.isEmpty
          case o => en.toFrame(o).df.limit(1).count() == 0
        }
        st.pop() match {
          case v: Vector[Any @unchecked] =>
            val flat = v.flatMap {
              case inner: Vector[Any @unchecked] => inner
              case x => Vector(x)
            }
            st.push(flat.filter(x =>
              if (w == "EMPTY") isEmptySeries(x) else !isEmptySeries(x)))
          case o =>
            if (w == "EMPTY") st.push(GtsFrame(en.toFrame(o).df.limit(0)))
            else st.push(en.toFrame(o))
        }

      // ---- point accessors (fn/TICKS.java, VALUES, LOCATIONS,
      // ELEVATIONS — single-series, tick-ordered, driver-bounded)
      case "TICKS" =>
        val f = en.toFrame(st.pop())
        collectGuard(f.df, w)
        st.push(f.df.select(col("ts")).distinct()
          .collect().map(_.getLong(0)).sorted.toVector)
      // VALUES/LOCATIONS/ELEVATIONS read the CURRENT point order
      // (fn/VALUES.java loops valueAtIndex 0..n — no sort): a builder
      // answers in its own order (append, or post-VALUESORT); a frame
      // answers in canonical tick order (the at-rest order)
      case "VALUES" => st.pop() match {
        case b: GtsBuilder => st.push(b.points.map(_._4).toVector)
        case o =>
          val df = singleSeries(en.toFrame(o), w)
          collectGuard(df, w)
          st.push(typedRows(df).map(_._2: Any).toVector)
      }
      case "LOCATIONS" => st.pop() match {
        case b: GtsBuilder =>
          st.push(b.points.map(p => p._2.map(_._1).getOrElse(Double.NaN): Any).toVector)
          st.push(b.points.map(p => p._2.map(_._2).getOrElse(Double.NaN): Any).toVector)
        case o =>
          val df = singleSeries(en.toFrame(o), w)
          collectGuard(df, w)
          val rows = df.select(col("ts"), col("lat"), col("lon")).collect()
            .sortBy(_.getLong(0))
          st.push(rows.map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1): Any).toVector)
          st.push(rows.map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2): Any).toVector)
      }
      case "ELEVATIONS" => st.pop() match {
        case b: GtsBuilder =>
          st.push(b.points.map(p => p._3.getOrElse(null): Any).toVector)
        case o =>
          val df = singleSeries(en.toFrame(o), w)
          collectGuard(df, w)
          st.push(df.select(col("ts"), col("elev")).collect()
            .sortBy(_.getLong(0))
            .map(r => if (r.isNullAt(1)) null else r.getLong(1): Any).toVector)
      }
      // ATTICK / ATINDEX (fn/ATTICK.java, ATINDEX: [ tick lat lon
      // elev value ] of the point at a tick / at tick-order index)
      case "ATTICK" =>
        val tick = st.popLong()
        val df = singleSeries(en.toFrame(st.pop()), w)
        val rows = df.filter(col("ts") === tick)
          .select(pointCols: _*)
          .collect()
        st.push(pointList(rows.headOption, tick))
      // ATINDEX indexes the CURRENT order with python-style negative
      // wrap and an out-of-bounds error (ATINDEX.java:49 →
      // GET.computeAndCheckIndex:111-122): builder = its own order;
      // frame = canonical tick order
      case "ATINDEX" =>
        val idx0 = st.popLong()
        st.pop() match {
          case b: GtsBuilder =>
            val idx = checkIndex(idx0, b.points.length.toLong)
            val (ts, loc, elev, v) = b.points(idx.toInt)
            st.push(Vector[Any](ts,
              loc.map(_._1).getOrElse(Double.NaN),
              loc.map(_._2).getOrElse(Double.NaN),
              elev.map(_.asInstanceOf[Any]).getOrElse(Double.NaN), v))
          case o =>
            val df = singleSeries(en.toFrame(o), w)
            val idx = if (idx0 >= 0) idx0 else checkIndex(idx0, df.count())
            val rows = df.withColumn("__rn", row_number().over(tickWindow))
              .filter(col("__rn") === idx + 1)
              .select(pointCols: _*)
              .collect()
            require(rows.nonEmpty, s"Index out of bound, $idx0 >= ${df.count()}")
            st.push(pointList(rows.headOption, 0L))
        }

      // ---- point editors (fn/SETVALUE.java, REMOVETICK)
      case "SETVALUE" =>
        // both reference arities (ADDVALUE.java:14-56, registered with
        // overwrite=true as SETVALUE): a [ts lat lon elev value] tuple
        // OR the five scalars `ts lat lon elev value` on the stack
        val p: Vector[Any] = st.pop() match {
          case v: Vector[Any @unchecked] => v
          case value =>
            val elev = st.pop(); val lon = st.pop(); val lat = st.pop()
            Vector(st.pop(), lat, lon, elev, value)
        }
        val tick = en.asLong(p(0))
        // the value keeps its runtime type (GTSHelper.setValue accepts
        // LONG/DOUBLE/BOOLEAN/STRING; the old asNum coerced to double)
        val value: Any = p(p.size - 1) match {
          case l: Long => l; case d: Double => d
          case b: Boolean => b; case s: String => s
          case o => throw new IllegalArgumentException(s"SETVALUE value: $o")
        }
        st.pop() match {
          case b: GtsBuilder =>
            val loc = if (p.size >= 4)
              Some((en.asNum(p(1)), en.asNum(p(2)))).filterNot(t => t._1.isNaN || t._2.isNaN)
            else None
            val elev = if (p.size >= 5) p(3) match {
              case l: Long => Some(l)
              case _ => None
            } else None
            // overwrite=true replaces the FIRST point at the tick IN
            // PLACE and leaves any other duplicates (GTSHelper
            // .setValue:1596-1615 scans for the first match); only
            // when absent does it append
            val i = b.points.indexWhere(_._1 == tick)
            st.push(b.copy(points =
              if (i >= 0) b.points.updated(i, (tick, loc, elev, value))
              else b.points :+ (tick, loc, elev, value)))
          case other =>
            val f = en.toFrame(other)
            val df = singleSeries(f, w)
            val meta = df.limit(1)
              .select(col("class"), col("labels"), col("gtsid")).collect()(0)
            val spark = df.sparkSession
            import graft.model.GtsType
            val (vt, vl, vd, vb, vs) = value match {
              case l: Long => (GtsType.LONG, lit(l), lit(null), lit(null), lit(null))
              case d: Double => (GtsType.DOUBLE, lit(null), lit(d), lit(null), lit(null))
              case b2: Boolean => (GtsType.BOOLEAN, lit(null), lit(null), lit(b2), lit(null))
              case s2: String => (GtsType.STRING, lit(null), lit(null), lit(null), lit(s2))
            }
            val point = spark.range(1).select(
              lit(meta.getString(0)).as("class"),
              typedLit(meta.getMap[String, String](1).toMap).as("labels"),
              lit(meta.getLong(2)).as("gtsid"), lit(tick).as("ts"),
              lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
              lit(null).cast("long").as("elev"),
              lit(vt).as("vtype"),
              vl.cast("long").as("vlong"), vd.cast("double").as("vdouble"),
              vb.cast("boolean").as("vbool"),
              vs.cast("string").as("vstring"),
              lit(null).cast("binary").as("vbinary"))
            st.push(GtsFrame(df.filter(col("ts") =!= tick)
              .unionByName(point.select(df.columns.map(col).toSeq: _*))))
        }
      // REMOVETICK (fn/REMOVETICK.java:9-28): a tick OR a collection
      // of ticks; prunes every point at those ticks. A builder keeps
      // its remaining points' order (cloneEmpty + ordered re-add)
      case "REMOVETICK" =>
        val ticks: Set[Long] = st.pop() match {
          case l: Long => Set(l)
          case v: Vector[Any @unchecked] => v.map(en.asLong).toSet
          case o => throw new IllegalArgumentException(
            s"REMOVETICK expects a tick (LONG) or a collection thereof, got $o")
        }
        st.pop() match {
          case b: GtsBuilder =>
            st.push(b.copy(points = b.points.filterNot(p => ticks(p._1))))
          case o => st.push(GtsFrame(
            en.toFrame(o).df.filter(!col("ts").isInCollection(ticks))))
        }

      // ---- per-series statistics scalars (fn/MUSIGMA.java,
      // fn/NSUMSUMSQ.java — both accumulate in EXACT BigDecimal "to
      // prevent overflowing for long series"; decimal addition is
      // exact hence order-independent, so the distributed per-partition
      // fold below is faithful to the reference's sequential loop)
      case "MUSIGMA" =>
        val bessel = st.popBool()
        val (n, s, q) = exactNSumSumsq(singleSeries(en.toFrame(st.pop()), w))
        require(n > 0, s"$w can only compute mu and sigma for non empty series.")
        val bdn = java.math.BigDecimal.valueOf(n)
        // the reference's exact divide-with-HALF_UP forms and its
        // variance * (n / (n - 1.0)) Bessel order (MUSIGMA.java:89-101
        // — NOT GTSHelper.musigma's (var * n) / (n - 1))
        st.push(s.divide(bdn, java.math.RoundingMode.HALF_UP).doubleValue())
        var variance = q.divide(bdn, java.math.RoundingMode.HALF_UP)
          .subtract(s.multiply(s).divide(bdn.multiply(bdn),
            java.math.RoundingMode.HALF_UP)).doubleValue()
        if (bessel && n > 1) variance = variance * (n / (n - 1.0))
        st.push(math.sqrt(variance))
      case "NSUMSUMSQ" =>
        val (n, s, q) = exactNSumSumsq(singleSeries(en.toFrame(st.pop()), w))
        st.push(n); st.push(s.doubleValue()); st.push(q.doubleValue())
      // ZSCORE (fn/ZSCORE.java): (v − m)/std per point; the boolean
      // flag selects median/MAD (modified z) vs mean/Bessel-sd; a zero
      // deviation errors (GTSOutliersHelper.zScore:148-166)
      case "ZSCORE" =>
        val useMedian = st.popBool()
        st.push(GtsFrame(
          graft.operators.StatOps.zscore(en.toFrame(st.pop()), useMedian)))

      // ---- value-keyed words (fn/VALUEHISTOGRAM.java, VALUEDEDUP)
      // VALUEHISTOGRAM (GTSHelper.valueHistogram:9227-9259): occurrence
      // count per TYPED value; a bucketized input additionally counts
      // its empty buckets under the null key
      case "VALUEHISTOGRAM" =>
        val popped = st.pop()
        val df = singleSeries(en.toFrame(popped), w)
        val hist = df.groupBy(col("vtype"), col("vlong"), col("vdouble"),
            col("vbool"), col("vstring")).agg(count(lit(1)).as("n"))
        collectGuard(hist, w)
        val rows = hist.collect()
        import graft.model.GtsType
        val base: Map[Any, Any] = rows.map { r =>
          val v: Any = r.getByte(0) match {
            case GtsType.LONG    => r.getLong(1)
            case GtsType.DOUBLE  => r.getDouble(2)
            case GtsType.BOOLEAN => r.getBoolean(3)
            case _               => r.getString(4)
          }
          v -> (r.getLong(5): Any)
        }.toMap
        val withNull = popped match {
          case b: BucketedFrame if b.count > 0 =>
            val nvalues = rows.map(_.getLong(5)).sum
            if (b.count > nvalues) base + ((null: Any) -> (b.count - nvalues))
            else base
          case _ => base
        }
        st.push(withNull)
      // VALUEDEDUP: boolean = keep the OLDEST point per duplicate
      // value (true) or the most recent (false)
      case "VALUEDEDUP" =>
        val keepFirst = st.popBool()
        val win = Window.partitionBy(col("gtsid"), col("vdouble"))
          .orderBy(if (keepFirst) col("ts").asc else col("ts").desc)
        st.push(en.keepBuckets(st.pop())(f => GtsFrame(
          f.df.withColumn("__rn", row_number().over(win))
            .filter(col("__rn") === 1).drop("__rn"))))

      // ---- outlier tests beyond ESDTEST (fn/THRESHOLDTEST.java:
      // v >= t flags; fn/GRUBBSTEST.java = one-round ESD)
      case "THRESHOLDTEST" =>
        val t = st.popNum()
        val f = en.toFrame(st.pop())
        st.push(GtsFrame(f.df.filter(col("vdouble") >= t)))
      case "GRUBBSTEST" =>
        val useMad = st.popBool()
        val f = en.toFrame(st.pop())
        val flagged =
          if (useMad) graft.operators.StatOps.esdMadFlag(f, 1, 0.05)
          else graft.operators.StatOps.esdFlag(f, 1, 0.05)
        st.push(GtsFrame(flagged.join(graft.model.Gts.seriesMeta(f.df), "gtsid")))

      // MONOTONIC (fn/MONOTONIC.java): clamp values so the series is
      // monotonic in tick order — running max (ascending) / running
      // min (decreasing=true). RANGE frame (Spark's orderBy default)
      // so coincident ticks clamp identically regardless of tie order
      case "MONOTONIC" =>
        val decreasing = st.popBool()
        val f = en.toFrame(st.pop())
        val cum = tickWindow
        val clamped = if (decreasing) min(col("vdouble")).over(cum)
          else max(col("vdouble")).over(cum)
        st.push(GtsFrame(f.df.withColumn("vdouble", clamped)))

      // TLTTB (fn/LTTB.java registered timebased=true,
      // WarpScriptLib:2528): SAME threshold parameter as LTTB — the
      // 'T' selects TIME-based buckets of per-series width
      // ceil((last−first−2)/(threshold−2)), not a timespan argument
      // (corrected round 11; SeriesKernels.lttbReference)
      case "TLTTB" =>
        val thr = st.popLong().toInt
        val f = en.toFrame(st.pop())
        val sel = new graft.kernels.KernelOps(f.df).lttbRef(thr, timebased = true)
        st.push(GtsFrame(sel.join(graft.model.Gts.seriesMeta(f.df), "gtsid")))

      // ---- series grouping (fn/PARTITION.java: [gts] [labels] →
      // map of label-values → merged sub-frame; fn/GROUPBY.java /
      // FILTERBY.java: macro keyed on per-series (class, labels))
      case "PARTITION" =>
        val byLabels = st.pop().asInstanceOf[Vector[Any]].map(_.toString)
        val f = en.toFrame(st.pop())
        val keyCols = byLabels.map(l => col("labels").getItem(l).as(l))
        val combos = f.df.select(keyCols: _*).distinct().collect()
        val m = combos.map { row =>
          val kv: Map[Any, Any] = byLabels.zipWithIndex
            .map { case (l, i) => (l: Any) -> (row.getString(i): Any) }.toMap
          val pred = byLabels.zipWithIndex.map { case (l, i) =>
            if (row.isNullAt(i)) col("labels").getItem(l).isNull
            else col("labels").getItem(l) === row.getString(i)
          }.reduce(_ && _)
          (kv: Any) -> (GtsFrame(f.df.filter(pred)): Any)
        }.toMap
        st.push(m)
      case "GROUPBY" | "FILTERBY" =>
        val m = st.pop().asInstanceOf[WsMacro]
        val f = en.toFrame(st.pop())
        // ONE metadata pass (distributed agg + single collect, bounded
        // by the series count — same driver contract as LABELS), then
        // key every series in memory: metadata-only macros run through
        // ScalarEval with no further Spark actions; macros that touch
        // point data fall back to the engine loop (one action/series).
        val metas = graft.model.Gts.seriesMeta(f.df).collect()
        require(metas.length <= 10000, s"$w: too many series (${metas.length})")
        val scalarSafe = graft.script.ScalarEval.metadataSafe(m.tokens)
        val keyed: Seq[(Any, Long)] = metas.toSeq.map { row =>
          val gtsid = row.getLong(0)
          val key =
            if (scalarSafe) {
              val g = graft.script.ScalarEval.GtsLite(row.getString(1),
                row.getMap[String, String](2).toMap, Vector.empty, Vector.empty)
              graft.script.ScalarEval.run(m.tokens, List(g)).head
            } else {
              st.push(GtsFrame(f.df.filter(col("gtsid") === gtsid)))
              en.evalMacro(m, st)
              st.pop()
            }
          key -> gtsid
        }
        // one filtered plan per GROUP (InSet over gtsids), never one
        // per series — the sub-frame count no longer shapes the plan
        def subFrame(ids: Seq[Long]): GtsFrame =
          if (ids.isEmpty) GtsFrame(f.df.limit(0))
          else GtsFrame(f.df.filter(col("gtsid").isin(ids: _*)))
        if (w == "FILTERBY")
          st.push(subFrame(keyed.collect { case (true, id) => id }))
        else
          st.push(keyed.groupBy(_._1).map { case (k, ids) =>
            (k: Any) -> (subFrame(ids.map(_._2)): Any)
          }.toMap)

      // ---- construction (fn/MAKEGTS.java: `[ticks] [lats] [lons]
      // [elevs] [values] MAKEGTS`, r12 faithful form — len is the MAX
      // list size, a short values/elevations list pads with its LAST
      // element / no-elevation, geo only while BOTH lat and lon lists
      // reach i, a missing tick auto-increments from the last explicit
      // one (starting at 0), value TYPES are preserved, and the result
      // carries an EMPTY name and no labels; fn/PARSE.java: GTS input
      // format text → frame via the LineProtocol grammar)
      case "MAKEGTS" =>
        def lst(what: String): Vector[Any] = st.pop() match {
          case v: Vector[Any @unchecked] => v
          case o => throw new IllegalArgumentException(
            s"MAKEGTS expects a list of $what, got $o")
        }
        val values = lst("values")
        val elevs = lst("elevations")
        val lons = lst("longitudes")
        val lats = lst("latitudes")
        val ticks = lst("ticks")
        val len = Seq(values, elevs, lons, lats, ticks).map(_.size).max
        require(len == 0 || values.nonEmpty,
          "MAKEGTS needs at least one value")
        var lasttick = -1L
        val pts = (0 until len).toVector.map { i =>
          val v = if (i < values.size) values(i) else values.last
          val e = if (i < elevs.size) Some(en.asLong(elevs(i))) else None
          val loc = if (i < lats.size && i < lons.size)
            Some((en.asNum(lats(i)), en.asNum(lons(i)))) else None
          val t = if (i < ticks.size) { lasttick = en.asLong(ticks(i)); lasttick }
                  else { lasttick += 1; lasttick }
          (t, loc, e, v)
        }
        st.push(GtsBuilder("", Map.empty, pts))
      case "PARSE" =>
        val text = st.popStr()
        val spark = en.sparkSessionOpt.getOrElse(
          throw new IllegalStateException("PARSE requires a session"))
        val lines = spark.createDataset(text.split("\n").toSeq.filter(_.nonEmpty))(
          org.apache.spark.sql.Encoders.STRING).toDF("value")
        // one request payload → serial-request semantics (continuation
        // lines may reference any earlier line)
        st.push(GtsFrame(graft.sources.LineProtocol.ingest(lines, en.nowTick,
          singleBatch = true)))

      // ---- probability words (GTSHelper.prob / cprob): P(value) from
      // the per-series value histogram — one window count per key, no
      // driver histogram (vs the reference's in-RAM HashMap per GTS)
      case "PROB" =>
        val f = en.toFrame(st.pop())
        val n = count(lit(1)).over(Window.partitionBy(col("gtsid")))
        val k = count(lit(1)).over(Window.partitionBy(col("gtsid"), col("vdouble")))
        st.push(GtsFrame(f.df.withColumn("vdouble",
          k.cast("double") / n.cast("double"))))
      // CPROB: STRING events 'given<sep>…<sep>event' — P(event|givens)
      // = count(full string) / count(prefix before the last separator)
      case "CPROB" =>
        val sep = st.popStr()
        val f = en.toFrame(st.pop())
        val lastTok = element_at(
          split(col("vstring"), java.util.regex.Pattern.quote(sep)), -1)
        val prefix = col("vstring").substr(lit(1),
          length(col("vstring")) - length(lastTok))
        val full = count(lit(1)).over(Window.partitionBy(col("gtsid"), col("vstring")))
        val given = count(lit(1)).over(Window.partitionBy(col("gtsid"), prefix))
        st.push(GtsFrame(f.df
          .withColumn("vdouble", full.cast("double") / given.cast("double"))
          .withColumn("vtype", lit(graft.model.GtsType.DOUBLE))
          .withColumn("vstring", lit(null).cast("string"))))

      // TICKINDEX (GTSHelper.tickindex): ticks become their 0-based
      // tick-order index; result is unbucketized
      case "TICKINDEX" =>
        val f = en.toFrame(st.pop())
        st.push(GtsFrame(f.df.withColumn("ts",
          row_number().over(tickWindow).cast("long") - 1)))

      // BBOX (fn/BBOX.java): bounding box of the located points
      case "BBOX" =>
        val f = en.toFrame(st.pop())
        val r = f.df.agg(min(col("lat")), min(col("lon")),
          max(col("lat")), max(col("lon"))).head()
        st.push(Vector[Any](r.get(0), r.get(1), r.get(2), r.get(3)))

      // UPPERHULL / LOWERHULL (fn/UPPERHULL.java): convex hull of the
      // (tick, value) points — Andrew monotone chain on the driver
      // (bounded accessor, same contract as VALUES)
      case "UPPERHULL" | "LOWERHULL" =>
        val df = singleSeries(en.toFrame(st.pop()), w)
        collectGuard(df, w)
        val pts = df.select(col("ts"), col("vdouble")).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).sortBy(p => (p._1, p._2))
        def cross(o: (Long, Double), a: (Long, Double), b: (Long, Double)) =
          (a._1 - o._1).toDouble * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1).toDouble
        val hull = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        val keepTurn: Double => Boolean = if (w == "LOWERHULL") _ <= 0 else _ >= 0
        pts.foreach { p =>
          while (hull.length >= 2 &&
            keepTurn(cross(hull(hull.length - 2), hull(hull.length - 1), p)))
            hull.remove(hull.length - 1)
          hull += p
        }
        val meta = df.limit(1).select(col("class"), col("labels")).collect()(0)
        val spark = df.sparkSession
        import scala.jdk.CollectionConverters._
        val rows = hull.toSeq.map { case (t, v) =>
          org.apache.spark.sql.Row(meta.getString(0),
            meta.getMap[String, String](1).toMap, 0L, t,
            null, null, null, graft.model.GtsType.DOUBLE,
            null, Double.box(v), null, null, null)
        }
        st.push(GtsFrame(graft.model.Gts.canonicalRehash(
          spark.createDataFrame(rows.asJava, graft.model.Gts.pointSchema))))

      // ---- encoder surface (fn/NEWENCODER.java family): the frame
      // already IS a typed point container, so the conversions are
      // representation-preserving; ->GTS splits by value type into the
      // reference's type-name map (fn/TOGTS.java no-typemap form)
      case "->ENCODER" | "ENCODER->" => st.push(en.toFrame(st.pop()))
      case "ASENCODERS" | "->ENCODERS" => st.pop() match {
        case l: Vector[Any @unchecked] => st.push(l.map(en.toFrame(_): Any))
        case other => st.push(en.toFrame(other))
      }
      case "UNWRAPENCODER" =>
        st.push(GtsFrame(graft.sources.GtsCodec.unwrap(
          en.toFrame(st.pop()).df.select(col("class"), col("labels"),
            col("vbinary").as("blob")))))
      case "->GTS" =>
        val f = en.toFrame(st.pop())
        val names = Map(
          graft.model.GtsType.LONG -> "LONG", graft.model.GtsType.DOUBLE -> "DOUBLE",
          graft.model.GtsType.BOOLEAN -> "BOOLEAN", graft.model.GtsType.STRING -> "STRING",
          graft.model.GtsType.BINARY -> "BINARY")
        val present = f.df.select(col("vtype")).distinct().collect()
          .map(_.getByte(0)).sorted
        st.push(present.map(t =>
          (names(t): Any) -> (GtsFrame(f.df.filter(col("vtype") === t)): Any)).toMap)

      // ---- multivalue words (fn/MVSPLIT.java; MVEXTRACT tick/value/
      // location/elevation views after expanding carrier points)
      case "MVSPLIT" | "VALUESPLIT" =>
        st.push(GtsFrame(graft.sources.GtsCodec.mvSplit(en.toFrame(st.pop()).df)))
      case "MVTICKS" | "MVVALUES" | "MVELEVATIONS" | "MVLOCATIONS" =>
        val expanded = graft.sources.GtsCodec.mvSplit(en.toFrame(st.pop()).df)
        collectGuard(expanded, w)
        val rows = expanded
          .select(col("ts"), col("vdouble"), col("lat"), col("lon"), col("elev"))
          .collect().sortBy(_.getLong(0))
        w match {
          case "MVTICKS" => st.push(rows.map(r => r.getLong(0): Any).toVector)
          case "MVVALUES" => st.push(typedRows(expanded).map(_._2: Any).toVector)
          case "MVELEVATIONS" =>
            st.push(rows.map(r => if (r.isNullAt(4)) null else r.getLong(4): Any).toVector)
          case _ =>
            st.push(rows.map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2): Any).toVector)
            st.push(rows.map(r => if (r.isNullAt(3)) Double.NaN else r.getDouble(3): Any).toVector)
        }

      case _ => return false
    }
    true
  }

  /** Columns for a point tuple read: ts, geo, then the typed slots —
    * a point's value keeps its runtime type (ATTICK of a LONG GTS
    * pushes a LONG, like GTSHelper.valueAtIndex). */
  private[script] val pointCols = Seq(col("ts"), col("lat"), col("lon"),
    col("elev"), col("vtype"), col("vlong"), col("vdouble"),
    col("vbool"), col("vstring"))

  /** The reference's point tuple (ATINDEX.getTupleAtIndex:24-53, r13
    * audit): an ABSENT point is [NaN NaN NaN NaN null] (no tick echo),
    * and an absent elevation slot is Double.NaN, not null — the same
    * convention FOREACH's GTS face already used. */
  private[script] def pointList(row: Option[org.apache.spark.sql.Row], tick: Long): Vector[Any] =
    row match {
      case None => Vector[Any](Double.NaN, Double.NaN, Double.NaN, Double.NaN, null)
      case Some(r) =>
        val v: Any = r.getByte(4) match {
          case graft.model.GtsType.LONG => r.getLong(5)
          case graft.model.GtsType.DOUBLE => r.getDouble(6)
          case graft.model.GtsType.BOOLEAN => r.getBoolean(7)
          case _ => r.getString(8)
        }
        Vector[Any](
          r.getLong(0),
          if (r.isNullAt(1)) Double.NaN else r.getDouble(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
          if (r.isNullAt(3)) Double.NaN else r.getLong(3),
          v)
    }

  // ---- order-word helpers (faithful r13 audit)

  /** GET.computeAndCheckIndex:111-122 — negative wraps once, then both
    * bounds throw with the reference's message shapes. */
  private def checkIndex(index: Long, size: Long): Long = {
    var idx = index
    if (idx < 0) idx += size
    else require(idx < size, s"Index out of bound, $idx >= $size")
    require(idx >= 0, s"Index out of bound, ${idx - size} < -$size")
    idx
  }

  /** Sortable key over a point's typed value for FULLSORT's
    * (tick, value, location, elevation) order — per-type like the
    * reference's fullquicksort (a GTS is single-type; the type rank
    * only determinizes our mixed-builder artifact). */
  private[script] def valueSortKey(v: Any): (Int, Double, String) = v match {
    case l: Long => (0, l.toDouble, "")
    case d: Double => (0, d, "")
    case b: Boolean => (1, if (b) 1.0 else 0.0, "")
    case s: String => (2, 0.0, s)
    case o => (3, 0.0, String.valueOf(o))
  }

  /** LASTSORT's mixed-type value chain (fn/LASTSORT.java:45-60); for
    * VALUESORT the comparator is per-type (a GTS is single-type) and
    * this chain restricted to one type is identical. */
  private def cmpValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: java.lang.Number, y: java.lang.Number) =>
      java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case _ => String.valueOf(a).compareTo(String.valueOf(b))
  }

  /** quicksortByValue's order — (value, tick) ascending, both reversed
    * for RVALUESORT — applied to the builder's append vector. */
  private def valueSortBuilder(b: GtsBuilder, rev: Boolean): GtsBuilder = {
    val ord = new Ordering[(Long, Option[(Double, Double)], Option[Long], Any)] {
      def compare(p: (Long, Option[(Double, Double)], Option[Long], Any),
                  q: (Long, Option[(Double, Double)], Option[Long], Any)): Int = {
        val c = cmpValues(p._4, q._4)
        if (c != 0) c else java.lang.Long.compare(p._1, q._1)
      }
    }
    b.copy(points = b.points.sorted(if (rev) ord.reverse else ord))
  }

  /** The element's newest point (tick, typed value) — builder: max
    * tick, last-appended among equal max ticks; frame: the max-ts row
    * (one-row collect). None when empty. */
  private def lastPoint(x: Any, en: WarpScriptEngine): Option[(Long, Any)] = x match {
    case b: GtsBuilder =>
      if (b.points.isEmpty) None
      else {
        val mt = b.points.iterator.map(_._1).max
        b.points.reverseIterator.find(_._1 == mt).map(p => (p._1, p._4))
      }
    case o =>
      typedRows(en.toFrame(o).df.orderBy(col("ts").desc).limit(1)).headOption
  }

  /** The element's (class, labels) metadata. */
  private def metaOf(x: Any, en: WarpScriptEngine): (String, Map[String, String]) =
    x match {
      case b: GtsBuilder => (b.cls, b.labels)
      case o =>
        val r = en.toFrame(o).df.select(col("class"), col("labels"))
          .limit(1).collect()
        if (r.isEmpty) ("", Map.empty)
        else (r(0).getString(0), r(0).getMap[String, String](1).toMap)
    }

  /** MetadataTextComparator mirror (MetadataTextComparator.java:27-139;
    * our elements carry no attributes at this surface, so the
    * attribute legs compare equal). `fields` empty → the no-fields
    * form: name, zero-label rule, interleaved sorted label (k,v)
    * pairs, label count. Non-empty → per-field label value (null
    * field = the name), nulls first. */
  private def metaCompare(m1: (String, Map[String, String]),
                          m2: (String, Map[String, String]),
                          fields: Vector[String]): Int = {
    val ((n1, l1), (n2, l2)) = (m1, m2)
    if (fields.nonEmpty) {
      fields.foreach { f =>
        val s1 = if (f == null) n1 else l1.get(f).orNull
        val s2 = if (f == null) n2 else l2.get(f).orNull
        if (s1 == null && s2 != null) return -1
        if (s2 == null && s1 != null) return 1
        if (s1 != null) {
          val c = s1.compareTo(s2)
          if (c != 0) return c
        }
      }
      0
    } else {
      val c = n1.compareTo(n2)
      if (c != 0) return c
      if (l1.isEmpty && l2.nonEmpty) return -1
      if (l2.isEmpty && l1.nonEmpty) return 1
      val k1 = l1.keys.toVector.sorted; val k2 = l2.keys.toVector.sorted
      var i = 0
      while (i < k1.size && i < k2.size) {
        val ck = k1(i).compareTo(k2(i)); if (ck != 0) return ck
        val cv = l1(k1(i)).compareTo(l2(k2(i))); if (cv != 0) return cv
        i += 1
      }
      Integer.compare(l1.size, l2.size)
    }
  }

  /** LAST_COMPARATOR mirror (fn/LASTSORT.java:31-75). */
  private def lastCompare(a: Any, b: Any, en: WarpScriptEngine): Int =
    (lastPoint(a, en), lastPoint(b, en)) match {
      case (None, None) => metaCompare(metaOf(a, en), metaOf(b, en), Vector.empty)
      case (None, _) => 1
      case (_, None) => -1
      case (Some((ta, va)), Some((tb, vb))) =>
        val c = cmpValues(va, vb)
        if (c != 0) c
        else if (ta > tb) -1
        else if (ta < tb) 1
        else metaCompare(metaOf(a, en), metaOf(b, en), Vector.empty)
    }
}
