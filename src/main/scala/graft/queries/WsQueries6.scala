package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WarpScript front-end queries, part 6 (round-10: oracle rows for the
  * aggregator/mapper/filter FACES the registry dispatches but no
  * oracle row exercised — the r9 verdict's conformance-sampling ask).
  * Every face here shares an implementation with an already-verified
  * sibling (e.g. mapper.percentile with bucketizer.percentile), so
  * these rows pin the FACE wiring (parameter pop order, window vs
  * bucket vs cross-series application, null policy), not new math.
  */
object WsQueries6 extends QueryPack {
  import GtsQueries.{DAY, LB, EV}
  import WsQueries.engine

  private val userid = col("labels").getItem("user").as("userid")

  private val FETCHALL = s"[ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH"
  private val BUCKETS =
    s"[ $FETCHALL bucketizer.count $LB $DAY 0 ] BUCKETIZE"

  /** DuckDB daily count-bucket grid (same shape as WsQueries5). */
  private val BUCKET_SQL =
    s"""pts AS (
       |  SELECT event_type, CAST(user_id AS VARCHAR) AS u, epoch_us(ts) AS tick
       |  FROM events WHERE epoch_us(ts) <= $LB),
       |counts AS (
       |  SELECT u, event_type,
       |    $LB - (($LB - tick) // $DAY) * $DAY AS bts,
       |    count(*) AS c
       |  FROM pts GROUP BY 1, 2, 3)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // comparison / cast / arithmetic mapper faces (script/mapper/
    // MapperEQ/NE/LT/LE.java keep the value when the predicate holds
    // and drop the tick otherwise; MapperPow.java; MapperFinite.java
    // drops NaN/±Inf; MapperToString/MapperToBoolean.java): each face
    // one MAP pass, union-tagged. eq runs after a mod-100 chain so the
    // equality actually fires; finite runs on a NEWGTS fixture whose
    // pow(-1) produces a genuine Infinity to drop.
    "w123_ws_mapper_compare_cast" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      def mp(prog: String, tag: String,
             nv: org.apache.spark.sql.Column = col("vdouble"),
             sv: org.apache.spark.sql.Column = lit(null).cast("string")) =
        e.runToFrame(prog)
          .select(lit(tag).as("which"), col("class"), userid, col("ts"),
            nv.as("nv"), sv.as("sv"))
      val mkPow =
        """NEWGTS 'f' RENAME
          |1 NaN NaN NULL 0.0 ADDVALUE
          |2 NaN NaN NULL 2.0 ADDVALUE
          |3 NaN NaN NULL 4.0 ADDVALUE""".stripMargin
      mp(s"[ [ $FETCHALL 100.0 mapper.mod 0 0 0 ] MAP 42.0 mapper.eq 0 0 0 ] MAP", "eq")
        .unionByName(mp(s"[ $FETCHALL 500.0 mapper.ne 0 0 0 ] MAP", "ne"))
        .unionByName(mp(s"[ $FETCHALL 500.0 mapper.lt 0 0 0 ] MAP", "lt"))
        .unionByName(mp(s"[ $FETCHALL 500.0 mapper.le 0 0 0 ] MAP", "le"))
        .unionByName(mp(s"[ $FETCHALL 2.0 mapper.pow 0 0 0 ] MAP", "pow"))
        .unionByName(mp(
          s"[ [ $mkPow -1.0 mapper.pow 0 0 0 ] MAP mapper.finite 0 0 0 ] MAP",
          "finite"))
        .unionByName(mp(s"[ $FETCHALL mapper.toboolean 0 0 0 ] MAP", "bool"))
        .unionByName(mp(s"[ $FETCHALL mapper.tostring 0 0 0 ] MAP", "str",
          nv = lit(null).cast("double"), sv = col("vstring")))
    }),

    // calendar / coordinate / selection / dot-activation mapper faces
    // (MapperDayOfMonth/Month/Minute/Second.java — UTC fields of the
    // tick; MapperLatitude/Longitude/Elevation.java — located ticks
    // only; MapperLowest.java — the k smallest points per series;
    // MapperDotProductPositive/Tanh.java — ω·window activations)
    "w124_ws_mapper_calendar_geo" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      def mp(prog: String, tag: String,
             nv: org.apache.spark.sql.Column = col("vdouble")) =
        e.runToFrame(prog)
          .select(lit(tag).as("which"), col("class"), userid, col("ts"),
            nv.as("nv"))
      val mkGeo =
        """NEWGTS 'g' RENAME
          |1 48.5 -3.25 120 10.0 ADDVALUE
          |2 -12.25 45.125 NULL 20.0 ADDVALUE
          |3 NaN NaN 80 30.0 ADDVALUE""".stripMargin
      mp(s"[ $FETCHALL mapper.day 0 0 0 ] MAP", "day")
        .unionByName(mp(s"[ $FETCHALL mapper.month 0 0 0 ] MAP", "month"))
        .unionByName(mp(s"[ $FETCHALL mapper.minute 0 0 0 ] MAP", "minute"))
        .unionByName(mp(s"[ $FETCHALL mapper.second 0 0 0 ] MAP", "second"))
        .unionByName(mp(s"[ $mkGeo mapper.lat 0 0 0 ] MAP", "lat"))
        .unionByName(mp(s"[ $mkGeo mapper.lon 0 0 0 ] MAP", "lon"))
        .unionByName(mp(s"[ $mkGeo mapper.elev 0 0 0 ] MAP", "elev"))
        .unionByName(mp(s"[ $FETCHALL 3 mapper.lowest 0 0 0 ] MAP", "low3"))
        .unionByName(mp(
          s"[ $FETCHALL [ 0.25 0.5 0.25 ] mapper.dotproduct.positive 1 1 0 ] MAP",
          "dotpos"))
        // integer ω keep the dot an exact integer: tanh of an integer
        // argument sits far from every 6-dp rounding boundary (checked
        // for the whole non-saturated range 0..19; ≥20 saturates to
        // 1.0 exactly at 6-dp), so the cross-engine tanh-algorithm
        // difference (Math.tanh vs the oracle's exp form) cannot flip
        // a digit
        .unionByName(mp(
          s"[ $FETCHALL [ 1.0 1.0 1.0 ] mapper.dotproduct.tanh 1 1 0 ] MAP",
          "dottanh", nv = round(col("vdouble"), 6)))
    }),

    // the remaining filter faces (script/filter/FilterLastEQ/GE/LE/LT/
    // NE.java on the series' LAST value; FilterAny.java complement set
    // all.eq/le/lt/ne + any.ge/gt/le/ne; FilterBySize.java gt face;
    // FilterByLabels.java checkLabels=true = bylabelsattr, label takes
    // priority over the attribute) — a three-series MAKEGTS fixture
    // with controlled last values/sizes for the exact faces, the
    // events store for bylabelsattr (label side) + SETATTRIBUTES
    // (attribute side)
    "w125_ws_filter_faces" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val FIX =
        """[ [ 1 2 3 ] [ ] [ ] [ ] [ 7.0 7.0 50.0 ] MAKEGTS 'fx' RENAME { 'user' 'a' } RELABEL
          |  [ 1 2 ] [ ] [ ] [ ] [ 30.0 30.0 ] MAKEGTS 'fx' RENAME { 'user' 'b' } RELABEL
          |  [ 1 2 3 4 ] [ ] [ ] [ ] [ 7.0 7.0 7.0 7.0 ] MAKEGTS 'fx' RENAME { 'user' 'c' } RELABEL ]"""
          .stripMargin
      // each face keeps its own engine program (the registry word must
      // actually run), but the faces are INDEPENDENT fixture-sized
      // jobs, so they run CONCURRENTLY and the dedup happens on the
      // driver over ≤3 rows per face (r12 — the 16-branch union +
      // distinct serialized ~16 tiny shuffle stages and owned most of
      // the row's 5.3 s isolated cost; same pattern as w122)
      def fix(pred: String, tag: String) =
        e.runToFrame(s"[ $FIX [ ] $pred ] FILTER")
          .select(lit(tag).as("which"), col("class"), userid)
      val store = e.runToFrame(
        s"""[ '' 'events.error' { } $LB ${LB + 1} ] FETCH
           |{ 'dc' 'east' } SETATTRIBUTES DROP
           |[ $FETCHALL [ ] { 'user' '3' 'dc' 'east' } filter.bylabelsattr ] FILTER"""
          .stripMargin)
        .select(lit("bylabelsattr").as("which"), col("class"), userid)
      val faces = Seq(
        fix("50.0 filter.last.eq", "last_eq"),
        fix("30.0 filter.last.ge", "last_ge"),
        fix("30.0 filter.last.le", "last_le"),
        fix("30.0 filter.last.lt", "last_lt"),
        fix("30.0 filter.last.ne", "last_ne"),
        fix("7.0 filter.all.eq", "all_eq"),
        fix("5.0 filter.all.gt", "all_gt"),
        fix("30.0 filter.all.le", "all_le"),
        fix("30.0 filter.all.lt", "all_lt"),
        fix("30.0 filter.all.ne", "all_ne"),
        fix("50.0 filter.any.ge", "any_ge"),
        fix("29.0 filter.any.gt", "any_gt"),
        fix("7.0 filter.any.le", "any_le"),
        fix("7.0 filter.any.ne", "any_ne"),
        fix("2 filter.bysize.gt", "bysize_gt"),
        store)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val collected = Await.result(Future.sequence(faces.map(f =>
        Future(f.collect().toSeq.map(r =>
          (r.getString(0), r.getString(1), r.getString(2)))))), Duration.Inf)
      import s.implicits._
      collected.flatten.distinct.toDF("which", "class", "userid")
    }),

    // join faces (aggregator/Join.java): bucketizer.join reads its
    // bucket CHRONOLOGICALLY (the reference appends in argument order
    // = tick order — GtsFrame.JoinTickOrdered), mapper.join joins its
    // window likewise; reducer.join (ignoreNulls=true) joins the
    // members present, .nonnull/.forbid-nulls (ignoreNulls=false) drop
    // any tick with an absent member — member order canonicalized by
    // value sort (no reference-defined cross-series order)
    "w126_ws_join_faces" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      val bj = e.runToFrame(
          s"[ $FETCHALL '|' bucketizer.join $LB $DAY 0 ] BUCKETIZE")
        .select(lit("bucket").as("which"),
          concat(col("class"), lit("/"), userid).as("key"),
          col("ts"), col("vdouble").cast("string").as("joined"))
      // MAP surfaces the window aggregate under the vdouble slot
      // whatever its runtime type (BUCKETIZE types its output — vstring)
      val mj = e.runToFrame(s"[ $BUCKETS '-' mapper.join 1 1 0 ] MAP")
        .select(lit("window").as("which"),
          concat(col("class"), lit("/"), userid).as("key"),
          col("ts"), col("vdouble").cast("string").as("joined"))
      def red(r: String, tag: String) =
        // REDUCE surfaces the aggregate under the vdouble slot whatever
        // its runtime type — here the joined STRING
        e.runToFrame(s"[ $BUCKETS [ 'user' ] '|' $r ] REDUCE")
          .select(lit(tag).as("which"), col("user").as("key"),
            col("ts"), col("vdouble").cast("string").as("joined"))
      bj.unionByName(mj)
        .unionByName(red("reducer.join", "red_ignore"))
        .unionByName(red("reducer.join.nonnull", "red_nonnull"))
        .unionByName(red("reducer.join.forbid-nulls", "red_forbid"))
    }),

    // percentile faces (aggregator/Percentile.java type-1 default and
    // the interpolated .cont Builder face; forbid-nulls null policy):
    // bucketizer.percentile.cont 75 on integer cents is EXACT (h
    // lands on quarter fractions, dyadic arithmetic), the windowed
    // mapper face replays type-1 over 5-point windows, and the
    // reducer pair mirrors w107's all-vs-forbid join
    "w127_ws_percentile_faces" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      val cont = e.runToFrame(
          s"[ $FETCHALL 75.0 bucketizer.percentile.cont $LB $DAY 0 ] BUCKETIZE")
        .select(lit("cont75").as("which"),
          concat(col("class"), lit("/"), userid).as("key"),
          col("ts"), col("vdouble").as("pv"))
      val mp = e.runToFrame(
          s"[ $FETCHALL 90.0 mapper.percentile 2 2 0 ] MAP")
        .select(lit("win90").as("which"),
          concat(col("class"), lit("/"), userid).as("key"),
          col("ts"), col("vdouble").as("pv"))
      def red(r: String, tag: String) =
        e.runToFrame(s"[ $BUCKETS [ 'user' ] $r ] REDUCE")
          .select(lit(tag).as("which"), col("user").as("key"), col("ts"),
            col("vdouble").cast("double").as("pv"))
      cont.unionByName(mp)
        .unionByName(red("50.0 reducer.percentile", "red50"))
        .unionByName(red("50.0 reducer.percentile.forbid-nulls", "red50_forbid"))
        .unionByName(red("50.0 reducer.percentile.cont", "red50_cont"))
    }),

    // circular-mean mapper/reducer faces (aggregator/CircularMean.java
    // through the WINDOW and CROSS-SERIES application paths — the
    // bucket face is w110): controlled fixtures whose two-value
    // windows have |Δ| < period/2, so every circular mean is an exact
    // interior midpoint — no branch cut, no resultant cancellation,
    // and round(,6) sits ~0.5 grid-units from every boundary
    "w128_ws_circular_window" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val M1 = "[ 1 2 3 4 ] [ ] [ ] [ ] [ 10.0 20.0 30.0 50.0 ] MAKEGTS 'm1' RENAME"
      val RA = "[ 1 2 3 4 ] [ ] [ ] [ ] [ 10.0 30.0 20.0 30.0 ] MAKEGTS " +
        "'ra' RENAME { 'user' 'a' } RELABEL"
      val RB = "[ 1 2 3 ] [ ] [ ] [ ] [ 20.0 40.0 40.0 ] MAKEGTS " +
        "'rb' RENAME { 'user' 'b' } RELABEL"
      val win = e.runToFrame(
          s"[ $M1 100.0 mapper.mean.circular 1 0 0 ] MAP")
        .select(lit("window").as("which"), col("ts"),
          round(col("vdouble"), 6).as("circ"))
      def red(r: String, tag: String) =
        e.runToFrame(s"[ [ $RA $RB ] [ ] 100.0 $r ] REDUCE")
          .select(lit(tag).as("which"), col("ts"),
            round(col("vdouble"), 6).as("circ"))
      win.unionByName(red("reducer.mean.circular", "red_forbid"))
        .unionByName(red("reducer.mean.circular.exclude-nulls", "red_excl"))
    }),

    // the last uncovered faces: the non-lowess FILL fillers
    // (script/filler/FillerPrevious/Next/Value/Interpolate.java —
    // 'filler.linear' is the interpolate alias) over a 4-bucket grid
    // with two interior gaps, filler.rlowess (FillerLowess.java
    // robustness>0: bisquare-reweighted iterations) on an EXACT-LINE
    // fixture where every reweighting iteration reproduces the line —
    // the robust loop runs, the answer stays analytic — and
    // mapper.geo.outside (MapperGeoOutside.java), the complement of
    // w58's ray-cast polygon over the same synthetic track
    "w129_ws_filler_geo_faces" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val FIXA =
        """NEWGTS 'f' RENAME
          |100 NaN NaN NULL 10.0 ADDVALUE
          |400 NaN NaN NULL 40.0 ADDVALUE""".stripMargin
      val FIXB =
        """NEWGTS 'f' RENAME
          |100 NaN NaN NULL 10.0 ADDVALUE
          |200 NaN NaN NULL 20.0 ADDVALUE
          |400 NaN NaN NULL 40.0 ADDVALUE
          |500 NaN NaN NULL 50.0 ADDVALUE""".stripMargin
      def fill(fix: String, lb: Long, filler: String, tag: String) =
        e.runToFrame(
            s"[ $fix bucketizer.mean $lb 100 0 ] BUCKETIZE $filler FILL")
          .select(lit(tag).as("which"), col("class"),
            lit(null).cast("string").as("userid"), col("ts"),
            round(col("vdouble"), 6).as("nv"))
      val geo = {
        val f = graft.model.Gts.fromEvents(s, dir)
        val uid = col("labels").getItem("user")
          .cast(org.apache.spark.sql.types.LongType)
        val track = f.withColumn("lat", uid % 120 - 60 + col("vdouble") / 100.0)
          .withColumn("lon", (col("ts") % 360) - 180 + col("vdouble") / 100.0)
        val en = new graft.script.WarpScriptEngine(
          fetch = (_, _, _, _) => graft.operators.GtsFrame(track), nowTs = LB)
        en.runToFrame(
            s"""'POLYGON ((-100.137 -20.731, -30.421 -58.283, 40.618 -10.207, 25.314 35.941, -60.253 40.123, -100.137 -20.731))'
               |6 GEO.WKT 'p' STORE
               |[ [ '' '~.*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
               |  $$p mapper.geo.outside 0 0 0 ] MAP""".stripMargin)
          .select(lit("geo_out").as("which"), col("class"), userid,
            col("ts"), round(col("vdouble"), 6).as("nv"))
      }
      fill(FIXA, 400, "filler.previous", "prev")
        .unionByName(fill(FIXA, 400, "filler.next", "next"))
        .unionByName(fill(FIXA, 400, "77.5 filler.value", "value"))
        .unionByName(fill(FIXA, 400, "filler.linear", "linear"))
        .unionByName(fill(FIXB, 500, "10 2 filler.rlowess", "rlowess"))
        .unionByName(geo)
    }),

    // FETCH 'extra' (FETCH.java:653-672): companion classes fetched
    // under the MATCHED series' labels — the self-class companion must
    // NOT double (LinkedHashSet semantics), and per-series count
    // trimming applies to companions like any other scan
    "w130_ws_fetch_extra" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      def agg(prog: String, tag: String) =
        e.runToFrame(prog)
          .groupBy(col("class"), userid)
          .agg(count(lit(1)).as("n"), sum(col("vdouble")).cast("long").as("v"))
          .withColumn("which", lit(tag))
      agg(
        s"""{ 'selector' 'events.click{user~[0-3]}' 'end' $LB 'timespan' $LB
           |  'extra' [ 'events.view' 'events.click' ] } FETCH""".stripMargin,
        "exp")
        .unionByName(agg(
          s"""{ 'selector' 'events.click{user~[0-3]}' 'end' $LB 'count' 2
             |  'extra' [ 'events.view' ] } FETCH""".stripMargin, "cnt"))
        .select(col("which"), col("class"), col("userid"), col("n"), col("v"))
    }),

    // computeTimeRange conformance (fn/FETCH.java:1607-1740 + the
    // negative-timespan-as-count alias :1292-1303), five faces:
    //  'fwd'    — start + timespan: end = start + timespan − 1;
    //  'swap'   — inverted explicit bounds swap, never error;
    //  'dur'    — ISO-8601 duration timespan ('P3D'), the same window
    //             as 'fwd' reached backwards from its end;
    //  'cnt'    — negative Long timespan = count of newest points;
    //  'nowlit' — the literal 'now' timestamp (getTimestamp,
    //             FETCH.java:1752) with an explicit count.
    "w131_ws_fetch_timerange" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      def run(prog: String, tag: String) = e.runToFrame(prog)
        .select(lit(tag).as("which"), col("class"), userid, col("vdouble"))
      val CL = "'class' '~events\\..*' 'labels' { }"
      Seq(
        (s"{ $CL 'start' ${GtsQueries.T0} 'timespan' ${3 * DAY} } FETCH", "fwd"),
        (s"{ $CL 'start' $LB 'end' ${GtsQueries.T0} } FETCH", "swap"),
        (s"{ $CL 'end' ${GtsQueries.T0 + 3 * DAY - 1} 'timespan' 'P3D' } FETCH", "dur"),
        (s"{ $CL 'end' $LB 'timespan' -3 } FETCH", "cnt"),
        (s"{ $CL 'end' 'now' 'count' 2 } FETCH", "nowlit"))
        .map { case (p, t) => run(p, t) }.reduceLeft(_ unionByName _)
        .groupBy(col("which"), col("class"), col("userid"))
        .agg(count(lit(1)).as("n"), sum(col("vdouble")).cast("long").as("v"))
    }),

    // BUCKETIZE auto-parameter conformance (GTSHelper.java:2261-2358,
    // re-derived round 11 — resolution is PER GTS against each series'
    // own extent). Three faces:
    //  'autocnt'  — lastbucket 0 + count 0: lastbucket ← the series'
    //               last tick aligned UP to the next span boundary
    //               (count grows by one only if the widened window
    //               still reaches firsttick);
    //  'autospan' — span 0: q = ⌊(lastbucket−firsttick+1)/count⌋ kept
    //               when it divides the delta exactly (oldest ticks
    //               DROP), else bumped — floor-then-bump, not ceil;
    //  'neg1'     — span −1: the open delta over count−1 spans.
    "w132_ws_bucketize_auto" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      def run(prog: String, tag: String) = e.runToFrame(prog)
        .select(lit(tag).as("which"), col("class"), userid, col("ts"),
          col("vdouble").cast("long").as("v"))
      run(s"[ $FETCHALL bucketizer.sum 0 $DAY 0 ] BUCKETIZE", "autocnt")
        .unionByName(
          run(s"[ $FETCHALL bucketizer.sum $LB 0 20 ] BUCKETIZE", "autospan"))
        .unionByName(
          run(s"[ $FETCHALL bucketizer.sum $LB -1 20 ] BUCKETIZE", "neg1"))
    }),

    // LTTB / TLTTB words (GTSHelper.lttb:12319-12485, re-derived round
    // 11): the reference's own arithmetic — bucketsize n/(threshold−1),
    // the lookahead average's off-by-one denominator, a triangle
    // anchor FIXED at the first point, and TLTTB's per-series TIME
    // buckets of width ceil((last−first−2)/(threshold−2)) with the
    // threshold re-set to the non-empty bucket count (TLTTB pops a
    // THRESHOLD like LTTB, not a timespan). Hand-derived expectations
    // (each bucket's argmax traced by hand in KernelsSpec) over exact
    // integer fixtures, so every area/average is cross-engine
    // deterministic.
    "w133_ws_lttb_words" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val L = "[ 0 1 2 3 4 5 6 7 8 9 ] [ ] [ ] [ ] " +
        "[ 0.0 10.0 0.0 0.0 50.0 0.0 0.0 20.0 0.0 5.0 ] MAKEGTS 'fx' RENAME"
      val T = "[ 0 1 2 3 10 11 12 13 ] [ ] [ ] [ ] " +
        "[ 0.0 5.0 1.0 1.0 9.0 2.0 2.0 7.0 ] MAKEGTS 'fx' RENAME"
      e.runToFrame(s"$L 5 LTTB")
        .select(lit("lttb").as("which"), col("ts"),
          col("vdouble").cast("long").as("v"))
        .unionByName(e.runToFrame(s"$T 4 TLTTB")
          .select(lit("tlttb").as("which"), col("ts"),
            col("vdouble").cast("long").as("v")))
    }),

    // QUANTIZE (fn/QUANTIZE.java; GTSHelper.quantize:10384-10420,
    // corrected r11 — the reference form takes a bounds list + a
    // rank-to-value list, not a scalar step): bucket = #{bounds < v}
    // (a value equal to a bound stays in that bound's bucket — the
    // binarySearch exact hit), emitting the bucket INDEX when the
    // target list is empty, or the rank's value (any type, here
    // strings) when given. Two faces over the integer-cents store.
    "w134_ws_quantize" -> ((s, dir) => {
      val e = engine(s, dir, cents = true)
      val idx = e.runToFrame(
        s"""[ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |[ 100.0 300.0 600.0 ] [ ] QUANTIZE""".stripMargin)
        .select(lit("idx").as("which"), col("class"), userid, col("ts"),
          col("vlong").cast("string").as("q"))
      val lab = e.runToFrame(
        s"""[ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |[ 100.0 300.0 600.0 ] [ 'low' 'mid' 'high' 'top' ] QUANTIZE""".stripMargin)
        .select(lit("lab").as("which"), col("class"), userid, col("ts"),
          col("vstring").as("q"))
      idx.unionByName(lab)
    }),

    // CORRELATE (continuum/gts/CORRELATE.java, faithful r11): base-gts
    // [gts...] [offsets] CORRELATE → one lag-cross-correlation GTS per
    // input series over 8 FILLVALUE'd daily buckets; user 20's clicks
    // against users 20/21's views at lags −2d/0/+1d. Standardization
    // is per CLIPPED segment (Bessel), pairing by rank, Σ zA·zB/(n−1)
    "w136_ws_correlate" -> ((s, dir) => {
      val program =
        s"""[ [ '' 'events.click' { 'user' '20' } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 8 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE 'base' STORE
           |[ [ '' 'events.view' { 'user' '~(20|21)' } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 8 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE 'vs' STORE
           |$$base $$vs [ -2 d 0 1 d ] CORRELATE""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          round(col("vdouble"), 6).as("xcorr"))
    }),

    // PATTERNS (fn/PATTERNS.java → GTSHelper.bSAX, faithful r11): the
    // STRING GTS of OPB64-encoded bSAX words at every window-start
    // tick — Bessel-standardized 5-point windows quantized against the
    // Acklam bounds, words byte-identical to the reference's wire form
    "w135_ws_patterns" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |5 5 4 PATTERNS""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vstring").as("word"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "w123_ws_mapper_compare_cast" ->
      s"""WITH g AS (SELECT class, userid, ts, cents FROM ($EV) e
         |           WHERE ts <= $LB)
         |SELECT 'eq' AS which, class, userid, ts,
         |  CAST(cents % 100 AS DOUBLE) AS nv, CAST(NULL AS VARCHAR) AS sv
         |FROM g WHERE cents % 100 = 42
         |UNION ALL
         |SELECT 'ne', class, userid, ts, cents, NULL FROM g WHERE cents <> 500
         |UNION ALL
         |SELECT 'lt', class, userid, ts, cents, NULL FROM g WHERE cents < 500
         |UNION ALL
         |SELECT 'le', class, userid, ts, cents, NULL FROM g WHERE cents <= 500
         |UNION ALL
         |SELECT 'pow', class, userid, ts, cents * cents, NULL FROM g
         |UNION ALL
         |SELECT 'finite', 'f', NULL, v.ts, v.nv, NULL
         |FROM (VALUES (2, 0.5), (3, 0.25)) v(ts, nv)
         |UNION ALL
         |SELECT 'bool', class, userid, ts,
         |  CASE WHEN cents <> 0 THEN 1.0 ELSE 0.0 END, NULL FROM g
         |UNION ALL
         |SELECT 'str', class, userid, ts, NULL, CAST(cents AS VARCHAR)
         |FROM g""".stripMargin,

    "w124_ws_mapper_calendar_geo" ->
      s"""WITH g AS (SELECT class, userid, ts, cents FROM ($EV) e
         |           WHERE ts <= $LB),
         |low AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid
         |                       ORDER BY cents, ts) AS rn
         |  FROM g),
         |w3 AS (SELECT class, userid, ts, cents,
         |    lag(cents) OVER ww AS pv, lead(cents) OVER ww AS nv
         |  FROM g WINDOW ww AS (PARTITION BY class, userid ORDER BY ts))
         |SELECT 'day' AS which, class, userid, ts,
         |  CAST(date_part('day', make_timestamp(ts)) AS DOUBLE) AS nv
         |FROM g
         |UNION ALL
         |SELECT 'month', class, userid, ts,
         |  CAST(date_part('month', make_timestamp(ts)) AS DOUBLE) FROM g
         |UNION ALL
         |SELECT 'minute', class, userid, ts,
         |  CAST(date_part('minute', make_timestamp(ts)) AS DOUBLE) FROM g
         |UNION ALL
         |SELECT 'second', class, userid, ts,
         |  CAST(date_part('second', make_timestamp(ts)) AS DOUBLE) FROM g
         |UNION ALL
         |SELECT 'lat', 'g', NULL, v.ts, v.nv
         |FROM (VALUES (1, 48.5), (2, -12.25)) v(ts, nv)
         |UNION ALL
         |SELECT 'lon', 'g', NULL, v.ts, v.nv
         |FROM (VALUES (1, -3.25), (2, 45.125)) v(ts, nv)
         |UNION ALL
         |SELECT 'elev', 'g', NULL, v.ts, v.nv
         |FROM (VALUES (1, 120.0), (3, 80.0)) v(ts, nv)
         |UNION ALL
         |SELECT 'low3', class, userid, ts, cents FROM low WHERE rn <= 3
         |UNION ALL
         |SELECT 'dotpos', class, userid, ts,
         |  CASE WHEN 0.25*pv + 0.5*cents + 0.25*nv > 0.0
         |       THEN 0.25*pv + 0.5*cents + 0.25*nv ELSE 0.0 END
         |FROM w3 WHERE pv IS NOT NULL AND nv IS NOT NULL
         |UNION ALL
         |SELECT 'dottanh', class, userid, ts,
         |  round(1.0 - 2.0 / (exp(2.0*(pv + cents + nv)) + 1.0), 6)
         |FROM w3 WHERE pv IS NOT NULL AND nv IS NOT NULL""".stripMargin,

    // fixture faces derived by hand from the three series (last values
    // 50/30/7, sizes 3/2/4, value sets {7,50}/{30}/{7}); bylabelsattr
    // replays w113's store state (label user=3 matches, label dc absent
    // → the dc attribute is consulted)
    "w125_ws_filter_faces" ->
      """SELECT v.which, v.class, v.userid
        |FROM (VALUES
        |  ('last_eq', 'fx', 'a'),
        |  ('last_ge', 'fx', 'a'), ('last_ge', 'fx', 'b'),
        |  ('last_le', 'fx', 'b'), ('last_le', 'fx', 'c'),
        |  ('last_lt', 'fx', 'c'),
        |  ('last_ne', 'fx', 'a'), ('last_ne', 'fx', 'c'),
        |  ('all_eq', 'fx', 'c'),
        |  ('all_gt', 'fx', 'a'), ('all_gt', 'fx', 'b'), ('all_gt', 'fx', 'c'),
        |  ('all_le', 'fx', 'b'), ('all_le', 'fx', 'c'),
        |  ('all_lt', 'fx', 'c'),
        |  ('all_ne', 'fx', 'a'), ('all_ne', 'fx', 'c'),
        |  ('any_ge', 'fx', 'a'),
        |  ('any_gt', 'fx', 'a'), ('any_gt', 'fx', 'b'),
        |  ('any_le', 'fx', 'a'), ('any_le', 'fx', 'c'),
        |  ('any_ne', 'fx', 'a'), ('any_ne', 'fx', 'b'),
        |  ('bysize_gt', 'fx', 'a'), ('bysize_gt', 'fx', 'c'),
        |  ('bylabelsattr', 'events.error', '3')
        |) v(which, class, userid)""".stripMargin,

    "w126_ws_join_faces" ->
      s"""WITH $BUCKET_SQL,
         |g AS (SELECT class, userid, ts, cents FROM ($EV) e WHERE ts <= $LB),
         |nser AS (SELECT u, count(DISTINCT event_type) AS ns FROM pts GROUP BY 1),
         |wj AS (SELECT u, event_type, bts, CAST(c AS VARCHAR) AS cs,
         |    lag(CAST(c AS VARCHAR)) OVER ww AS pv,
         |    lead(CAST(c AS VARCHAR)) OVER ww AS nv
         |  FROM counts WINDOW ww AS (PARTITION BY u, event_type ORDER BY bts)),
         |rj AS (SELECT u, bts,
         |    string_agg(CAST(c AS VARCHAR), '|'
         |      ORDER BY CAST(c AS VARCHAR)) AS joined,
         |    count(*) AS m
         |  FROM counts GROUP BY 1, 2)
         |SELECT 'bucket' AS which, class || '/' || userid AS key,
         |  $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |  string_agg(CAST(cents AS VARCHAR), '|'
         |    ORDER BY ts, CAST(cents AS VARCHAR)) AS joined
         |FROM g GROUP BY 2, 3
         |UNION ALL
         |SELECT 'window', 'events.' || event_type || '/' || u, bts,
         |  concat_ws('-', pv, cs, nv)
         |FROM wj
         |UNION ALL
         |SELECT 'red_ignore', u, bts, joined FROM rj
         |UNION ALL
         |SELECT 'red_nonnull', r.u, r.bts, r.joined
         |FROM rj r JOIN nser n USING (u) WHERE r.m = n.ns
         |UNION ALL
         |SELECT 'red_forbid', r.u, r.bts, r.joined
         |FROM rj r JOIN nser n USING (u) WHERE r.m = n.ns""".stripMargin,

    "w127_ws_percentile_faces" ->
      s"""WITH $BUCKET_SQL,
         |g AS (SELECT class, userid, ts, cents FROM ($EV) e WHERE ts <= $LB),
         |nser AS (SELECT u, count(DISTINCT event_type) AS ns FROM pts GROUP BY 1),
         |win AS (SELECT class, userid, ts,
         |    list_sort(list(cents) OVER (PARTITION BY class, userid
         |      ORDER BY ts ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS xs
         |  FROM g),
         |red AS (SELECT u, bts, count(*) AS m,
         |    list_sort(list(c))[CAST(greatest(ceil(0.5 * count(*)), 1) AS BIGINT)] AS p50,
         |    quantile_cont(c, 0.5) AS p50c
         |  FROM counts GROUP BY 1, 2)
         |SELECT 'cont75' AS which, class || '/' || userid AS key,
         |  $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |  quantile_cont(cents, 0.75) AS pv
         |FROM g GROUP BY 2, 3
         |UNION ALL
         |SELECT 'win90', class || '/' || userid, ts,
         |  xs[CAST(greatest(ceil(0.9 * len(xs)), 1) AS BIGINT)]
         |FROM win
         |UNION ALL
         |SELECT 'red50', u, bts, CAST(p50 AS DOUBLE) FROM red
         |UNION ALL
         |SELECT 'red50_forbid', r.u, r.bts, CAST(r.p50 AS DOUBLE)
         |FROM red r JOIN nser n USING (u) WHERE r.m = n.ns
         |UNION ALL
         |SELECT 'red50_cont', u, bts, p50c FROM red""".stripMargin,

    // hand-derived interior midpoints: window face over m1
    // (10,20,30,50 → self/15/25/40), reducer over ra×rb per tick
    // ((10,20)→15, (30,40)→35, (20,40)→30; tick 4 has only ra=30 —
    // dropped by the null-forbidding plain face, kept by exclude-nulls)
    "w128_ws_circular_window" ->
      """SELECT v.which, CAST(v.ts AS BIGINT) AS ts,
        |  CAST(v.circ AS DOUBLE) AS circ
        |FROM (VALUES
        |  ('window', 1, 10.0), ('window', 2, 15.0),
        |  ('window', 3, 25.0), ('window', 4, 40.0),
        |  ('red_forbid', 1, 15.0), ('red_forbid', 2, 35.0),
        |  ('red_forbid', 3, 30.0),
        |  ('red_excl', 1, 15.0), ('red_excl', 2, 35.0),
        |  ('red_excl', 3, 30.0), ('red_excl', 4, 30.0)
        |) v(which, ts, circ)""".stripMargin,

    // filler faces hand-derived on the 4/5-bucket grids (gaps at
    // 200/300 resp. 300; the exact-line rlowess reproduces the line);
    // geo_out = the complement of w58's ray-cast polygon membership
    "w129_ws_filler_geo_faces" ->
      s"""WITH g AS ($EV),
         |${GeoQueries.trackSql}
         |SELECT v.which, 'f' AS class, CAST(NULL AS VARCHAR) AS userid,
         |  CAST(v.ts AS BIGINT) AS ts, CAST(v.nv AS DOUBLE) AS nv
         |FROM (VALUES
         |  ('prev', 100, 10.0), ('prev', 200, 10.0),
         |  ('prev', 300, 10.0), ('prev', 400, 40.0),
         |  ('next', 100, 10.0), ('next', 200, 40.0),
         |  ('next', 300, 40.0), ('next', 400, 40.0),
         |  ('value', 100, 10.0), ('value', 200, 77.5),
         |  ('value', 300, 77.5), ('value', 400, 40.0),
         |  ('linear', 100, 10.0), ('linear', 200, 20.0),
         |  ('linear', 300, 30.0), ('linear', 400, 40.0),
         |  ('rlowess', 100, 10.0), ('rlowess', 200, 20.0),
         |  ('rlowess', 300, 30.0), ('rlowess', 400, 40.0),
         |  ('rlowess', 500, 50.0)
         |) v(which, ts, nv)
         |UNION ALL
         |SELECT 'geo_out', class, userid, ts, round(vdouble, 6)
         |FROM t
         |WHERE NOT (${GeoQueries.Pentagon.containsSql("lat", "lon")})"""
        .stripMargin,

    // exp = matched clicks plus view COMPANIONS — a view series is
    // delivered only when a click series with the same labels MATCHED
    // the selector (all-time directory match, so no ts filter on the
    // click-existence test); the self-class companion dedups. cnt =
    // each series' last 2 points, companions trimmed per scan like any
    // other series.
    "w130_ws_fetch_extra" ->
      s"""WITH ev AS ($EV),
         |cu AS (SELECT DISTINCT userid FROM ev
         |  WHERE class = 'events.click' AND regexp_full_match(userid, '[0-3]')),
         |g AS (SELECT class, userid, ts, cents FROM ev
         |  WHERE ts <= $LB AND regexp_full_match(userid, '[0-3]')
         |    AND (class = 'events.click'
         |         OR (class = 'events.view' AND userid IN (SELECT userid FROM cu)))),
         |r AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid
         |                       ORDER BY ts DESC) AS rnd
         |  FROM g)
         |SELECT 'exp' AS which, class, userid,
         |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS v
         |FROM g GROUP BY 2, 3
         |UNION ALL
         |SELECT 'cnt', class, userid,
         |  count(*), CAST(sum(cents) AS BIGINT)
         |FROM r WHERE rnd <= 2 GROUP BY 2, 3""".stripMargin,

    // w131 faces: 'fwd' and 'dur' are the same 3-day window from
    // opposite directions; 'swap' is the whole history (bounds
    // normalized); 'cnt'/'nowlit' rank newest-first at end = LB (the
    // engine's injected now)
    "w131_ws_fetch_timerange" -> {
      val t0 = GtsQueries.T0
      val w3 = GtsQueries.T0 + 3 * DAY - 1
      s"""WITH g AS ($EV),
         |r AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid
         |                       ORDER BY ts DESC) AS rn
         |  FROM g WHERE ts <= $LB)
         |SELECT 'fwd' AS which, class, userid,
         |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS v
         |FROM g WHERE ts BETWEEN $t0 AND $w3 GROUP BY 2, 3
         |UNION ALL
         |SELECT 'dur', class, userid, count(*), CAST(sum(cents) AS BIGINT)
         |FROM g WHERE ts BETWEEN $t0 AND $w3 GROUP BY 2, 3
         |UNION ALL
         |SELECT 'swap', class, userid, count(*), CAST(sum(cents) AS BIGINT)
         |FROM g WHERE ts BETWEEN $t0 AND $LB GROUP BY 2, 3
         |UNION ALL
         |SELECT 'cnt', class, userid, count(*), CAST(sum(cents) AS BIGINT)
         |FROM r WHERE rn <= 3 GROUP BY 2, 3
         |UNION ALL
         |SELECT 'nowlit', class, userid, count(*), CAST(sum(cents) AS BIGINT)
         |FROM r WHERE rn <= 2 GROUP BY 2, 3""".stripMargin
    },

    // replays the per-series auto-parameter arithmetic exactly:
    // floor divisions (// on non-negative operands = floorDiv), the
    // divides-exactly span rule, and the both-zero lastbucket
    // alignment
    "w132_ws_bucketize_auto" ->
      s"""WITH g AS ($EV),
         |ext AS (SELECT class, userid, min(ts) AS ft, max(ts) AS lt
         |        FROM g WHERE ts <= $LB GROUP BY 1, 2),
         |ac0 AS (SELECT class, userid, ft, lt,
         |          CASE WHEN lt - ft < $DAY THEN 1
         |               ELSE 1 + (lt - ft) // $DAY END AS cnt0,
         |          lt % $DAY AS rem
         |        FROM ext),
         |ac AS (SELECT class, userid, ft,
         |         CASE WHEN rem <> 0 THEN lt - rem + $DAY ELSE lt END AS lb,
         |         CASE WHEN rem <> 0
         |               AND (CASE WHEN rem <> 0 THEN lt - rem + $DAY
         |                         ELSE lt END) - cnt0 * $DAY >= ft
         |              THEN cnt0 + 1 ELSE cnt0 END AS cnt
         |       FROM ac0),
         |f1 AS (SELECT 'autocnt' AS which, g.class, g.userid,
         |         p.lb - ((p.lb - g.ts) // $DAY) * $DAY AS ts, g.cents
         |       FROM g JOIN ac p ON g.class = p.class AND g.userid = p.userid
         |       WHERE g.ts > p.lb - p.cnt * ${DAY}::BIGINT
         |         AND g.ts <= p.lb),
         |sp0 AS (SELECT class, userid, ft,
         |          ($LB - ft + 1) // 20 AS q, $LB - ft + 1 AS delta
         |        FROM ext),
         |sp AS (SELECT class, userid,
         |         CASE WHEN q = 0 OR delta % q <> 0 THEN q + 1 ELSE q END AS span
         |       FROM sp0),
         |f2 AS (SELECT 'autospan' AS which, g.class, g.userid,
         |         $LB - (($LB - g.ts) // p.span) * p.span AS ts, g.cents
         |       FROM g JOIN sp p ON g.class = p.class AND g.userid = p.userid
         |       WHERE g.ts > $LB - 20 * p.span AND g.ts <= $LB),
         |n10 AS (SELECT class, userid, ft,
         |          ($LB - ft) // 19 AS q, $LB - ft AS delta
         |        FROM ext),
         |n1 AS (SELECT class, userid,
         |         CASE WHEN q = 0 OR delta % q <> 0 THEN q + 1 ELSE q END AS span
         |       FROM n10),
         |f3 AS (SELECT 'neg1' AS which, g.class, g.userid,
         |         $LB - (($LB - g.ts) // p.span) * p.span AS ts, g.cents
         |       FROM g JOIN n1 p ON g.class = p.class AND g.userid = p.userid
         |       WHERE g.ts > $LB - 20 * p.span AND g.ts <= $LB),
         |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
         |      UNION ALL SELECT * FROM f3)
         |SELECT which, class, userid, ts, CAST(sum(cents) AS BIGINT) AS v
         |FROM u GROUP BY 1, 2, 3, 4""".stripMargin,

    // hand-derived goldens (the bucket-by-bucket trace lives in
    // KernelsSpec): LTTB 5 over ticks 0..9 keeps 0,2,4,7,9; TLTTB 4
    // over the two time-clusters keeps 0,1,12,13
    "w133_ws_lttb_words" ->
      """SELECT * FROM (VALUES
        |  ('lttb', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('lttb', 2, 0), ('lttb', 4, 50), ('lttb', 7, 20), ('lttb', 9, 5),
        |  ('tlttb', 0, 0), ('tlttb', 1, 5), ('tlttb', 12, 2),
        |  ('tlttb', 13, 7)) AS t(which, ts, v)""".stripMargin,

    // bucket = count of bounds strictly below the value; equality with
    // a bound keeps the lower bucket (the reference's exact-hit index)
    "w134_ws_quantize" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, ts,
         |        (CASE WHEN cents > 100 THEN 1 ELSE 0 END +
         |         CASE WHEN cents > 300 THEN 1 ELSE 0 END +
         |         CASE WHEN cents > 600 THEN 1 ELSE 0 END) AS bk
         |      FROM g WHERE ts <= $LB)
         |SELECT 'idx' AS which, class, userid, ts,
         |       CAST(bk AS VARCHAR) AS q FROM b
         |UNION ALL
         |SELECT 'lab', class, userid, ts,
         |  CASE bk WHEN 0 THEN 'low' WHEN 1 THEN 'mid'
         |          WHEN 2 THEN 'high' ELSE 'top' END
         |FROM b""".stripMargin,

    // CORRELATE closed form over the filled 8-bucket arrays: per lag k
    // the clip is xs[1..8−k] × ys[1+k..8] (k ≥ 0; mirrored below 0),
    // each slice standardized with the shared Bessel form, rank-paired
    // dot product / (n−1); round 6 absorbs sum-association noise
    "w136_ws_correlate" -> {
      def corr(k: Int): String = {
        val n = 8 - math.abs(k)
        val aIdx = if (k >= 0) (1 to 8 - k) else (1 + (-k) to 8)
        val bIdx = if (k >= 0) (1 + k to 8) else (1 to 8 + k)
        val za = SaxOracle.besselZSql(aIdx.map(i => s"xs[$i]"))
        val zb = SaxOracle.besselZSql(bIdx.map(i => s"ys[$i]"))
        val dot = za.zip(zb).map { case (a, b) => s"($a) * ($b)" }
          .reduce((x, y) => s"($x) + ($y)")
        s"round(($dot) / ${n - 1}.0, 6)"
      }
      val lags = Seq(-2, 0, 1)
      val faces = lags.map { k =>
        s"""SELECT 'events.view' AS class, userid,
           |  CAST(${k.toLong * GtsQueries.DAY} AS BIGINT) AS ts,
           |  ${corr(k)} AS xcorr FROM c""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH g AS ($EV),
         |bb AS (SELECT ($LB - ts) // $DAY AS k, sum(cents) AS s
         |       FROM g WHERE class = 'events.click' AND userid = '20'
         |         AND ts <= $LB AND ($LB - ts) // $DAY < 8 GROUP BY 1),
         |bx AS (SELECT r.j, CAST(coalesce(bb.s, 0) AS DOUBLE) AS v
         |       FROM (SELECT unnest(range(8)) AS j) r
         |       LEFT JOIN bb ON bb.k = 7 - r.j),
         |bxa AS (SELECT list(v ORDER BY j) AS xs FROM bx),
         |vv AS (SELECT userid, ($LB - ts) // $DAY AS k, sum(cents) AS s
         |       FROM g WHERE class = 'events.view' AND userid IN ('20', '21')
         |         AND ts <= $LB AND ($LB - ts) // $DAY < 8 GROUP BY 1, 2),
         |vser AS (SELECT DISTINCT userid FROM vv),
         |vx AS (SELECT vser.userid, r.j, CAST(coalesce(vv.s, 0) AS DOUBLE) AS v
         |       FROM vser CROSS JOIN (SELECT unnest(range(8)) AS j) r
         |       LEFT JOIN vv ON vv.userid = vser.userid AND vv.k = 7 - r.j),
         |vxa AS (SELECT userid, list(v ORDER BY j) AS ys FROM vx GROUP BY 1),
         |c AS (SELECT userid, xs, ys FROM vxa CROSS JOIN bxa)
         |$faces""".stripMargin
    },

    // faithful bSAX per window start: Bessel z over the 5 raw cents,
    // shared Acklam bound literals, shared 1024-word vocabulary table
    "w135_ws_patterns" -> {
      val xs = (0 until 5).map(i => s"x$i")
      val leads = (1 until 5).map(i => s"lead(x, $i) OVER w AS x$i").mkString(", ")
      val zs = SaxOracle.besselZSql(xs.map(x => s"($x)"))
      val word = SaxOracle.wordSql(zs.map(z => SaxOracle.symbolSql(z, 4)), 4, 5)
      s"""WITH g AS ($EV),
         |v AS (SELECT class, userid, ts, CAST(cents AS DOUBLE) AS x FROM g),
         |o AS (SELECT class, userid, ts, x AS x0, $leads
         |      FROM v WINDOW w AS (PARTITION BY class, userid ORDER BY ts, x))
         |SELECT class, userid, ts, $word AS word
         |FROM o WHERE x4 IS NOT NULL""".stripMargin
    },
  )
}
