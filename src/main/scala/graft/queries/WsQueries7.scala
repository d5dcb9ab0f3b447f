package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** WarpScript front-end queries, part 7 (round 12): oracle rows for the
  * faithful outlier/DTW word kernels that were previously only
  * spec-locked — the Twitter SH-ESD words HYBRIDTEST (per-piece STL
  * seasonal, GTSOutliersHelper.hybridTest:524-626) and HYBRIDTEST2
  * (entropy seasonal, entropyHybridTest:639-757), both driving the
  * exact ESDTest trace (GTSOutliersHelper.ESDTest:329-415) per piece,
  * and the RAWDTW/ZDTW/DTW word faces (fn/DTW.java:60-505 with the
  * DoubleUtils.muvar shift/mu quirks).
  *
  * The HYBRIDTEST rows reuse the w54 trick: BANDWIDTH_L/T 1 + SPEED 0
  * (BANDWIDTH_S −1 is the word's own default) degrade the per-piece
  * Cleveland loop to cycle means + the triple-moving-average low-pass,
  * a closed form DuckDB replays per piece; the per-piece MEDIAN-ESD
  * rounds then follow g99's quantile_cont round replay, extended with
  * the reference's Bessel-sd fallback at MAD 0.
  */
object WsQueries7 extends QueryPack {
  import GtsQueries.{HOUR, LB, EV}
  import WsQueries.engine

  private val userid = col("labels").getItem("user").as("userid")

  // HYBRIDTEST shape: 144 hourly buckets = 2 pieces x (3 periods x 24)
  private val NGRID = 144
  private val BPP = 24
  private val PPP = 3
  private val PIECE = BPP * PPP // 72
  private val K = 5
  private val PREFIX =
    s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
       |  bucketizer.sum $LB 1 h $NGRID ] BUCKETIZE
       |[ 0 0 0 0.0 ] FILLVALUE""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // HYBRIDTEST (fn/HYBRIDTEST.java → GTSOutliersHelper.hybridTest):
    // gts bpp ppp k alpha stl-params HYBRIDTEST — per piece of
    // ppp·bpp buckets, seasonal via the REAL STL (BANDWIDTH_S −1
    // default ⇒ cycle means; L/T 1 + SPEED 0 ⇒ the w54 closed form),
    // remainder = y − seasonal − median(piece), then the MEDIAN/MAD
    // generalized ESD trace (swap-with-last removal, strict-> argmax,
    // all removed points up to the last passing round)
    "w137_ws_hybridtest" -> ((s, dir) => {
      val program =
        s"""$PREFIX
           |$BPP $PPP $K 0.05
           |{ 'BANDWIDTH_L' 1 'BANDWIDTH_T' 1 'SPEED' 0 } HYBRIDTEST""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          col("vdouble").cast(LongType).as("v"))
    }),

    // HYBRIDTEST2 (fn/HYBRIDTEST2.java → entropyHybridTest): same
    // piecewise MEDIAN-ESD but the seasonal is the entropy softmax
    // factoring — per cycle subseries (3 values here), z against the
    // subcycle's musigma, exp(√z) softmax, normalized entropy, the
    // subcycle's seasonal value = entropy·mu
    "w138_ws_hybridtest2" -> ((s, dir) => {
      val program = s"$PREFIX\n$BPP $PPP $K 0.05 HYBRIDTEST2"
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          col("vdouble").cast(LongType).as("v"))
    }),

    // DTW word faces (fn/DTW.java; WarpScriptLib RAWDTW/ZDTW flags):
    // fixed fixtures, hand-traced DP oracle (mirrored from
    // fn/DTW.java:371-505 + DoubleUtils.muvar with its verbatim
    // quirks: shift = first ZERO else last scanned value, and
    // mu = mean + shift/n). Faces: plain manhattan, explicit
    // squaredeuclidean + characteristic, exceeded threshold → −1,
    // 'timestamps' characteristic, ZDTW's asymmetric z-normalization
    // (musigma bessel sd for gts1 = TOP operand, muvar VARIANCE for
    // gts2), DTW's min-max normalization, and a Sakoe window that
    // genuinely constrains the path (second fixture: w2 18 vs full 17)
    "w139_ws_dtw_words" -> ((s, dir) => {
      val program =
        s"""[ 0 1 2 3 4 5 6 7 ] [ ] [ ] [ ]
           |  [ 3.0 1.0 4.0 1.0 5.0 9.0 2.0 6.0 ] MAKEGTS 'fa' RENAME 'a' STORE
           |[ 0 1 2 3 4 5 ] [ ] [ ] [ ]
           |  [ 2.0 8.0 1.0 7.0 3.0 4.0 ] MAKEGTS 'fb' RENAME 'b' STORE
           |[ 0 1 2 3 4 5 6 7 ] [ ] [ ] [ ]
           |  [ 5.0 2.0 6.0 0.0 1.0 8.0 1.0 5.0 ] MAKEGTS 'fa2' RENAME 'a2' STORE
           |[ 0 1 2 3 4 5 ] [ ] [ ] [ ]
           |  [ 9.0 0.0 8.0 3.0 0.0 1.0 ] MAKEGTS 'fb2' RENAME 'b2' STORE
           |$$a $$b 0 RAWDTW
           |$$a $$b 0 'squaredeuclidean' 'values' RAWDTW
           |$$a $$b 11.5 RAWDTW
           |$$a $$b 0 'timestamps' RAWDTW
           |$$a $$b 0 ZDTW
           |$$a $$b 0 DTW
           |$$a2 $$b2 2 0 RAWDTW
           |$$a2 $$b2 0 RAWDTW""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      def d(i: Int): Double = v(i).asInstanceOf[Double]
      s.range(1).select(
        lit(d(7)).as("dtw_raw"),
        lit(d(6)).as("dtw_sqeucl"),
        lit(d(5)).as("dtw_thr"),
        lit(d(4)).as("dtw_ts"),
        round(lit(d(3)), 6).as("dtw_z"),
        round(lit(d(2)), 6).as("dtw_minmax"),
        lit(d(1)).as("dtw_w2"),
        lit(d(0)).as("dtw_full2"))
    }),

    // MODE + CLIP faithful faces (r12 conformance mining). MODE
    // (fn/MODE.java:59) compares boxed values by JAVA OBJECT IDENTITY,
    // so run lengths are detected only for autobox-cached values
    // (LONGs in [-128,127], BOOLEANs): m1 = small-long tie → the two
    // real modes; m2 = values 200 box fresh per read, so the 3-run of
    // 5s wins alone; m3 = DOUBLE GTS → every value-sorted value comes
    // back, duplicates included. CLIP (fn/CLIP.java:61): an inverted
    // pair is swapped (not empty) and the output is one timeclip PER
    // pair — overlapping ranges duplicate the shared points.
    "w140_ws_mode_clip" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val v = e.run(
        s"""<'
           |1// m.a{} 1
           |2// m.a{} 1
           |3// m.a{} 2
           |4// m.a{} 2
           |5// m.a{} 3
           |'>
           |PARSE MODE
           |<'
           |1// m.b{} 5
           |2// m.b{} 5
           |3// m.b{} 5
           |4// m.b{} 200
           |5// m.b{} 200
           |'>
           |PARSE MODE
           |[ 1 2 3 ] [ ] [ ] [ ]
           |  [ 4.0 4.0 9.0 ] MAKEGTS 'm.c' RENAME MODE""".stripMargin)
      def modeRows(which: String, m: Any): Seq[(String, Long, Double)] =
        m.asInstanceOf[Vector[Any]].zipWithIndex.map { case (x, i) =>
          (which, i.toLong, x match {
            case l: Long => l.toDouble
            case d: Double => d
          })
        }
      import s.implicits._
      val modes = (modeRows("m1", v(2)) ++ modeRows("m2", v(1)) ++
        modeRows("m3", v(0))).toDF("which", "i", "v")
      val clip = e.runToFrame(
        s"""[ 1 2 3 4 5 ] [ ] [ ] [ ]
           |  [ 10.0 20.0 30.0 40.0 50.0 ] MAKEGTS 'cf' RENAME
           |[ [ 2 4 ] [ 4 2 ] [ 5 5 ] ] CLIP""".stripMargin)
        .select(lit("clip").as("which"), col("ts").as("i"),
          col("vdouble").as("v"))
      modes.unionByName(clip)
    }),

    // unary math words applied DIRECTLY to a GTS operand (r12: the
    // NumericalUnaryFunction family is ListRecursive over GTS — the
    // words previously only took scalars). SQRT/FLOOR emit DOUBLEs
    // (opL null — FLOOR of a GTS is a DOUBLE gts); ROUND emits LONGs
    // via Math.round = floor(x+0.5) at these magnitudes; ABS
    // preserves the DOUBLE type. java.lang.Math runs on the executors,
    // so sqrt/floor are IEEE-exact against DuckDB's libm
    "w141_ws_unary_math" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      def face(word: String, tag: String, fromLong: Boolean) = e.runToFrame(
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |$word""".stripMargin)
        .select(lit(tag).as("which"), col("class"), userid, col("ts"),
          (if (fromLong) col("vlong").cast("double")
           else col("vdouble")).as("v"))
      face("SQRT", "sqrt", fromLong = false)
        .unionByName(face("FLOOR", "floor", fromLong = false))
        .unionByName(face("ROUND", "round", fromLong = true))
        .unionByName(face("ABS", "abs", fromLong = false))
    }),

    // DEDUP's two documented tie-break faces (GTSHelper.dedup:
    // 7193-7216 keeps "the last value found for a given timestamp" in
    // append order; COVERAGE.md §2.2): a STACK-BUILT series carries
    // append order in GtsBuilder.points and keeps the LAST appended
    // duplicate (r13); a storage/overlay-backed frame carries no
    // append order (the long table is ts-keyed) and keeps the
    // documented deterministic canonical MAXIMUM — the overlay face
    // plants conflicting duplicate ticks through MAKEGTS+UPDATE and
    // fetches them back, pinning that determinization in the gate.
    "w144_ws_dedup_ties" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val stackFace = e.runToFrame(
        """NEWGTS 'script.dup' RENAME
          |100 NaN NaN NULL 9 ADDVALUE
          |100 NaN NaN NULL 15 ADDVALUE
          |200 NaN NaN NULL 25 ADDVALUE
          |200 NaN NaN NULL 7 ADDVALUE
          |300 NaN NaN NULL 3 ADDVALUE
          |DEDUP""".stripMargin)
      val overlayFace = e.runToFrame(
        """[ 1000 1000 2000 ] [ ] [ ] [ ] [ 9 5 3 ] MAKEGTS
          |'script.dup2' RENAME UPDATE
          |[ '' 'script.dup2' { } 100000 100001 ] FETCH DEDUP""".stripMargin)
      def face(df: DataFrame, tag: String) =
        df.select(lit(tag).as("which"), col("ts"),
          coalesce(col("vlong"), col("vdouble").cast(LongType)).as("v"))
      face(stackFace, "stack").unionByName(face(overlayFace, "overlay"))
    }),

    // the order-word family on stack-built series (faithful r13
    // audit): CLONEREVERSE is list REVERSE(stable=false)
    // (WarpScriptLib.java:2042), TICKLIST is per-point current-order
    // ticks with duplicates (GTSHelper.tickList:1310), VALUESORT
    // reorders by (value, tick) observably via VALUES' current-order
    // read, ATINDEX wraps negative indexes
    // (GET.computeAndCheckIndex:111), LASTSORT orders a GTS list by
    // newest-tick value with empties last, and METASORT consumes its
    // mandatory fields list (the old binding left it on the stack)
    "w145_ws_order_words" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val dup = """NEWGTS 'g' RENAME
                  |300 NaN NaN NULL 7 ADDVALUE
                  |100 NaN NaN NULL 9 ADDVALUE
                  |100 NaN NaN NULL 5 ADDVALUE""".stripMargin
      def csv(prog: String) = e.run(prog).head
        .asInstanceOf[Vector[Any]].mkString(",")
      val lastsort = e.run(
        """[ NEWGTS 'a' RENAME 10 NaN NaN NULL 9 ADDVALUE
          |  NEWGTS 'b' RENAME 20 NaN NaN NULL 2 ADDVALUE
          |  NEWGTS 'c' RENAME ] LASTSORT""".stripMargin).head
        .asInstanceOf[Vector[graft.script.WarpScriptEngine.GtsBuilder]]
      val metasort = e.run(
        """[ NEWGTS 'x' RENAME { 'u' '2' } RELABEL
          |  NEWGTS 'y' RENAME { 'u' '1' } RELABEL ] [ 'u' ] METASORT
          |DEPTH""".stripMargin)
      s.range(1).select(
        lit(csv("[ 1 2 3 ] CLONEREVERSE")).as("clonerev"),
        lit(csv(s"$dup TICKLIST")).as("ticklist"),
        lit(csv(s"$dup VALUESORT VALUES")).as("vsort"),
        lit(csv(s"$dup RVALUESORT VALUES")).as("rvsort"),
        lit(e.run(s"$dup -1 ATINDEX 4 GET").head.asInstanceOf[Long]).as("at_neg1"),
        lit(lastsort.map(_.cls).mkString(",")).as("lastsort"),
        lit(metasort.head.asInstanceOf[Long]).as("metasort_depth"),
        lit(metasort(1).asInstanceOf[Vector[graft.script.WarpScriptEngine.GtsBuilder]]
          .map(_.cls).mkString(",")).as("metasort"),
        // SORT/RSORT/FULLSORT on the order-carrying builder
        // (GTSHelper.sort / fullsort:282-331), SETVALUE's in-place
        // first-occurrence replace (setValue:1596-1615) and
        // REMOVETICK's collection face (REMOVETICK.java:9-28)
        lit(csv(s"$dup SORT VALUES")).as("sort_vals"),
        lit(csv(s"$dup RSORT TICKLIST")).as("rsort_ticks"),
        lit(csv(s"$dup FULLSORT VALUES")).as("fullsort_vals"),
        lit(csv(s"$dup [ 100 NaN NaN NULL 42 ] SETVALUE VALUES")).as("setvalue"),
        lit(csv(s"$dup [ 100 ] REMOVETICK TICKLIST")).as("removetick"))
    }),

    // the binary operator family's GTS faces (binary/ADD.java, SUB,
    // MUL, ComparisonOperation, BitwiseOperation — r12): two
    // single-series daily-bucketized frames drive GTS×GTS `+` (inner
    // tick join, metadata-free result, merged bucketization), scalar
    // `*` and scalar-LEFT `-` (elementwise, metadata kept), the `<`
    // comparison FILTER (keeps gts1's points where it holds), and the
    // LONG-GTS `&` mask after a mapper.tolong cast. All values are
    // exact integer cents, so every face hashes as BIGINT.
    "w142_ws_binary_gts" -> ((s, dir) => {
      val e = engine(s, dir, cents = true, withMeta = false)
      val DAYx = GtsQueries.DAY
      def bkt(cls: String) =
        s"""[ [ '' 'events.$cls' { 'user' '1' } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB $DAYx 0 ] BUCKETIZE""".stripMargin
      val prog =
        s"""${bkt("click")} 'c' STORE
           |${bkt("view")} 'v' STORE
           |$$c $$v +
           |$$c 2 *
           |10000000 $$c -
           |$$c $$v <
           |[ 1 2 3 4 5 ] [ ] [ ] [ ] [ 1023 512 255 170 85 ] MAKEGTS 240 &
           |[ 1 2 3 ] [ ] [ ] [ ] [ 12 10 6 ] MAKEGTS
           |[ 2 3 4 ] [ ] [ ] [ ] [ 10 5 1 ] MAKEGTS ^""".stripMargin
      val out = e.run(prog)
      def face(x: Any, tag: String, long: Boolean) =
        e.frameOf(x).select(lit(tag).as("which"), col("ts"),
          (if (long) col("vlong") else col("vdouble").cast("long")).as("v"))
      // six independent bucket-sized faces: run the jobs CONCURRENTLY
      // and assemble the ≤10-row results on the driver (the w122/w125
      // pattern — a 6-branch union serialized ~30 tiny stages)
      val faces = Seq(face(out(5), "sum", long = false),
        face(out(4), "scale", long = false),
        face(out(3), "sub", long = false),
        face(out(2), "lt", long = false),
        face(out(1), "mask", long = true),
        face(out(0), "xor", long = true))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val collected = Await.result(Future.sequence(faces.map(f =>
        Future(f.collect().toSeq.map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2)))))), Duration.Inf)
      import s.implicits._
      collected.flatten.toDF("which", "ts", "v")
    }),

    // FOREACH's GTS face (fn/FOREACH.java:144-176 — each point as a
    // [ts lat lon elev value] tuple), STORE's first-to-last list
    // binding (fn/STORE.java:60-76), and the ADD*-over-TSELEMENTS
    // calendar faces with the reference's own no-400 leap rule
    // (ADDDAYS.java:103 — year 2000 is NOT leap there), all driven
    // end-to-end: the FOREACH loop folds the fetched series' cents
    // into an accumulator the oracle recomputes as a SQL sum.
    "w143_ws_foreach_store" -> ((s, dir) => {
      val program =
        s"""0 'acc' STORE
           |[ '' 'events.click' { 'user' '1' } $LB ${LB + 1} ] FETCH
           |<% 4 GET $$acc + 'acc' STORE %> FOREACH
           |1 2 3 [ 'a' 'b' 'b' ] STORE
           |[ 2000 2 28 ] 1 ADDDAYS ',' JOIN
           |[ 2024 1 31 ] 1 ADDMONTHS ',' JOIN
           |$$acc $$a $$b""".stripMargin
      val v = engine(s, dir, cents = true).run(program)
      s.range(1).select(
        lit(v(0).asInstanceOf[Long]).as("v_b"),
        lit(v(1).asInstanceOf[Long]).as("v_a"),
        lit(v(2).asInstanceOf[Double]).cast("long").as("v_sum"),
        lit(v(3).asInstanceOf[String]).as("v_addmonths"),
        lit(v(4).asInstanceOf[String]).as("v_adddays"))
    })
  )

  // ------------------------------------------------------------ oracle

  /** One STL inner iteration per piece, the w54 closed form on the
    * piece-local grid (N=72, P=24, ext 120): cycle means of the
    * detrended column `det`, periodic ±1-period extension, MA(24) x2 +
    * MA(3) low-pass, seasonal = cycle mean − low-pass at grid j.
    *
    * Every mean is a list_sum over an ORDERED list slice, not a window
    * avg: same-phase zero buckets tie BIT-exactly in the kernel (its
    * per-window sums are sequential), and DuckDB's segment-tree window
    * aggregation broke those ties by 1 ulp, flipping the ESD argmax on
    * 9 series at sf0.01. list_sum folds the slice left-to-right — the
    * kernel's own association. */
  private def stlRound(n: Int, det: String, src: String): String =
    s"""cm$n AS (SELECT class, userid, p, cyc,
       |       list_sum(list($det ORDER BY j DESC)) / count(*) AS m
       |       FROM $src GROUP BY 1, 2, 3, 4),
       |ext$n AS (SELECT g0.class, g0.userid, g0.p, r.idx, cm$n.m AS v
       |       FROM (SELECT DISTINCT class, userid, p FROM grid) g0
       |       CROSS JOIN (SELECT unnest(range(${PIECE + 2 * BPP})) AS idx) r
       |       JOIN cm$n ON cm$n.class = g0.class AND cm$n.userid = g0.userid
       |         AND cm$n.p = g0.p
       |         AND cm$n.cyc = ((${PIECE + BPP - 1} - r.idx) % $BPP + $BPP) % $BPP),
       |extl$n AS (SELECT class, userid, p, list(v ORDER BY idx) AS e
       |       FROM ext$n GROUP BY 1, 2, 3),
       |ma1_$n AS (SELECT class, userid, p, r.i AS idx,
       |         list_sum(e[r.i + 1 : r.i + $BPP]) / $BPP.0 AS v
       |       FROM extl$n
       |       CROSS JOIN (SELECT unnest(range(${PIECE + BPP + 1})) AS i) r),
       |ma1l_$n AS (SELECT class, userid, p, list(v ORDER BY idx) AS e
       |       FROM ma1_$n GROUP BY 1, 2, 3),
       |ma2_$n AS (SELECT class, userid, p, r.i AS idx,
       |         list_sum(e[r.i + 1 : r.i + $BPP]) / $BPP.0 AS v
       |       FROM ma1l_$n
       |       CROSS JOIN (SELECT unnest(range(${PIECE + 2})) AS i) r),
       |ma2l_$n AS (SELECT class, userid, p, list(v ORDER BY idx) AS e
       |       FROM ma2_$n GROUP BY 1, 2, 3),
       |ma3_$n AS (SELECT class, userid, p, r.i AS idx,
       |         list_sum(e[r.i + 1 : r.i + 3]) / 3.0 AS v
       |       FROM ma2l_$n
       |       CROSS JOIN (SELECT unnest(range($PIECE)) AS i) r),
       |seas$n AS (SELECT g.class, g.userid, g.p, g.j, g.x, g.cyc, g.ts,
       |         cm$n.m - ma3_$n.v AS s
       |       FROM grid g
       |       JOIN cm$n ON cm$n.class = g.class AND cm$n.userid = g.userid
       |         AND cm$n.p = g.p AND cm$n.cyc = g.cyc
       |       JOIN ma3_$n ON ma3_$n.class = g.class
       |         AND ma3_$n.userid = g.userid AND ma3_$n.p = g.p
       |         AND ma3_$n.idx = g.j)""".stripMargin

  /** The 144-bucket filled grid: piece p (0 = newest), piece-local
    * oldest-first index j, cycle phase, integer-cents x. */
  private val gridSql =
    s"""b AS (SELECT class, userid, ($LB - ts) // $HOUR AS d, sum(cents) AS sv
       |      FROM g WHERE ts <= $LB AND ($LB - ts) // $HOUR < $NGRID
       |      GROUP BY 1, 2, 3),
       |ser AS (SELECT DISTINCT class, userid FROM g
       |        WHERE ts <= $LB AND ($LB - ts) // $HOUR < $NGRID),
       |grid AS (SELECT ser.class, ser.userid, r.d // $PIECE AS p,
       |           ${PIECE - 1} - (r.d % $PIECE) AS j,
       |           r.d % $BPP AS cyc,
       |           CAST(coalesce(b.sv, 0) AS DOUBLE) AS x,
       |           $LB - r.d * $HOUR AS ts
       |         FROM ser CROSS JOIN (SELECT unnest(range($NGRID)) AS d) r
       |         LEFT JOIN b ON b.class = ser.class AND b.userid = ser.userid
       |           AND b.d = r.d)""".stripMargin

  /** K MEDIAN-ESD rounds per (class, userid, piece) over the remainder
    * table `rem(class, userid, p, ts, x, v)` — g99's quantile_cont
    * round replay plus the reference's Bessel-sd fallback when MAD is
    * 0 (GTSOutliersHelper.madsigma:115-134); std == 0 ends the trace.
    *
    * Tie-break fidelity: the kernel's strict-> argmax scans the
    * backing ARRAY, whose order after each swap-with-last removal is
    * no longer tick order (GTSOutliersHelper.ESDTest:395-400). Zero
    * buckets in one phase share a remainder exactly, so ties are
    * COMMON (39 divergent rows at sf0.01 under a ts tie-break), and a
    * tie straddling the last passing round changes the output SET.
    * The replay therefore carries each element's array position `pos`:
    * round r picks min pos among max |z|, and the element holding the
    * current max pos inherits the removed slot's pos — exactly the
    * swap. Output: the flagged points (all removed up to the last
    * passing round), no round column — the word surfaces the SET. */
  private def esdRoundsSql(k: Int): String = {
    val lams = graft.operators.StatOps.lambdasAt(0.05, (PIECE - k + 1) to PIECE)
    val lam = graft.operators.StatOps.lambdaSqlCaseOf(lams, "n")
    def round(r: Int): String = {
      val rem =
        if (r == 1)
          """p1 AS MATERIALIZED (SELECT *,
            |  row_number() OVER (PARTITION BY class, userid, p
            |    ORDER BY ts ASC) - 1 AS pos FROM rem)""".stripMargin
        else
          s"""m${r - 1} AS (SELECT class, userid, p, max(pos) AS maxpos
             |  FROM p${r - 1} GROUP BY 1, 2, 3),
             |p$r AS MATERIALIZED (SELECT a.class, a.userid, a.p, a.ts, a.x,
             |    a.v,
             |    CASE WHEN k.ts IS NOT NULL AND a.pos = m.maxpos THEN k.pos
             |         ELSE a.pos END AS pos
             |  FROM p${r - 1} a
             |  LEFT JOIN k${r - 1} k ON a.class = k.class
             |    AND a.userid = k.userid AND a.p = k.p
             |  LEFT JOIN m${r - 1} m ON a.class = m.class
             |    AND a.userid = m.userid AND a.p = m.p
             |  WHERE k.ts IS NULL OR a.ts <> k.ts)""".stripMargin
      s"""$rem,
         |s$r AS MATERIALIZED (SELECT class, userid, p,
         |  CAST(count(*) AS DOUBLE) AS n, quantile_cont(v, 0.5) AS med,
         |  sum(v) AS sv, sum(v * v) AS svv FROM p$r GROUP BY 1, 2, 3),
         |d$r AS (SELECT a.class, a.userid, a.p,
         |  quantile_cont(abs(a.v - s.med), 0.5) AS mad
         |  FROM p$r a JOIN s$r s ON a.class = s.class AND a.userid = s.userid
         |    AND a.p = s.p
         |  GROUP BY 1, 2, 3),
         |t$r AS (SELECT s.class, s.userid, s.p, s.n, s.med,
         |  CASE WHEN d.mad <> 0 THEN d.mad / 0.6745
         |       ELSE sqrt(greatest(((s.svv / s.n) - (s.sv * s.sv / (s.n * s.n)))
         |                            * s.n / (s.n - 1), 0)) END AS std
         |  FROM s$r s JOIN d$r d ON s.class = d.class AND s.userid = d.userid
         |    AND s.p = d.p),
         |k$r AS MATERIALIZED (SELECT class, userid, p, ts, x, v, n, pos,
         |    z, $r AS round
         |  FROM (SELECT a.class, a.userid, a.p, a.ts, a.x, a.v, a.pos, t.n,
         |          abs((a.v - t.med) / t.std) AS z,
         |          row_number() OVER (PARTITION BY a.class, a.userid, a.p
         |            ORDER BY abs((a.v - t.med) / t.std) DESC, a.pos ASC) AS rk
         |        FROM p$r a
         |        JOIN t$r t ON a.class = t.class AND a.userid = t.userid
         |          AND a.p = t.p
         |        WHERE t.n >= 3 AND t.std > 0)
         |  WHERE rk = 1)""".stripMargin
    }
    val rounds = (1 to k).map(round).mkString(",\n")
    val unions = (1 to k).map(r => s"SELECT * FROM k$r")
      .mkString(" UNION ALL ")
    s"""$rounds,
       |allr AS (SELECT class, userid, p, ts, x, round, z > ($lam) AS passed
       |         FROM ($unions)),
       |fin AS (SELECT *, max(CASE WHEN passed THEN round END)
       |          OVER (PARTITION BY class, userid, p) AS lastp FROM allr)
       |SELECT class, userid, ts, CAST(x AS BIGINT) AS v
       |FROM fin WHERE round <= lastp""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // per-piece w54 closed form (2 inner iterations: det2 = seasonal1,
    // since the identity trend makes trend1 = x − s1), remainder
    // = x − s − median(piece), then the per-piece MEDIAN-ESD rounds
    "w137_ws_hybridtest" ->
      s"""WITH g AS ($EV),
         |$gridSql,
         |${stlRound(1, "x", "grid")},
         |${stlRound(2, "s", "seas1")},
         |med AS (SELECT class, userid, p, quantile_cont(x, 0.5) AS m
         |        FROM grid GROUP BY 1, 2, 3),
         |rem AS MATERIALIZED (SELECT s2.class, s2.userid, s2.p, s2.ts, s2.x,
         |        s2.x - (s2.s + med.m) AS v
         |      FROM seas2 s2 JOIN med ON med.class = s2.class
         |        AND med.userid = s2.userid AND med.p = s2.p),
         |${esdRoundsSql(K)}""".stripMargin,

    // entropy seasonal: per (piece, phase) the 3 integer-cents values
    // give exact sums, so mu/sigma replay the kernel's closed form
    // (GTSHelper.musigma: var = sumsq/n − sum²/n², Bessel, sqrt);
    // z = |x−mu|/sigma (1.0 when sigma = 0), softmax of exp(√z),
    // normalized entropy, seasonal = entropy·mu per phase
    "w138_ws_hybridtest2" ->
      s"""WITH g AS ($EV),
         |$gridSql,
         |ph AS (SELECT class, userid, p, cyc,
         |         CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
         |         sum(x * x) AS sxx
         |       FROM grid GROUP BY 1, 2, 3, 4),
         |ms AS (SELECT class, userid, p, cyc, n, sx / n AS mu,
         |         sqrt(((sxx / n) - (sx * sx / (n * n))) * n / (n - 1)) AS sigma
         |       FROM ph),
         |zw AS (SELECT g.class, g.userid, g.p, g.cyc, g.ts, ms.mu,
         |         exp(sqrt(CASE WHEN ms.sigma <> 0
         |                       THEN abs((g.x - ms.mu) / ms.sigma)
         |                       ELSE 1.0 END)) AS w
         |       FROM grid g JOIN ms ON ms.class = g.class
         |         AND ms.userid = g.userid AND ms.p = g.p AND ms.cyc = g.cyc),
         |zwl AS (SELECT class, userid, p, cyc, any_value(mu) AS mu,
         |          list(w ORDER BY ts ASC) AS ws
         |        FROM zw GROUP BY 1, 2, 3, 4),
         |ent AS (SELECT class, userid, p, cyc, mu,
         |          -((CASE WHEN ws[1] / (ws[1] + ws[2] + ws[3]) <> 0
         |              THEN (ws[1] / (ws[1] + ws[2] + ws[3]))
         |                * ln(ws[1] / (ws[1] + ws[2] + ws[3])) ELSE 0 END)
         |          + (CASE WHEN ws[2] / (ws[1] + ws[2] + ws[3]) <> 0
         |              THEN (ws[2] / (ws[1] + ws[2] + ws[3]))
         |                * ln(ws[2] / (ws[1] + ws[2] + ws[3])) ELSE 0 END)
         |          + (CASE WHEN ws[3] / (ws[1] + ws[2] + ws[3]) <> 0
         |              THEN (ws[3] / (ws[1] + ws[2] + ws[3]))
         |                * ln(ws[3] / (ws[1] + ws[2] + ws[3])) ELSE 0 END)) AS e0
         |        FROM zwl),
         |seas AS (SELECT class, userid, p, cyc,
         |           (CASE WHEN e0 <> 0 THEN e0 / ln(3.0) ELSE 1.0 END) * mu AS s
         |         FROM ent),
         |med AS (SELECT class, userid, p, quantile_cont(x, 0.5) AS m
         |        FROM grid GROUP BY 1, 2, 3),
         |rem AS MATERIALIZED (SELECT g.class, g.userid, g.p, g.ts, g.x,
         |        g.x - (seas.s + med.m) AS v
         |      FROM grid g
         |      JOIN seas ON seas.class = g.class AND seas.userid = g.userid
         |        AND seas.p = g.p AND seas.cyc = g.cyc
         |      JOIN med ON med.class = g.class AND med.userid = g.userid
         |        AND med.p = g.p),
         |${esdRoundsSql(K)}""".stripMargin,

    // hand-traced constants (mirror of fn/DTW.java:371-505 +
    // DoubleUtils.muvar quirks, traced in FaithfulWordsSpec):
    // manhattan full 12; squaredeuclidean 26; threshold 11.5 → −1;
    // timestamps 3; ZDTW 2.238814 (buggy-mu z-norms: gts1 musigma sd,
    // gts2 muvar VARIANCE); DTW min-max 1.482143; second fixture
    // window 2 → 18 vs unwindowed 17
    "w139_ws_dtw_words" ->
      """SELECT CAST(12.0 AS DOUBLE) AS dtw_raw,
        |  CAST(26.0 AS DOUBLE) AS dtw_sqeucl,
        |  CAST(-1.0 AS DOUBLE) AS dtw_thr,
        |  CAST(3.0 AS DOUBLE) AS dtw_ts,
        |  CAST(2.238814 AS DOUBLE) AS dtw_z,
        |  CAST(1.482143 AS DOUBLE) AS dtw_minmax,
        |  CAST(18.0 AS DOUBLE) AS dtw_w2,
        |  CAST(17.0 AS DOUBLE) AS dtw_full2""".stripMargin,

    // hand-traced constants: m1 [1,2] (cached-long runs counted),
    // m2 [5] (200s box fresh, never form a run), m3 [4,4,9] (doubles
    // never compare identity-equal → all values); clip = [2,4] ∪
    // swapped [4,2] ∪ [5,5] with per-pair duplication
    "w140_ws_mode_clip" ->
      """SELECT which, CAST(i AS BIGINT) AS i, CAST(v AS DOUBLE) AS v
        |FROM (VALUES
        |  ('m1', 0, 1.0), ('m1', 1, 2.0),
        |  ('m2', 0, 5.0),
        |  ('m3', 0, 4.0), ('m3', 1, 4.0), ('m3', 2, 9.0),
        |  ('clip', 2, 20.0), ('clip', 3, 30.0), ('clip', 4, 40.0),
        |  ('clip', 2, 20.0), ('clip', 3, 30.0), ('clip', 4, 40.0),
        |  ('clip', 5, 50.0)) AS t(which, i, v)""".stripMargin,

    // sqrt/floor are IEEE-exact cross-engine; Math.round = floor(x+0.5)
    // at these magnitudes; abs of a positive double is itself
    "w141_ws_unary_math" ->
      s"""WITH g AS ($EV)
         |SELECT 'sqrt' AS which, class, userid, ts, sqrt(vdouble) AS v FROM g
         |UNION ALL
         |SELECT 'floor', class, userid, ts, floor(vdouble) FROM g
         |UNION ALL
         |SELECT 'round', class, userid, ts,
         |  CAST(CAST(floor(vdouble + 0.5) AS BIGINT) AS DOUBLE) FROM g
         |UNION ALL
         |SELECT 'abs', class, userid, ts, abs(vdouble) FROM g""".stripMargin,

    // hand-derived literal oracle — every face is a determinized
    // semantic over literal stack inputs (reference traces in the
    // query's Scaladoc)
    "w145_ws_order_words" ->
      """SELECT '3,2,1' AS clonerev, '300,100,100' AS ticklist,
        |  '5,7,9' AS vsort, '9,7,5' AS rvsort,
        |  CAST(5 AS BIGINT) AS at_neg1, 'b,a,c' AS lastsort,
        |  CAST(1 AS BIGINT) AS metasort_depth, 'y,x' AS metasort,
        |  '9,5,7' AS sort_vals, '300,100,100' AS rsort_ticks,
        |  '5,9,7' AS fullsort_vals, '7,42,5' AS setvalue,
        |  '300' AS removetick""".stripMargin,

    // hand-derived (VALUES) oracle — both faces are determinized
    // semantics over literal inputs: last-appended for the stack face,
    // canonical max for the overlay face
    "w144_ws_dedup_ties" ->
      """SELECT 'stack' AS which, CAST(ts AS BIGINT) AS ts,
        |  CAST(v AS BIGINT) AS v
        |FROM (VALUES (100, 15), (200, 7), (300, 3)) t(ts, v)
        |UNION ALL
        |SELECT 'overlay', CAST(ts AS BIGINT), CAST(v AS BIGINT)
        |FROM (VALUES (1000, 9), (2000, 3)) t(ts, v)""".stripMargin,

    // daily end-anchored bucket sums of user 1's clicks/views; the
    // GTS faces replay as: inner ts join (+ and the < filter), plain
    // column arithmetic (scalar * and scalar-left -), and a bitwise
    // mask on the BIGINT cents. All sums are exact integer cents.
    "w142_ws_binary_gts" -> {
      val DAYx = GtsQueries.DAY
      s"""WITH g AS ($EV),
         |c AS (SELECT $LB - (($LB - ts) // $DAYx) * $DAYx AS ts,
         |        sum(cents) AS v
         |      FROM g WHERE class = 'events.click' AND userid = '1'
         |        AND ts <= $LB GROUP BY 1),
         |w AS (SELECT $LB - (($LB - ts) // $DAYx) * $DAYx AS ts,
         |        sum(cents) AS v
         |      FROM g WHERE class = 'events.view' AND userid = '1'
         |        AND ts <= $LB GROUP BY 1)
         |SELECT 'sum' AS which, c.ts, CAST(c.v + w.v AS BIGINT) AS v
         |FROM c JOIN w USING (ts)
         |UNION ALL
         |SELECT 'scale', ts, CAST(2 * v AS BIGINT) FROM c
         |UNION ALL
         |SELECT 'sub', ts, CAST(10000000 - v AS BIGINT) FROM c
         |UNION ALL
         |SELECT 'lt', c.ts, CAST(c.v AS BIGINT)
         |FROM c JOIN w USING (ts) WHERE c.v < w.v
         |UNION ALL
         |SELECT 'mask', ts, v & 240 FROM (VALUES
         |  (CAST(1 AS BIGINT), CAST(1023 AS BIGINT)), (2, 512), (3, 255),
         |  (4, 170), (5, 85)) AS m(ts, v)
         |UNION ALL
         |SELECT 'xor', ts, v FROM (VALUES
         |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT)), (3, 3)) AS x(ts, v)"""
        .stripMargin
    },

    // the FOREACH fold is the series' cents sum; STORE's doc example
    // and the calendar faces are engine-computed literals
    "w143_ws_foreach_store" ->
      s"""WITH g AS ($EV)
         |SELECT CAST(3 AS BIGINT) AS v_b, CAST(1 AS BIGINT) AS v_a,
         |  CAST(sum(cents) AS BIGINT) AS v_sum,
         |  '2024,2,29' AS v_addmonths, '2000,3,1' AS v_adddays
         |FROM g WHERE class = 'events.click' AND userid = '1'
         |  AND ts <= $LB""".stripMargin
  )
}
