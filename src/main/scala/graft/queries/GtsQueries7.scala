package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.{GtsFrame, StatOps}
import graft.operators.GtsFrame._

/** Seventh pack: oracle rows for the statistical long tail that was
  * spec-gated until now — CORRELATE, ZSCORETEST, mapper.sax — via the
  * declarative exact-sum twins in [[StatOps]] (closed-form variance on
  * exact integer sums; see StatOps scaladoc for the determinism
  * contract).
  */
object GtsQueries7 extends QueryPack {
  import GtsQueries.{T0, LB, DAY, EV}

  private def cents(s: SparkSession, dir: String) = GtsFrame(Gts.fromEventsCents(s, dir))
  private val userid = col("labels").getItem("user").as("userid")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CORRELATE (fn/CORRELATE.java): Pearson correlation of click vs
    // view daily-bucket sums per user — tick-aligned inner join, exact
    // integer moment sums, one final (÷, √·√) rounded identically in
    // both engines
    "g69_correlate" -> ((s, dir) => {
      val c = cents(s, dir)
      val clicks = GtsFrame(c.df.filter(col("class") === "events.click"))
        .bucketize(Sum, LB, DAY)
      val views = GtsFrame(c.df.filter(col("class") === "events.view"))
        .bucketize(Sum, LB, DAY)
      StatOps.correlate(clicks, views, Seq("user"))
        .select(col("user").as("userid"), col("n"), col("corr"))
    }),

    // ZSCORETEST (GTSOutliersHelper.zScoreTest:227-246): flag |z| >= 1.5
    // per series with the BESSEL-corrected sd; z's numerator n·x−Σx is
    // an exact integer and the denominator a single identically-shaped
    // float expression on both engines — no rounding anywhere else
    "g70_zscore_outliers" -> ((s, dir) =>
      StatOps.zscoreFlag(cents(s, dir), 1.5)
        .select(col("class"), userid, col("ts"),
          col("vdouble").as("cents"), col("z"))),

    // mapper.sax (script/SAXUtils.java): 4-letter word over a 4-symbol
    // alphabet per series, z-normalized via closed-form sd, PAA slicing
    // by integer rank arithmetic, published breakpoint literals
    "g72_sax" -> ((s, dir) =>
      StatOps.saxWords(cents(s, dir), wordLen = 4, alphabet = 4)
        .select(col("class"), userid, col("word"))),

    // LTTB (fn/LTTB.java / Steinarsson 2013) to 6 points per series,
    // exact-integer span-scaled areas (SeriesKernels.lttbExact) on
    // second-quantized ticks and cents — the DuckDB oracle replays the
    // sequential bucket-argmax recursion as a recursive CTE; series at
    // or under the threshold pass through (kernel's n<=threshold branch)
    "g71_lttb" -> ((s, dir) => {
      val f = cents(s, dir).df
        .withColumn("ts", expr(s"(ts - $T0) div 1000000")) // exact: ts >= T0
      new graft.kernels.KernelOps(f).lttbExact(6)
        .select(col("class"), userid, col("ts"), col("vdouble").as("cents"))
    }),

    // SNAPSHOT END-TO-END (fn/SNAPSHOT.java): render every series to its
    // `'<b64 wrap blob>' UNWRAP ` statement, then re-parse the statement
    // text (regex + unbase64, distributed) and UNWRAP — must reproduce
    // the source table (oracle = raw table, the g62/g64 pattern)
    "g73_snapshot_roundtrip" -> ((s, dir) => {
      val src = Gts.fromEvents(s, dir)
      val snaps = graft.sources.Snapshot.gtsSnapshots(src)
      // base64 renderings may be MIME-chunked (CR/LF every 76 chars) —
      // accept and strip whitespace before decoding
      val parsed = snaps.select(col("class"), col("labels"),
        unbase64(translate(regexp_extract(col("snapshot"),
          "(?s)^'([A-Za-z0-9+/=\\s]*)' UNWRAP $", 1), "\r\n", "")).as("blob"))
      graft.sources.GtsCodec.unwrap(parsed)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),

    // generalized ESD outlier test (GTSOutliersHelper.ESDTest:329):
    // k=3 exact-sum rounds, t-quantile critical values as shared
    // driver literals, retroactive prefix flagging — the oracle unrolls
    // the identical rounds as CTEs
    "g77_esd_outliers" -> ((s, dir) => {
      StatOps.esdFlag(cents(s, dir), k = 3, alpha = 0.05)
        .select(col("class"), userid, col("ts"),
          col("vdouble").as("cents"), col("round").cast(IntegerType).as("round"))
    }),

    // VALUEHISTOGRAM / PROB / MODE (fn/VALUEHISTOGRAM.java, PROB.java,
    // MODE.java): per-series empirical value distribution — counts are
    // exact, probabilities are single exact-integer divisions, the mode
    // is the count-argmax with smallest-value tiebreak
    "g80_prob_mode" -> ((s, dir) => {
      val f = cents(s, dir).df
      val hist = Gts.aggBySeries(f, col("vdouble").as("v"))(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gtsid"))
      hist
        .withColumn("n", sum(col("cnt")).over(w))
        .withColumn("prob", col("cnt") / col("n").cast(DoubleType))
        .withColumn("is_mode", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("gtsid"))
            .orderBy(col("cnt").desc, col("v").asc)) === 1)
        .select(col("class"), userid, col("v").as("cents"),
          col("cnt"), col("prob"), col("is_mode"))
    }),

    // ESD median/MAD variant (useMedian=true branch): medians of cents
    // are dyadic rationals so every round's med/mad/selection is exact
    "g79_esd_mad" -> ((s, dir) => {
      StatOps.esdMadFlag(cents(s, dir), k = 3, alpha = 0.05)
        .select(col("class"), userid, col("ts"),
          col("vdouble").as("cents"), col("round").cast(IntegerType).as("round"))
    }),

    // mixed-sign MAP window (GTSHelper.java:6440): 1h time look-back
    // PLUS 2-tick look-ahead — composed RANGE + ROWS windows (the
    // round-1 unsupported case); exact cents, no rounding
    "g76_map_mixed_window" -> ((s, dir) =>
      cents(s, dir).mapWindow(Sum, -GtsQueries.HOUR, 2).df
        .select(col("class"), userid, col("ts"), col("vdouble").as("wsum"))),

    // filler.spline (natural cubic spline through daily-bucket knots,
    // evaluated on the 30-day grid): the Thomas tridiagonal sweep and
    // the cubic evaluation run with a FIXED op order in the kernel
    // (KernelOps.Spline) and are REPLAYED by two recursive CTEs
    // in the oracle — forward (cp,dp) elimination, backward M
    // substitution — so every filled double hash-matches
    "g75_fillspline" -> ((s, dir) => {
      val start = LB - 29 * DAY
      // NO round(): the fixed op order makes every double bit-identical
      // across engines, and round(·,6) itself tie-breaks differently on
      // exact .5 decimal boundaries (observed at sf0.01)
      cents(s, dir).bucketize(Sum, LB, DAY)
        .fill(LB, DAY, 30, graft.kernels.KernelOps.Spline).df
        .select(col("class"), userid, expr(s"(ts - $start) div $DAY").as("ts"), // day idx 0..29
          col("vdouble").as("filled"))
    }),

    // filler.akima (Akima 1970 sub-spline): same grid as g75 but the
    // derivatives are LOCAL — the oracle needs only lag/lead windows
    // (virtual boundary slopes expanded nested, same op order)
    "g78_fillakima" -> ((s, dir) => {
      val start = LB - 29 * DAY
      cents(s, dir).bucketize(Sum, LB, DAY)
        .fill(LB, DAY, 30, graft.kernels.KernelOps.Akima).df
        .select(col("class"), userid, expr(s"(ts - $start) div $DAY").as("ts"),
          col("vdouble").as("filled"))
    }),

    // Deterministic HyperLogLog (closes h01's rows-only gap): distinct
    // users per class via HllOps — portable md5 registers, exact
    // binary-string ranks, round(est,6) absorbing sum-order/ln ulps;
    // the oracle replays the IDENTICAL sketch in DuckDB
    "h02_hll_deterministic" -> ((s, dir) =>
      graft.operators.HllOps.estimateByKey(
        Gts.fromEvents(s, dir), col("class"),
        col("labels").getItem("user"), p = 12)
        .select(col("k").as("class"), col("est"))),

    // InfluxDB line protocol END-TO-END (reference ILP plugin): render
    // events as `measurement,tag=v field=v ns` lines, re-parse through
    // IlpConverter.ingest (class = measurement.field, ns→µs, shortest-
    // repr double round-trip) — oracle = raw table
    "g74_ilp_roundtrip" -> ((s, dir) => {
      val ev = graft.model.Gts.eventsRaw(s, dir)
      val lines = ev.select(concat(
        lit("events,user="), col("user_id"),
        lit(" "), col("event_type"), lit("="), col("value").cast(StringType),
        lit(" "), col("ts") * 1000L).as("value"))
      graft.sources.IlpConverter.ingest(lines, nowMicros = 0L)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    })
  )

  /** Shared breakpoint literals for the g72 oracle. */
  private val BPS = StatOps.saxBreakpoints(4)

  val oracleSql: Map[String, String] = Map(
    "g69_correlate" ->
      s"""WITH g AS ($EV),
         |c AS (SELECT userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts, sum(cents) AS x
         |      FROM g WHERE class = 'events.click' AND ts <= $LB GROUP BY 1, 2),
         |v AS (SELECT userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts, sum(cents) AS y
         |      FROM g WHERE class = 'events.view' AND ts <= $LB GROUP BY 1, 2),
         |j AS (SELECT c.userid, c.x, v.y FROM c JOIN v USING (userid, ts)),
         |m AS (SELECT userid, CAST(count(*) AS DOUBLE) AS n,
         |        sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
         |        sum(x*x) AS sxx, sum(y*y) AS syy
         |      FROM j GROUP BY 1)
         |SELECT userid, CAST(n AS BIGINT) AS n,
         |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
         |    (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
         |  END AS corr
         |FROM m""".stripMargin,

    "g70_zscore_outliers" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
         |        sum(cents) AS sx, sum(cents*cents) AS sxx
         |      FROM g GROUP BY 1, 2)
         |SELECT g.class, g.userid, g.ts, g.cents,
         |       (m.n * g.cents - m.sx)
         |         / sqrt((m.n * m.sxx - m.sx * m.sx) * m.n / (m.n - 1.0)) AS z
         |FROM g JOIN m ON g.class = m.class AND g.userid = m.userid
         |WHERE m.n * m.sxx - m.sx * m.sx > 0 AND m.n > 1
         |  AND abs((m.n * g.cents - m.sx)
         |        / sqrt((m.n * m.sxx - m.sx * m.sx) * m.n / (m.n - 1.0))) >= 1.5""".stripMargin,

    "g73_snapshot_roundtrip" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    "g80_prob_mode" ->
      s"""WITH g AS ($EV),
         |h AS (SELECT class, userid, cents AS v, count(*) AS cnt
         |      FROM g GROUP BY 1, 2, 3)
         |SELECT class, userid, v AS cents, cnt,
         |  cnt / CAST(sum(cnt) OVER (PARTITION BY class, userid) AS DOUBLE)
         |    AS prob,
         |  row_number() OVER (PARTITION BY class, userid
         |    ORDER BY cnt DESC, v ASC) = 1 AS is_mode
         |FROM h""".stripMargin,

    // MAD-variant ESD: per-round exact medians via quantile_cont (=
    // Spark's exact percentile on dyadic cents), same λ table
    "g79_esd_mad" -> {
      val lam = graft.operators.StatOps.lambdaSqlCase(0.05, 64, "n")
      def round(r: Int): String = {
        val rem =
          if (r == 1) "p1 AS (SELECT * FROM p)"
          else
            s"""p$r AS (SELECT a.* FROM p${r - 1} a LEFT JOIN k${r - 1} k
               |  ON a.class = k.class AND a.userid = k.userid
               |    AND a.ts = k.ts AND a.v = k.v
               |  WHERE k.ts IS NULL)""".stripMargin
        s"""$rem,
           |s$r AS (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
           |  quantile_cont(v, 0.5) AS med FROM p$r GROUP BY 1, 2),
           |d$r AS (SELECT a.class, a.userid,
           |  quantile_cont(abs(a.v - s.med), 0.5) AS mad
           |  FROM p$r a JOIN s$r s ON a.class = s.class AND a.userid = s.userid
           |  GROUP BY 1, 2),
           |k$r AS (SELECT class, userid, ts, v, n,
           |    abs(0.6745 * (v - med) / mad) AS z, $r AS round
           |  FROM (SELECT a.class, a.userid, a.ts, a.v, s.n, s.med, d.mad,
           |          row_number() OVER (PARTITION BY a.class, a.userid
           |            ORDER BY abs(a.v - s.med) DESC, a.ts ASC, a.v ASC) AS rk
           |        FROM p$r a
           |        JOIN s$r s ON a.class = s.class AND a.userid = s.userid
           |        JOIN d$r d ON a.class = d.class AND a.userid = d.userid
           |        WHERE s.n >= 3 AND d.mad > 0)
           |  WHERE rk = 1)""".stripMargin
      }
      s"""WITH g AS ($EV),
         |p AS (SELECT class, userid, ts, cents AS v FROM g),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |allr AS (SELECT class, userid, ts, v, round, z > ($lam) AS passed
         |         FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2
         |               UNION ALL SELECT * FROM k3)),
         |fin AS (SELECT *, max(CASE WHEN passed THEN round END)
         |          OVER (PARTITION BY class, userid) AS lastp FROM allr)
         |SELECT class, userid, ts, v AS cents, CAST(round AS INT) AS round
         |FROM fin WHERE round <= lastp""".stripMargin
    },

    // unrolled 3-round ESD: each round re-derives stats by subtracting
    // the removed value (exact), mirrors StatOps.esdFlag expression for
    // expression; λ CASE table shared via StatOps.lambdaSqlCase
    "g77_esd_outliers" -> {
      val lam = graft.operators.StatOps.lambdaSqlCase(0.05, 64, "n")
      def round(r: Int): String = {
        val (s, prev) = (s"s$r", if (r == 1) "" else s"k${r - 1}")
        val stats =
          if (r == 1)
            s"""s1 AS (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
               |  sum(v) AS sx, sum(v*v) AS sxx FROM p GROUP BY 1, 2)"""
              .stripMargin
          else
            s"""s$r AS (SELECT s.class, s.userid,
               |  CASE WHEN k.v IS NOT NULL THEN s.n - 1.0 ELSE s.n END AS n,
               |  CASE WHEN k.v IS NOT NULL THEN s.sx - k.v ELSE s.sx END AS sx,
               |  CASE WHEN k.v IS NOT NULL THEN s.sxx - k.v * k.v ELSE s.sxx END AS sxx
               |  FROM s${r - 1} s LEFT JOIN $prev k
               |    ON s.class = k.class AND s.userid = k.userid)""".stripMargin
        val rem =
          if (r == 1) "p1 AS (SELECT * FROM p)"
          else
            s"""p$r AS (SELECT a.* FROM p${r - 1} a LEFT JOIN $prev k
               |  ON a.class = k.class AND a.userid = k.userid
               |    AND a.ts = k.ts AND a.v = k.v
               |  WHERE k.ts IS NULL)""".stripMargin
        val pick =
          s"""k$r AS (SELECT class, userid, ts, v, n, sx, sxx,
             |    ((a / n) / sqrt((sxx - sx * sx / n) / (n - 1.0))) AS z,
             |    $r AS round
             |  FROM (SELECT c.*, row_number() OVER (PARTITION BY class, userid
             |          ORDER BY a DESC, ts ASC, v ASC) AS rk
             |        FROM (SELECT a.class, a.userid, a.ts, a.v, s.n, s.sx, s.sxx,
             |                abs(s.n * a.v - s.sx) AS a
             |              FROM p$r a JOIN $s s ON a.class = s.class
             |                AND a.userid = s.userid
             |              WHERE s.n >= 3
             |                AND s.n * s.sxx - s.sx * s.sx > 0) c)
             |  WHERE rk = 1)""".stripMargin
        Seq(stats, rem, pick).mkString(",\n")
      }
      s"""WITH g AS ($EV),
         |p AS (SELECT class, userid, ts, cents AS v FROM g),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |allr AS (SELECT class, userid, ts, v, round, z > ($lam) AS passed
         |         FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2
         |               UNION ALL SELECT * FROM k3)),
         |fin AS (SELECT *, max(CASE WHEN passed THEN round END)
         |          OVER (PARTITION BY class, userid) AS lastp FROM allr)
         |SELECT class, userid, ts, v AS cents, CAST(round AS INT) AS round
         |FROM fin WHERE round <= lastp""".stripMargin
    },

    "g76_map_mixed_window" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  sum(cents) OVER (PARTITION BY class, userid ORDER BY ts
         |    RANGE BETWEEN ${GtsQueries.HOUR} PRECEDING AND CURRENT ROW)
         |  + coalesce(sum(cents) OVER (PARTITION BY class, userid
         |      ORDER BY ts, cents
         |      ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING), 0.0) AS wsum
         |FROM g""".stripMargin,

    // two recursive CTEs replay the kernel's Thomas sweep bit-for-bit:
    // fwd carries (cp, dp) up the knots, bwd carries M back down;
    // knots absent from bwd (rn=1, and all knots when n<3) have M=0
    "g75_fillspline" -> {
      val start = LB - 29 * DAY
      val BUCKET_D = s"$LB - (($LB - ts) // $DAY) * $DAY"
      s"""WITH RECURSIVE g AS ($EV),
         |b AS (SELECT class, userid, (($BUCKET_D) - $start) // $DAY AS t,
         |        sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |k AS (SELECT class, userid, t, v,
         |        row_number() OVER (PARTITION BY class, userid ORDER BY t) AS rn,
         |        count(*) OVER (PARTITION BY class, userid) AS n
         |      FROM b),
         |s AS (SELECT class, userid, t, v, rn, n,
         |        CAST(t - lag(t) OVER w AS DOUBLE) AS hprev,
         |        CAST(lead(t) OVER w - t AS DOUBLE) AS hcur,
         |        (lead(v) OVER w - v) / CAST(lead(t) OVER w - t AS DOUBLE) AS slope
         |      FROM k WINDOW w AS (PARTITION BY class, userid ORDER BY t)),
         |sd AS (SELECT *, 6.0 * (slope - lag(slope)
         |         OVER (PARTITION BY class, userid ORDER BY t)) AS dd
         |       FROM s),
         |fwd AS (
         |  SELECT class, userid, CAST(1 AS BIGINT) AS rn,
         |    CAST(0 AS DOUBLE) AS cp, CAST(0 AS DOUBLE) AS dp
         |  FROM k WHERE rn = 1 AND n >= 3
         |  UNION ALL
         |  SELECT x.class, x.userid, x.rn,
         |    x.hcur / (2.0 * (x.hprev + x.hcur) - x.hprev * f.cp) AS cp,
         |    (x.dd - x.hprev * f.dp)
         |      / (2.0 * (x.hprev + x.hcur) - x.hprev * f.cp) AS dp
         |  FROM fwd f JOIN sd x ON x.class = f.class AND x.userid = f.userid
         |    AND x.rn = f.rn + 1
         |  WHERE x.rn <= x.n - 1
         |),
         |bwd AS (
         |  SELECT class, userid, CAST(n AS BIGINT) AS rn, CAST(0 AS DOUBLE) AS m
         |  FROM k WHERE rn = 1 AND n >= 3
         |  UNION ALL
         |  SELECT w.class, w.userid, w.rn - 1, f.dp - f.cp * w.m
         |  FROM bwd w JOIN fwd f ON f.class = w.class AND f.userid = w.userid
         |    AND f.rn = w.rn - 1
         |  WHERE w.rn >= 3
         |),
         |mm AS (SELECT k.class, k.userid, k.t, coalesce(bwd.m, 0.0) AS m
         |       FROM k LEFT JOIN bwd ON bwd.class = k.class
         |         AND bwd.userid = k.userid AND bwd.rn = k.rn),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(0, 29)) AS ts) t),
         |j AS (SELECT grid.class, grid.userid, grid.ts, b.v
         |      FROM grid LEFT JOIN b ON grid.class = b.class
         |        AND grid.userid = b.userid AND grid.ts = b.t),
         |x AS (SELECT class, userid, ts, v,
         |        last_value(v IGNORE NULLS) OVER wp AS pv,
         |        last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
         |          OVER wp AS pt,
         |        first_value(v IGNORE NULLS) OVER wn AS nv,
         |        first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
         |          OVER wn AS nt
         |      FROM j
         |      WINDOW wp AS (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |        wn AS (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |ev AS (SELECT x.class, x.userid, x.ts, x.v, x.pv, x.nv,
         |         CAST(x.nt - x.pt AS DOUBLE) AS h,
         |         CAST(x.nt - x.ts AS DOUBLE) AS u,
         |         CAST(x.ts - x.pt AS DOUBLE) AS w2,
         |         mp.m AS mi, mn2.m AS mn
         |       FROM x
         |       LEFT JOIN mm mp ON mp.class = x.class AND mp.userid = x.userid
         |         AND mp.t = x.pt
         |       LEFT JOIN mm mn2 ON mn2.class = x.class AND mn2.userid = x.userid
         |         AND mn2.t = x.nt)
         |SELECT class, userid, ts,
         |  CASE WHEN v IS NOT NULL THEN v
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |      (mi * u * u * u + mn * w2 * w2 * w2) / (6.0 * h)
         |      + (pv / h - mi * h / 6.0) * u
         |      + (nv / h - mn * h / 6.0) * w2
         |  END AS filled
         |FROM ev""".stripMargin
    },

    // akima derivative per knot from the four surrounding slopes
    // (boundary slopes extended virtually, nested expressions matching
    // KernelOps.Akima's evaluation order), then Hermite eval
    // over the g28-style bracketing grid — windows only, no recursion
    "g78_fillakima" -> {
      val start = LB - 29 * DAY
      val BUCKET_D = s"$LB - (($LB - ts) // $DAY) * $DAY"
      val vm1 = "(2.0*m0 - m1)"
      val vm2 = s"(2.0*$vm1 - m0)"
      val vnm1 = "(2.0*mle2 - mle3)"
      val vn = s"(2.0*$vnm1 - mle2)"
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, (($BUCKET_D) - $start) // $DAY AS t,
         |        sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |k AS (SELECT class, userid, t, v,
         |        row_number() OVER (PARTITION BY class, userid ORDER BY t) AS rn,
         |        count(*) OVER (PARTITION BY class, userid) AS n
         |      FROM b),
         |sl AS (SELECT class, userid, t, v, rn, n,
         |        (lead(v) OVER w - v) / CAST(lead(t) OVER w - t AS DOUBLE) AS m
         |       FROM k WINDOW w AS (PARTITION BY class, userid ORDER BY t)),
         |sagg AS (SELECT class, userid,
         |          max(CASE WHEN rn = 1 THEN m END) AS m0,
         |          max(CASE WHEN rn = 2 THEN m END) AS m1,
         |          max(CASE WHEN rn = n - 1 THEN m END) AS mle2,
         |          max(CASE WHEN rn = n - 2 THEN m END) AS mle3
         |         FROM sl GROUP BY 1, 2),
         |ax AS (SELECT sl.class, sl.userid, sl.t, sl.n, sl.rn - 1 AS i, sl.m,
         |         lag(sl.m, 1) OVER w AS mm1, lag(sl.m, 2) OVER w AS mm2,
         |         lead(sl.m, 1) OVER w AS mp1,
         |         sagg.m0, sagg.m1, sagg.mle2, sagg.mle3
         |       FROM sl JOIN sagg ON sl.class = sagg.class
         |         AND sl.userid = sagg.userid
         |       WINDOW w AS (PARTITION BY sl.class, sl.userid ORDER BY sl.t)),
         |ad AS (SELECT class, userid, t,
         |         CASE WHEN n = 2 THEN m0 ELSE
         |           CASE WHEN abs((CASE WHEN i <= n - 3 THEN mp1
         |                    WHEN i = n - 2 THEN $vnm1 ELSE $vn END)
         |                  - (CASE WHEN i <= n - 2 THEN m ELSE $vnm1 END))
         |               + abs((CASE WHEN i >= 1 THEN mm1 ELSE $vm1 END)
         |                  - (CASE WHEN i >= 2 THEN mm2
         |                     WHEN i = 1 THEN $vm1 ELSE $vm2 END)) = 0.0
         |           THEN ((CASE WHEN i >= 1 THEN mm1 ELSE $vm1 END)
         |               + (CASE WHEN i <= n - 2 THEN m ELSE $vnm1 END)) / 2.0
         |           ELSE (abs((CASE WHEN i <= n - 3 THEN mp1
         |                    WHEN i = n - 2 THEN $vnm1 ELSE $vn END)
         |                  - (CASE WHEN i <= n - 2 THEN m ELSE $vnm1 END))
         |                 * (CASE WHEN i >= 1 THEN mm1 ELSE $vm1 END)
         |               + abs((CASE WHEN i >= 1 THEN mm1 ELSE $vm1 END)
         |                  - (CASE WHEN i >= 2 THEN mm2
         |                     WHEN i = 1 THEN $vm1 ELSE $vm2 END))
         |                 * (CASE WHEN i <= n - 2 THEN m ELSE $vnm1 END))
         |              / (abs((CASE WHEN i <= n - 3 THEN mp1
         |                    WHEN i = n - 2 THEN $vnm1 ELSE $vn END)
         |                  - (CASE WHEN i <= n - 2 THEN m ELSE $vnm1 END))
         |               + abs((CASE WHEN i >= 1 THEN mm1 ELSE $vm1 END)
         |                  - (CASE WHEN i >= 2 THEN mm2
         |                     WHEN i = 1 THEN $vm1 ELSE $vm2 END)))
         |           END
         |         END AS s
         |       FROM ax),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(0, 29)) AS ts) t),
         |j AS (SELECT grid.class, grid.userid, grid.ts, b.v
         |      FROM grid LEFT JOIN b ON grid.class = b.class
         |        AND grid.userid = b.userid AND grid.ts = b.t),
         |x AS (SELECT class, userid, ts, v,
         |        last_value(v IGNORE NULLS) OVER wp AS pv,
         |        last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
         |          OVER wp AS pt,
         |        first_value(v IGNORE NULLS) OVER wn AS nv,
         |        first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
         |          OVER wn AS nt
         |      FROM j
         |      WINDOW wp AS (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |        wn AS (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |ev AS (SELECT x.class, x.userid, x.ts, x.v, x.pv, x.nv,
         |         CAST(x.nt - x.pt AS DOUBLE) AS h,
         |         CAST(x.ts - x.pt AS DOUBLE) AS d,
         |         sp.s AS sp, sn.s AS sn,
         |         (x.nv - x.pv) / CAST(x.nt - x.pt AS DOUBLE) AS m
         |       FROM x
         |       LEFT JOIN ad sp ON sp.class = x.class AND sp.userid = x.userid
         |         AND sp.t = x.pt
         |       LEFT JOIN ad sn ON sn.class = x.class AND sn.userid = x.userid
         |         AND sn.t = x.nt)
         |SELECT class, userid, ts,
         |  CASE WHEN v IS NOT NULL THEN v
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |      pv + sp * d + ((3.0 * m - 2.0 * sp - sn) / h) * (d * d)
         |         + (((sp + sn - 2.0 * m) / (h * h))) * (d * d * d)
         |  END AS filled
         |FROM ev""".stripMargin
    },

    "h02_hll_deterministic" -> {
      val p = 12; val m = 1 << p; val restBits = 60 - p
      val aM2 = graft.operators.HllOps.alphaM2(p)
      s"""WITH g AS ($EV),
         |hh AS (SELECT class,
         |         ('0x' || substring(md5(userid), 1, 15))::BIGINT AS h
         |       FROM g),
         |rr AS (SELECT class, h % $m AS bucket, h // $m AS rest FROM hh),
         |regs AS (SELECT class, bucket,
         |           max(CASE WHEN rest = 0 THEN ${restBits + 1}
         |                    ELSE ${restBits + 1} - length(bin(rest)) END) AS reg
         |         FROM rr GROUP BY 1, 2),
         |grid AS (SELECT class, ii.bucket
         |         FROM (SELECT DISTINCT class FROM g) c,
         |              (SELECT unnest(generate_series(0, ${m - 1})) AS bucket) ii),
         |fr AS (SELECT grid.class, coalesce(regs.reg, 0) AS reg
         |         FROM grid LEFT JOIN regs ON grid.class = regs.class
         |           AND grid.bucket = regs.bucket),
         |agg AS (SELECT class,
         |          sum(CAST(1 AS DOUBLE) / CAST(1::BIGINT << reg AS DOUBLE)) AS spow,
         |          CAST(count(CASE WHEN reg = 0 THEN 1 END) AS DOUBLE) AS zeros
         |        FROM fr GROUP BY 1)
         |SELECT class,
         |  round(CASE WHEN $aM2 / spow <= ${2.5 * m} AND zeros > 0
         |             THEN ${m.toDouble} * ln(${m.toDouble} / zeros)
         |             ELSE $aM2 / spow END, 6) AS est
         |FROM agg""".stripMargin
    },

    "g74_ilp_roundtrip" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    // the bucket-boundary arithmetic is exact because every=(n-2)/4 is a
    // dyadic rational; areas are exact integers (< 2^53) in DOUBLE
    "g71_lttb" ->
      s"""WITH RECURSIVE g AS ($EV),
         |q AS (SELECT class, userid, (ts - $T0) // 1000000 AS tsec, cents FROM g),
         |r AS (SELECT class, userid, tsec, cents,
         |        row_number() OVER (PARTITION BY class, userid
         |                           ORDER BY tsec, cents) - 1 AS j,
         |        count(*) OVER (PARTITION BY class, userid) AS n
         |      FROM q),
         |big AS (SELECT class, userid, any_value(n) AS n FROM r
         |        WHERE n > 6 GROUP BY 1, 2),
         |bnd AS (SELECT b.class, b.userid, b.n, ii.i,
         |          CAST(floor(ii.i * (CAST(b.n - 2 AS DOUBLE) / 4)) AS BIGINT) + 1 AS r0,
         |          least(CAST(floor((ii.i + 1) * (CAST(b.n - 2 AS DOUBLE) / 4)) AS BIGINT) + 1, b.n) AS r1,
         |          least(CAST(floor((ii.i + 2) * (CAST(b.n - 2 AS DOUBLE) / 4)) AS BIGINT) + 1, b.n) AS n1
         |        FROM big b, (SELECT unnest(generate_series(0, 3)) AS i) ii),
         |sums AS (SELECT d.class, d.userid, d.i,
         |           sum(c.tsec) AS ssts, sum(c.cents) AS ssv
         |         FROM bnd d JOIN r c ON c.class = d.class AND c.userid = d.userid
         |           AND c.j >= d.r1 AND c.j < d.n1
         |         GROUP BY 1, 2, 3),
         |lastp AS (SELECT class, userid, tsec AS lts, cents AS lv
         |          FROM r WHERE j = n - 1),
         |bk AS (SELECT d.class, d.userid, d.i, d.r0, d.r1,
         |         CASE WHEN d.n1 > d.r1 THEN CAST(d.n1 - d.r1 AS BIGINT)
         |              ELSE 1 END AS span,
         |         CASE WHEN d.n1 > d.r1 THEN s.ssts ELSE l.lts END AS sts,
         |         CASE WHEN d.n1 > d.r1 THEN s.ssv ELSE l.lv END AS sv
         |       FROM bnd d
         |       LEFT JOIN sums s ON s.class = d.class AND s.userid = d.userid
         |         AND s.i = d.i
         |       JOIN lastp l ON l.class = d.class AND l.userid = d.userid),
         |sel AS (
         |  SELECT class, userid, 0 AS i, j AS aj, tsec AS ats, cents AS av
         |  FROM r WHERE n > 6 AND j = 0
         |  UNION ALL
         |  SELECT class, userid, i, kj AS aj, kts AS ats, kv AS av FROM (
         |    SELECT s.class, s.userid, s.i + 1 AS i, c.j AS kj,
         |      c.tsec AS kts, c.cents AS kv,
         |      row_number() OVER (PARTITION BY s.class, s.userid ORDER BY
         |        abs( (s.ats * b.span - b.sts) * (c.cents - s.av)
         |           - (s.ats - c.tsec) * (b.sv - s.av * b.span) ) DESC,
         |        c.j ASC) AS rk
         |    FROM sel s
         |    JOIN bk b ON b.class = s.class AND b.userid = s.userid AND b.i = s.i
         |    JOIN r c ON c.class = s.class AND c.userid = s.userid
         |      AND c.j >= b.r0 AND c.j < b.r1
         |    WHERE s.i < 4
         |  ) WHERE rk = 1
         |)
         |SELECT class, userid, tsec AS ts, cents FROM r WHERE n <= 6
         |UNION ALL
         |SELECT class, userid, ats AS ts, av AS cents FROM sel
         |UNION ALL
         |SELECT l.class, l.userid, l.lts AS ts, l.lv AS cents
         |FROM lastp l JOIN big b ON b.class = l.class AND b.userid = l.userid""".stripMargin,

    "g72_sax" ->
      s"""WITH g AS ($EV),
         |r AS (SELECT class, userid, cents,
         |        row_number() OVER (PARTITION BY class, userid
         |                           ORDER BY ts, cents) - 1 AS j
         |      FROM g),
         |m AS (SELECT class, userid, count(*) AS n, sum(cents) AS sx,
         |        sum(cents*cents) AS sxx
         |      FROM g GROUP BY 1, 2),
         |seg AS (SELECT m.*, w.w,
         |          (w.w * m.n) // 4 AS f,
         |          greatest(((w.w + 1) * m.n) // 4, (w.w * m.n) // 4 + 1) AS t
         |        FROM m, (SELECT unnest(generate_series(0, 3)) AS w) w),
         |p AS (SELECT seg.class, seg.userid, seg.w,
         |        sum(seg.n * r.cents - seg.sx) AS znum, count(*) AS len,
         |        any_value(seg.n) AS n,
         |        any_value(CAST(seg.n AS DOUBLE) * seg.sxx - seg.sx * seg.sx) AS det
         |      FROM seg JOIN r ON r.class = seg.class AND r.userid = seg.userid
         |        AND r.j >= seg.f AND r.j < seg.t
         |      GROUP BY 1, 2, 3),
         |l AS (SELECT class, userid, w,
         |        CASE WHEN det = 0 THEN 0.0
         |             ELSE znum / (len * sqrt(det * (n / (n - 1.0)))) END AS paa
         |      FROM p)
         |SELECT class, userid,
         |  string_agg(CASE WHEN paa <= ${BPS(0)} THEN 'a'
         |                  WHEN paa <= ${BPS(1)} THEN 'b'
         |                  WHEN paa <= ${BPS(2)} THEN 'c'
         |                  ELSE 'd' END, '' ORDER BY w) AS word
         |FROM l GROUP BY 1, 2""".stripMargin
  )
}
