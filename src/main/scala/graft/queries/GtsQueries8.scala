package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.KernelOps
import graft.model.Gts
import graft.operators.{GtsFrame, StatOps}
import graft.operators.GtsFrame._

/** Eighth pack: oracle rows for the last spec-gated kernels — the FFT
  * surface as an exact-dyadic DFT, DTW via a fully unrolled integer DP
  * oracle, LOWESS with exactly-dyadic tricube weights, and the
  * PATTERNS/PATTERNDETECTION motif surface over sliding SAX words.
  *
  * Each had a documented oracle blocker (COVERAGE.md round 3):
  * FFT twiddles are transcendental → solved by driver-literal 2⁻²⁰
  * quantization (exact products/sums); DTW's 2-D DP is not
  * recursive-CTE-expressible → solved by unrolling the 8×8 grid as
  * chained lateral-alias columns (integer arithmetic throughout);
  * LOWESS neighborhood sums are order-dependent → solved by a
  * power-of-two weight denominator making every tricube weight an
  * exact dyadic (18 fractional bits).
  */
object GtsQueries8 extends QueryPack {
  import GtsQueries.{LB, DAY, EV}

  private def cents(s: SparkSession, dir: String) = GtsFrame(Gts.fromEventsCents(s, dir))
  private val userid = col("labels").getItem("user").as("userid")

  /** Print a double so DuckDB parses it as DOUBLE (not DECIMAL): force
    * scientific notation — strtod is shortest-roundtrip-exact, while a
    * plain decimal literal becomes DECIMAL whose int128→double cast is
    * not guaranteed correctly rounded at ≥17 digits. */
  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  val Bins = 16
  private val (wcT, wsT) = StatOps.dftWeights(Bins)
  val WC = wcT.map(dlit).mkString("[", ", ", "]")
  val WS = wsT.map(dlit).mkString("[", ", ", "]")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FFT magnitude spectrum (continuum/gts/FFT.java surface): DFT over
    // 16 end-anchored daily buckets, driver-literal dyadic twiddles —
    // re/im/mag all bit-deterministic (see StatOps.dft scaladoc)
    "g81_dft" -> ((s, dir) =>
      StatOps.dft(cents(s, dir), Bins, DAY, LB)
        .select(col("class"), userid, col("k"), col("re"), col("im"),
          col("mag"))),

    // DTW (fn/DTW.java): distance between each user's click and view
    // 8-day bucket-sum vectors (missing days = 0, the kernel's
    // zero-fill). Integer |x−y| costs keep the whole DP exact, so the
    // sequential kernel and the unrolled SQL DP agree bit-for-bit.
    "g82_dtw" -> ((s, dir) => {
      val f = cents(s, dir).df
      val clicks = GtsFrame(f.filter(col("class") === "events.click"))
      val views = GtsFrame(f.filter(col("class") === "events.view"))
      StatOps.dtwPairs(clicks, views, Seq("user"), bins = 8, span = DAY,
          lastbucket = LB)
        .select(col("user").as("userid"), col("dtw"))
    }),

    // OPTDTW (fn/OPTDTW.java windowed DTW; script/fastdtw band): the
    // g82 pairing under a Sakoe-Chiba band of 2 — SeriesKernels
    // .dtwBanded vs the same DP grid with out-of-band cells removed
    "g110_optdtw" -> ((s, dir) => {
      val f = cents(s, dir).df
      val clicks = GtsFrame(f.filter(col("class") === "events.click"))
      val views = GtsFrame(f.filter(col("class") === "events.view"))
      StatOps.dtwPairs(clicks, views, Seq("user"), bins = 8, span = DAY,
          lastbucket = LB, window = 2)
        .select(col("user").as("userid"), col("dtw"))
    }),

    // LOWESS (fn/LOWESS.java): declarative locally-weighted regression,
    // exactly-dyadic tricube weights (StatOps.lowessFit scaladoc)
    "g83_lowess" -> ((s, dir) =>
      StatOps.lowessFit(cents(s, dir))
        .select(col("class"), userid, col("ts"),
          round(col("vdouble"), 6).as("fit"))),

    // PATTERNS/PATTERNDETECTION (fn/PATTERNS.java): sliding 4-point SAX
    // words, motif = word present in ≥2 distinct series
    "g84_sax_motifs" -> ((s, dir) =>
      StatOps.saxMotifs(cents(s, dir), win = 4, alphabet = 4, minSeries = 2)
        .select(col("word"), col("n_series"), col("n_occ"))),

    // mapper math tail (script/mapper/MapperPow/Sqrt/ParseDouble,
    // aggregator/Product): x·x instead of pow(x,2) — libm pow(x,2) is
    // not guaranteed to be the exact product on every engine; sqrt is
    // IEEE-correctly-rounded everywhere; parsedouble round-trips the
    // rendered long; window product runs on small quantized ints (≤11³
    // per 3-row window — exact)
    "g85_mapper_tail" -> ((s, dir) => {
      val f = cents(s, dir).df
      val x = col("vdouble") / 100.0
      val q = (floor(col("vdouble") / 1000.0) + 1.0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gtsid")).orderBy(col("ts")).rowsBetween(-2, 0)
      f.select(col("class"), userid, col("ts"),
          (x * x).as("m_pow2"),
          sqrt(col("vdouble")).as("m_sqrt"),
          col("vdouble").cast(LongType).cast(StringType).cast(DoubleType)
            .as("m_parsedouble"),
          collect_list(q.cast(LongType)).over(w).as("__qs"))
        .withColumn("m_product",
          aggregate(col("__qs"), lit(1L), (acc, v) => acc * v))
        .drop("__qs")
    }),

    // geo motion mappers (aggregator/VDist.java, VSpeed, TrueCourse):
    // elevation = cents meters on the g38 synthetic track; vdist =
    // per-series total |Δelev| (exact integers), vspeed = Δelev/Δt
    // rounded 9, truecourse = initial great-circle bearing in [0,360)
    // rounded 6 (trig ulp noise ~1e-13, far under the boundary)
    "g86_geo_motion" -> ((s, dir) => {
      val uid = col("labels").getItem("user").cast(LongType)
      val f = cents(s, dir).df
        .withColumn("lat", uid % 120 - 60 + col("vdouble") / 10000.0)
        .withColumn("lon", (col("ts") % 360) - 180 + col("vdouble") / 10000.0)
        .withColumn("elev", col("vdouble"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gtsid")).orderBy(col("ts"))
      val (plat, plon) = (lag(col("lat"), 1).over(w), lag(col("lon"), 1).over(w))
      val (pelev, pts) = (lag(col("elev"), 1).over(w), lag(col("ts"), 1).over(w))
      val toRad = math.Pi / 180.0
      val dlmb = (col("lon") - plon) * toRad
      val y = sin(dlmb) * cos(col("lat") * toRad)
      val xx = cos(plat * toRad) * sin(col("lat") * toRad) -
        sin(plat * toRad) * cos(col("lat") * toRad) * cos(dlmb)
      val bearing = (atan2(y, xx) / toRad + 360.0) % 360.0
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("gtsid"))
      f.select(col("class"), userid, col("ts"),
          (col("elev") - pelev).as("m_vdelta"),
          round((col("elev") - pelev) / ((col("ts") - pts) / 1000000.0), 9)
            .as("m_vspeed"),
          round(bearing, 6).as("m_truecourse"),
          sum(abs(col("elev") - pelev)).over(wAll).as("vdist_total"))
        .filter(col("m_vdelta").isNotNull)
    }),

    // filler.trend (script/filler/FillerTrend.java): gap = position-
    // weighted average of the previous knot projected forward by the
    // "pre" trend and the next knot pulled back by the "post" trend;
    // daily buckets over 30 days, same grid as g28
    "g87_filltrend" -> ((s, dir) =>
      cents(s, dir).bucketize(Sum, GtsQueries.LB, DAY)
        .fill(GtsQueries.LB, DAY, 30, KernelOps.Trend).df
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), round(col("vdouble"), 9).as("filled"))),

    // filler.newton (script/filler/FillerNewton.java): divided-
    // difference polynomial through 8 dense daily knots (zero-filled
    // sums), evaluated at the 7 inter-knot midpoints; the oracle
    // replays the exact triangle/Horner op order with literal knot
    // ticks, so the degree-7 evaluation is bit-identical
    "g88_fillnewton" -> ((s, dir) => {
      val dense = cents(s, dir).bucketize(Sum, GtsQueries.LB, DAY, 8)
        .fill(GtsQueries.LB, DAY, 8, KernelOps.Value(0.0))
      KernelOps(dense).fillNewtonMidpoints()
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), round(col("vdouble"), 6).as("newton"))
    })
  )

  /** The unrolled 8×8 DTW DP as chained lateral-alias columns: row CTE
    * rI defines dI_1..dI_8 from rI−1's dJ_* — DuckDB resolves prior
    * SELECT-list aliases laterally, so each row is one CTE. */
  /** Unrolled 8×8 DTW DP grid as chained CTEs; `band` restricts the
    * grid to the Sakoe-Chiba window |i−j| ≤ band (out-of-band cells
    * simply don't exist, so predecessor references skip them — exactly
    * the kernel's +∞ treatment). band ≥ 8 = the full grid (g82). */
  private def dtwSql(band: Int = 8): String = {
    def inBand(i: Int, j: Int) = math.abs(i - j) <= band
    val vec = (side: Int, p: String) => (0 until 8).map(j =>
      s"coalesce(max(CASE WHEN side = $side AND n = $j THEN x END), 0.0E0) AS $p$j")
      .mkString(",\n        ")
    val rows = (1 to 8).map { i =>
      val a = s"a${i - 1}"
      val cols = (1 to 8).filter(j => inBand(i, j)).map { j =>
        val cost = s"abs($a - b${j - 1})"
        val prevs = Seq((i - 1, j), (i, j - 1), (i - 1, j - 1))
          .filter { case (pi, pj) => pi >= 1 && pj >= 1 && inBand(pi, pj) }
          .map { case (pi, pj) => s"d${pi}_$pj" }
        val prev =
          if (prevs.isEmpty) ""
          else if (prevs.length == 1) s" + ${prevs.head}"
          else s" + least(${prevs.mkString(", ")})"
        s"$cost$prev AS d${i}_$j"
      }.mkString(", ")
      val src = if (i == 1) "v" else s"r${i - 1}"
      s"r$i AS (SELECT *, $cols FROM $src)"
    }.mkString(",\n")
    s"""WITH g AS ($EV),
       |d AS (SELECT userid,
       |        CASE WHEN class = 'events.click' THEN 0 ELSE 1 END AS side,
       |        CAST(floor(($LB - ts) / $DAY) AS BIGINT) AS n, sum(cents) AS x
       |      FROM g WHERE class IN ('events.click', 'events.view')
       |        AND ts <= $LB AND floor(($LB - ts) / $DAY) < 8
       |      GROUP BY 1, 2, 3),
       |v AS (SELECT userid,
       |        ${vec(0, "a")},
       |        ${vec(1, "b")}
       |      FROM d GROUP BY 1),
       |$rows
       |SELECT userid, d8_8 AS dtw FROM r8""".stripMargin
  }

  /** letter(x) as ordered CASE — identical fold to the Spark side:
    * Bessel z = (4x − Σx)/√(det·4/3) against the shared full-precision
    * Acklam bounds (StatOps.saxBreakpoints). */
  private def saxLetter(x: String): String = {
    val bps = graft.operators.StatOps.saxBreakpoints(4)
    val z = s"(CASE WHEN det = 0 THEN 0.0E0 ELSE (4.0E0 * $x - sx)" +
      s" / sqrt(det * ${4 / 3.0}) END)"
    bps.zipWithIndex.map { case (b, i) =>
      s"WHEN $z <= $b THEN '${('a' + i).toChar}'"
    }.mkString("CASE ", " ", s" ELSE '${('a' + bps.length).toChar}' END")
  }

  val oracleSql: Map[String, String] = Map(
    "g81_dft" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid,
         |        CAST(floor(($LB - ts) / $DAY) AS BIGINT) AS n, sum(cents) AS x
         |      FROM g WHERE ts <= $LB AND floor(($LB - ts) / $DAY) < $Bins
         |      GROUP BY 1, 2, 3),
         |kk AS (SELECT b.*, t.k FROM b CROSS JOIN
         |        (SELECT unnest(range($Bins)) AS k) t),
         |s AS (SELECT class, userid, k,
         |        sum(x * ($WC)[(k * n) % $Bins + 1]) AS re,
         |        sum(-x * ($WS)[(k * n) % $Bins + 1]) AS im
         |      FROM kk GROUP BY 1, 2, 3)
         |SELECT class, userid, k, re, im, sqrt(re * re + im * im) AS mag
         |FROM s""".stripMargin,

    "g82_dtw" -> dtwSql(),

    // the same grid restricted to the Sakoe-Chiba band |i−j| ≤ 2
    "g110_optdtw" -> dtwSql(band = 2),

    "g83_lowess" ->
      s"""WITH g AS ($EV),
         |o AS (SELECT class, userid, ts, cents,
         |        row_number() OVER (PARTITION BY class, userid
         |          ORDER BY ts, cents) AS rn
         |      FROM g),
         |p AS (SELECT i.class, i.userid, i.ts, i.rn,
         |        j.rn - i.rn AS d, j.cents AS y
         |      FROM o i JOIN o j ON i.class = j.class AND i.userid = j.userid
         |        AND j.rn BETWEEN i.rn - 3 AND i.rn + 3),
         |u AS (SELECT *, 1.0E0 - (abs(d) * abs(d) * abs(d)) / 6.4E1 AS bb,
         |        bb * bb * bb AS w FROM p),
         |s AS (SELECT class, userid, ts, rn,
         |        sum(w) AS sw, sum(w * d) AS swx, sum(w * y) AS swy,
         |        sum(w * d * d) AS swxx, sum(w * d * y) AS swxy
         |      FROM u GROUP BY 1, 2, 3, 4)
         |SELECT class, userid, ts,
         |  round(CASE WHEN sw * swxx - swx * swx = 0 THEN swy / sw
         |        ELSE (swxx * swy - swx * swxy) / (sw * swxx - swx * swx)
         |        END, 6) AS fit
         |FROM s""".stripMargin,

    "g84_sax_motifs" ->
      s"""WITH g AS ($EV),
         |o AS (SELECT class, userid, ts, cents,
         |        lead(cents, 1) OVER w AS x1, lead(cents, 2) OVER w AS x2,
         |        lead(cents, 3) OVER w AS x3
         |      FROM g WINDOW w AS (PARTITION BY class, userid
         |        ORDER BY ts, cents)),
         |z AS (SELECT class, userid, cents AS x0, x1, x2, x3,
         |        x0 + x1 + x2 + x3 AS sx,
         |        x0 * x0 + x1 * x1 + x2 * x2 + x3 * x3 AS sxx,
         |        4.0E0 * (x0 * x0 + x1 * x1 + x2 * x2 + x3 * x3)
         |          - (x0 + x1 + x2 + x3) * (x0 + x1 + x2 + x3) AS det
         |      FROM o WHERE x3 IS NOT NULL),
         |w8 AS (SELECT class, userid,
         |        ${saxLetter("x0")} || ${saxLetter("x1")} ||
         |        ${saxLetter("x2")} || ${saxLetter("x3")} AS word
         |      FROM z)
         |SELECT word, count(DISTINCT class || '|' || userid) AS n_series,
         |       count(*) AS n_occ
         |FROM w8 GROUP BY 1
         |HAVING count(DISTINCT class || '|' || userid) >= 2""".stripMargin,

    "g85_mapper_tail" ->
      s"""WITH g AS ($EV),
         |q AS (SELECT class, userid, ts, cents,
         |        CAST(floor(cents / 1000.0) + 1.0 AS BIGINT) AS qv FROM g)
         |SELECT class, userid, ts,
         |  (cents / 100.0) * (cents / 100.0) AS m_pow2,
         |  sqrt(cents) AS m_sqrt,
         |  CAST(CAST(CAST(cents AS BIGINT) AS VARCHAR) AS DOUBLE) AS m_parsedouble,
         |  CAST(product(qv) OVER (PARTITION BY class, userid ORDER BY ts
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS m_product
         |FROM q""".stripMargin,

    "g86_geo_motion" ->
      s"""WITH g AS ($EV),
         |pts AS (SELECT class, userid, ts, cents AS elev,
         |        (CAST(userid AS BIGINT) % 120) - 60 + cents/10000.0 AS lat,
         |        (ts % 360) - 180 + cents/10000.0 AS lon
         |      FROM g),
         |l AS (SELECT class, userid, ts, lat, lon, elev,
         |        lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         |        lag(elev) OVER w AS pelev, lag(ts) OVER w AS pts
         |      FROM pts WINDOW w AS (PARTITION BY class, userid ORDER BY ts)),
         |b AS (SELECT class, userid, ts, elev, pelev, pts,
         |        (atan2(
         |           sin((lon - plon) * (pi()/180.0)) * cos(lat * (pi()/180.0)),
         |           cos(plat * (pi()/180.0)) * sin(lat * (pi()/180.0))
         |             - sin(plat * (pi()/180.0)) * cos(lat * (pi()/180.0))
         |               * cos((lon - plon) * (pi()/180.0)))
         |         / (pi()/180.0) + 360.0) % 360.0 AS bearing
         |      FROM l),
         |t AS (SELECT class, userid,
         |        sum(abs(elev - pelev)) AS vdist_total
         |      FROM b WHERE pelev IS NOT NULL GROUP BY 1, 2)
         |SELECT b.class, b.userid, b.ts,
         |  b.elev - b.pelev AS m_vdelta,
         |  round((b.elev - b.pelev) / ((b.ts - b.pts) / 1000000.0), 9) AS m_vspeed,
         |  round(b.bearing, 6) AS m_truecourse,
         |  t.vdist_total
         |FROM b JOIN t ON b.class = t.class AND b.userid = t.userid
         |WHERE b.pelev IS NOT NULL""".stripMargin,

    "g87_filltrend" -> {
      val BUCKET_D = s"${GtsQueries.LB} - ((${GtsQueries.LB} - ts) // $DAY) * $DAY"
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $BUCKET_D AS ts, CAST(sum(cents) AS DOUBLE) AS v
         |      FROM g WHERE ts <= ${GtsQueries.LB} GROUP BY 1, 2, 3),
         |k AS (SELECT class, userid, ts, v,
         |        lag(v) OVER w AS ppv0, lag(ts) OVER w AS ppt0,
         |        lead(v) OVER w AS nnv0, lead(ts) OVER w AS nnt0
         |      FROM b WINDOW w AS (PARTITION BY class, userid ORDER BY ts)),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(${GtsQueries.LB - 29 * GtsQueries.DAY}, ${GtsQueries.LB}, $DAY)) AS ts) t),
         |j AS (SELECT grid.class, grid.userid, grid.ts, k.v,
         |        k.ppv0, k.ppt0, k.nnv0, k.nnt0
         |      FROM grid LEFT JOIN k ON grid.class = k.class
         |        AND grid.userid = k.userid AND grid.ts = k.ts),
         |x AS (SELECT class, userid, ts, v,
         |        last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wp AS pv,
         |        last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER wp AS pt,
         |        last_value(CASE WHEN v IS NOT NULL THEN ppv0 END IGNORE NULLS) OVER wp AS ppv,
         |        last_value(CASE WHEN v IS NOT NULL THEN ppt0 END IGNORE NULLS) OVER wp AS ppt,
         |        first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER wn AS nv,
         |        first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER wn AS nt,
         |        first_value(CASE WHEN v IS NOT NULL THEN nnv0 END IGNORE NULLS) OVER wn AS nnv,
         |        first_value(CASE WHEN v IS NOT NULL THEN nnt0 END IGNORE NULLS) OVER wn AS nnt
         |      FROM j
         |      WINDOW wp AS (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |        wn AS (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |r AS (SELECT *,
         |        CASE WHEN ppv IS NOT NULL AND pv IS NOT NULL THEN (pv - ppv) / (pt - ppt)
         |             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN (nv - pv) / (nt - pt)
         |             WHEN nv IS NOT NULL AND nnv IS NOT NULL THEN (nnv - nv) / (nnt - nt)
         |        END AS pre0,
         |        CASE WHEN nnv IS NOT NULL AND nv IS NOT NULL THEN (nnv - nv) / (nnt - nt)
         |             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN (nv - pv) / (nt - pt)
         |             WHEN ppv IS NOT NULL AND pv IS NOT NULL THEN (pv - ppv) / (pt - ppt)
         |        END AS post0
         |      FROM x),
         |f AS (SELECT class, userid, ts, v,
         |        pv, pt, nv, nt,
         |        coalesce(pre0, post0) AS pre, coalesce(post0, pre0) AS post
         |      FROM r)
         |SELECT class, userid, ts,
         |  round(CASE WHEN v IS NOT NULL THEN v
         |    WHEN pre IS NULL AND post IS NULL THEN NULL
         |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |      (CAST(ts - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) * (pv + CAST(ts - pt AS DOUBLE) * pre)
         |      + (1.0E0 - CAST(ts - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
         |        * (nv - (CAST(nt - pt AS DOUBLE) - CAST(ts - pt AS DOUBLE)) * post)
         |    WHEN pv IS NOT NULL THEN pv + pre * (ts - pt)
         |    WHEN nv IS NOT NULL THEN nv - post * (nt - ts)
         |  END, 9) AS filled
         |FROM f""".stripMargin
    },

    "g88_fillnewton" -> newtonSql
  )

  /** g88 oracle: knot ticks are LITERALS (the 8 daily bucket ends), so
    * the divided-difference triangle and the Horner evaluation unroll
    * into chained CTE levels with literal denominators/offsets —
    * exactly the kernel's op order (KernelOps.fillNewtonMidpoints). */
  private def newtonSql: String = {
    import GtsQueries.{LB, DAY, EV}
    val xs = (0 to 7).map(i => LB - (7 - i) * DAY)
    val mids = (0 to 6).map(j => Math.floorDiv(xs(j) + xs(j + 1), 2L))
    val BUCKET_D = s"$LB - (($LB - ts) // $DAY) * $DAY"
    val piv = (0 to 7).map(i =>
      s"coalesce(max(CASE WHEN ts = ${xs(i)} THEN v END), 0.0E0) AS a${i}_0")
      .mkString(",\n         |        ")
    val levels = (1 to 7).map { l =>
      val cols = (0 to 7).map { i =>
        if (i >= l)
          s"(a${i}_${l - 1} - a${i - 1}_${l - 1}) / ${dlit((xs(i) - xs(i - l)).toDouble)} AS a${i}_$l"
        else s"a${i}_${l - 1} AS a${i}_$l"
      }.mkString(", ")
      s"r$l AS (SELECT class, userid, $cols FROM r${l - 1})"
    }.mkString(",\n         |")
    val evals = (0 to 6).map { j =>
      var expr = "a7_7"
      for (i <- 6 to 0 by -1)
        expr = s"(($expr) * ${dlit((mids(j) - xs(i)).toDouble)} + a${i}_7)"
      s"SELECT class, userid, CAST(${mids(j)} AS BIGINT) AS ts, round($expr, 6) AS newton FROM r7"
    }.mkString("\n         |UNION ALL ")
    s"""WITH g AS ($EV),
       |b AS (SELECT class, userid, $BUCKET_D AS ts, CAST(sum(cents) AS DOUBLE) AS v
       |      FROM g WHERE ts > ${LB - 8 * DAY} AND ts <= $LB GROUP BY 1, 2, 3),
       |r0 AS (SELECT class, userid,
       |        $piv
       |      FROM b GROUP BY 1, 2),
       |$levels
       |$evals""".stripMargin
  }
}
