package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.KernelOps
import graft.model.Gts
import graft.operators.{GtsFrame, SeasonalOps, StatOps}
import graft.operators.GtsFrame._

/** Ninth pack: regression/moment statistics (LR, SKEWNESS/KURTOSIS),
  * Haar FDWT, SAX discords, calendar element extraction with DST, and
  * the STL-residual ESD composition (STLESDTEST).  */
object GtsQueries9 extends QueryPack {
  import GtsQueries.{EV, LB, HOUR, DAY}

  private def cents(s: SparkSession, dir: String) = GtsFrame(Gts.fromEventsCents(s, dir))
  private val userid = col("labels").getItem("user").as("userid")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // LR (fn/LR.java): least-squares line through each series' hourly
    // cents sums over the bucket index — exact moment sums, closed-form
    // slope/intercept (identical IEEE trees cross-engine, no rounding)
    "g89_linreg" -> ((s, dir) =>
      StatOps.linReg(cents(s, dir), HOUR, LB)
        .select(col("class"), userid, col("n"), col("slope"), col("intercept"))),

    // SKEWNESS / KURTOSIS / NSUMSUMSQ (fn/SKEWNESS.java, KURTOSIS.java,
    // NSUMSUMSQ.java): population central moments per series; Σx³/Σx⁴
    // as DECIMAL(38,0) (mirrored by DuckDB HUGEINT) since cents⁴ ≈ 6e18
    // exceeds the double-exact range
    "g90_moments" -> ((s, dir) =>
      StatOps.momentStats(cents(s, dir))
        .select(col("class"), userid, col("n"), col("sum"), col("sumsq"),
          col("skewness"), col("kurtosis"))),

    // FDWT Haar (script/fwt; fn/FDWT.java): 3-level dyadic-lifting Haar
    // analysis of the last 8 end-anchored daily buckets (missing = 0);
    // every coefficient is an exact dyadic of integer cents
    "g91_haar_dwt" -> ((s, dir) =>
      StatOps.haarDwt(cents(s, dir), 3, DAY, LB)
        .select(col("class") +: userid +: (
          Seq("a3", "d3_1", "d2_1", "d2_2", "d1_1", "d1_2", "d1_3", "d1_4")
            .map(col)): _*)),

    // FDWT Daubechies-4 (script/fwt Daubechies family): one D4 level
    // over the 8 daily buckets, periodic boundary; the irrational
    // (1±√3)/(4√2) coefficients are 2⁻²⁰-dyadic driver literals shared
    // with the oracle — products and 4-term sums stay exact
    "g97_db4_dwt" -> ((s, dir) =>
      StatOps.db4Dwt(cents(s, dir), DAY, LB, 8)
        .select(col("class") +: userid +:
          ((0 until 4).map(i => col(s"a$i")) ++
            (0 until 4).map(i => col(s"d$i"))): _*)),

    // DISCORDS (continuum/gts/DISCORDS.java): rarest z-normalized SAX
    // words — in exactly one series, ≤ 2 occurrences; GROUP-BY-on-word
    // candidate generation (no all-pairs scan). Window 5 (29 discords
    // at sf0.01 — win 4's 256-word space is too dense to isolate any)
    "g93_sax_discords" -> ((s, dir) =>
      StatOps.saxDiscords(cents(s, dir), 5, 4, 2)
        .select(col("word"), col("class"),
          col("labels").getItem("user").as("userid"), col("n_occ"))),

    // IDWT (fn/IDWT.java): Haar analysis → exact inverse — the oracle
    // is the RAW bucket pivot itself, so a hash match proves the
    // round-trip reconstructs every bucket bit-for-bit
    "g96_haar_roundtrip" -> ((s, dir) =>
      StatOps.haarIdwt(StatOps.haarDwt(cents(s, dir), 3, DAY, LB), 3)
        .select(col("class") +: userid +:
          (0 until 8).map(i => col(s"x$i")): _*)),

    // POLYFIT degree 2 (fn/POLYFIT.java, POLYFUNC): quadratic LSQ over
    // the 8 daily buckets via Cramer's rule on exact moment sums —
    // coefficients are single correctly-rounded divisions
    "g95_polyfit" -> ((s, dir) =>
      StatOps.polyFit2(cents(s, dir), DAY, LB, 8)
        .filter(col("n") >= 3)
        .select(col("class"), userid, col("n"),
          col("c0"), col("c1"), col("c2"))),

    // TSELEMENTS / ADDDAYS / ADDMONTHS (fn/TSELEMENTS.java, ADDDAYS,
    // ADDMONTHS) in an explicit DST timezone: local calendar fields in
    // America/New_York (spanning the March 10 2024 spring-forward if
    // present), +40 days, +1 month with end-of-month clamping
    "g92_tselements" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val loc = from_utc_timestamp(timestamp_micros(col("ts")), "America/New_York")
      val d = to_date(loc)
      f.select(col("class"), userid, col("ts"),
        year(loc).as("y"), month(loc).as("mo"), dayofmonth(loc).as("d"),
        hour(loc).as("h"), minute(loc).as("mi"),
        (dayofweek(loc) - 1).as("dow"), dayofyear(loc).as("doy"),
        date_add(d, 40).cast(StringType).as("plus40d"),
        add_months(d, 1).cast(StringType).as("plus1m"))
    }),

    // STLESDTEST (fn/STLESDTEST.java: generalized ESD over the STL
    // remainder): classical decomposition on a 240-bucket hourly grid
    // (trend ±12h, daily seasonality — 216 rows/series after edge trim
    // = 9 complete days, so scnt is uniformly 9 and the residual scale
    // 25·9 is a per-series constant) → residuals scaled to EXACT
    // integers (scnt·detr − ssum) → 3-round ESD with Long/BigInt-exact
    // sums (StatOps.esdFlagLongKernel). The oracle replays the
    // decomposition AND every ESD round with HUGEINT sums and the
    // shared λ criticals. (g57 covers the 720-bucket grid at scale;
    // this pipeline proves the composition, not the grid size.)
    "g94_stl_esd" -> ((s, dir) => {
      val (dec, meta) = stlScaledResid(s, dir)
      val lams = StatOps.lambdasAt(0.05, Seq(214, 215, 216))
      val flagged = StatOps.esdFlagLongKernel(
        dec.select(col("gtsid"), col("ts"),
          col("v").cast(LongType).as("v")), 3, lams)
      flagged.join(broadcast(meta), col("gtsid") === col("__g"))
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("v"), col("round").cast(IntegerType).as("round"))
    }),

    // HYBRIDTEST (fn/HYBRIDTEST.java: STL remainder + median/MAD ESD):
    // the same exact-integer scaled residuals as g94 through the
    // MAD-variant ESD kernel (dyadic medians of integer-valued
    // doubles); oracle = the g94 decomposition prefix + the g79
    // quantile_cont round replay with the large-n λ criticals
    "g99_stl_esd_mad" -> ((s, dir) => {
      val (dec, _) = stlScaledResid(s, dir)
      val lams = StatOps.lambdasAt(0.05, Seq(214, 215, 216))
      StatOps.esdMadFlagAt(dec.select(col("gtsid"), col("ts"),
          col("v").as("vdouble"), col("class"), col("labels")), 3, lams)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("v"),
          col("round").cast(IntegerType).as("round"))
    })
  )

  /** Shared STL-residual pipeline for g94/g99: classical decomposition
    * on the 240-bucket hourly grid, residuals scaled to exact integers
    * (scnt uniformly 9), plus the identity frame for g94's join-back
    * (its Long ESD kernel carries no class/labels). */
  private def stlScaledResid(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val raw = cents(s, dir)
    val dense = raw.bucketize(Sum, LB, HOUR, 240)
      .fill(LB, HOUR, 240, KernelOps.Value(0.0)).df
    val dec = SeasonalOps.classicalDecompose(dense, HOUR, 24, 12,
        keepExact = true)
      .filter(col("scnt") === 9)
      .withColumn("v", lit(9) * col("detr") - col("ssum"))
    // identity from the RAW frame — rebuilding the dense grid just
    // for class/labels would double the decompose pipeline
    val meta = Gts.seriesMeta(raw.df).withColumnRenamed("gtsid", "__g")
    (dec, meta)
  }

  /** g94/g99 shared oracle prefix: 240-bucket grid → classical
    * decomposition → exact scaled residual `p(class, userid, ts, v)`.
    * `asBigint` casts v (exact integer-valued) for the Long ESD path. */
  private def stlResidPrefixSql(asBigint: Boolean): String = {
    val vExpr = if (asBigint) "CAST(9 * f.detr - se.ssum AS BIGINT)"
                else "9 * f.detr - se.ssum"
    s"""b AS (SELECT class, userid, $LB - (($LB - ts) // $HOUR) * $HOUR AS ts,
       |             sum(cents) AS v
       |      FROM g WHERE ts > ${LB - 240 * HOUR} AND ts <= $LB
       |      GROUP BY 1, 2, 3),
       |series AS (SELECT DISTINCT class, userid FROM b),
       |grid AS (SELECT s.class, s.userid, t.ts
       |         FROM series s CROSS JOIN
       |           (SELECT unnest(generate_series(${LB - 239 * HOUR}, $LB,
       |              $HOUR)) AS ts) t),
       |d AS (SELECT grid.class, grid.userid, grid.ts, coalesce(b.v, 0.0) AS v
       |      FROM grid LEFT JOIN b ON grid.class = b.class
       |        AND grid.userid = b.userid AND grid.ts = b.ts),
       |t AS (SELECT class, userid, ts, v,
       |        sum(v) OVER w AS tsum, count(*) OVER w AS tn
       |      FROM d
       |      WINDOW w AS (PARTITION BY class, userid ORDER BY ts
       |        ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
       |f AS (SELECT class, userid, ts, v, tsum,
       |        25 * v - tsum AS detr, (ts % ${24 * HOUR}) // $HOUR AS phase
       |      FROM t WHERE tn = 25),
       |se AS (SELECT class, userid, phase, sum(detr) AS ssum,
       |         count(*) AS scnt
       |       FROM f GROUP BY 1, 2, 3),
       |p AS (SELECT f.class, f.userid, f.ts, $vExpr AS v
       |      FROM f JOIN se ON f.class = se.class AND f.userid = se.userid
       |        AND f.phase = se.phase
       |      WHERE se.scnt = 9)""".stripMargin
  }

  private def haarBucketSql(i: Int): String =
    s"coalesce(sum(CASE WHEN 7 - ($LB - ts) // $DAY = $i THEN cents END), 0.0) AS x$i"

  /** letter(x) CASE for the discords oracle — identical fold to Spark:
    * Bessel z = (win·x − Σx)/√(det·win/(win−1)) against the shared
    * full-precision Acklam bounds (StatOps.saxBreakpoints). */
  private def saxLetter(x: String, win: Int): String = {
    val bps = graft.operators.StatOps.saxBreakpoints(4)
    val z = s"(CASE WHEN det = 0 THEN 0.0E0 ELSE ($win.0E0 * $x - sx)" +
      s" / sqrt(det * ${win / (win - 1.0)}) END)"
    bps.zipWithIndex.map { case (b, i) =>
      s"WHEN $z <= $b THEN '${('a' + i).toChar}'"
    }.mkString("CASE ", " ", s" ELSE '${('a' + bps.length).toChar}' END")
  }

  val oracleSql: Map[String, String] = Map(
    "g89_linreg" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, ($LB - ts) // $HOUR AS x, sum(cents) AS y
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |m AS (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
         |        CAST(sum(x) AS DOUBLE) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |        CAST(sum(x * x) AS DOUBLE) AS sxx
         |      FROM b GROUP BY 1, 2)
         |SELECT class, userid, CAST(n AS BIGINT) AS n,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
         |    AS intercept
         |FROM m WHERE n * sxx - sx * sx > 0""".stripMargin,

    "g90_moments" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
         |        sum(cents) AS sx, sum(cents * cents) AS sxx,
         |        CAST(sum(c * c * c) AS DOUBLE) AS sxxx,
         |        CAST(sum(c * c * (c * c)) AS DOUBLE) AS sxxxx
         |      -- HUGEINT mirrors the engine's DECIMAL(38,0): BIGINT c*c
         |      -- overflows INT64 once a cents value passes ~3e9 (seen at
         |      -- sf0.1). Both representations share the ~1e38 ceiling on
         |      -- sum(c^4) — beyond it (several ~3e9 points in one group)
         |      -- BOTH sides fail loudly (DuckDB Out of Range, Spark ANSI
         |      -- decimal overflow), never silently diverge
         |      FROM (SELECT class, userid, cents, CAST(cents AS HUGEINT) AS c
         |            FROM g)
         |      GROUP BY 1, 2),
         |r AS (SELECT class, userid, n, sx, sxx,
         |        sx / n AS mu, sxx / n AS r2, sxxx / n AS r3, sxxxx / n AS r4
         |      FROM m),
         |c AS (SELECT class, userid, n, sx, sxx,
         |        r2 - mu * mu AS m2,
         |        r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
         |        r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
         |          - 3.0 * mu * mu * mu * mu AS m4
         |      FROM r)
         |SELECT class, userid, CAST(n AS BIGINT) AS n, sx AS sum, sxx AS sumsq,
         |  CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
         |  CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS kurtosis
         |FROM c""".stripMargin,

    "g91_haar_dwt" -> {
      val exprs = StatOps.haarDwtSql(3)
        .map { case (nm, e) => s"$e AS $nm" }.mkString(",\n|  ")
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid,
         |        ${(0 until 8).map(haarBucketSql).mkString(",\n|        ")}
         |      FROM g WHERE ts <= $LB AND ($LB - ts) // $DAY < 8
         |      GROUP BY 1, 2)
         |SELECT class, userid,
         |  $exprs
         |FROM b""".stripMargin
    },

    "g97_db4_dwt" -> {
      val h = StatOps.db4Weights
      val g = Seq(h(3), -h(2), h(1), -h(0))
      def band(w: Seq[Double], nm: String) = (0 until 4).map { i =>
        (0 until 4).map(k => s"${w(k)} * x${(2 * i + k) % 8}")
          .mkString(" + ") + s" AS $nm$i"
      }
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid,
         |        ${(0 until 8).map(haarBucketSql).mkString(",\n|        ")}
         |      FROM g WHERE ts <= $LB AND ($LB - ts) // $DAY < 8
         |      GROUP BY 1, 2)
         |SELECT class, userid,
         |  ${(band(h, "a") ++ band(g, "d")).mkString(",\n|  ")}
         |FROM b""".stripMargin
    },

    "g96_haar_roundtrip" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid,
         |  ${(0 until 8).map(haarBucketSql).mkString(",\n|  ")}
         |FROM g WHERE ts <= $LB AND ($LB - ts) // $DAY < 8
         |GROUP BY 1, 2""".stripMargin,

    "g95_polyfit" -> {
      val (d, reps) = StatOps.polyFit2Sql("n", "sx", "sxx", "sxxx", "sxxxx",
        "sy", "sxy", "sxxy")
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, ($LB - ts) // $DAY AS x, sum(cents) AS y
         |      FROM g WHERE ts <= $LB AND ($LB - ts) // $DAY < 8
         |      GROUP BY 1, 2, 3),
         |m AS (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
         |        CAST(sum(x) AS DOUBLE) AS sx,
         |        CAST(sum(x * x) AS DOUBLE) AS sxx,
         |        CAST(sum(x * x * x) AS DOUBLE) AS sxxx,
         |        CAST(sum(x * x * (x * x)) AS DOUBLE) AS sxxxx,
         |        sum(y) AS sy, sum(x * y) AS sxy, sum(x * x * y) AS sxxy
         |      FROM b GROUP BY 1, 2),
         |c AS (SELECT class, userid, n, ($d) AS d,
         |        (${reps(0)}) AS r0, (${reps(1)}) AS r1, (${reps(2)}) AS r2
         |      FROM m)
         |SELECT class, userid, CAST(n AS BIGINT) AS n,
         |  r0 / d AS c0, r1 / d AS c1, r2 / d AS c2
         |FROM c WHERE d <> 0 AND n >= 3""".stripMargin
    },

    "g93_sax_discords" -> {
      val win = 5
      val xs = (0 until win).map(i => s"x$i")
      val leads = (1 until win)
        .map(i => s"lead(cents, $i) OVER w AS x$i").mkString(", ")
      val sxE = xs.mkString(" + ")
      val sxxE = xs.map(x => s"$x * $x").mkString(" + ")
      s"""WITH g AS ($EV),
         |o AS (SELECT class, userid, ts, cents, $leads
         |      FROM g WINDOW w AS (PARTITION BY class, userid
         |        ORDER BY ts, cents)),
         |z AS (SELECT class, userid, cents AS x0, ${xs.tail.mkString(", ")},
         |        $sxE AS sx,
         |        $win.0E0 * ($sxxE) - ($sxE) * ($sxE) AS det
         |      FROM o WHERE x${win - 1} IS NOT NULL),
         |w8 AS (SELECT class, userid,
         |        ${xs.map(x => saxLetter(x, win)).mkString(" || ")} AS word
         |      FROM z),
         |pw AS (SELECT word, class, userid, count(*) AS n_occ
         |       FROM w8 GROUP BY 1, 2, 3),
         |a AS (SELECT word, count(*) AS n_series, min(class) AS class,
         |        min(userid) AS userid, sum(n_occ) AS n_occ
         |      FROM pw GROUP BY 1)
         |SELECT word, class, userid, CAST(n_occ AS BIGINT) AS n_occ
         |FROM a WHERE n_series = 1 AND n_occ <= 2""".stripMargin
    },

    "g92_tselements" ->
      s"""WITH g AS ($EV),
         |l AS (SELECT class, userid, ts,
         |        timezone('America/New_York', make_timestamptz(ts)) AS loc
         |      FROM g)
         |SELECT class, userid, ts,
         |  CAST(year(loc) AS INT) AS y, CAST(month(loc) AS INT) AS mo,
         |  CAST(day(loc) AS INT) AS d, CAST(hour(loc) AS INT) AS h,
         |  CAST(minute(loc) AS INT) AS mi,
         |  CAST(dayofweek(loc) AS INT) AS dow,
         |  CAST(dayofyear(loc) AS INT) AS doy,
         |  CAST(CAST(loc AS DATE) + 40 AS VARCHAR) AS plus40d,
         |  CAST(CAST(CAST(loc AS DATE) + INTERVAL 1 MONTH AS DATE) AS VARCHAR)
         |    AS plus1m
         |FROM l""".stripMargin,

    "g99_stl_esd_mad" -> {
      val lams = StatOps.lambdasAt(0.05, Seq(214, 215, 216))
      val lam = StatOps.lambdaSqlCaseOf(lams, "n")
      def round(r: Int): String = {
        // MATERIALIZED: each round references the previous round's CTEs
        // several times; DuckDB re-evaluates plain CTEs per reference,
        // which made the 3-round chain re-run the whole STL prefix
        // exponentially often (OOM at sf0.1)
        val rem =
          if (r == 1) "p1 AS MATERIALIZED (SELECT * FROM p)"
          else
            s"""p$r AS MATERIALIZED (SELECT a.* FROM p${r - 1} a LEFT JOIN k${r - 1} k
               |  ON a.class = k.class AND a.userid = k.userid
               |    AND a.ts = k.ts AND a.v = k.v
               |  WHERE k.ts IS NULL)""".stripMargin
        s"""$rem,
           |s$r AS MATERIALIZED (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
           |  quantile_cont(v, 0.5) AS med FROM p$r GROUP BY 1, 2),
           |d$r AS (SELECT a.class, a.userid,
           |  quantile_cont(abs(a.v - s.med), 0.5) AS mad
           |  FROM p$r a JOIN s$r s ON a.class = s.class AND a.userid = s.userid
           |  GROUP BY 1, 2),
           |k$r AS MATERIALIZED (SELECT class, userid, ts, v, n,
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
         |${stlResidPrefixSql(asBigint = false)},
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |allr AS (SELECT class, userid, ts, v, round, z > ($lam) AS passed
         |         FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2
         |               UNION ALL SELECT * FROM k3)),
         |fin AS (SELECT *, max(CASE WHEN passed THEN round END)
         |          OVER (PARTITION BY class, userid) AS lastp FROM allr)
         |SELECT class, userid, ts, v, CAST(round AS INT) AS round
         |FROM fin WHERE round <= lastp""".stripMargin
    },

    "g94_stl_esd" -> {
      val lams = StatOps.lambdasAt(0.05, Seq(214, 215, 216))
      val lam = StatOps.lambdaSqlCaseOf(lams, "n")
      def round(r: Int): String = {
        val stats =
          if (r == 1)
            s"""s1 AS (SELECT class, userid, CAST(count(*) AS DOUBLE) AS n,
               |  count(*) AS ni, sum(v) AS sx, sum(v * v) AS sxx
               |  FROM p1 GROUP BY 1, 2)""".stripMargin
          else
            s"""s$r AS (SELECT s.class, s.userid,
               |  CASE WHEN k.v IS NOT NULL THEN s.n - 1.0 ELSE s.n END AS n,
               |  CASE WHEN k.v IS NOT NULL THEN s.ni - 1 ELSE s.ni END AS ni,
               |  CASE WHEN k.v IS NOT NULL THEN s.sx - k.v ELSE s.sx END AS sx,
               |  CASE WHEN k.v IS NOT NULL THEN s.sxx - k.v * k.v ELSE s.sxx
               |    END AS sxx
               |  FROM s${r - 1} s LEFT JOIN k${r - 1} k
               |    ON s.class = k.class AND s.userid = k.userid)""".stripMargin
        val rem =
          if (r == 1) "p1 AS (SELECT * FROM p)"
          else
            s"""p$r AS (SELECT a.* FROM p${r - 1} a LEFT JOIN k${r - 1} k
               |  ON a.class = k.class AND a.userid = k.userid
               |    AND a.ts = k.ts AND a.v = k.v
               |  WHERE k.ts IS NULL)""".stripMargin
        val pick =
          s"""k$r AS (SELECT class, userid, ts, v, n,
             |    ((a / n) / sqrt((sxx - sx * sx / n) / (n - 1.0))) AS z,
             |    $r AS round
             |  FROM (SELECT c.*, row_number() OVER (PARTITION BY class, userid
             |          ORDER BY a DESC, ts ASC, v ASC) AS rk
             |        FROM (SELECT a.class, a.userid, a.ts, a.v, s.n, s.sx,
             |                s.sxx, abs(s.n * a.v - s.sx) AS a
             |              FROM p$r a JOIN s$r s ON a.class = s.class
             |                AND a.userid = s.userid
             |              WHERE s.n >= 3
             |                AND s.ni * s.sxx - s.sx * s.sx > 0) c)
             |  WHERE rk = 1)""".stripMargin
        Seq(if (r == 1) rem else stats,
          if (r == 1) stats else rem, pick).mkString(",\n")
      }
      s"""WITH g AS ($EV),
         |${stlResidPrefixSql(asBigint = true)},
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |allr AS (SELECT class, userid, ts, v, round, z > ($lam) AS passed
         |         FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2
         |               UNION ALL SELECT * FROM k3)),
         |fin AS (SELECT *, max(CASE WHEN passed THEN round END)
         |          OVER (PARTITION BY class, userid) AS lastp FROM allr)
         |SELECT class, userid, ts, v, CAST(round AS INT) AS round
         |FROM fin WHERE round <= lastp""".stripMargin
    }
  )
}
