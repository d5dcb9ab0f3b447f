package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.kernels.KernelOps
import graft.model.Gts
import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** Second GTS pack: advanced aggregators (percentile/median/mad/rms/
  * entropy/argmax), FILL family completion, calendar & compare & geo
  * mapper families, accessors, sorts, op variants, counters, pivot.
  */
object GtsQueries2 extends QueryPack {
  import GtsQueries.{EV, LB, DAY, HOUR}

  private def gts(s: SparkSession, dir: String) = GtsFrame(Gts.fromEvents(s, dir))
  private def cents(s: SparkSession, dir: String) = GtsFrame(Gts.fromEventsCents(s, dir))
  private val userid = col("labels").getItem("user").as("userid")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // bucketizer.median / bucketizer.percentile (aggregator/Percentile.java)
    "g21_bucketize_percentile" -> ((s, dir) => {
      val b = cents(s, dir).withBucketCol(LB, DAY)
      b.groupBy(col("class"), col("labels").getItem("user").as("userid"),
          col("__bucket").as("ts"))
        .agg(percentile(col("vdouble"), lit(0.5)).as("median_v"),
          percentile(col("vdouble"), lit(0.9)).as("p90_v"))
    }),

    // bucketizer.mad (script/aggregator/MAD.java) per series over all ticks
    "g22_mad" -> ((s, dir) => {
      val f = cents(s, dir).df
      val med = f.groupBy(col("gtsid"))
        .agg(percentile(col("vdouble"), lit(0.5)).as("med"))
      f.join(med, "gtsid")
        .groupBy(col("class"), col("labels").getItem("user").as("userid"))
        .agg(percentile(abs(col("vdouble") - col("med")), lit(0.5)).as("mad_v"))
    }),

    // bucketizer.rms (aggregator/RMS-style): sqrt of mean square, exact cents
    "g23_rms" -> ((s, dir) =>
      cents(s, dir).df
        .groupBy(col("class"), userid)
        .agg(round(sqrt(avg(col("vdouble") * col("vdouble"))), 9).as("rms_v"))),

    // reducer.shannonentropy.0 (aggregator/ShannonEntropy.java): entropy of
    // the quantized-value distribution per class
    "g24_entropy" -> ((s, dir) => {
      val f = gts(s, dir).quantize(10.0).df
      val counts = f.groupBy(col("class"), col("vdouble")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("class"))
      counts.withColumn("n", sum(col("c")).over(w))
        .groupBy(col("class"))
        .agg(round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 6)
          .as("entropy"))
    }),

    // reducer.argmax (script/aggregator/Argminmax.java): identity of the
    // winning series per daily bucket — deterministic tiebreak on userid
    "g25_reduce_argmax" -> ((s, dir) => {
      val b = cents(s, dir).withBucketCol(LB, DAY)
        .groupBy(col("class"), col("labels").getItem("user").as("userid"),
          col("__bucket").as("ts"))
        .agg(sum(col("vdouble")).as("v"))
      val w = Window.partitionBy(col("class"), col("ts"))
        .orderBy(col("v").desc, col("userid"))
      b.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("class"), col("ts"), col("userid").as("argmax_user"), col("v"))
    }),

    // FILLNEXT + FILLVALUE over the 1d bucket grid (GTSHelper.java:4996/5106)
    "g26_fillnext" -> ((s, dir) =>
      cents(s, dir).bucketize(Sum, LB, DAY).fill(LB, DAY, 30, KernelOps.Next).df
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("filled"))),

    "g27_fillvalue" -> ((s, dir) =>
      cents(s, dir).bucketize(Sum, LB, DAY).fill(LB, DAY, 30, KernelOps.Value(0.0)).df
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("filled"))),

    // FILL w/ filler.interpolate — linear between surrounding buckets
    "g28_filllinear" -> ((s, dir) =>
      cents(s, dir).bucketize(Sum, LB, DAY).fill(LB, DAY, 30, KernelOps.Linear).df
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), round(col("vdouble"), 9).as("filled"))),

    // calendar mappers mapper.hour/weekday/day (script/mapper/MapperHour
    // etc.) — activity profile by hour-of-day and iso-weekday, UTC
    "g29_calendar_profile" -> ((s, dir) =>
      cents(s, dir).df
        .select(col("class"),
          hour(timestamp_micros(col("ts"))).cast(LongType).as("hh"),
          (weekday(timestamp_micros(col("ts"))) + 1).cast(LongType).as("isodow"),
          col("vdouble"))
        .groupBy(col("class"), col("hh"), col("isodow"))
        .agg(count(lit(1)).as("n"), sum(col("vdouble")).as("sum_v"))),

    // comparison mappers mapper.gt/le (script/mapper/MapperCompareTo.java):
    // band-pass keep 25 < v <= 75
    "g30_compare_band" -> ((s, dir) =>
      gts(s, dir).df.filter(col("vdouble") > 25.0 && col("vdouble") <= 75.0)
        .select(col("class"), userid, col("ts"), col("vdouble"))),

    // mapper.delta / mapper.rate per 1d bucket (aggregator/Delta.java, Rate.java)
    "g31_delta_rate" -> ((s, dir) => {
      val b = cents(s, dir).withBucketCol(LB, DAY)
        .groupBy(col("class"), col("labels").getItem("user").as("userid"),
          col("__bucket").as("ts"))
        .agg(max_by(col("vdouble"), col("ts")).as("lv"),
          min_by(col("vdouble"), col("ts")).as("fv"),
          max(col("ts")).as("lt"), min(col("ts")).as("ft"))
      b.select(col("class"), col("userid"), col("ts"),
        (col("lv") - col("fv")).as("delta_v"),
        when(col("lt") > col("ft"),
          round((col("lv") - col("fv")) / ((col("lt") - col("ft")) / 1000000.0), 9))
          .as("rate_per_s"))
    }),

    // ZIP / COMMONTICKS (continuum/gts/ZIP.java, fn/COMMONTICKS.java):
    // align click & view values on common daily buckets per user
    "g32_commonticks" -> ((s, dir) => {
      val c = cents(s, dir)
      def side(cls: String, out: String) =
        GtsFrame(c.df.filter(col("class") === cls)).bucketize(Sum, LB, DAY)
          .df.select(col("labels").getItem("user").as("userid"),
            col("ts"), col("vdouble").as(out))
      side("events.click", "click_v").join(side("events.view", "view_v"),
        Seq("userid", "ts"), "inner")
    }),

    // point accessors FIRSTTICK/LASTTICK/SIZE/VALUES (fn/FIRSTTICK.java …)
    "g33_accessors" -> ((s, dir) =>
      gts(s, dir).df.groupBy(col("class"), userid)
        .agg(min(col("ts")).as("firsttick"), max(col("ts")).as("lasttick"),
          count(lit(1)).as("npoints"),
          min_by(col("vdouble"), col("ts")).as("first_v"),
          max_by(col("vdouble"), col("ts")).as("last_v"))),

    // VALUESORT/SORTBY (fn/VALUESORT.java): rank series by total value —
    // full distributed ranking (range partition + offset), no global window
    "g34_valuesort" -> ((s, dir) => {
      val sums = cents(s, dir).df.groupBy(col("class"), userid)
        .agg(sum(col("vdouble")).as("total_v"))
      graft.operators.RankOps.globalRank(sums,
        Seq(col("total_v").desc, col("class"), col("userid")), "rank")
    }),

    // op.mul / op.div (.ignore-nulls style inner alignment): click/view
    // ratio and product per user-day
    "g35_op_divmul" -> ((s, dir) => {
      val c = cents(s, dir)
      val clicks = GtsFrame(c.df.filter(col("class") === "events.click")).bucketize(Sum, LB, DAY)
      val views  = GtsFrame(c.df.filter(col("class") === "events.view")).bucketize(Sum, LB, DAY)
      clicks.applyOp(views,
        (l, r) => round(graft.operators.GtsFrame.ieeeDiv(l, r), 9),
        Seq("user"), "inner")
        .withColumnRenamed("vdouble", "ratio")
        .select(col("user").as("userid"), col("ts"), col("ratio"))
    }),

    // COUNTERDELTA/RESETS (fn/COUNTERDELTA.java): compensate resets of a
    // synthetic sawtooth counter (value mod 50 of the running value
    // cumsum — an inline fixture window, NOT the INTEGRATE word, which
    // is a rates/second time integral since r11)
    "g36_counter_compensate" -> ((s, dir) => {
      val base = {
        val c = cents(s, dir)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("gtsid")).orderBy(col("ts"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        GtsFrame(c.df.withColumn("vdouble", sum(col("vdouble")).over(w)))
      }
      val saw = GtsFrame(base.df.withColumn("vdouble", pmod(col("vdouble"), lit(5000.0))))
      saw.compensateResets()
        .df.select(col("class"), userid, col("ts"), col("vdouble").as("comp_v"))
    }),

    // PIVOT (fn/PIVOT.java): event-type values → columns per user-day
    "g37_pivot" -> ((s, dir) => {
      val c = cents(s, dir).withBucketCol(LB, DAY)
      c.groupBy(col("labels").getItem("user").as("userid"), col("__bucket").as("ts"))
        .pivot("class", Seq("events.click", "events.view", "events.error",
          "events.purchase", "events.signup"))
        .agg(sum(col("vdouble")))
        .withColumnsRenamed(Map(
          "events.click" -> "click_v", "events.view" -> "view_v",
          "events.error" -> "error_v", "events.purchase" -> "purchase_v",
          "events.signup" -> "signup_v"))
    }),

    // geo mappers mapper.hdist/hspeed (aggregator/HDist.java) over a
    // deterministic synthetic track; haversine (fn/HAVERSINE.java)
    "g38_geo_haversine" -> ((s, dir) => {
      val uid = col("labels").getItem("user").cast(LongType)
      val f = gts(s, dir).df
        .withColumn("lat", uid % 120 - 60 + col("vdouble") / 100.0)
        .withColumn("lon", (col("ts") % 360) - 180 + col("vdouble") / 100.0)
      val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      val (plat, plon) = (lag(col("lat"), 1).over(w), lag(col("lon"), 1).over(w))
      val toRad = math.Pi / 180.0
      val dphi = (col("lat") - plat) * toRad
      val dlmb = (col("lon") - plon) * toRad
      val a = pow(sin(dphi / 2), 2) +
        cos(plat * toRad) * cos(col("lat") * toRad) * pow(sin(dlmb / 2), 2)
      val dist = lit(2.0 * 6378137.0) * asin(sqrt(a))
      // whole meters: JVM vs libm trig differs in last ulps; integer
      // granularity puts ~8 orders of magnitude between noise and boundary
      f.select(col("class"), userid, col("ts"),
        round(dist).cast(LongType).as("hdist_m"))
    }),

    // MUSIGMA / NSUMSUMSQ (fn/MUSIGMA.java): per-series moments, exact
    "g39_musigma" -> ((s, dir) =>
      cents(s, dir).df.groupBy(col("class"), userid)
        .agg(count(lit(1)).as("n"), sum(col("vdouble")).as("sum_v"),
          sum(col("vdouble") * col("vdouble")).as("sumsq_v"),
          round(avg(col("vdouble")), 9).as("mu"),
          round(stddev_pop(col("vdouble")), 6).as("sigma"))),

    // SINGLEEXPONENTIALSMOOTHING (fn/SINGLEEXPONENTIALSMOOTHING.java):
    // s[i] = α·v[i] + (1−α)·s[i−1] — expressed as a closed-form windowed
    // sum Σ α(1−α)^k v[i−k] + (1−α)^i v[0]; α=0.5 gives exact dyadic
    // coefficients. Capped at 40 lags (2^-40 below double ulp of cents).
    "g40_ses" -> ((s, dir) => {
      val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"))
      val rn = row_number().over(w) - 1
      val terms = (1 to 40).map { k =>
        when(rn - k > 0, lag(col("vdouble"), k).over(w) * math.pow(0.5, k + 1))
          .when(rn - k === 0, lag(col("vdouble"), k).over(w) * math.pow(0.5, k))
          .otherwise(0.0)
      }
      val s0 = when(rn === 0, col("vdouble"))
        .otherwise(col("vdouble") * 0.5 + terms.reduce(_ + _))
      cents(s, dir).df
        .select(col("class"), userid, col("ts"), round(s0, 6).as("smoothed"))
    })
  )

  private val BUCKET_D = s"$LB - (($LB - ts) // $DAY) * $DAY"

  val oracleSql: Map[String, String] = Map(
    "g21_bucketize_percentile" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, $BUCKET_D AS ts,
         |       quantile_cont(cents, 0.5) AS median_v,
         |       quantile_cont(cents, 0.9) AS p90_v
         |FROM g WHERE ts <= $LB GROUP BY 1, 2, 3""".stripMargin,

    "g22_mad" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, quantile_cont(cents, 0.5) AS med
         |      FROM g GROUP BY 1, 2)
         |SELECT g.class, g.userid,
         |       quantile_cont(abs(g.cents - m.med), 0.5) AS mad_v
         |FROM g JOIN m ON g.class = m.class AND g.userid = m.userid
         |GROUP BY 1, 2""".stripMargin,

    "g23_rms" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, round(sqrt(avg(cents*cents)), 9) AS rms_v
         |FROM g GROUP BY 1, 2""".stripMargin,

    "g24_entropy" ->
      s"""WITH g AS ($EV),
         |q AS (SELECT class, floor(vdouble/10.0)*10.0 AS qv FROM g),
         |c AS (SELECT class, qv, count(*) AS c FROM q GROUP BY 1, 2),
         |t AS (SELECT class, qv, c, sum(c) OVER (PARTITION BY class) AS n FROM c)
         |SELECT class, round(-sum((c/n)*ln(c/n)), 6) AS entropy
         |FROM t GROUP BY 1""".stripMargin,

    "g25_reduce_argmax" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $BUCKET_D AS ts, sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |r AS (SELECT class, ts, userid, v,
         |        row_number() OVER (PARTITION BY class, ts
         |          ORDER BY v DESC, userid) AS rk FROM b)
         |SELECT class, ts, userid AS argmax_user, v FROM r WHERE rk = 1""".stripMargin,

    "g26_fillnext" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $BUCKET_D AS ts, sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(${LB - 29 * DAY}, $LB, $DAY)) AS ts) t),
         |j AS (SELECT grid.class, grid.userid, grid.ts, b.v
         |      FROM grid LEFT JOIN b ON grid.class = b.class
         |        AND grid.userid = b.userid AND grid.ts = b.ts)
         |SELECT class, userid, ts,
         |       first_value(v IGNORE NULLS) OVER (PARTITION BY class, userid
         |         ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS filled
         |FROM j""".stripMargin,

    "g27_fillvalue" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $BUCKET_D AS ts, sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(${LB - 29 * DAY}, $LB, $DAY)) AS ts) t)
         |SELECT grid.class, grid.userid, grid.ts,
         |       coalesce(b.v, 0.0) AS filled
         |FROM grid LEFT JOIN b ON grid.class = b.class
         |  AND grid.userid = b.userid AND grid.ts = b.ts""".stripMargin,

    "g28_filllinear" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $BUCKET_D AS ts, sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(${LB - 29 * DAY}, $LB, $DAY)) AS ts) t),
         |j AS (SELECT grid.class, grid.userid, grid.ts, b.v
         |      FROM grid LEFT JOIN b ON grid.class = b.class
         |        AND grid.userid = b.userid AND grid.ts = b.ts),
         |x AS (SELECT class, userid, ts, v,
         |        last_value(v IGNORE NULLS) OVER (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |        last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
         |          OVER (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
         |        first_value(v IGNORE NULLS) OVER (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |        first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
         |          OVER (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
         |      FROM j)
         |SELECT class, userid, ts,
         |       round(CASE WHEN v IS NOT NULL THEN v
         |          WHEN pv IS NOT NULL AND nv IS NOT NULL
         |            THEN pv + (nv - pv) * (ts - pt) / (nt - pt) END, 9) AS filled
         |FROM x""".stripMargin,

    "g29_calendar_profile" ->
      s"""WITH g AS ($EV)
         |SELECT class, hour(make_timestamp(ts)) AS hh,
         |       isodow(make_timestamp(ts)) AS isodow,
         |       count(*) AS n, sum(cents) AS sum_v
         |FROM g GROUP BY 1, 2, 3""".stripMargin,

    "g30_compare_band" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g
         |WHERE vdouble > 25.0 AND vdouble <= 75.0""".stripMargin,

    "g31_delta_rate" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $BUCKET_D AS ts,
         |        arg_max(cents, ts) AS lv, arg_min(cents, ts) AS fv,
         |        max(ts) AS lt, min(ts) AS ft
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3)
         |SELECT class, userid, ts, lv - fv AS delta_v,
         |       CASE WHEN lt > ft
         |         THEN round((lv - fv) / ((lt - ft) / 1000000.0), 9) END AS rate_per_s
         |FROM b""".stripMargin,

    "g32_commonticks" ->
      s"""WITH g AS ($EV),
         |c AS (SELECT userid, $BUCKET_D AS ts, sum(cents) AS click_v
         |      FROM g WHERE class = 'events.click' AND ts <= $LB GROUP BY 1, 2),
         |v AS (SELECT userid, $BUCKET_D AS ts, sum(cents) AS view_v
         |      FROM g WHERE class = 'events.view' AND ts <= $LB GROUP BY 1, 2)
         |SELECT c.userid, c.ts, c.click_v, v.view_v
         |FROM c JOIN v ON c.userid = v.userid AND c.ts = v.ts""".stripMargin,

    "g33_accessors" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, min(ts) AS firsttick, max(ts) AS lasttick,
         |       count(*) AS npoints, arg_min(vdouble, ts) AS first_v,
         |       arg_max(vdouble, ts) AS last_v
         |FROM g GROUP BY 1, 2""".stripMargin,

    "g34_valuesort" ->
      s"""WITH g AS ($EV),
         |s AS (SELECT class, userid, sum(cents) AS total_v FROM g GROUP BY 1, 2)
         |SELECT class, userid, total_v,
         |       CAST(row_number() OVER (ORDER BY total_v DESC, class, userid) AS INT) AS rank
         |FROM s""".stripMargin,

    "g35_op_divmul" ->
      s"""WITH g AS ($EV),
         |c AS (SELECT userid, $BUCKET_D AS ts, sum(cents) AS v
         |      FROM g WHERE class = 'events.click' AND ts <= $LB GROUP BY 1, 2),
         |v AS (SELECT userid, $BUCKET_D AS ts, sum(cents) AS v
         |      FROM g WHERE class = 'events.view' AND ts <= $LB GROUP BY 1, 2)
         |SELECT c.userid, c.ts,
         |  CASE WHEN v.v <> 0 THEN round(CAST(c.v AS DOUBLE) / v.v, 9)
         |       WHEN c.v > 0 THEN 'infinity'::DOUBLE
         |       WHEN c.v < 0 THEN '-infinity'::DOUBLE
         |       ELSE 'nan'::DOUBLE END AS ratio
         |FROM c JOIN v ON c.userid = v.userid AND c.ts = v.ts""".stripMargin,

    "g36_counter_compensate" ->
      s"""WITH g AS ($EV),
         |i AS (SELECT class, userid, ts,
         |        sum(cents) OVER (PARTITION BY class, userid ORDER BY ts
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g),
         |saw AS (SELECT class, userid, ts, cum % 5000.0 AS v FROM i),
         |d AS (SELECT class, userid, ts, v,
         |        v - lag(v) OVER (PARTITION BY class, userid ORDER BY ts) AS delta
         |      FROM saw),
         |inc AS (SELECT class, userid, ts,
         |        CASE WHEN delta IS NULL THEN v
         |             WHEN delta >= 0 THEN delta ELSE v END AS step
         |      FROM d)
         |SELECT class, userid, ts,
         |       sum(step) OVER (PARTITION BY class, userid ORDER BY ts
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS comp_v
         |FROM inc""".stripMargin,

    "g37_pivot" ->
      s"""WITH g AS ($EV)
         |SELECT userid, $BUCKET_D AS ts,
         |  sum(cents) FILTER (WHERE class = 'events.click') AS click_v,
         |  sum(cents) FILTER (WHERE class = 'events.view') AS view_v,
         |  sum(cents) FILTER (WHERE class = 'events.error') AS error_v,
         |  sum(cents) FILTER (WHERE class = 'events.purchase') AS purchase_v,
         |  sum(cents) FILTER (WHERE class = 'events.signup') AS signup_v
         |FROM g WHERE ts <= $LB GROUP BY 1, 2""".stripMargin,

    "g38_geo_haversine" ->
      s"""WITH g AS ($EV),
         |pts AS (SELECT class, userid, ts,
         |        (CAST(userid AS BIGINT) % 120) - 60 + vdouble/100.0 AS lat,
         |        (ts % 360) - 180 + vdouble/100.0 AS lon
         |      FROM g),
         |l AS (SELECT class, userid, ts, lat, lon,
         |        lag(lat) OVER (PARTITION BY class, userid ORDER BY ts) AS plat,
         |        lag(lon) OVER (PARTITION BY class, userid ORDER BY ts) AS plon
         |      FROM pts)
         |SELECT class, userid, ts,
         |  CAST(round(2.0 * 6378137.0 * asin(sqrt(
         |    pow(sin((lat - plat) * (pi()/180.0) / 2), 2)
         |    + cos(plat * (pi()/180.0)) * cos(lat * (pi()/180.0))
         |      * pow(sin((lon - plon) * (pi()/180.0) / 2), 2))), 0) AS BIGINT) AS hdist_m
         |FROM l""".stripMargin,

    "g39_musigma" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, count(*) AS n, sum(cents) AS sum_v,
         |       sum(cents*cents) AS sumsq_v, round(avg(cents), 9) AS mu,
         |       round(stddev_pop(cents), 6) AS sigma
         |FROM g GROUP BY 1, 2""".stripMargin,

    "g40_ses" ->
      s"""WITH g AS ($EV),
         |r AS (SELECT class, userid, ts, cents,
         |        row_number() OVER (PARTITION BY class, userid ORDER BY ts) - 1 AS rn
         |      FROM g)
         |SELECT class, userid, ts,
         |  round(CASE WHEN rn = 0 THEN cents ELSE cents * 0.5 + ${(1 to 40).map(k =>
             s"(CASE WHEN rn - $k > 0 THEN lag(cents, $k) OVER w * ${math.pow(0.5, k + 1)} " +
             s"WHEN rn - $k = 0 THEN lag(cents, $k) OVER w * ${math.pow(0.5, k)} " +
             "ELSE 0.0 END)").mkString(" + ")} END, 6) AS smoothed
         |FROM r
         |WINDOW w AS (PARTITION BY class, userid ORDER BY ts)""".stripMargin
  )
}
