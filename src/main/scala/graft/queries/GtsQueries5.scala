package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.KernelOps
import graft.model.Gts
import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** Fifth pack: op comparison family (+negmask, +ignore-nulls), MAP with
  * ticks override + dedup, TIMEMODULO, filter.latencies. */
object GtsQueries5 extends QueryPack {
  import GtsQueries.{EV, LB, T0, T7, HOUR, DAY}

  private def gts(s: SparkSession, dir: String) = GtsFrame(Gts.fromEvents(s, dir))
  private def cents(s: SparkSession, dir: String) = GtsFrame(Gts.fromEventsCents(s, dir))
  private val userid = col("labels").getItem("user").as("userid")

  private def daily(s: SparkSession, dir: String, cls: String): GtsFrame =
    GtsFrame(cents(s, dir).df.filter(col("class") === cls)).bucketize(Sum, LB, DAY)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // op.gt / op.eq (script/op/OpGT.java, OpEQ) + op.add.ignore-nulls:
    // daily click vs view cents per user, full-outer tick align;
    // comparisons null out when an operand is absent, ignore-nulls
    // substitutes the identity
    "g51_op_compare" -> ((s, dir) =>
      daily(s, dir, "events.click").applyOps(daily(s, dir, "events.view"),
        Seq(
          "gt" -> ((l, r) => when(l.isNotNull && r.isNotNull, (l > r).cast(LongType))),
          "eq" -> ((l, r) => when(l.isNotNull && r.isNotNull, (l === r).cast(LongType))),
          "add_in" -> ((l, r) => coalesce(l, lit(0.0)) + coalesce(r, lit(0.0)))),
        Seq("user"))
        .select(col("user").as("userid"), col("ts"),
          col("gt"), col("eq"), col("add_in"))),

    // op.negmask (script/op/OpMask.java negate): daily error sum kept
    // where the mask (daily click count > 2, as 1/0) is FALSY
    "g52_negmask" -> ((s, dir) => {
      val errs = daily(s, dir, "events.error")
      val flag = GtsFrame(
        GtsFrame(cents(s, dir).df.filter(col("class") === "events.click"))
          .bucketize(CountAgg, LB, DAY).df
          .withColumn("vdouble", when(col("vdouble") > 2.0, 1.0).otherwise(0.0)))
      errs.mask(flag, Seq("user"), negate = true)
        .select(col("user").as("userid"), col("ts"), col("vdouble").as("masked_sum"))
    }),

    // MAP w/ ticks override + dedup (GTSHelper.java:6389-6432): hourly
    // sums evaluated at an explicit 6-hourly tick grid over the first
    // week; the grid list deliberately repeats a tick — dedup collapses it
    "g53_map_ticks" -> ((s, dir) => {
      val grid = (T0 + 6 * HOUR) to T7 by (6 * HOUR)
      val withDup = grid :+ (T0 + 12 * HOUR) // duplicate entry
      cents(s, dir).mapWindowAtTicks(Sum, -HOUR, withDup, dedup = true)
        .select(col("class"), userid, col("ts"), col("vdouble").as("wsum"))
    }),

    // TIMEMODULO (fn/TIMEMODULO.java): fold ticks to day phase with the
    // quotient (day index) carried as a label
    "g54_timemodulo" -> ((s, dir) =>
      gts(s, dir).timemodulo(DAY, "day").df
        .select(col("class"), userid,
          col("labels").getItem("day").cast(LongType).as("day"),
          col("ts"), col("vdouble"))),

    // per-name kernel registry (script/mapper/MapperKernel*.java): three
    // kernels from the 10-name registry over a ±2 tick window, edge-
    // renormalized; kernel weights are driver-computed literals shared
    // with the oracle SQL
    "g56_kernel_registry" -> ((s, dir) => {
      val f = cents(s, dir).df
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
      // round(6): a raw weighted mean can straddle the gate's 1e-9
      // canon boundary on a 1-ulp engine difference (seen at sf0.1) —
      // the w98 rounding rule
      f.select(col("class"), userid, col("ts"),
        round(graft.kernels.KernelRegistry.smoothCol("gaussian", 2, col("vdouble"), w), 6).as("s_gaussian"),
        round(graft.kernels.KernelRegistry.smoothCol("epanechnikov", 2, col("vdouble"), w), 6).as("s_epan"),
        round(graft.kernels.KernelRegistry.smoothCol("tricube", 2, col("vdouble"), w), 6).as("s_tricube"))
    }),

    // classical seasonal decomposition (SQL-expressible core of the STL
    // surface, fn/STL.java): hourly grid (zero-filled), ±12h centered
    // MA trend, hour-of-day seasonal means of the EXACT 25v−Σ detrended
    // integers, residual — bit-reproducible with no tolerance rounding
    "g57_stl_classical" -> ((s, dir) => {
      val dense = cents(s, dir).bucketize(Sum, LB, HOUR, 720)
        .fill(LB, HOUR, 720, KernelOps.Value(0.0)).df
      graft.operators.SeasonalOps.classicalDecompose(dense, HOUR, 24, 12)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("v"),
          col("trend"), col("seasonal"), col("resid"))
    }),

    // filter.latencies (script/filter/LatencyFilter.java): clicks as
    // uplink, views as downlink, quantized value as payload hash; match
    // within (0, 1h]
    "g55_latency_match" -> ((s, dir) => {
      val q = gts(s, dir).quantize(25.0)
      val up = GtsFrame(q.df.filter(col("class") === "events.click"))
      val down = GtsFrame(q.df.filter(col("class") === "events.view"))
      up.latencyMatch(down, Seq("user"), 1L, HOUR)
        .select(col("user").as("userid"), col("ts"), col("n_matches"),
          col("min_latency"), col("max_latency"))
    })
  )

  private def dailySql(cls: String, agg: String) =
    s"""SELECT userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts, $agg AS v
       |FROM g WHERE class = '$cls' AND ts <= $LB GROUP BY 1, 2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "g51_op_compare" ->
      s"""WITH g AS ($EV),
         |c AS (${dailySql("events.click", "sum(cents)")}),
         |v AS (${dailySql("events.view", "sum(cents)")})
         |SELECT coalesce(c.userid, v.userid) AS userid,
         |       coalesce(c.ts, v.ts) AS ts,
         |       CASE WHEN c.v IS NOT NULL AND v.v IS NOT NULL
         |            THEN CAST(c.v > v.v AS BIGINT) END AS gt,
         |       CASE WHEN c.v IS NOT NULL AND v.v IS NOT NULL
         |            THEN CAST(c.v = v.v AS BIGINT) END AS eq,
         |       coalesce(c.v, 0.0) + coalesce(v.v, 0.0) AS add_in
         |FROM c FULL OUTER JOIN v ON c.userid = v.userid AND c.ts = v.ts""".stripMargin,

    "g52_negmask" ->
      s"""WITH g AS ($EV),
         |e AS (${dailySql("events.error", "sum(cents)")}),
         |f AS (SELECT userid, ts, CASE WHEN v > 2 THEN 1.0 ELSE 0.0 END AS v
         |      FROM (${dailySql("events.click", "CAST(count(*) AS DOUBLE)")}))
         |SELECT e.userid, e.ts, e.v AS masked_sum
         |FROM e JOIN f ON e.userid = f.userid AND e.ts = f.ts
         |WHERE NOT (f.v IS NOT NULL AND f.v <> 0)""".stripMargin,

    "g53_map_ticks" ->
      s"""WITH g AS ($EV),
         |series AS (SELECT DISTINCT class, userid FROM g),
         |ticks AS (SELECT unnest(generate_series(${T0 + 6 * HOUR}, $T7, ${6 * HOUR})) AS tick),
         |grid AS (SELECT class, userid, tick FROM series CROSS JOIN ticks)
         |SELECT grid.class, grid.userid, grid.tick AS ts, sum(g.cents) AS wsum
         |FROM grid LEFT JOIN g ON g.class = grid.class AND g.userid = grid.userid
         |  AND g.ts >= grid.tick - $HOUR AND g.ts <= grid.tick
         |GROUP BY 1, 2, 3""".stripMargin,

    "g54_timemodulo" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts // $DAY AS day, ts % $DAY AS ts, vdouble
         |FROM g""".stripMargin,

    "g57_stl_classical" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $LB - (($LB - ts) // $HOUR) * $HOUR AS ts,
         |             sum(cents) AS v
         |      FROM g WHERE ts > ${LB - 720 * HOUR} AND ts <= $LB GROUP BY 1, 2, 3),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(${LB - 719 * HOUR}, $LB, $HOUR)) AS ts) t),
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
         |se AS (SELECT class, userid, phase, sum(detr) AS ssum, count(*) AS scnt
         |       FROM f GROUP BY 1, 2, 3)
         |SELECT f.class, f.userid, f.ts, f.v,
         |       f.tsum / 25.0 AS trend,
         |       se.ssum / (25.0 * se.scnt) AS seasonal,
         |       f.v - f.tsum / 25.0 - se.ssum / (25.0 * se.scnt) AS resid
         |FROM f JOIN se ON f.class = se.class AND f.userid = se.userid
         |  AND f.phase = se.phase""".stripMargin,

    "g56_kernel_registry" -> {
      import graft.kernels.KernelRegistry.smoothSql
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |       round(${smoothSql("gaussian", 2, "cents", "w")}, 6) AS s_gaussian,
         |       round(${smoothSql("epanechnikov", 2, "cents", "w")}, 6) AS s_epan,
         |       round(${smoothSql("tricube", 2, "cents", "w")}, 6) AS s_tricube
         |FROM g
         |WINDOW w AS (PARTITION BY class, userid ORDER BY ts, cents)""".stripMargin
    },

    "g55_latency_match" ->
      s"""WITH g AS ($EV),
         |q AS (SELECT class, userid, ts, floor(vdouble/25.0)*25.0 AS qv FROM g),
         |u AS (SELECT userid, ts, qv FROM q WHERE class = 'events.click'),
         |d AS (SELECT userid, ts, qv FROM q WHERE class = 'events.view')
         |SELECT u.userid, u.ts,
         |       count(*) AS n_matches,
         |       min(d.ts - u.ts) AS min_latency,
         |       max(d.ts - u.ts) AS max_latency
         |FROM u JOIN d ON u.userid = d.userid AND u.qv = d.qv
         |  AND d.ts - u.ts >= 1 AND d.ts - u.ts <= $HOUR
         |GROUP BY 1, 2""".stripMargin
  )
}
