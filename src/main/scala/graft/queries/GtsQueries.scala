package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.KernelOps
import graft.model.Gts
import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** Oracle-paired queries exercising the GTS frame-operator family
  * (SURVEY.md §2.2) on the driver's `events` table cast to the canonical
  * GTS long table.
  *
  * Determinism discipline: aggregated value columns run on exact integer
  * "cents" (round(v*100)) so double partial sums are exactly
  * representable and hash-compare with DuckDB regardless of aggregation
  * order. Raw (unaggregated) doubles pass through bit-identically.
  */
object GtsQueries extends QueryPack {

  // 2024-01-01 .. 2024-01-31 UTC in µs ticks; events span Jan 2024.
  val T0: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val T7: Long = 1704672000000000L // 2024-01-08
  val LB: Long = 1706659200000000L // 2024-01-31 (lastbucket)
  val HOUR: Long = 3600000000L
  val DAY: Long  = 86400000000L

  private def gts(s: SparkSession, dir: String) = GtsFrame(Gts.fromEvents(s, dir))
  private def cents(s: SparkSession, dir: String) = GtsFrame(Gts.fromEventsCents(s, dir))
  private val userid = col("labels").getItem("user").as("userid")

  /** DuckDB view of events as the same GTS long table. */
  val EV: String =
    "SELECT 'events.' || event_type AS class, CAST(user_id AS VARCHAR) AS userid, " +
      "epoch_us(ts) AS ts, value AS vdouble, round(value*100) AS cents FROM events"

  private def out(df: DataFrame, cols: Column*): DataFrame = df.select(cols: _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FETCH: selector + time-range scan (fn/FETCH.java; MetadataSelectorMatcher)
    "g01_fetch_selector" -> ((s, dir) =>
      out(gts(s, dir).select("~events\\.(click|view)").timeclip(T0, T7 - 1).df,
        col("class"), userid, col("ts"), col("vdouble"))),

    // BUCKETIZE w/ bucketizer.sum, end-anchored 1h buckets (GTSHelper.java:2261)
    "g02_bucketize_sum" -> ((s, dir) =>
      out(cents(s, dir).bucketize(Sum, LB, HOUR).df,
        col("class"), userid, col("ts"), col("vdouble").as("sum_cents"))),

    // bucketizer.mean over exact cents (deterministic sum/count division)
    "g03_bucketize_mean" -> ((s, dir) =>
      out(cents(s, dir).bucketize(Mean, LB, DAY).df,
        col("class"), userid, col("ts"), col("vdouble").as("mean_cents"))),

    // bucketizer.count per 1d bucket
    "g04_bucketize_count" -> ((s, dir) =>
      out(cents(s, dir).bucketize(CountAgg, LB, DAY).df,
        col("class"), userid, col("ts"), col("vdouble").cast(LongType).as("n"))),

    // bucketizer.min/max/first/last semantics via 1d buckets on raw doubles
    "g05_bucketize_minmax" -> ((s, dir) => {
      val f = gts(s, dir).df
      val bucketEnd = lit(LB) - floor((lit(LB) - col("ts")) / DAY).cast(LongType) * DAY
      f.filter(col("ts") <= LB)
        .groupBy(col("class"), col("labels").getItem("user").as("userid"),
          bucketEnd.as("ts"))
        .agg(min(col("vdouble")).as("min_v"), max(col("vdouble")).as("max_v"),
          min_by(col("vdouble"), col("ts")).as("first_v"),
          max_by(col("vdouble"), col("ts")).as("last_v"))
    }),

    // MAP w/ mapper.sum over a -1h time window (negative pre = time span,
    // GTSHelper.java:6440-6500)
    "g06_map_timewindow_sum" -> ((s, dir) =>
      out(cents(s, dir).mapWindow(Sum, -HOUR, 0).df,
        col("class"), userid, col("ts"), col("vdouble").as("wsum"))),

    // MAP w/ mapper.mean over a 3-tick count window (positive pre = ticks)
    "g07_map_tickwindow_mean" -> ((s, dir) =>
      out(cents(s, dir).mapWindow(Mean, 2, 0).df,
        col("class"), userid, col("ts"), col("vdouble").as("wmean"))),

    // REDUCE w/ reducer.sum by label 'user' — n-way align on tick
    // (GTSHelper.java:8147-8480)
    "g08_reduce_sum" -> ((s, dir) =>
      cents(s, dir).reduce(Sum, Seq("user"))
        .select(col("user").as("userid"), col("ts"), col("vdouble").as("rsum"))),

    // APPLY w/ op.sub: click-minus-view per user on 1d buckets, full-outer
    // tick alignment (GTSHelper.java:7846; script/op/OpSub)
    "g09_apply_sub" -> ((s, dir) => {
      val c = cents(s, dir)
      val clicks = GtsFrame(c.df.filter(col("class") === "events.click")).bucketize(Sum, LB, DAY)
      val views  = GtsFrame(c.df.filter(col("class") === "events.view")).bucketize(Sum, LB, DAY)
      clicks.applyOp(views, (l, r) => l - r, Seq("user"))
        .select(col("user").as("userid"), col("ts"), col("vdouble").as("diff"))
    }),

    // APPLY w/ op.mask: daily error sum where a purchase happened that day
    "g10_apply_mask" -> ((s, dir) => {
      val c = cents(s, dir)
      val errs = GtsFrame(c.df.filter(col("class") === "events.error")).bucketize(Sum, LB, DAY)
      val purch = GtsFrame(c.df.filter(col("class") === "events.purchase")).bucketize(CountAgg, LB, DAY)
      errs.mask(purch, Seq("user"))
        .select(col("user").as("userid"), col("ts"), col("vdouble").as("masked_sum"))
    }),

    // FILTER w/ filter.last.gt 90 (script/filter/FilterLastGT-style): keep
    // whole series whose most recent value exceeds the threshold
    "g11_filter_last_gt" -> ((s, dir) =>
      out(gts(s, dir).filterSeries(col("last_v") > 90.0).df,
        col("class"), userid, col("ts"), col("vdouble"))),

    // DEDUP (fn/DEDUP.java → GTSHelper.dedup:7198, corrected r12):
    // duplicate-TICK removal. Duplicates are constructed (raw ∪
    // value-doubled copy at the same ticks) so the row genuinely
    // exercises the collapse; the engine's deterministic canonical-max
    // pick makes the oracle a per-tick max over the union
    "g12_dedup" -> ((s, dir) => {
      val f = gts(s, dir)
      val doubled = f.df.withColumn("vdouble", col("vdouble") * 2)
      out(GtsFrame(f.df.unionByName(doubled)).dedup().df,
        col("class"), userid, col("ts"), col("vdouble").as("v"))
    }),

    // COMPACT — keep only edges of constant-value runs (fn/COMPACT.java)
    "g13_compact" -> ((s, dir) =>
      out(gts(s, dir).quantize(25.0).compact().df,
        col("class"), userid, col("ts"), col("vdouble").as("qv"))),

    // INTEGRATE — per-series running sum (fn/INTEGRATE.java)
    // INTEGRATE (fn/INTEGRATE.java, corrected r11): rates/second
    // left-rectangle time integral from an initial value — NOT a
    // value cumsum
    "g14_integrate" -> ((s, dir) =>
      out(cents(s, dir).integrate(0.0).df,
        col("class"), userid, col("ts"), col("vdouble").as("integ"))),

    // TIMESPLIT on 1h quiet periods (fn/TIMESPLIT.java)
    "g15_timesplit" -> ((s, dir) =>
      gts(s, dir).timesplit(HOUR)
        .select(col("class"), userid, col("ts"), col("sessionid"))),

    // CHUNK into 1d-wide chunks (fn/CHUNK.java)
    "g16_chunk" -> ((s, dir) =>
      gts(s, dir).chunk(LB, DAY)
        .select(col("class"), userid, col("ts"), col("chunkid"))),

    // FILLPREVIOUS over the full 1d bucket grid (GTSHelper.java:4893)
    "g17_fillprevious" -> ((s, dir) => {
      val b = cents(s, dir).bucketize(Sum, LB, DAY)
      b.fill(LB, DAY, 30, KernelOps.Previous).df
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("filled"))
    }),

    // NORMALIZE — per-series min-max to [0,1] (fn/NORMALIZE.java)
    "g18_normalize" -> ((s, dir) =>
      out(cents(s, dir).normalize().df,
        col("class"), userid, col("ts"), round(col("vdouble"), 9).as("norm_v"))),

    // STANDARDIZE — per-series z-score (fn/STANDARDIZE.java); rounded to
    // absorb engine-order FP noise in stddev
    "g19_standardize" -> ((s, dir) =>
      out(cents(s, dir).standardize().df,
        col("class"), userid, col("ts"), round(col("vdouble"), 6).as("z_v"))),

    // TIMESHIFT + TIMESCALE affine tick transforms
    "g20_timeshift" -> ((s, dir) =>
      out(gts(s, dir).timeshift(DAY).timeclip(T0 + DAY, T7 + DAY - 1).df,
        col("class"), userid, col("ts"), col("vdouble")))
  )

  /** Recursive-CTE replay of [[GtsFrame.integrate]]'s sequential fold
    * (see the operator's Scaladoc): acc₁ = 0; accᵢ = accᵢ₋₁ +
    * pv·(Δt/1e6); emitted as init + acc. Shared by g14 and w21. */
  private[queries] def integrateSql(init: Double): String =
    s"""WITH RECURSIVE g AS ($EV),
       |o AS (SELECT class, userid, ts, cents,
       |        row_number() OVER w AS rn,
       |        lag(ts) OVER w AS pts, lag(cents) OVER w AS pv
       |      FROM g
       |      WINDOW w AS (PARTITION BY class, userid ORDER BY ts, cents)),
       |r AS (
       |  SELECT class, userid, ts, rn, CAST(0.0 AS DOUBLE) AS acc
       |  FROM o WHERE rn = 1
       |  UNION ALL
       |  SELECT o.class, o.userid, o.ts, o.rn,
       |    r.acc + o.pv * (CAST(o.ts - o.pts AS DOUBLE) / 1000000.0)
       |  FROM r JOIN o ON o.class = r.class AND o.userid = r.userid
       |               AND o.rn = r.rn + 1)
       |SELECT class, userid, ts, $init + acc AS integ FROM r""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "g01_fetch_selector" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g
         |WHERE regexp_full_match(class, 'events\\.(click|view)')
         |  AND ts >= $T0 AND ts <= ${T7 - 1}""".stripMargin,

    "g02_bucketize_sum" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, $LB - (($LB - ts) // $HOUR) * $HOUR AS ts,
         |       sum(cents) AS sum_cents
         |FROM g WHERE ts <= $LB GROUP BY 1, 2, 3""".stripMargin,

    "g03_bucketize_mean" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |       avg(cents) AS mean_cents
         |FROM g WHERE ts <= $LB GROUP BY 1, 2, 3""".stripMargin,

    "g04_bucketize_count" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |       count(*) AS n
         |FROM g WHERE ts <= $LB GROUP BY 1, 2, 3""".stripMargin,

    "g05_bucketize_minmax" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |       min(vdouble) AS min_v, max(vdouble) AS max_v,
         |       arg_min(vdouble, ts) AS first_v, arg_max(vdouble, ts) AS last_v
         |FROM g WHERE ts <= $LB GROUP BY 1, 2, 3""".stripMargin,

    "g06_map_timewindow_sum" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |       sum(cents) OVER (PARTITION BY class, userid ORDER BY ts
         |         RANGE BETWEEN $HOUR PRECEDING AND CURRENT ROW) AS wsum
         |FROM g""".stripMargin,

    "g07_map_tickwindow_mean" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |       avg(cents) OVER (PARTITION BY class, userid ORDER BY ts
         |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS wmean
         |FROM g""".stripMargin,

    "g08_reduce_sum" ->
      s"""WITH g AS ($EV)
         |SELECT userid, ts, sum(cents) AS rsum FROM g GROUP BY 1, 2""".stripMargin,

    "g09_apply_sub" ->
      s"""WITH g AS ($EV),
         |c AS (SELECT userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts, sum(cents) AS v
         |      FROM g WHERE class = 'events.click' AND ts <= $LB GROUP BY 1, 2),
         |v AS (SELECT userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts, sum(cents) AS v
         |      FROM g WHERE class = 'events.view' AND ts <= $LB GROUP BY 1, 2)
         |SELECT coalesce(c.userid, v.userid) AS userid,
         |       coalesce(c.ts, v.ts) AS ts, c.v - v.v AS diff
         |FROM c FULL OUTER JOIN v ON c.userid = v.userid AND c.ts = v.ts""".stripMargin,

    "g10_apply_mask" ->
      s"""WITH g AS ($EV),
         |e AS (SELECT userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts, sum(cents) AS v
         |      FROM g WHERE class = 'events.error' AND ts <= $LB GROUP BY 1, 2),
         |p AS (SELECT userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts, CAST(count(*) AS DOUBLE) AS v
         |      FROM g WHERE class = 'events.purchase' AND ts <= $LB GROUP BY 1, 2)
         |SELECT e.userid, e.ts,
         |       CASE WHEN p.v IS NOT NULL AND p.v <> 0 THEN e.v END AS masked_sum
         |FROM e JOIN p ON e.userid = p.userid AND e.ts = p.ts
         |WHERE p.v IS NOT NULL AND p.v <> 0""".stripMargin,

    "g11_filter_last_gt" ->
      s"""WITH g AS ($EV),
         |keep AS (SELECT class, userid FROM g GROUP BY 1, 2
         |         HAVING arg_max(vdouble, ts) > 90.0)
         |SELECT g.class, g.userid, g.ts, g.vdouble
         |FROM g JOIN keep ON g.class = keep.class AND g.userid = keep.userid""".stripMargin,

    "g12_dedup" ->
      s"""WITH g AS ($EV),
         |u AS (SELECT class, userid, ts, vdouble AS v FROM g
         |      UNION ALL SELECT class, userid, ts, vdouble * 2 FROM g)
         |SELECT class, userid, ts, max(v) AS v FROM u GROUP BY 1, 2, 3""".stripMargin,

    "g13_compact" ->
      s"""WITH g AS ($EV),
         |q AS (SELECT class, userid, ts, floor(vdouble/25.0)*25.0 AS qv FROM g),
         |l AS (SELECT class, userid, ts, qv,
         |        lag(qv) OVER (PARTITION BY class, userid ORDER BY ts) AS pv,
         |        lead(qv) OVER (PARTITION BY class, userid ORDER BY ts) AS nv FROM q)
         |SELECT class, userid, ts, qv FROM l
         |WHERE pv IS NULL OR nv IS NULL OR pv <> qv OR nv <> qv""".stripMargin,

    // recursive CTE = the engine's SEQUENTIAL left fold replayed
    // step for step (per-step Δt/1e6 like the reference's loop) —
    // past 2^53 a window sum's association is engine-dependent, so
    // the fold itself is the only bit-stable formulation
    "g14_integrate" -> GtsQueries.integrateSql(0.0),

    // sessionid CAST to BIGINT: DuckDB's sum(INTEGER) yields HUGEINT,
    // which the driver's hasher does not normalize to int64 (the round-1
    // red row); vdouble tiebreaker makes duplicate-tick order total.
    "g15_timesplit" ->
      s"""WITH g AS ($EV),
         |l AS (SELECT class, userid, ts,
         |        ts - lag(ts) OVER (PARTITION BY class, userid ORDER BY ts, vdouble) AS gap
         |      FROM g)
         |SELECT class, userid, ts,
         |       CAST(sum(CASE WHEN gap IS NULL OR gap >= $HOUR THEN 1 ELSE 0 END)
         |         OVER (PARTITION BY class, userid ORDER BY ts
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sessionid
         |FROM l""".stripMargin,

    "g16_chunk" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, $LB - (($LB - ts) // $DAY) * $DAY AS chunkid
         |FROM g WHERE ts <= $LB""".stripMargin,

    "g17_fillprevious" ->
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |             sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |series AS (SELECT DISTINCT class, userid FROM b),
         |grid AS (SELECT s.class, s.userid, t.ts
         |         FROM series s CROSS JOIN
         |           (SELECT unnest(generate_series(${LB - 29 * DAY}, $LB, $DAY)) AS ts) t),
         |j AS (SELECT grid.class, grid.userid, grid.ts, b.v
         |      FROM grid LEFT JOIN b ON grid.class = b.class
         |        AND grid.userid = b.userid AND grid.ts = b.ts)
         |SELECT class, userid, ts,
         |       last_value(v IGNORE NULLS) OVER (PARTITION BY class, userid
         |         ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         |FROM j""".stripMargin,

    "g18_normalize" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, ts, cents,
         |        min(cents) OVER (PARTITION BY class, userid) AS mn,
         |        max(cents) OVER (PARTITION BY class, userid) AS mx FROM g)
         |SELECT class, userid, ts,
         |       round(CASE WHEN mx = mn THEN 1.0 ELSE (cents - mn)/(mx - mn) END, 9) AS norm_v
         |FROM m""".stripMargin,

    // Bessel-corrected sd via the reference's naive sumsq/n − (sum/n)²
    // form (GTSHelper.standardize:8902-8963) — replayed term for term
    "g19_standardize" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, ts, cents,
         |        CAST(count(*) OVER (PARTITION BY class, userid) AS DOUBLE) AS n,
         |        sum(cents) OVER (PARTITION BY class, userid) AS sx,
         |        sum(cents*cents) OVER (PARTITION BY class, userid) AS sxx FROM g),
         |v AS (SELECT class, userid, ts, cents, n, sx / n AS mu,
         |        CASE WHEN n > 1.0 THEN (sxx / n - (sx * sx) / (n * n)) * n / (n - 1.0)
         |             ELSE sxx / n - (sx * sx) / (n * n) END AS variance
         |      FROM m)
         |SELECT class, userid, ts,
         |       round(CASE WHEN sqrt(variance) = 0.0 THEN cents - mu
         |             ELSE (cents - mu)/sqrt(variance) END, 6) AS z_v
         |FROM v""".stripMargin,

    "g20_timeshift" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts + $DAY AS ts, vdouble FROM g
         |WHERE ts + $DAY >= ${T0 + DAY} AND ts + $DAY <= ${T7 + DAY - 1}""".stripMargin
  )
}
