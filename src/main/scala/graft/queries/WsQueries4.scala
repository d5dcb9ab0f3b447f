package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WarpScript front-end queries, part 4 (round-6 aggregator-family
  * tail): reducer null variants (forbid/exclude/include), the boolean
  * op.* variants, reducer.shannonentropy, the mapper.kernel.* builder
  * words, and the geo window mappers (hdist/hspeed/vdist/vspeed/
  * truecourse). Each row runs a real WarpScript program through the
  * engine and is hashed against an independent DuckDB derivation —
  * counts are exact integers so every aggregate is fp-deterministic;
  * entropy/geo values are rounded to 6 decimals on both sides (the g24
  * precedent) because ln/tan libm ulps differ across engines.
  */
object WsQueries4 extends QueryPack {
  import GtsQueries.{DAY, LB}
  import WsQueries.engine

  /** Daily count buckets of every events.* series (exact longs). */
  private val BUCKETS =
    s"[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH bucketizer.count $LB $DAY 0 ] BUCKETIZE"
  private def bucketsOf(cls: String) =
    s"[ [ '' '$cls' { } $LB ${LB + 1} ] FETCH bucketizer.count $LB $DAY 0 ] BUCKETIZE"

  /** DuckDB twin of the daily bucket grid: end-anchored bucket tick and
    * per-(user, class, bucket) exact counts. */
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
    // reducer.sum.forbid-nulls (aggregator/Sum.java ignoreNulls=false):
    // a (user, day) tick survives only when EVERY series of the user's
    // partition has that bucket
    "w94_ws_reduce_forbid" -> ((s, dir) => {
      engine(s, dir, cents = false).runToFrame(
        s"[ $BUCKETS [ 'user' ] reducer.sum.forbid-nulls ] REDUCE")
        .select(col("user"), col("ts"),
          col("vdouble").cast("long").as("cnt"))
    }),

    // reducer.count (include-nulls default, Count.java omitNulls=false)
    // vs .exclude-nulls, plus reducer.shannonentropy.0 over the same
    // alignment — three REDUCE passes joined on (user, tick)
    "w95_ws_reduce_count_entropy" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      def red(r: String, as: String) =
        e.runToFrame(s"[ $BUCKETS [ 'user' ] $r ] REDUCE")
          .select(col("user"), col("ts"), col("vdouble").as(as))
      red("reducer.count", "cnt_slots")
        .join(red("reducer.count.exclude-nulls", "cnt_present"), Seq("user", "ts"))
        .join(red("reducer.shannonentropy.0", "h"), Seq("user", "ts"))
        .select(col("user"), col("ts"),
          col("cnt_slots").cast("long").as("cnt_slots"),
          col("cnt_present").cast("long").as("cnt_present"),
          round(col("h"), 6).as("entropy6"))
    }),

    // op.and (OpBoolean forbidNulls=true) and op.or.ignore-nulls over
    // the click/view daily-count alignment per user
    "w96_ws_op_bool" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      def app(op: String, as: String) =
        e.runToFrame(
          s"[ ${bucketsOf("events.click")} ${bucketsOf("events.view")} [ 'user' ] $op ] APPLY")
          .select(col("user"), col("ts"), col("vdouble").as(as))
      app("op.and", "and_strict")
        .join(app("op.or.ignore-nulls", "or_ignore"), Seq("user", "ts"))
    }),

    // mapper.kernel.triweight builder word (MapperKernel.java → the
    // Nadaraya-Watson smoother): dyadic-quantized weights on integer
    // counts keep every product/sum/quotient exact cross-engine
    "w97_ws_mapper_kernel" -> ((s, dir) => {
      engine(s, dir, cents = false).runToFrame(
        s"[ ${bucketsOf("events.click")} 1 5 mapper.kernel.triweight 0 0 0 ] MAP")
        .select(col("labels").getItem("user").as("u"), col("ts"),
          col("vdouble").as("smoothed"))
    }),

    // FETCH map form with boundary.pre/post (fn/FETCH.java:125-127):
    // one day of clicks plus 2 points per series before and 1 after
    "w103_ws_fetch_boundary" -> ((s, dir) => {
      engine(s, dir, cents = false).runToFrame(
        s"""{ 'class' 'events.click' 'labels' { }
           |  'start' ${LB - 5 * DAY + 1} 'end' ${LB - 4 * DAY}
           |  'boundary.pre' 2 'boundary.post' 1 } FETCH""".stripMargin)
        .select(col("labels").getItem("user").as("u"), col("ts"),
          col("vdouble").as("v"))
    }),

    // MAP ticks override (list form, occurrences = LIST of output
    // ticks — MAP.java:96, GTSHelper.java:6389): a 2-day look-back sum
    // evaluated at three explicit ticks per click series
    "w101_ws_map_ticks" -> ((s, dir) => {
      val ticks = s"[ $LB ${LB - 5 * DAY} ${LB - 10 * DAY} ]"
      engine(s, dir, cents = false).runToFrame(
        s"[ ${bucketsOf("events.click")} mapper.sum ${-2 * DAY} 0 $ticks ] MAP")
        .select(col("labels").getItem("user").as("u"), col("ts"),
          col("vdouble").cast("long").as("win_sum"))
    }),

    // MAP dictionary form with step (MAP.java:39-44): 3-tick rolling
    // sum emitted at every 2nd tick of each series
    "w102_ws_map_dict_step" -> ((s, dir) => {
      engine(s, dir, cents = false).runToFrame(
        s"${bucketsOf("events.click")} " +
          "{ 'mapper' mapper.sum 'pre' 2 'post' 0 'step' 2 } MAP")
        .select(col("labels").getItem("user").as("u"), col("ts"),
          col("vdouble").cast("long").as("win_sum"))
    }),

    // N-ary APPLY (GTSHelper.applyNAryFunction): op.add strict and
    // .ignore-nulls folded over THREE aligned operand sets
    "w100_ws_apply_nary" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      def app(op: String, as: String) =
        e.runToFrame(
          s"[ ${bucketsOf("events.click")} ${bucketsOf("events.view")} " +
            s"${bucketsOf("events.purchase")} [ 'user' ] $op ] APPLY")
          .select(col("user"), col("ts"), col("vdouble").as(as))
      app("op.add", "add_strict")
        .join(app("op.add.ignore-nulls", "add_ignore"), Seq("user", "ts"))
    }),

    // PGP word family over the GnuPG cross-vectors (clean-room RFC 4880,
    // script/OpenPgp.scala; external interop: gpg verifies/decrypts our
    // artifacts — see WsPgpSpec + the PgpInterop tool). Deterministic:
    // verification booleans, decrypted plaintext, ring key ids.
    "w99_ws_pgp" -> ((s, dir) => {
      import PgpVectors._
      val e = engine(s, dir, cents = false)
      val out = e.run(
        s"""'$SEC' HEX-> PGPRING 0 GET 'ring' STORE
           |'$PUB' HEX-> PGPRING 0 GET 'pub' STORE
           |'$MSG' '$SIG' HEX-> $$pub 'FDDA1D005B9051CF' true PGPVERIFY
           |'$ENC' HEX-> $$ring '036809140CD3F8EC' '' PGPDECRYPT 'UTF-8' BYTES->
           |'$MSG'
           |{ 'keyring' $$ring 'keyid' 'FDDA1D005B9051CF' 'passphrase' ''
           |  'digest' 'SHA256' 'date' 1706659200000000 } PGPSIGN
           |'ws' STORE
           |'$MSG' $$ws $$pub 'FDDA1D005B9051CF' true PGPVERIFY
           |'graft payload' { 'keyring' $$ring 'recipient' '036809140CD3F8EC' } PGPENCRYPT
           |$$ring '036809140CD3F8EC' '' PGPDECRYPT 'UTF-8' BYTES->
           |$$ring PGPPRIVATE ',' JOIN""".stripMargin)
      s.range(1).select(
        lit(out(0).toString).as("keyids"),
        lit(out(1).toString).as("roundtrip_plain"),
        lit(out(2).asInstanceOf[Boolean]).as("our_sig_ok"),
        lit(out(3).toString).as("gpg_plain"),
        lit(out(4).asInstanceOf[Boolean]).as("gpg_sig_ok"))
    }),

    // geo window mappers over a literal located track (NEWGTS/ADDVALUE):
    // cumulative rhumb distance, speed, |Δelev|, and first→last true
    // course per expanding MAP window — the oracle replays the exact
    // loxodromic/bearing formulas over the same literals
    "w98_ws_geo_window" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val track =
        """NEWGTS 'track' RENAME
          |1000000 0.0 0.0 1000 1.0 ADDVALUE
          |2000000 0.0 1.0 3000 2.0 ADDVALUE
          |3000000 1.0 1.0 2000 3.0 ADDVALUE
          |4000000 1.0 2.0 6000 4.0 ADDVALUE
          |'g' STORE""".stripMargin
      def m(mapper: String, as: String) =
        e.runToFrame(s"$track [ $$g $mapper 10 0 0 ] MAP")
          .select(col("ts"), col("vdouble").as(as))
      m("mapper.hdist", "hdist")
        .join(m("mapper.hspeed", "hspeed"), Seq("ts"))
        .join(m("mapper.vdist", "vdist"), Seq("ts"))
        .join(m("mapper.vspeed", "vspeed"), Seq("ts"))
        .join(m("mapper.truecourse", "tc"), Seq("ts"))
        .select(col("ts"), round(col("hdist"), 6).as("hdist6"),
          round(col("hspeed"), 6).as("hspeed6"),
          round(col("vdist"), 6).as("vdist6"),
          round(col("vspeed"), 6).as("vspeed6"),
          round(col("tc"), 6).as("tc6"))
    })
  )

  /** Loxodromic-distance SQL mirroring GtsFrame.loxodromicCol term by
    * term (constants embedded as the exact Scala doubles). */
  private def loxoSql(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val C = math.Pi / 180.0
    val P4 = math.Pi / 4.0
    val phi1 = s"($lat1 * $C)"; val phi2 = s"($lat2 * $C)"
    val dphi = s"($phi2 - $phi1)"
    val dpsi = s"ln(tan($P4 + $phi2 / 2) / tan($P4 + $phi1 / 2))"
    val q = s"(CASE WHEN abs($dpsi) > 1e-12 THEN $dphi / $dpsi ELSE cos($phi1) END)"
    val dl0 = s"(($lon2 - $lon1) * $C)"
    val dlon = s"(CASE WHEN abs($dl0) > ${math.Pi} THEN " +
      s"CASE WHEN $dl0 > 0 THEN $dl0 - ${2 * math.Pi} ELSE $dl0 + ${2 * math.Pi} END " +
      s"ELSE $dl0 END)"
    s"(6378137.0 * sqrt($dphi * $dphi + $q * $q * $dlon * $dlon))"
  }

  private val GEO_PTS =
    """pts(ts, lat, lon, elev) AS (VALUES
      |  (1000000, 0.0, 0.0, 1000),
      |  (2000000, 0.0, 1.0, 3000),
      |  (3000000, 1.0, 1.0, 2000),
      |  (4000000, 1.0, 2.0, 6000))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "w94_ws_reduce_forbid" ->
      s"""WITH $BUCKET_SQL,
         |nser AS (SELECT u, count(DISTINCT event_type) AS ns FROM pts GROUP BY 1)
         |SELECT c.u AS "user", c.bts AS ts, CAST(sum(c.c) AS BIGINT) AS cnt
         |FROM counts c JOIN nser n USING (u)
         |GROUP BY c.u, c.bts, n.ns
         |HAVING count(*) = n.ns""".stripMargin,

    "w95_ws_reduce_count_entropy" ->
      s"""WITH $BUCKET_SQL,
         |nser AS (SELECT u, count(DISTINCT event_type) AS ns FROM pts GROUP BY 1),
         |g AS (
         |  SELECT c.u, c.bts, count(*) AS np, sum(c.c) AS s,
         |    CASE WHEN count(*) = 1 THEN 0.0
         |         ELSE round(-sum((c.c / CAST(s2.s AS DOUBLE))
         |                * ln(c.c / CAST(s2.s AS DOUBLE)))
         |              / ln(count(*)), 6) END AS h
         |  FROM counts c
         |  JOIN (SELECT u, bts, CAST(sum(c) AS DOUBLE) AS s
         |        FROM counts GROUP BY 1, 2) s2
         |    ON c.u = s2.u AND c.bts = s2.bts
         |  GROUP BY c.u, c.bts)
         |SELECT g.u AS "user", g.bts AS ts,
         |  CAST(n.ns AS BIGINT) AS cnt_slots,
         |  CAST(g.np AS BIGINT) AS cnt_present,
         |  g.h AS entropy6
         |FROM g JOIN nser n USING (u)""".stripMargin,

    "w96_ws_op_bool" ->
      s"""WITH $BUCKET_SQL,
         |a AS (SELECT u, bts, c FROM counts WHERE event_type = 'click'),
         |b AS (SELECT u, bts, c FROM counts WHERE event_type = 'view')
         |SELECT coalesce(a.u, b.u) AS "user", coalesce(a.bts, b.bts) AS ts,
         |  CASE WHEN a.c IS NULL OR b.c IS NULL THEN NULL
         |       WHEN a.c <> 0 AND b.c <> 0 THEN 1.0 ELSE 0.0 END AS and_strict,
         |  CASE WHEN coalesce(a.c, 0) <> 0 OR coalesce(b.c, 0) <> 0
         |       THEN 1.0 ELSE 0.0 END AS or_ignore
         |FROM a FULL OUTER JOIN b ON a.u = b.u AND a.bts = b.bts""".stripMargin,

    "w97_ws_mapper_kernel" -> {
      val smooth = graft.kernels.KernelRegistry.smoothSql("triweight", 2, "c", "w")
      s"""WITH $BUCKET_SQL
         |SELECT u, bts AS ts, $smooth AS smoothed
         |FROM counts WHERE event_type = 'click'
         |WINDOW w AS (PARTITION BY u ORDER BY bts)""".stripMargin
    },

    "w103_ws_fetch_boundary" ->
      s"""WITH g AS (
         |  SELECT CAST(user_id AS VARCHAR) AS u, epoch_us(ts) AS tick, value AS v
         |  FROM events WHERE event_type = 'click'),
         |inr AS (SELECT u, tick, v FROM g
         |        WHERE tick >= ${LB - 5 * DAY + 1} AND tick <= ${LB - 4 * DAY}),
         |pre AS (SELECT u, tick, v FROM (
         |          SELECT u, tick, v,
         |            row_number() OVER (PARTITION BY u ORDER BY tick DESC) AS rn
         |          FROM g WHERE tick < ${LB - 5 * DAY + 1}) WHERE rn <= 2),
         |post AS (SELECT u, tick, v FROM (
         |          SELECT u, tick, v,
         |            row_number() OVER (PARTITION BY u ORDER BY tick ASC) AS rn
         |          FROM g WHERE tick > ${LB - 4 * DAY}) WHERE rn <= 1)
         |SELECT u, tick AS ts, v FROM inr
         |UNION ALL SELECT u, tick AS ts, v FROM pre
         |UNION ALL SELECT u, tick AS ts, v FROM post""".stripMargin,

    "w101_ws_map_ticks" ->
      s"""WITH $BUCKET_SQL,
         |cl AS (SELECT u, bts, c FROM counts WHERE event_type = 'click'),
         |srs AS (SELECT DISTINCT u FROM cl),
         |tk(t) AS (VALUES ($LB), (${LB - 5 * DAY}), (${LB - 10 * DAY})),
         |grid AS (SELECT u, t FROM srs CROSS JOIN tk)
         |SELECT g.u, g.t AS ts,
         |  CAST(sum(cl.c) AS BIGINT) AS win_sum
         |FROM grid g LEFT JOIN cl
         |  ON cl.u = g.u AND cl.bts >= g.t - ${2 * DAY} AND cl.bts <= g.t
         |GROUP BY g.u, g.t""".stripMargin,

    "w102_ws_map_dict_step" ->
      s"""WITH $BUCKET_SQL,
         |cl AS (SELECT u, bts, c,
         |         row_number() OVER (PARTITION BY u ORDER BY bts) AS rn,
         |         sum(c) OVER (PARTITION BY u ORDER BY bts
         |           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ws
         |       FROM counts WHERE event_type = 'click')
         |SELECT u, bts AS ts, CAST(ws AS BIGINT) AS win_sum
         |FROM cl WHERE (rn - 1) % 2 = 0""".stripMargin,

    "w100_ws_apply_nary" ->
      s"""WITH $BUCKET_SQL,
         |a AS (SELECT u, bts, c FROM counts WHERE event_type = 'click'),
         |b AS (SELECT u, bts, c FROM counts WHERE event_type = 'view'),
         |p AS (SELECT u, bts, c FROM counts WHERE event_type = 'purchase'),
         |j AS (SELECT coalesce(a.u, b.u, p.u) AS u,
         |        coalesce(a.bts, b.bts, p.bts) AS bts,
         |        a.c AS ca, b.c AS cb, p.c AS cp
         |      FROM a FULL OUTER JOIN b ON a.u = b.u AND a.bts = b.bts
         |        FULL OUTER JOIN p
         |          ON coalesce(a.u, b.u) = p.u AND coalesce(a.bts, b.bts) = p.bts)
         |SELECT u AS "user", bts AS ts,
         |  CAST(CASE WHEN ca IS NULL OR cb IS NULL OR cp IS NULL THEN NULL
         |       ELSE ca + cb + cp END AS BIGINT) AS add_strict,
         |  CAST(coalesce(ca, 0) + coalesce(cb, 0) + coalesce(cp, 0) AS DOUBLE)
         |    AS add_ignore
         |FROM j""".stripMargin,

    "w99_ws_pgp" ->
      """SELECT 'FDDA1D005B9051CF,036809140CD3F8EC' AS keyids,
        |  'graft payload' AS roundtrip_plain,
        |  true AS our_sig_ok,
        |  'The quick brown fox jumps over the lazy dog' AS gpg_plain,
        |  true AS gpg_sig_ok""".stripMargin,

    "w98_ws_geo_window" -> {
      val leg = loxoSql("plat", "plon", "lat", "lon")
      val tc = {
        val C = math.Pi / 180.0
        val la1 = s"(flat * $C)"; val lo1 = s"(flon * $C)"
        val la2 = s"(lat * $C)"; val lo2 = s"(lon * $C)"
        val a = s"atan2(sin($lo1 - $lo2) * cos($la2), " +
          s"cos($la1) * sin($la2) - sin($la1) * cos($la2) * cos($lo1 - $lo2))"
        s"degrees(CASE WHEN $a < 0 THEN $a + ${2 * math.Pi} ELSE $a END)"
      }
      s"""WITH $GEO_PTS,
         |lagged AS (
         |  SELECT ts, lat, lon, elev,
         |    lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         |    lag(elev) OVER w AS pelev,
         |    first_value(lat) OVER w AS flat, first_value(lon) OVER w AS flon,
         |    first_value(ts) OVER w AS fts,
         |    row_number() OVER w AS rn
         |  FROM pts WINDOW w AS (ORDER BY ts)),
         |cum AS (
         |  SELECT ts, rn, fts,
         |    sum(CASE WHEN plat IS NULL THEN 0.0 ELSE $leg END)
         |      OVER (ORDER BY ts) AS hdist,
         |    sum(CASE WHEN pelev IS NULL THEN 0.0
         |             ELSE abs(elev - pelev) END) OVER (ORDER BY ts) AS vmm,
         |    $tc AS tc
         |  FROM lagged)
         |SELECT CAST(ts AS BIGINT) AS ts,
         |  round(hdist, 6) AS hdist6,
         |  round(CASE WHEN ts = fts THEN 0.0
         |        ELSE hdist / ((ts - fts) / 1000000.0) END, 6) AS hspeed6,
         |  round(vmm / 1000.0, 6) AS vdist6,
         |  round(CASE WHEN rn = 1 THEN NULL
         |        WHEN ts = fts THEN 0.0
         |        ELSE vmm / 1000.0 / ((ts - fts) / 1000000.0) END, 6) AS vspeed6,
         |  round(tc, 6) AS tc6
         |FROM cum""".stripMargin
    }
  )
}
