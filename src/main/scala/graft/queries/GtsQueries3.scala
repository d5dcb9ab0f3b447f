package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.model.Gts
import graft.operators.GtsFrame
import graft.operators.GtsFrame._

/** Third GTS pack: calendar bucketize, kernel-weighted smoothing,
  * FETCH count semantics, boolean aggregators, approx distinct. */
object GtsQueries3 extends QueryPack {
  import GtsQueries.{EV, LB}

  private def gts(s: SparkSession, dir: String) = GtsFrame(Gts.fromEvents(s, dir))
  private def cents(s: SparkSession, dir: String) = GtsFrame(Gts.fromEventsCents(s, dir))
  private val userid = col("labels").getItem("user").as("userid")

  /** Binomial kernel weights [1,4,6,4,1]/16 for the ±2 tick window —
    * the classic dyadic approximation of the gaussian kernel. Dyadic
    * rationals keep every product/sum exactly representable, so the
    * result is bit-identical across engines regardless of the
    * optimizer's addition reassociation. */
  val KW: Seq[Double] = Seq(0.0625, 0.25, 0.375, 0.25, 0.0625)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BUCKETIZECALENDAR (fn/BUCKETIZECALENDAR.java): calendar-aligned
    // month buckets, UTC; bucket tick = month start (calendar identity)
    "g41_bucketize_calendar" -> ((s, dir) =>
      cents(s, dir).df
        .groupBy(col("class"), userid,
          unix_micros(to_timestamp(date_trunc("month", timestamp_micros(col("ts")))))
            .as("ts"))
        .agg(sum(col("vdouble")).as("sum_v"), count(lit(1)).as("n"))),

    // BUCKETIZECALENDAR with an explicit timezone (fn/BUCKETIZECALENDAR
    // .java bucketizecalendar.timezone param): LOCAL calendar days whose
    // µs width varies with DST — orders dates span 1992-98, crossing
    // every Europe/Paris March/October transition, so the local-midnight
    // bucket tick alternates between 23:00 and 22:00 UTC of the prior day
    "g50_bucketize_calendar_tz" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val tick = unix_micros(col("o_orderdate").cast(TimestampType))
      val dayTz = unix_micros(to_utc_timestamp(
        date_trunc("DAY", from_utc_timestamp(timestamp_micros(tick), "Europe/Paris")),
        "Europe/Paris"))
      o.groupBy(col("o_orderpriority").as("prio"), dayTz.as("ts"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast(LongType)).as("cents"))
    }),

    // mapper.kernel.gaussian (script/mapper/MapperKernel*.java):
    // kernel-weighted smoothing over a ±2 tick window, renormalized at
    // series edges — windowed dot product with literal weights
    "g42_kernel_smooth" -> ((s, dir) => {
      val w = Window.partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
      val terms = KW.zipWithIndex.map { case (wk, i) =>
        val off = i - 2
        val v = if (off < 0) lag(col("vdouble"), -off).over(w)
                else if (off > 0) lead(col("vdouble"), off).over(w)
                else col("vdouble")
        (when(v.isNotNull, v * wk).otherwise(0.0),
          when(v.isNotNull, lit(wk)).otherwise(0.0))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      // no round(): pre-round doubles are bit-identical across engines
      // (same literal weights, same left-assoc sum order), while Spark
      // and DuckDB round() tie-break differently on near-.5 reprs
      cents(s, dir).df
        .select(col("class"), userid, col("ts"),
          (num / den).as("smooth_v"))
    }),

    // FETCH count semantics: most recent 5 points per series
    // (fn/FETCH.java count param; newest-first storage scan)
    "g43_fetch_lastn" -> ((s, dir) =>
      gts(s, dir).lastN(5)
        .df.select(col("class"), userid, col("ts"), col("vdouble"))),

    // bucketizer.and / bucketizer.or over a derived boolean GTS
    // (script/aggregator — bool_and/bool_or)
    "g44_bool_aggs" -> ((s, dir) =>
      gts(s, dir).df
        .withColumn("b", col("vdouble") > 50.0)
        .groupBy(col("class"), userid)
        .agg(bool_and(col("b")).as("all_gt"), bool_or(col("b")).as("any_gt"),
          count(when(col("b"), 1)).as("n_true"))),

    // HLL++ approximate distinct (script/HyperLogLogPlus.java →
    // approx_count_distinct). Sketch estimates are engine-specific by
    // nature, so the oracle is a BOUND assertion: the query emits the
    // exact count plus a boolean "estimate within 5% of exact", and the
    // oracle asserts TRUE for every class (deterministic companion: h02).
    "h01_approx_distinct" -> ((s, dir) =>
      gts(s, dir).df.groupBy(col("class"))
        .agg(approx_count_distinct(col("labels").getItem("user")).as("approx"),
          countDistinct(col("labels").getItem("user")).as("exact_users"))
        .select(col("class"), col("exact_users"),
          (abs(col("approx").cast("double") / col("exact_users") - lit(1.0)) < 0.05)
            .as("within_bound"))),

    // the /api/v0 HTTP façade driver-verified over REAL sockets
    // (surface/RestFacade.scala; EgressFetchHandler/EgressExecHandler):
    // a tsv fetch for one day of clicks is parsed back from the wire
    // and hashed against DuckDB, and an exec POST must return the
    // arithmetic result plus a FETCH SIZE equal to the fetched rows
    "h03_http_facade" -> ((s, dir) => {
      import java.net.{HttpURLConnection, URI}
      import GtsQueries.{T0, DAY}
      def hit(url: String, body: Option[String]): (Int, String) = {
        val c = URI.create(url).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        body.foreach { b =>
          c.setRequestMethod("POST"); c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val code = c.getResponseCode
        val is = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"))
      }
      val base = graft.operators.GtsFrame(Gts.fromEvents(s, dir))
      val facade = new graft.surface.RestFacade(base,
        () => WsQueries.engine(s, dir, cents = false), maxRows = 1000000)
      val port = facade.start(0)
      try {
        val (c1, tsv) = hit(s"http://127.0.0.1:$port/api/v0/fetch" +
          s"?selector=events.click%7B%7D&start=$T0&stop=${T0 + DAY - 1}" +
          "&format=tsv", None)
        require(c1 == 200, s"fetch HTTP $c1: ${tsv.take(200)}")
        val rows = tsv.split("\n").filter(_.nonEmpty).toSeq.map { ln =>
          val Array(t, v) = ln.split("\t"); (t.toLong, v.toDouble)
        }
        val (c2, exec) = hit(s"http://127.0.0.1:$port/api/v0/exec", Some(
          s"[ 'T' 'events.click' { } ${T0 + DAY - 1} $DAY ] FETCH SIZE 2 3 +"))
        require(c2 == 200, s"exec HTTP $c2: ${exec.take(200)}")
        val parts = exec.stripPrefix("[").stripSuffix("]").split(",")
        val execOk = parts(0).trim == "5" && parts(1).trim.toLong == rows.size
        import s.implicits._
        rows.toDF("ts", "value").withColumn("exec_ok", lit(execOk))
      } finally facade.stop()
    }),

    // the /api/v0 update/meta/find/delete session surface over REAL
    // sockets (surface/RestFacade.scala; StandaloneStreamUpdateHandler,
    // fn/META.java delta attrs, EgressFindHandler text shape,
    // StandaloneDeleteHandler touched-series response): write an
    // overlay series, set+delta its attributes, delete a tick range,
    // then prove via wire fetches that the overlay survived correctly
    // AND the base table is untouched (hashed against DuckDB)
    "h04_http_crud" -> ((s, dir) => {
      import java.net.{HttpURLConnection, URI}
      import GtsQueries.{T0, DAY}
      def hit(url: String, body: Option[String]): (Int, String) = {
        val c = URI.create(url).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        body.foreach { b =>
          c.setRequestMethod("POST"); c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val code = c.getResponseCode
        val is = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"))
      }
      val base = graft.operators.GtsFrame(Gts.fromEvents(s, dir))
      val facade = new graft.surface.RestFacade(base,
        () => WsQueries.engine(s, dir, cents = false), maxRows = 1000000)
      val port = facade.start(0)
      val api = s"http://127.0.0.1:$port/api/v0"
      try {
        val (cu, _) = hit(s"$api/update",
          Some("1000// session.h04{src=crud} 1.5\n=2000// 2.5\n=3000// 3.5"))
        require(cu == 200, s"update HTTP $cu")
        val (cm, _) = hit(s"$api/meta",
          Some("session.h04{src=crud}{unit=ms,owner=tmp}"))
        require(cm == 200, s"meta HTTP $cm")
        hit(s"$api/meta", Some("session.h04{src=crud}{owner=}"))
        val (_, found) = hit(
          s"$api/find?selector=session.h04%7B%7D", None)
        val findOk = found.trim == "session.h04{src=crud}{unit=ms}"
        val (cd, deleted) = hit(
          s"$api/delete?selector=session.h04%7B%7D&start=2500&end=3500", None)
        val delOk = cd == 200 && deleted.trim == "session.h04{src=crud}"
        // a range is mandatory since the computeTimeRange alignment
        // (r11): [0, 5000] covers the three session ticks
        val (_, tsv) = hit(
          s"$api/fetch?selector=session.h04%7B%7D&start=0&stop=5000&format=tsv", None)
        val overlay = tsv.split("\n").filter(_.nonEmpty).toSeq.map { ln =>
          val Array(t, v) = ln.split("\t"); (t.toLong, v.toDouble)
        }
        // the base table must be untouched by the overlay session ops
        val (cb, btsv) = hit(s"$api/fetch" +
          s"?selector=events.click%7B%7D&start=$T0&stop=${T0 + DAY - 1}" +
          "&format=tsv", None)
        require(cb == 200, s"base fetch HTTP $cb")
        val baseRows = btsv.split("\n").filter(_.nonEmpty).toSeq.map { ln =>
          val Array(t, v) = ln.split("\t"); (t.toLong, v.toDouble)
        }
        import s.implicits._
        (overlay.map { case (t, v) => ("overlay", t, v) } ++
          baseRows.map { case (t, v) => ("base", t, v) })
          .toDF("part", "ts", "value")
          .withColumn("crud_ok", lit(findOk && delOk))
      } finally facade.stop()
    }),

    // the HTTP fetch's full reference parameter surface over REAL
    // sockets (EgressFetchHandler.java:250-265 / store/Constants.java:
    // 334-363): now+timespan ([now−timespan+1, now]), NEGATIVE timespan
    // as per-series count, skip, gskip/gcount series pages (the three
    // pages must PARTITION the directory — their union equals the
    // unpaged fetch, id-order independent), boundary.pre/.post, and
    // `dedup` with GTSDecoder.dedup:766-860 semantics (first of each
    // identical run + the series' last point) on a session overlay
    // series with engineered runs. Every face is fetched as text and
    // parsed back through LineProtocol.
    "h05_http_fetch_params" -> ((s, dir) => {
      import java.net.{HttpURLConnection, URI, URLEncoder}
      import GtsQueries.{LB, DAY}
      def hit(url: String, body: Option[String] = None): (Int, String) = {
        val c = URI.create(url).toURL.openConnection()
          .asInstanceOf[HttpURLConnection]
        body.foreach { b =>
          c.setRequestMethod("POST"); c.setDoOutput(true)
          c.getOutputStream.write(b.getBytes("UTF-8"))
        }
        val code = c.getResponseCode
        val is = if (code < 400) c.getInputStream else c.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"))
      }
      val base = graft.operators.GtsFrame(Gts.fromEventsCents(s, dir))
      val facade = new graft.surface.RestFacade(base,
        () => WsQueries.engine(s, dir, cents = true), maxRows = 1000000)
      val port = facade.start(0)
      val api = s"http://127.0.0.1:$port/api/v0"
      val SEL = URLEncoder.encode("events.click{user~[0-9]}", "UTF-8")
      def rows(params: String, tag: String, sel: String = SEL) = {
        val (c, txt) = hit(s"$api/fetch?selector=$sel&$params")
        require(c == 200, s"$tag HTTP $c: ${txt.take(200)}")
        graft.sources.LineProtocol
          .parseBatch(txt.linesIterator, now = 0L, None, None)
          .map(p => (tag, p.cls, p.labels.get("user").orNull, p.ts,
            p.vdouble.getOrElse(Double.NaN))).toVector
      }
      try {
        // the seven read-only faces are independent requests against
        // the same facade — issue them concurrently like a real
        // multi-tenant front end (guide §2.6: overlap independent
        // jobs; the later jobs' tasks back-fill the earlier jobs'
        // stragglers). Output order is irrelevant: rows are tagged
        // and the driver compare canonicalizes.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val faces = Seq(
          Future(rows(s"now=$LB&timespan=${7L * DAY}", "span")),
          Future(rows(s"now=$LB&timespan=-3", "count")),
          Future(rows(s"start=${LB - 7L * DAY + 1}&stop=$LB&skip=2", "skip")),
          Future.traverse((0 to 2).toVector)(p => Future(
            rows(s"start=0&stop=$LB&gskip=${p * 4}&gcount=4", "page")))
            .map(_.flatten),
          Future(rows(s"start=${LB - 3L * DAY + 1}&stop=${LB - DAY}" +
            "&boundary.pre=2&boundary.post=1", "bound")))
        val Seq(span, count3, skip2, pages, bounds) =
          faces.map(Await.result(_, Duration.Inf))
        val (cu, _) = hit(s"$api/update", Some(
          "1// session.dd{} 1.5\n=2// 1.5\n=3// 1.5\n=4// 2.5\n=5// 2.5\n" +
            "=6// 3.5\n=7// 3.5"))
        require(cu == 200, s"update HTTP $cu")
        // a range is mandatory since the computeTimeRange alignment
        // (r11): [0, 100] covers the 7 session ticks
        val dd = rows("start=0&stop=100&dedup=true", "dedup",
          sel = URLEncoder.encode("session.dd{}", "UTF-8"))
        import s.implicits._
        (span ++ count3 ++ skip2 ++ pages ++ bounds ++ dd)
          .toDF("which", "class", "userid", "ts", "v")
      } finally facade.stop()
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Bound oracle for the HLL row: DuckDB computes the exact per-class
    // distinct and asserts the engine's estimate landed within 5% (the
    // engine side emits the boolean; HLL++ with default rsd=5% holds it).
    "h01_approx_distinct" ->
      s"""WITH g AS ($EV)
         |SELECT class, count(DISTINCT userid) AS exact_users,
         |       TRUE AS within_bound
         |FROM g GROUP BY 1""".stripMargin,

    // what the wire-parsed tsv must contain: one day of clicks, all
    // users, raw doubles (the text render round-trips bit-exactly)
    "h03_http_facade" ->
      s"""WITH g AS ($EV)
         |SELECT ts, vdouble AS value, TRUE AS exec_ok FROM g
         |WHERE class = 'events.click'
         |  AND ts >= ${GtsQueries.T0} AND ts <= ${GtsQueries.T0 + GtsQueries.DAY - 1}""".stripMargin,

    // overlay = the updated series minus the deleted range; base = one
    // day of clicks, untouched by the session ops; crud_ok asserts the
    // find/meta/delete wire responses matched the reference shapes
    "h04_http_crud" ->
      s"""WITH g AS ($EV)
         |SELECT 'overlay' AS part, CAST(1000 AS BIGINT) AS ts,
         |       1.5 AS value, TRUE AS crud_ok
         |UNION ALL
         |SELECT 'overlay', 2000, 2.5, TRUE
         |UNION ALL
         |SELECT 'base', ts, vdouble, TRUE FROM g
         |WHERE class = 'events.click'
         |  AND ts >= ${GtsQueries.T0} AND ts <= ${GtsQueries.T0 + GtsQueries.DAY - 1}""".stripMargin,

    // every face re-derived: span/page windows, per-series desc-rank
    // count and skip, boundary ranks outside the window, and the
    // hand-derived dedup keeps (first-of-run 1,4,6 + trailing-dup 7)
    "h05_http_fetch_params" -> {
      val LB = GtsQueries.LB; val DAY = GtsQueries.DAY
      s"""WITH g AS (SELECT class, userid, ts, cents FROM ($EV) e
         |  WHERE class = 'events.click'
         |    AND regexp_full_match(userid, '[0-9]')),
         |r AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid
         |                       ORDER BY ts DESC) AS rnd
         |  FROM g WHERE ts <= $LB),
         |w AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid
         |                       ORDER BY ts DESC) AS rnd
         |  FROM g WHERE ts BETWEEN ${LB - 7L * DAY + 1} AND $LB),
         |pre AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid
         |                       ORDER BY ts DESC) AS rnd
         |  FROM g WHERE ts < ${LB - 3L * DAY + 1}),
         |post AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid
         |                       ORDER BY ts) AS rna
         |  FROM g WHERE ts > ${LB - DAY})
         |SELECT 'span' AS which, class, userid, ts, cents AS v FROM w
         |UNION ALL
         |SELECT 'count', class, userid, ts, cents FROM r WHERE rnd <= 3
         |UNION ALL
         |SELECT 'skip', class, userid, ts, cents FROM w WHERE rnd > 2
         |UNION ALL
         |SELECT 'page', class, userid, ts, cents FROM g WHERE ts <= $LB
         |UNION ALL
         |SELECT 'bound', class, userid, ts, cents FROM g
         |WHERE ts BETWEEN ${LB - 3L * DAY + 1} AND ${LB - DAY}
         |UNION ALL
         |SELECT 'bound', class, userid, ts, cents FROM pre WHERE rnd <= 2
         |UNION ALL
         |SELECT 'bound', class, userid, ts, cents FROM post WHERE rna <= 1
         |UNION ALL
         |SELECT 'dedup', 'session.dd', NULL, v.ts, v.v
         |FROM (VALUES (1, 1.5), (4, 2.5), (6, 3.5), (7, 3.5)) v(ts, v)"""
        .stripMargin
    },

    "g41_bucketize_calendar" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid,
         |       epoch_us(date_trunc('month', make_timestamp(ts))) AS ts,
         |       sum(cents) AS sum_v, count(*) AS n
         |FROM g GROUP BY 1, 2, 3""".stripMargin,

    "g50_bucketize_calendar_tz" ->
      """SELECT o_orderpriority AS prio,
        |  epoch_us(timezone('Europe/Paris', date_trunc('day',
        |    timezone('Europe/Paris',
        |      make_timestamptz(epoch_us(CAST(o_orderdate AS TIMESTAMP))))))) AS ts,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "g42_kernel_smooth" -> {
      val terms = KW.zipWithIndex.map { case (wk, i) =>
        val off = i - 2
        val v = if (off < 0) s"lag(cents, ${-off}) OVER w"
                else if (off > 0) s"lead(cents, $off) OVER w"
                else "cents"
        (s"(CASE WHEN $v IS NOT NULL THEN $v * $wk ELSE 0.0 END)",
          s"(CASE WHEN $v IS NOT NULL THEN $wk ELSE 0.0 END)")
      }
      val num = terms.map(_._1).mkString(" + ")
      val den = terms.map(_._2).mkString(" + ")
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, ($num) / ($den) AS smooth_v
         |FROM g
         |WINDOW w AS (PARTITION BY class, userid ORDER BY ts, cents)""".stripMargin
    },

    "g43_fetch_lastn" ->
      s"""WITH g AS ($EV),
         |r AS (SELECT class, userid, ts, vdouble,
         |        row_number() OVER (PARTITION BY class, userid
         |          ORDER BY ts DESC) AS rk FROM g)
         |SELECT class, userid, ts, vdouble FROM r WHERE rk <= 5""".stripMargin,

    "g44_bool_aggs" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, bool_and(vdouble > 50.0) AS all_gt,
         |       bool_or(vdouble > 50.0) AS any_gt,
         |       count(CASE WHEN vdouble > 50.0 THEN 1 END) AS n_true
         |FROM g GROUP BY 1, 2""".stripMargin
  )
}
