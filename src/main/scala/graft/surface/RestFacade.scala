package graft.surface

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine
import graft.sources.{Formats, LineProtocol, Selector}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Thin HTTP façade over the engine — the reference's `/api/v0` entry
  * points re-expressed, built on the JDK's own `com.sun.net.httpserver`
  * (zero new dependencies; a production deployment would front the same
  * calls with any server).
  *
  * - `GET /api/v0/fetch?selector=<class{labels}>` with the reference's
  *   full parameter surface (EgressFetchHandler.java:250-265; names
  *   store/Constants.java:334-363): `start`+`stop` or
  *   (`now`|`end`)+`timespan` (negative timespan = per-series count),
  *   `count`, `skip`, `step`, `timestep`, `sample`, `gskip`/`gcount`
  *   series pages, `boundary.pre`/`boundary.post`, `dedup`
  *   (GTSDecoder.dedup run-collapse), `format=text|json|tsv` — a
  *   selector-pruned scan rendered by [[Formats]]; every point filter
  *   reuses the FETCH word's GtsFrame ops so the surface compiles to
  *   the same plans.
  * - `POST /api/v0/exec` — body is a WarpScript program; the final
  *   stack renders to a JSON array (EgressExecHandler.java:134).
  * - `POST /api/v0/update` — body is GTS line protocol, appended to the
  *   session overlay that subsequent fetch/find/delete see
  *   (StandaloneStreamUpdateHandler / ingress Ingress.java). The
  *   DURABLE high-volume path is [[graft.streaming.StreamingIngest]]
  *   into the lake; this endpoint is the reference's interactive write
  *   surface, session-scoped exactly like the engine's UPDATE word.
  * - `GET /api/v0/delete?selector=…[&start=…&end=…|&deleteall=true]` —
  *   responds with one `class{labels}` line per touched series
  *   (StandaloneDeleteHandler.java:461-471); the deletion itself is a
  *   predicate the combined view applies (a lakehouse sink would run
  *   the same predicate as a Delta DELETE / partition rewrite).
  * - `POST /api/v0/meta` — body lines `class{labels}{attributes}`
  *   upsert mutable attributes with fn/META.java's delta semantics
  *   (empty value removes the key).
  * - `GET /api/v0/find?selector=…` — one `class{labels}{attributes}`
  *   line per matching series (EgressFindHandler.java:345-374 text
  *   shape).
  *
  * The façade is a SURFACE, not an executor: every request compiles to
  * the same lazy Catalyst plans as the Scala API; `maxRows` caps what a
  * single HTTP response will materialize (the reference's fetch limits).
  */
final class RestFacade(
    frame: => GtsFrame,
    engine: () => WarpScriptEngine,
    maxRows: Int = 10000) {

  private var server: HttpServer = _

  // ---- session overlay (UPDATE/DELETE/META between requests) ----
  private val updates = mutable.ArrayBuffer.empty[Row]
  private val deletes = mutable.ArrayBuffer.empty[(Selector, Long, Long)]
  private val attrOverlay =
    mutable.Map.empty[(String, Map[String, String]), Map[String, String]]

  /** Base ∪ session updates, minus the recorded delete predicates —
    * what fetch/find/delete resolve against. */
  private def combined(): DataFrame = synchronized {
    val base = frame.df
    val withUpdates =
      if (updates.isEmpty) base
      else base.unionByName(Gts.canonicalRehash(
        base.sparkSession.createDataFrame(
          new java.util.ArrayList(updates.asJava), Gts.pointSchema)))
    deletes.foldLeft(withUpdates) { case (df, (sel, lo, hi)) =>
      // coalesce: a NULL selector verdict (label absent on the row) is
      // NOT a match — without it `!(NULL)` filters the row out and
      // deletes series the selector never matched (SQL 3VL)
      df.filter(!coalesce(sel.predicate && col("ts").between(lo, hi),
        lit(false)))
    }
  }

  /** JVM-side class+label selector match (the Column predicate's twin,
    * for overlay entries that never touch a DataFrame). */
  private def selMatches(sel: Selector, cls: String,
                         labels: Map[String, String]): Boolean = {
    val clsOk = sel.classExact.forall(_ == cls) &&
      sel.classRegex.forall(r => r == ".*" || cls.matches("^(?:" + r + ")$"))
    clsOk &&
      sel.labelExact.forall { case (k, v) => labels.get(k).contains(v) } &&
      sel.labelRegex.forall { case (k, v) =>
        labels.get(k).exists(_.matches("^(?:" + v + ")$")) }
  }

  /** The HTTP fetch's `dedup` (GTSDecoder.dedup:766-860 — NOT the
    * DEDUP word): scanning in tick order, keep the FIRST point of each
    * run of identical (value, location, elevation), and ALWAYS keep
    * the series' last point (the reference appends it when the run
    * ends at end-of-stream). Null-safe struct comparison so every
    * value type participates. */
  private def httpDedup(points: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gtsid")).orderBy(col("ts"))
    val sig = struct(col("lat"), col("lon"), col("elev"), col("vtype"),
      col("vlong"), col("vdouble"), col("vbool"), col("vstring"),
      col("vbinary"))
    points
      .withColumn("__prev", lag(sig, 1).over(w))
      .withColumn("__last", lead(col("ts"), 1).over(w).isNull)
      .filter(col("__prev").isNull || !(col("__prev") <=> sig) ||
        col("__last"))
      .drop("__prev", "__last")
  }

  /** Parse `class{k=v,…}` (and an optional trailing `{attrs}` block)
    * from a meta line — the unencoded convention of [[LineProtocol]]. */
  private def parseMetaLine(line: String): (String, Map[String, String], Map[String, String]) = {
    def block(s: String): Map[String, String] =
      s.split(",").filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"bad label '$kv'")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap
    val b1 = line.indexOf('{')
    require(b1 > 0, s"meta line needs class{labels}{attributes}: $line")
    val e1 = line.indexOf('}', b1)
    val b2 = line.indexOf('{', e1)
    val e2 = if (b2 < 0) -1 else line.indexOf('}', b2)
    val labels = block(line.substring(b1 + 1, e1))
    val attrs = if (b2 < 0) Map.empty[String, String]
      else block(line.substring(b2 + 1, e2))
    (line.substring(0, b1), labels, attrs)
  }

  /** Start on `port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    // The JDK server leaves Nagle's algorithm on unless this property is
    // set; with the client's delayed ACK every small response then
    // waits ~40 ms. The JDK reads it once per JVM, when its first
    // HttpServer is created, so it must be set before that.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // Without an executor the JDK HttpServer runs EVERY handler on its
    // single dispatcher thread — concurrent clients (h05's independent
    // fetch faces, guide §2.6) serialize server-side and their Spark
    // jobs cannot overlap. A small pool is enough: requests are
    // Spark-job-bound, and the session overlay is already guarded
    // (writes and combined()/find reads all under `synchronized`).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      r => { val t = new Thread(r, "rest-facade"); t.setDaemon(true); t }))
    // the reference fetch param surface (EgressFetchHandler.java:
    // 250-265 param names from store/Constants.java:334-363; time
    // range via FETCH.computeTimeRange — same [end−timespan+1, end] /
    // negative-timespan-as-count semantics as the word):
    //   selector, start+stop | (now|end)+timespan, count, skip, step,
    //   timestep, sample, gskip, gcount, boundary.pre/.post, dedup,
    //   format. All point filters reuse the WORD path's GtsFrame ops —
    //   the surface compiles to the same plans.
    server.createContext("/api/v0/fetch", (ex: HttpExchange) => safely(ex) {
      val q = query(ex)
      val sel = Selector.parse(q.getOrElse("selector", "~.*"))
      def tick(s: String): Long =
        // a plain (optionally negative) integer is a tick; the literal
        // 'now' is the current time (the reference's 'now' alias);
        // anything else goes through the shared ISO-8601 parse — the
        // date-only form ("2024-01-01") is digits-and-dashes too, so
        // the numeric fast path must be a strict integer match, not a
        // charset test
        if (s.matches("-?\\d+")) s.toLong
        else if (s == "now") System.currentTimeMillis() * 1000L
        else Formats.isoTick(s)
      // timespan: integer time units, or an ISO-8601 duration
      // ('P…'/'PT…' — the reference feeds it through DURATION's parse)
      def span(s: String): Long =
        if (s.matches("-?\\d+")) s.toLong
        else java.time.Duration.parse(s).toNanos / 1000L
      // stop/now/end are ALIASES for the range end (the reference
      // accepts start+end and start+now, EgressFetchHandler's param
      // handling feeding FETCH.computeTimeRange) — but giving TWO of
      // them is rejected ("Cannot specify both", EgressFetchHandler:
      // 355-369); inverted explicit bounds swap rather than 400.
      val endAliases = Seq("stop", "now", "end").flatMap(q.get)
      require(endAliases.size <= 1,
        "fetch cannot specify more than one of 'stop'/'now'/'end'")
      val endParam = endAliases.headOption
      // computeTimeRange: at least one bound is mandatory
      require(q.contains("start") || endParam.nonEmpty,
        "fetch missing either 'start' or 'stop'/'now'/'end' parameter")
      val (start, stop, tsCount) =
        (q.get("start"), endParam, q.get("timespan")) match {
          case (Some(a), Some(b), None) =>
            val (t1, t2) = (tick(a), tick(b))
            (math.min(t1, t2), math.max(t1, t2), None)
          case (Some(a), None, Some(ts)) =>
            // start + timespan: end = start + timespan − 1
            // (FETCH.computeTimeRange's start-defined branch; a
            // negative timespan is count-with-end semantics and is
            // meaningless with only a start — falls to the 400 arm
            // via the require below)
            val s0 = tick(a)
            val sp = span(ts)
            require(sp >= 0,
              "fetch cannot combine 'start' with a negative 'timespan'")
            require(sp != 0L || s0 != Long.MinValue,
              s"Cannot set timespan to 0 and start to MIN_VALUE.")
            val e0 = BigInt(s0) + BigInt(sp) - 1
            (s0, if (e0 > Long.MaxValue) Long.MaxValue else e0.toLong, None)
          case (None, Some(n), Some(ts)) =>
            val now = tick(n)
            val sp = span(ts)
            if (sp >= 0) {
              // [end − timespan + 1, end] (FETCH.computeTimeRange);
              // the +1 can also OVERFLOW (timespan 0 at end
              // MAX_VALUE) — the reference throws for that edge
              // rather than wrap to a whole-history fetch
              val s0 = BigInt(now) - BigInt(sp) + 1
              require(s0 <= Long.MaxValue,
                s"Cannot set timespan to $sp with end $now.")
              (if (s0 < Long.MinValue) Long.MinValue else s0.toLong, now, None)
            } else (Long.MinValue, now,
              Some(if (sp == Long.MinValue) Long.MaxValue else -sp))
          case (None, Some(n), None) =>
            // end alone: count is mandatory (computeTimeRange's
            // "'count' is mandatory if 'start' and 'timespan' are
            // not specified")
            require(q.contains("count"), "fetch: 'count' is mandatory " +
              "if 'start' and 'timespan' are not specified")
            (Long.MinValue, tick(n), None)
          case _ => throw new IllegalArgumentException(
            "fetch expects 'start'+('stop'|'now'|'end'), " +
              "('stop'|'now'|'end')+'timespan', 'start'+'timespan', " +
              "or ('stop'|'now'|'end')+'count'")
        }
      // a negative timespan IS a count — combining it with an explicit
      // count is contradictory and the reference rejects it
      require(q.get("count").isEmpty || tsCount.isEmpty,
        "fetch cannot combine 'count' with a negative 'timespan'")
      val countOpt = q.get("count").map(_.toLong).orElse(tsCount)
      val skip = q.getOrElse("skip", "0").toLong
      val step = q.getOrElse("step", "1").toLong
      val timestep = q.getOrElse("timestep", "1").toLong
      val sample = q.getOrElse("sample", "1.0").toDouble
      val gskip = q.getOrElse("gskip", "0").toLong
      val gcount = q.get("gcount").map(_.toLong).getOrElse(Long.MaxValue)
      val bPre = q.getOrElse("boundary.pre", "0").toInt
      val bPost = q.getOrElse("boundary.post", "0").toInt
      val all = combined().filter(sel.predicate)
      val ranged = GtsFrame(all.filter(col("ts").between(start, stop)))
      // series page over the whole directory match set, like the word
      val pagedIds =
        if (gskip > 0 || gcount != Long.MaxValue)
          Some(GtsFrame.pageIds(all.select(col("gtsid")), gskip, gcount))
        else None
      def pageBound(f: GtsFrame): GtsFrame = pagedIds
        .map(ids => GtsFrame(f.df.join(ids, Seq("gtsid"), "left_semi")))
        .getOrElse(f)
      val paged = pageBound(ranged)
      val counted =
        if (skip > 0 || step > 1 || timestep > 1 || sample < 1.0)
          paged.fetchPostFilters(skip, step, timestep, sample, countOpt)
        else countOpt match {
          case Some(n) => paged.lastN(math.min(n, Int.MaxValue.toLong).toInt)
          case None => paged
        }
      var acc = counted
      if (bPre > 0 && start > Long.MinValue)
        acc = GtsFrame(acc.df.unionByName(pageBound(
          GtsFrame(all.filter(col("ts") < start))).lastN(bPre).df))
      if (bPost > 0 && stop < Long.MaxValue)
        acc = GtsFrame(acc.df.unionByName(pageBound(
          GtsFrame(all.filter(col("ts") > stop))).firstN(bPost).df))
      // dedup is PRESENCE-based like the reference (`boolean dedup =
      // null != dedupParam`, EgressFetchHandler.java:329) — `dedup=
      // false` still dedups there, so it does here too
      val pts =
        if (q.contains("dedup")) httpDedup(acc.df) else acc.df
      val body = q.getOrElse("format", "text") match {
        case "json" => jsonDump(pts)
        case "tsv" => lines(Formats.toTsv(pts)
          .selectExpr("concat(cast(ts as string), '\t', value) as value"))
        case _ => lines(Formats.toGtsLines(pts))
      }
      (200, body)
    })
    server.createContext("/api/v0/exec", (ex: HttpExchange) => safely(ex) {
      val program = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val stack = engine().run(program)
      (200, stack.map(renderJson).mkString("[", ",", "]"))
    })
    server.createContext("/api/v0/update", (ex: HttpExchange) => safely(ex) {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      // strict per-line parse: a malformed line fails the WHOLE request
      // (the reference update handler 500s with the offending line;
      // silent drops would be invisible data loss)
      var prev: Option[(String, Map[String, String])] = None
      val parsed = Vector.newBuilder[Row]
      body.linesIterator.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).foreach { line =>
          val (p, id) =
            try LineProtocol.parseLine(prev, line, now = 0L)
            catch { case e: Exception =>
              throw new IllegalArgumentException(
                s"bad line protocol '$line': " +
                  Option(e.getMessage).getOrElse(e.toString)) }
          prev = Some(id)
          parsed += Row(p.cls, p.labels, 0L, p.ts,
            p.lat.orNull, p.lon.orNull, p.elev.orNull, p.vtype,
            p.vlong.orNull, p.vdouble.orNull, p.vbool.orNull,
            p.vstring.orNull, p.vbinary.orNull)
        }
      val rows = parsed.result()
      synchronized { updates ++= rows }
      (200, "")
    })
    server.createContext("/api/v0/delete", (ex: HttpExchange) => safely(ex) {
      val q = query(ex)
      val selStr = q.getOrElse("selector",
        throw new IllegalArgumentException("missing 'selector'"))
      val sel = Selector.parse(selStr)
      val (lo, hi) =
        if (q.get("deleteall").contains("true")) (Long.MinValue, Long.MaxValue)
        else (q.getOrElse("start",
          throw new IllegalArgumentException("missing 'start'")).toLong,
          q.getOrElse("end",
            throw new IllegalArgumentException("missing 'end'")).toLong)
      // report the touched series (StandaloneDeleteHandler:461-471),
      // then record the predicate the combined view applies
      val touched = Gts.seriesMeta(combined().filter(sel.predicate)
          .filter(col("ts").between(lo, hi)))
        .orderBy(col("class")).limit(maxRows).collect()
        .map(r => r.getString(1) +
          Wire.labels(r.getAs[Map[String, String]](2)))
      synchronized { deletes += ((sel, lo, hi)) }
      (200, touched.mkString("", "\r\n", if (touched.isEmpty) "" else "\r\n"))
    })
    server.createContext("/api/v0/meta", (ex: HttpExchange) => safely(ex) {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      body.linesIterator.filter(_.nonEmpty).foreach { line =>
        val (cls, labels, attrs) = parseMetaLine(line)
        synchronized {
          val prev = attrOverlay.getOrElse((cls, labels), Map.empty)
          // fn/META.java delta semantics: empty value removes the key
          val merged = (prev ++ attrs).filter(_._2.nonEmpty)
          attrOverlay((cls, labels)) = merged
        }
      }
      (200, "")
    })
    server.createContext("/api/v0/find", (ex: HttpExchange) => safely(ex) {
      val q = query(ex)
      val sel = Selector.parse(q.getOrElse("selector", "~.*"))
      def attrMatch(attrs: Map[String, String]): Boolean =
        sel.attrExact.forall { case (k, v) => attrs.get(k).contains(v) } &&
          sel.attrRegex.forall { case (k, v) =>
            attrs.get(k).exists(_.matches("^(?:" + v + ")$")) }
      val body =
        if (sel.attrExact.nonEmpty || sel.attrRegex.nonEmpty) {
          // a non-empty attribute block can only match series that HAVE
          // overlay attributes, so resolve overlay-first (bounded, in
          // memory) and confirm liveness in Spark — filtering after a
          // limit would silently drop attribute matches past maxRows
          val cands = synchronized(attrOverlay.toVector).filter {
            case ((cls, labels), attrs) =>
              attrMatch(attrs) && selMatches(sel, cls, labels)
          }
          if (cands.isEmpty) ""
          else {
            val candClasses = cands.map(_._1._1).distinct
            val live = Gts.seriesMeta(combined().filter(sel.predicate)
                .filter(col("class").isin(candClasses: _*)))
              .limit(maxRows).collect()
              .map(r => (r.getString(1), r.getAs[Map[String, String]](2)))
              .toSet
            cands.filter(c => live(c._1))
              .sortBy(_._1._1).take(maxRows)
              .map { case ((cls, labels), attrs) =>
                cls + Wire.labels(labels) + Wire.labels(attrs) }
              .mkString("\n")
          }
        } else {
          Gts.seriesMeta(combined()).filter(sel.predicate)
            .orderBy(col("class")).limit(maxRows).collect()
            .map { r =>
              val cls = r.getString(1)
              val labels = r.getAs[Map[String, String]](2)
              val attrs = synchronized(
                attrOverlay.getOrElse((cls, labels), Map.empty))
              cls + Wire.labels(labels) + Wire.labels(attrs)
            }.mkString("\n")
        }
      (200, body)
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) {
    server.stop(0)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ =>
    }
  }

  private def lines(df: DataFrame): String =
    df.limit(maxRows).collect().map(_.getString(0)).mkString("\n")

  /** The reference fetch `format=json` shape
    * (EgressFetchHandler.jsonDump:1611-1815, pinned by the reference's
    * own EgressFetchHandlerTest fixtures — r13): a JSON ARRAY of
    * series objects `{"c","l","a","i","la","v":[[ts(,lat,lon)(,elev),
    * value],…]}` with VARIABLE-ARITY point tuples (lat/lon only when
    * located, elev only when present), attributes from the meta
    * overlay, `la` the directory lastactivity (0 when untracked at
    * this surface, the Metadata default) and `i` the series id under
    * a request mask — the reference masks with Math.random()
    * (:1630); a seeded mask keeps responses replayable. */
  private def jsonDump(pts: DataFrame): String = {
    import graft.model.GtsType
    def js(s: String) = "\"" + StackJson.escape(s) + "\""
    val rows = pts.limit(maxRows).select(col("class"), col("labels"),
      col("gtsid"), col("ts"), col("lat"), col("lon"), col("elev"),
      col("vtype"), col("vlong"), col("vdouble"), col("vbool"),
      col("vstring"), col("vbinary")).collect()
    val mask = new java.util.Random(42L).nextLong() & Long.MaxValue
    val series = rows
      .groupBy(r => (r.getString(0), r.getMap[String, String](1).toMap,
        r.getLong(2)))
      .toSeq
      .sortBy { case ((c, l, _), _) => (c, l.toSeq.sorted.mkString(",")) }
    val sb = new StringBuilder("[")
    var firstGts = true
    series.foreach { case ((cls, labels, gtsid), srows) =>
      if (srows.nonEmpty) {
        if (!firstGts) sb.append("]},")
        firstGts = false
        sb.append("{\"c\":").append(js(cls)).append(",\"l\":{")
        sb.append(labels.toSeq.sorted.map { case (k, v) =>
          js(k) + ":" + js(v) }.mkString(","))
        sb.append("},\"a\":{")
        sb.append(attrOverlay.getOrElse((cls, labels), Map.empty)
          .toSeq.sorted.map { case (k, v) => js(k) + ":" + js(v) }
          .mkString(","))
        sb.append("},\"i\":\"").append(gtsid & mask)
        sb.append("\",\"la\":0,\"v\":[")
        var firstPt = true
        srows.sortBy(_.getLong(3)).foreach { r =>
          if (!firstPt) sb.append(",")
          firstPt = false
          sb.append("[").append(r.getLong(3))
          if (!r.isNullAt(4) && !r.isNullAt(5))
            sb.append(",").append(r.getDouble(4))
              .append(",").append(r.getDouble(5))
          if (!r.isNullAt(6)) sb.append(",").append(r.getLong(6))
          sb.append(",")
          sb.append(r.getByte(7) match {
            case GtsType.LONG => r.getLong(8).toString
            case GtsType.DOUBLE => r.getDouble(9).toString
            case GtsType.BOOLEAN => if (r.getBoolean(10)) "true" else "false"
            case GtsType.BINARY => js(new String(r.getAs[Array[Byte]](12),
              java.nio.charset.StandardCharsets.ISO_8859_1))
            case _ => js(r.getString(11))
          })
          sb.append("]")
        }
      }
    }
    if (!firstGts) sb.append("]}")
    sb.append("]")
    sb.toString
  }

  /** Stack value → JSON (frames as row arrays, scalars as literals). */
  private def renderJson(v: Any): String = StackJson.render(v, maxRows)

  private def query(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = if (i < 0) kv else kv.substring(0, i)
      val v = if (i < 0) "" else java.net.URLDecoder.decode(kv.substring(i + 1), UTF_8)
      k -> v
    }.toMap
  }

  private def safely(ex: HttpExchange)(f: => (Int, String)): Unit = {
    val (code, body) =
      try f
      catch { case e: Exception => (400, s"error: ${e.getMessage}") }
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(code, bytes.length)
    val os: OutputStream = ex.getResponseBody
    os.write(bytes); os.close()
  }
}
