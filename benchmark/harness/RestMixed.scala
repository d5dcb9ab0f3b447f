package graftbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.{WarpScriptEngine, WarpScriptTokenizer}
import graft.sources.LineProtocol
import graft.surface.{RestFacade, StackJson}

/** rest-mixed: two HTTP clients in a closed loop against a RestFacade
  * over sf0.01-shaped events, issuing a seeded order of a fixed number of
  * four request kinds. Time goes to script dispatch, Catalyst planning
  * and the surface, with little execution; updates grow the session
  * overlay that every later fetch unions in. */
object RestMixed {
  import Data.{DAY, LB}

  val Kinds: Seq[String] = Seq("scalar", "frame", "fetch", "update")
  val Clients = 2
  val WarmupPerKind = 8
  /** Requests of each kind in one steady round. */
  val PerRound = 5
  val PointsPerUpdate = 100

  /** One request: what to send and how to check the answer. */
  final case class Req(kind: String, id: Int, program: String = "", query: String = "",
                       body: String = "", expect: String = "")

  private val json = new ObjectMapper()

  /** The requests of one phase: `perKind` of each kind in a seeded order.
    * Parameters are seeded too; `id` keeps update series distinct. */
  def schedule(rnd: java.util.Random, perKind: Int, firstId: Int): Seq[Req] = {
    val users = Data.Sf001.users.toInt
    val kinds = scala.util.Random.javaRandomToRandom(rnd).shuffle(Kinds.flatMap(k => Seq.fill(perKind)(k)))
    kinds.zipWithIndex.map { case (kind, i) =>
      val id = firstId + i
      val cls = s"events.${Data.Types(rnd.nextInt(Data.Types.size))}"
      val user = rnd.nextInt(users)
      val lb = LB - rnd.nextInt(4) * DAY
      kind match {
        case "scalar" =>
          val n = 150 + rnd.nextInt(100)
          val sumsq = n.toLong * (n + 1) * (2 * n + 1) / 6
          Req(kind, id, program =
            s"""<% DUP * %> 'sq' STORE 0 'acc' STORE
               |1 $n <% $$sq EVAL $$acc + 'acc' STORE %> FOR
               |$$acc DUP TOSTRING SIZE""".stripMargin,
            expect = s"[${sumsq.toString.length},$sumsq]")
        case "frame" =>
          Req(kind, id, program =
            s"[ [ '' '$cls' { 'user' '$user' } $lb ${10 * DAY} ] FETCH bucketizer.sum $lb 1 d 0 ] BUCKETIZE UNBUCKETIZE")
        case "fetch" =>
          Req(kind, id, query = s"selector=${enc(s"$cls{user=$user}")}&start=${lb - 7 * DAY}&stop=$lb")
        case "update" =>
          val start = Data.T0 + rnd.nextInt(29).toLong * DAY
          val lines = Data.seriesLines("bench.update", Seq("req" -> id.toString), start, 60000000L,
            Seq.fill(PointsPerUpdate)(rnd.nextInt(1000).toLong))
          Req(kind, id, body = lines.mkString("\n"),
            query = s"selector=${enc(s"bench.update{req=$id}")}&start=$start&stop=${start + DAY}")
      }
    }
  }

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  private def http(url: String, post: Option[String]): (Int, String) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    post.foreach { b =>
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.getOutputStream.write(b.getBytes(UTF_8))
    }
    val code = c.getResponseCode
    val is = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, new String(is.readAllBytes(), UTF_8)) finally is.close()
  }

  /** Send one request; returns the rows its answer held, or None if the
    * answer was wrong. Updates include the fetch that must see them. */
  def send(port: Int, q: Req): Option[Long] = {
    val api = s"http://127.0.0.1:$port/api/v0"
    def fetchLines(query: String): Option[Seq[String]] = http(s"$api/fetch?$query", None) match {
      case (200, body) =>
        val lines = body.split("\n").toSeq.filter(_.nonEmpty)
        // each line must read back as a point
        if (lines.forall(l => scala.util.Try(LineProtocol.parseLine(None, l, 0L)).isSuccess)) Some(lines)
        else None
      case _ => None
    }
    q.kind match {
      case "scalar" =>
        val (code, body) = http(s"$api/exec", Some(q.program))
        if (code == 200 && body == q.expect) Some(1L) else None
      case "frame" =>
        val (code, body) = http(s"$api/exec", Some(q.program))
        val tree = scala.util.Try(json.readTree(body)).toOption
        if (code == 200 && tree.exists(_.isArray)) Some(tree.get.get(0).size.toLong) else None
      case "fetch" => fetchLines(q.query).map(_.size.toLong)
      case "update" =>
        val (code, _) = http(s"$api/update", Some(q.body))
        if (code != 200) None
        else fetchLines(q.query).filter(_.size == PointsPerUpdate).map(_.size.toLong)
    }
  }

  /** Run `reqs` with `Clients` closed-loop clients; returns the wall
    * seconds. `onDone(req, ms, rows)` sees every answer, rows None when
    * wrong or failed. */
  def drive(port: Int, reqs: Seq[Req])(onDone: (Req, Double, Option[Long]) => Unit): Double = {
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val threads = (1 to Clients).map { c =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size) {
          val q = reqs(i)
          val t1 = System.nanoTime()
          val rows = try send(port, q) catch { case e: Exception =>
            System.err.println(s"[bench] ${q.kind} ${q.id} failed: $e"); None }
          onDone(q, Common.ms(t1), rows)
          i = next.getAndIncrement()
        }
      }, s"client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    Common.ms(t0) / 1e3
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val persisted0 = Tracer.persistedRdds(spark)

    // the input is written before any timing; set-up is the engine's
    // own: load the events table, plan a first query over it and start
    // a facade; the last facade serves
    val dir = ctx.dir("events")
    Data.writeEvents(spark, dir, Data.Sf001)
    var base: DataFrame = null
    var facade: RestFacade = null
    var port = 0
    def engine() = new WarpScriptEngine(
      fetch = (cls, labels, start, stop) => GtsFrame(base).select(cls, labels).timeclip(start, stop),
      nowTs = LB, session = Some(spark))
    def startFacade(): Unit = {
      facade = new RestFacade(GtsFrame(base), () => engine())
      port = facade.start()
    }
    def restart(): Unit = { facade.stop(); startFacade() }
    (1 to Common.SetupReps).foreach { _ =>
      if (facade != null) facade.stop()
      val t0 = System.nanoTime()
      base = Gts.fromEvents(spark, dir.getAbsolutePath)
      base.queryExecution.executedPlan
      startFacade()
      r.setupS += Common.ms(t0) / 1e3
    }

    // rounds of the same request mix, 4 at least so that every kind
    // has 20 steady samples
    val rounds = math.max(4, ctx.seconds * 2 / 5)
    val rnd = new java.util.Random(ctx.seed)
    val warm = schedule(rnd, WarmupPerKind, 0)
    val steady = (0 until rounds).map(i =>
      schedule(rnd, PerRound, warm.size + i * PerRound * Kinds.size))

    def phase(reqs: Seq[Req], latencies: Boolean): Double =
      drive(port, reqs) { (q, ms, got) =>
        r.synchronized {
          if (latencies) r.sample(q.kind, ms)
          r.check(got.isDefined, s"${q.kind} request ${q.id} answered wrongly")
        }
      }

    r.coldS = phase(warm, latencies = false)
    r.roundsS ++= steady.map(phase(_, latencies = true))
    r.unitsPerRound = PerRound * Kinds.size

    try {
      if (ctx.trace) traced(ctx, warm, steady, persisted0, () => restart(), () => port, engine)
    } finally facade.stop()
    r.retainedHeapMb = Common.heapAfterGcMb()
  }

  private def traced(ctx: Ctx, warm: Seq[Req], rounds: Seq[Seq[Req]], persisted0: Int,
                     restart: () => Unit, port: () => Int, engine: () => WarpScriptEngine): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    // a fresh facade, so the traced phase starts from the same empty
    // overlay as the untraced one
    restart()
    val t = new Tracer(spark, enabled = true)
    drive(port(), warm)((_, _, _) => ())
    t.takeExecutions()
    val rows = new AtomicLong()
    val from = System.currentTimeMillis()
    val wall = rounds.map(drive(port(), _)((_, _, got) => got.foreach(rows.addAndGet))).sum
    val to = System.currentTimeMillis()
    Layers.operators(r, t, from, to, ctx.cores, rows.get.toDouble)
    Layers.plans(r, t.takeExecutions().map(Tracer.phasesMs), Map.empty)

    // the script layer, in process, on the same scalar and frame scripts;
    // /exec latency of the scalar ones, one request at a time
    val e = engine()
    val steady = rounds.flatten
    val scripts = steady.filter(q => q.kind == "scalar" || q.kind == "frame").take(40)
    scripts.foreach { q =>
      t.span("script", "tokenize")(WarpScriptTokenizer.tokenize(q.program))
      val stack = t.span("script", "run")(e.run(q.program))
      t.span("surface", s"render-${q.kind}")(stack.map(StackJson.render(_, 10000)))
    }
    Layers.put(r, "script.tokenize_ms", Common.median(t.spanMs("script", "tokenize")))
    Layers.put(r, "script.run_ms", Common.median(t.spanMs("script", "run")))
    val scalars = scripts.filter(_.kind == "scalar")
    val inProcess = scalars.map { q =>
      val (_, ms) = Common.timed(e.run(q.program).map(StackJson.render(_, 10000)))
      ms
    }
    val overHttp = scalars.map(q => Common.timed(send(port(), q))._2)
    Layers.put(r, "surface.exec_overhead_ms", Common.median(overHttp) - Common.median(inProcess))

    // plan shape and a persistence probe per request kind: one request of
    // each kind alone, its executions captured
    t.takeExecutions()
    val shapes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    Kinds.foreach { k =>
      val q = steady.find(_.kind == k).get
      val before = Tracer.persistedRdds(spark)
      send(port(), q)
      val counts = t.takeExecutions().map(Tracer.planCounts)
      Tracer.PlanKeys.foreach(key => shapes(key) += counts.map(_.getOrElse(key, 0.0)).sum)
      r.info += f"probe $k: executions=${counts.size} " +
        Tracer.PlanKeys.map(key => s"$key=${counts.map(_.getOrElse(key, 0.0)).sum.toLong}").mkString(" ") +
        f" persisted_rdds_delta=${Tracer.persistedRdds(spark) - before} heap_after_gc_mb=${Common.heapAfterGcMb()}%.1f"
    }
    Tracer.PlanKeys.foreach(k => Layers.put(r, s"plans.$k", shapes(k)))
    Layers.microbenchmarks(r, ctx.seed)
    Layers.jvm(r, spark, persisted0)
    t.close()

    // untraced again on a fresh facade, so the overhead compares against
    // phases on both sides of the traced one and the JVM's warming cancels
    restart()
    drive(port(), warm)((_, _, _) => ())
    val after = rounds.map(drive(port(), _)((_, _, _) => ())).sum
    Layers.put(r, "trace.overhead_ms", (wall - (r.roundsS.sum + after) / 2) * 1e3)
  }
}
