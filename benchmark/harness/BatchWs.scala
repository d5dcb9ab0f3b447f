package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.{WarpScriptEngine, WarpScriptTokenizer}

/** batch-ws: one client, closed loop, repeated passes over analytic
  * WarpScript programs on sf0.1-shaped events. Each program's full
  * result goes to the noop sink. Time goes to operators, kernels and
  * plans; script interpretation is a small share. */
object BatchWs {
  import Data.{DAY, LB}

  val Variants = 4
  private val Halves = Seq("~.*[0-4]", "~.*[5-9]", "~.*[02468]", "~.*[13579]")
  private val Fifths = Seq("~.*[01]", "~.*[23]", "~.*[45]", "~.*[67]")

  /** The programs at variant v: v shifts the window back v days and
    * picks one of four equal-sized class or user subsets. */
  def program(name: String, v: Int): String = {
    val lb = LB - v * DAY
    val cls = s"events.${Data.Types(v)}"
    val half = Halves(v)
    val fifth = Fifths(v)
    def fetch(c: String, labels: String, span: Long) = s"[ '' '$c' { $labels } $lb $span ] FETCH"
    val all = "~events\\..*"
    name match {
      case "fetch_bucketize_reduce" => // g02_bucketize_sum's BUCKETIZE, then REDUCE
        s"""[ ${fetch(all, s"'user' '$half'", 10 * DAY)} bucketizer.sum $lb 1 h 0 ] BUCKETIZE 'b' STORE
           |[ $$b [ 'user' ] reducer.sum ] REDUCE""".stripMargin
      case "map_window" =>
        s"[ ${fetch(cls, "", 10 * DAY)} mapper.max 0 6 h - 0 0 ] MAP"
      case "fill_stl" => // the w54_ws_stl shape
        s"""[ ${fetch(cls, s"'user' '$fifth'", 10 * DAY)} bucketizer.sum $lb 1 h 240 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE
           |{ 'PERIOD' 24 'BANDWIDTH_S' -1 'BANDWIDTH_L' 1 'BANDWIDTH_T' 1 'SPEED' 0 } STL""".stripMargin
      case "fill_lowess" => // the w10_ws_lowess shape
        s"""[ ${fetch(cls, s"'user' '$fifth'", 10 * DAY)} bucketizer.sum $lb 1 h 240 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE
           |7 LOWESS""".stripMargin
    }
  }

  val Names: Seq[String] = Seq("fetch_bucketize_reduce", "map_window", "fill_stl", "fill_lowess")

  /** Load the expected checksums: `name/variant rows keyhash floatsum`. */
  def readExpected(f: File): Map[String, (Long, Long, Double)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, rows, h, v) = l.split("\\s+")
      k -> (rows.toLong, h.toLong, v.toDouble)
    }.toMap
    finally src.close()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val persisted0 = Tracer.persistedRdds(spark)

    // the input is written before any timing; set-up is the engine's
    // own: load the events table and plan a first query over it
    val dir = ctx.dir("events")
    Data.writeEvents(spark, dir, Data.Sf01)
    var base: DataFrame = null
    (1 to Common.SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      base = Gts.fromEvents(spark, dir.getAbsolutePath)
      base.queryExecution.executedPlan
      r.setupS += Common.ms(t0) / 1e3
    }
    val engine = new WarpScriptEngine(
      fetch = (cls, labels, start, stop) => GtsFrame(base).select(cls, labels).timeclip(start, stop),
      nowTs = LB, session = Some(spark))

    if (ctx.regen) {
      for (n <- Names; v <- 0 until Variants) {
        val (rows, h, s) = Common.checksum(engine.runToFrame(program(n, v)))
        r.info += s"expected $n/$v $rows $h $s"
      }
      return
    }

    val rnd = new java.util.Random(ctx.seed)
    val chosen = Names.map(n => n -> rnd.nextInt(Variants))
    val progs = chosen.map { case (n, v) => n -> program(n, v) }
    r.info += "variants: " + chosen.map { case (n, v) => s"$n/$v" }.mkString(" ")

    /** Run every program once; `action` consumes each full result. */
    def pass(tracer: Tracer, latencies: Boolean)(action: (String, DataFrame) => Unit): Double = {
      val t0 = System.nanoTime()
      progs.foreach { case (name, text) =>
        val t1 = System.nanoTime()
        spark.sparkContext.setJobGroup(name, name)
        val ok = try {
          if (tracer.enabled) tracer.span("script", "tokenize")(WarpScriptTokenizer.tokenize(text))
          val stack = tracer.span("script", "run")(engine.run(text))
          tracer.span("operators", "action")(action(name, engine.frameOf(stack.head)))
          true
        } catch { case e: Exception =>
          System.err.println(s"[bench] $name failed: $e"); false
        } finally spark.sparkContext.clearJobGroup()
        if (latencies) r.sample(name, Common.ms(t1))
        r.check(ok, s"$name raised")
      }
      Common.ms(t0) / 1e3
    }
    val noop: (String, DataFrame) => Unit = (_, df) => Common.noop(df)

    // the cold pass checks every result against the committed checksums
    val expected = ctx.expected.map(readExpected).getOrElse(Map.empty)
    val variant = chosen.toMap
    val resultRows = mutable.Map.empty[String, Long]
    val off = new Tracer(spark, enabled = false)
    r.coldS = pass(off, latencies = false) { (n, df) =>
      val (rows, h, s) = Common.checksum(df)
      resultRows(n) = rows
      val key = s"$n/${variant(n)}"
      val ok = expected.get(key).exists { case (er, eh, es) =>
        er == rows && eh == h && Common.sameSum(es, s) }
      r.check(ok, s"$key: got rows=$rows hash=$h sum=$s, expected ${expected.get(key)}")
    }
    val passes = math.max(1, ctx.seconds / 10)
    val walls = (1 to passes).map(_ => pass(off, latencies = true)(noop))
    r.roundsS ++= walls
    r.unitsPerRound = progs.size.toDouble

    if (ctx.trace) traced(ctx, engine, progs, walls, resultRows.toMap, persisted0,
      t => pass(t, latencies = false)(noop))
    r.retainedHeapMb = Common.heapAfterGcMb()
  }

  private def traced(ctx: Ctx, engine: WarpScriptEngine, progs: Seq[(String, String)],
                     untraced: Seq[Double], resultRows: Map[String, Long], persisted0: Int,
                     pass: Tracer => Double): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val t = new Tracer(spark, enabled = true)
    val from = System.currentTimeMillis()
    val walls = untraced.indices.map(_ => pass(t))
    val to = System.currentTimeMillis()
    Layers.operators(r, t, from, to, ctx.cores,
      resultRows.values.sum.toDouble * walls.size)
    Layers.put(r, "script.tokenize_ms", Common.median(t.spanMs("script", "tokenize")))
    Layers.put(r, "script.run_ms", Common.median(t.spanMs("script", "run")))

    // plan shape, planning phases and a persistence probe per program
    t.takeExecutions()
    val phases = mutable.ArrayBuffer.empty[Map[String, Double]]
    val shapes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    progs.foreach { case (name, text) =>
      val before = Tracer.persistedRdds(spark)
      Common.noop(engine.runToFrame(text))
      val qes = t.takeExecutions()
      val counts = qes.map(Tracer.planCounts).foldLeft(Map.empty[String, Double]) { (a, m) =>
        m.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v) } }
      counts.foreach { case (k, v) => shapes(k) += v }
      phases ++= qes.map(Tracer.phasesMs)
      val leak = Tracer.persistedRdds(spark) - before
      r.info += f"probe $name: ${Tracer.PlanKeys.map(k => s"$k=${counts.getOrElse(k, 0.0).toLong}").mkString(" ")} " +
        f"persisted_rdds_delta=$leak heap_after_gc_mb=${Common.heapAfterGcMb()}%.1f"
    }
    Layers.plans(r, phases.toSeq, shapes.toMap)

    // the kernels' bound on pass_s: kernel time over executor CPU of the
    // programs that run them (each output series is one kernel call)
    t.drain()
    val cpuUs = Seq("fill_stl", "fill_lowess").map(t.stages.cpuByGroup).sum * 1e3
    Layers.microbenchmarks(r, ctx.seed)
    val kernelUs = r.layers("kernels.stl_us")._1 * resultRows("fill_stl") / 480.0 +
      r.layers("kernels.lowess_us")._1 * resultRows("fill_lowess") / 240.0
    // cpuByGroup holds the traced passes only: the probe runs above are
    // in no job group
    if (cpuUs > 0) Layers.put(r, "kernels.share", kernelUs * walls.size / cpuUs)
    Layers.jvm(r, spark, persisted0)
    t.close()

    // untraced again, so the overhead compares against phases on both
    // sides of the traced one and the JVM's warming cancels
    val after = untraced.indices.map(_ => pass(new Tracer(spark, enabled = false)))
    Layers.put(r, "trace.overhead_ms",
      (walls.sum - (untraced.sum + after.sum) / 2) * 1e3 / walls.size)
  }
}
