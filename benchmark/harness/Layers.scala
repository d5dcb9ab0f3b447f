package graftbench

import graft.kernels.StlKernel
import graft.script.WarpScriptEngine
import graft.sources.LineProtocol

/** The per-layer metrics of a traced run. Every traced run reports every
  * name, so that runs of different workloads compare key by key; a layer
  * a workload does not reach reads 0 and is named in an info line. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "script.tokenize_ms" -> "ms", "script.run_ms" -> "ms",
    "script.word_us" -> "us", "script.words" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms", "plans.codegen_compiles" -> "count",
    "plans.codegen_compile_ms" -> "ms", "plans.exchanges" -> "count",
    "plans.scans" -> "count", "plans.inmemory_relations" -> "count",
    "plans.codegen_stages" -> "count", "plans.udf_nodes" -> "count",
    "plans.nodes" -> "count",
    "operators.jobs" -> "count", "operators.stages" -> "count",
    "operators.tasks" -> "count", "operators.stage_wall_ms" -> "ms",
    "operators.executor_run_ms" -> "ms", "operators.executor_cpu_ms" -> "ms",
    "operators.gc_ms" -> "ms", "operators.shuffle_write_bytes" -> "bytes",
    "operators.shuffle_read_bytes" -> "bytes", "operators.spill_bytes" -> "bytes",
    "operators.result_rows" -> "count", "operators.cpu_busy_ratio" -> "ratio",
    "operators.driver_gap_ms" -> "ms",
    "kernels.stl_us" -> "us", "kernels.lowess_us" -> "us",
    "kernels.esd_us" -> "us", "kernels.share" -> "ratio",
    "sources.parse_lines_per_s" -> "1/s",
    "surface.exec_overhead_ms" -> "ms", "surface.persisted_rdds" -> "count",
    "streaming.batches" -> "count", "streaming.rows_per_s" -> "1/s",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "jvm.jit_ms" -> "ms", "jvm.gc_ms" -> "ms",
    "trace.overhead_ms" -> "ms")

  private val unitOf = Units.toMap

  def put(r: Report, name: String, v: Double): Unit = {
    require(unitOf.contains(name), s"unknown layer metric $name")
    r.layers(name) = (v, unitOf(name))
  }

  /** Set every name not measured on this workload to 0, in list order,
    * and say which ones those are. */
  def finish(r: Report): Unit = {
    val missing = Units.map(_._1).filterNot(r.layers.contains)
    if (missing.nonEmpty) r.info += s"layers not on this workload's path (reported as 0): ${missing.mkString(" ")}"
    val measured = r.layers.toMap
    r.layers.clear()
    Units.foreach { case (n, u) => r.layers(n) = (measured.get(n).map(_._1).getOrElse(0.0), u) }
  }

  /** Totals of the traced phase from Spark's events, plus plan and JVM
    * counters that every workload has. */
  def operators(r: Report, t: Tracer, fromMs: Long, toMs: Long, cores: Int,
                resultRows: Double): Unit = {
    t.drain()
    val s = t.stages
    s.synchronized {
      put(r, "operators.jobs", s.jobs.toDouble)
      put(r, "operators.stages", s.stages.toDouble)
      put(r, "operators.tasks", s.tasks.toDouble)
      put(r, "operators.stage_wall_ms", s.stageWallMs)
      put(r, "operators.executor_run_ms", s.runMs)
      put(r, "operators.executor_cpu_ms", s.cpuMs)
      put(r, "operators.gc_ms", s.gcMs)
      put(r, "operators.shuffle_write_bytes", s.shuffleWrite.toDouble)
      put(r, "operators.shuffle_read_bytes", s.shuffleRead.toDouble)
      put(r, "operators.spill_bytes", s.spill.toDouble)
      val wall = (toMs - fromMs).toDouble
      put(r, "operators.cpu_busy_ratio", if (wall > 0) s.cpuMs / (wall * cores) else 0.0)
    }
    put(r, "operators.driver_gap_ms", s.uncoveredMs(fromMs, toMs))
    put(r, "operators.result_rows", resultRows)
  }

  /** Planning phases (median per execution) and summed plan shapes. */
  def plans(r: Report, phases: Seq[Map[String, Double]], shapes: Map[String, Double]): Unit = {
    Seq("analysis", "optimization", "planning").foreach { p =>
      val xs = phases.flatMap(_.get(p))
      if (xs.nonEmpty) put(r, s"plans.${p}_ms", Common.median(xs))
    }
    Tracer.PlanKeys.foreach(k => shapes.get(k).foreach(v => put(r, s"plans.$k", v)))
  }

  /** Counters that accumulate over the whole JVM, cold phase included. */
  def jvm(r: Report, spark: org.apache.spark.sql.SparkSession, persistedAtStart: Int): Unit = {
    val (compiles, compileMs) = Tracer.codegen()
    put(r, "plans.codegen_compiles", compiles.toDouble)
    put(r, "plans.codegen_compile_ms", compileMs)
    put(r, "jvm.jit_ms", Tracer.jitMs())
    put(r, "jvm.gc_ms", Tracer.gcMs())
    put(r, "surface.persisted_rdds", (Tracer.persistedRdds(spark) - persistedAtStart).toDouble)
  }

  /** Median over rounds of per-item time, after a warm-up round. */
  private def perItemUs(rounds: Int, items: Int)(f: Int => Unit): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < items) { f(i); i += 1 }
      (System.nanoTime() - t0) / 1e3 / items
    }
    round()
    Common.median((1 to rounds).map(_ => round()))
  }

  /** Spark-free microbenchmarks of the script, kernels and sources
    * layers, on fixed shapes (the hourly 240-bucket grid batch-ws fills)
    * and on the first four files of a stream-ingest backlog. */
  def microbenchmarks(r: Report, seed: Long): Unit = {
    val ingestLines = StreamIngest.backlog(seed, 0, 4).flatten
    val n = 240
    val rnd = new java.util.Random(7L)
    val series = Array.fill(64)(Array.fill(n)(rnd.nextInt(561).toDouble))
    val ticks = Array.tabulate(n)(i => Data.LB - (n - 1 - i) * Data.HOUR)
    def sgts(i: Int) = StlKernel.ofPoints(ticks, series(i % series.length).clone(),
      Some((Data.LB, Data.HOUR, n.toLong)))
    // the STL and LOWESS words' resolved parameters for the batch-ws programs
    put(r, "kernels.stl_us", perItemUs(5, 200)(i =>
      StlKernel.stl(sgts(i), 24, 2, 0, -1, 1, 0, 1, 1, 0, 1, 1, 0, 0, 2, 0)))
    put(r, "kernels.lowess_us", perItemUs(5, 200)(i => StlKernel.rlowess(sgts(i), 7, 0, 0, 1)))
    val daily = Array.tabulate(20)(i => Data.LB - (19 - i) * Data.DAY)
    put(r, "kernels.esd_us", perItemUs(5, 2000)(i =>
      StlKernel.esdTest(daily, series(i % series.length).take(20), 20, 3, false, 0.05)))

    val t = Common.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val k = LineProtocol.parseBatch(ingestLines.iterator, 0L).size
      require(k == ingestLines.size, s"parseBatch kept $k of ${ingestLines.size} lines")
      (System.nanoTime() - t0) / 1e9
    })
    put(r, "sources.parse_lines_per_s", ingestLines.size / t)

    // a scalar loop whose dynamic word count is known: the loop body
    // `$acc + 'acc' STORE` runs 4 words per iteration, FOR pushes the index
    val iters = 20000
    val loop = s"0 'acc' STORE 1 $iters <% $$acc + 'acc' STORE %> FOR $$acc"
    val words = 4L * iters + 8
    val engine = new WarpScriptEngine(fetch = (_, _, _, _) =>
      throw new UnsupportedOperationException("no FETCH in the word loop"))
    require(engine.run(loop).head == iters.toLong * (iters + 1) / 2, "word loop result")
    put(r, "script.word_us", perItemUs(5, 1)(_ => engine.run(loop)) / words)
    put(r, "script.words", words.toDouble)
  }
}
