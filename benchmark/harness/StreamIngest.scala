package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.streaming.{StreamingIngest => Ingest}

/** stream-ingest: drains a fixed backlog of line-protocol files into a
  * parquet sink with Trigger.AvailableNow and a fixed files-per-trigger,
  * so every drain runs the same number of micro-batches. The first drain
  * is the cold one; later drains are steady. Time goes to sources
  * parsing, canonical rehashing and the per-micro-batch fixed cost. */
object StreamIngest {
  val FilesPerDrain = 40
  /** The cold drain is smaller: it measures first-query cost, not volume. */
  val ColdFiles = 4
  val FilesPerTrigger = 2
  val SeriesPerFile = 10
  val PointsPerSeries = 50

  /** The lines of each file of drain `drain`; `=` continuation lines
    * follow each series' first line. Seeded by (seed, drain). */
  def backlog(seed: Long, drain: Int, files: Int = FilesPerDrain): Seq[Seq[String]] = {
    val rnd = new java.util.Random(seed * 1000003L + drain)
    (0 until files).map { f =>
      (0 until SeriesPerFile).flatMap { s =>
        val cls = s"ingest.${Data.Types(rnd.nextInt(Data.Types.size))}"
        val labels = Seq("user" -> rnd.nextInt(1500).toString, "file" -> s"$drain-$f-$s")
        val start = Data.T0 + rnd.nextInt(30 * 24).toLong * Data.HOUR
        Data.seriesLines(cls, labels, start, 60000000L,
          Seq.fill(PointsPerSeries)(rnd.nextInt(100000).toLong))
      }
    }
  }

  /** Collects the engine's own micro-batch progress events. */
  private final class Progress extends StreamingQueryListener {
    val events = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(events += e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def take(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = synchronized {
      val r = events.map(_.progress).filter(_.numInputRows > 0).toSeq; events.clear(); r
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val persisted0 = Tracer.persistedRdds(spark)
    val steadyDrains = math.max(1, ctx.seconds / 10)
    val drains = 1 + steadyDrains * (if (ctx.trace) 3 else 1)
    def files(d: Int) = if (d == 0) ColdFiles else FilesPerDrain
    def lines(d: Int) = files(d) * SeriesPerFile * PointsPerSeries

    // the backlog is written before any timing
    val root = ctx.dir("stream")
    (0 until drains).foreach { d =>
      val in = new File(root, s"in-$d"); in.mkdirs()
      backlog(ctx.seed, d, files(d)).zipWithIndex.foreach { case (lines, f) =>
        Data.writeLines(new File(in, f"part-$f%03d.txt"), lines)
      }
    }

    /** Start the ingest query on `in-<name>` and wait until it has
      * drained it. */
    def ingest(name: String) = {
      val lines = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toLong)
        .text(new File(root, s"in-$name").getAbsolutePath)
      val q = Ingest.parseStream(lines, 0L).writeStream
        .format("parquet")
        .option("path", new File(root, s"out-$name").getAbsolutePath)
        .option("checkpointLocation", new File(root, s"ck-$name").getAbsolutePath)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

    // set-up is the engine's own: start an ingest query and let it find
    // its (empty) input drained
    (1 to Common.SetupReps).foreach { i =>
      new File(root, s"in-setup-$i").mkdirs()
      val t0 = System.nanoTime()
      ingest(s"setup-$i")
      r.setupS += Common.ms(t0) / 1e3
    }

    val progress = new Progress
    spark.streams.addListener(progress)

    /** One drain; returns (wall s, progress of its micro-batches). */
    def drain(d: Int, t: Tracer): (Double, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
      val t0 = System.nanoTime()
      t.span("streaming", "drain")(ingest(d.toString))
      val wall = Common.ms(t0) / 1e3
      // the listener bus delivers progress asynchronously
      val deadline = System.nanoTime() + 10000000000L
      var got = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
      val want = files(d) / FilesPerTrigger
      while (got.size < want && System.nanoTime() < deadline) {
        Thread.sleep(10); got ++= progress.take()
      }
      (wall, got)
    }

    def checkSink(d: Int): Unit = {
      val rows = spark.read.parquet(new File(root, s"out-$d").getAbsolutePath).count()
      r.check(rows == lines(d), s"drain $d: sink holds $rows rows, expected ${lines(d)}")
    }

    val off = new Tracer(spark, enabled = false)
    val (cold, _) = drain(0, off)
    r.coldS = cold
    checkSink(0)
    val steady = (1 to steadyDrains).map { d =>
      val (wall, batches) = drain(d, off)
      batches.foreach(p => r.sample("batch", p.durationMs.get("triggerExecution").toDouble))
      r.check(batches.size == files(d) / FilesPerTrigger,
        s"drain $d ran ${batches.size} micro-batches, expected ${files(d) / FilesPerTrigger}")
      checkSink(d)
      wall
    }
    r.roundsS ++= steady
    r.unitsPerRound = lines(1).toDouble

    if (ctx.trace) {
      val t = new Tracer(spark, enabled = true)
      val from = System.currentTimeMillis()
      val traced = (1 to steadyDrains).map(i => drain(steadyDrains + i, t))
      val to = System.currentTimeMillis()
      Layers.operators(r, t, from, to, ctx.cores, (steadyDrains * lines(1)).toDouble)
      val ps = traced.flatMap(_._2)
      def dur(k: String) = Common.median(ps.map(_.durationMs.getOrDefault(k, 0L).toDouble))
      Layers.put(r, "streaming.batches", ps.size.toDouble)
      Layers.put(r, "streaming.rows_per_s", Common.median(ps.map(_.processedRowsPerSecond)))
      Layers.put(r, "streaming.add_batch_ms", dur("addBatch"))
      Layers.put(r, "streaming.query_planning_ms", dur("queryPlanning"))
      Layers.put(r, "streaming.wal_commit_ms", dur("walCommit"))
      Layers.put(r, "streaming.latest_offset_ms", dur("latestOffset"))
      Layers.put(r, "streaming.commit_ms", dur("commitOffsets"))
      r.info += "micro-batch phases: " + ps.headOption.map(_.durationMs.keySet.toString).getOrElse("none")
      val qes = t.takeExecutions()
      if (qes.nonEmpty) {
        Layers.plans(r, qes.map(Tracer.phasesMs),
          Tracer.planCounts(qes.last))
        r.info += s"plans: shape of the last of ${qes.size} traced executions"
      }
      Layers.microbenchmarks(r, ctx.seed)
      Layers.jvm(r, spark, persisted0)
      t.close()

      // untraced again, so the overhead compares against drains on both
      // sides of the traced ones and the JVM's warming cancels
      val after = (1 to steadyDrains).map(i => drain(2 * steadyDrains + i, off)._1)
      Layers.put(r, "trace.overhead_ms",
        (traced.map(_._1).sum - (steady.sum + after.sum) / 2) * 1e3 / steadyDrains)
    }
    spark.streams.removeListener(progress)
    r.retainedHeapMb = Common.heapAfterGcMb()
  }
}
