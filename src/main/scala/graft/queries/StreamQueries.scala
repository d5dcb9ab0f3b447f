package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.model.Gts
import graft.streaming.{StreamingIngest, StreamingState}

/** Driver-verified Structured Streaming rows (SURVEY.md §2.10).
  *
  * Each query runs a REAL streaming query (`Trigger.AvailableNow`) to
  * completion inside the query function, then returns the materialized
  * sink as a DataFrame so the driver can hash it against the same batch
  * oracle the equivalent batch operator already passes:
  *
  *  - s01: file-source line-protocol ingest (reference
  *    standalone/StandaloneStreamUpdateHandler.java, continuum
  *    ingress/Ingress.java) must reproduce the batch ingest round-trip
  *    (g62's oracle — the raw events long table).
  *  - s02: stateful TIMESPLIT sessionization (fn/TIMESPLIT.java) via
  *    flatMapGroupsWithState must reproduce the batch gap-cumsum
  *    (g15's oracle).
  *
  * Determinism note: the input is written as a single file so
  * AvailableNow drains it in one micro-batch; per-key, in-batch rows are
  * sorted by (ts, value) inside the stateful function, matching the
  * batch window order. On a real cluster the same code runs over Kafka
  * with a watermark bounding state (see streaming/StreamingIngest.scala
  * header for the maxpast/maxfuture semantics).
  */
object StreamQueries extends QueryPack {
  import GtsQueries.{DAY, EV, HOUR, LB}

  private val userid = col("labels").getItem("user").as("userid")

  /** Unload state-store providers and stop the maintenance task once a
    * batch-embedded streaming query finishes — loaded providers and the
    * maintenance thread otherwise linger for the JVM's life and tax
    * every subsequent query (observed 2.7× on the next bench entries).
    * Spark restarts both lazily if another streaming query begins. */
  private def releaseStreamingResources(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  private val ptsSchema = StructType(Seq(
    StructField("gtsid", LongType), StructField("ts", LongType),
    StructField("vdouble", DoubleType)))

  /** At-rest streaming inputs (r13, re-scoped r14): a real pipeline's
    * stream reads files (or Kafka) that already exist — synthesizing
    * the input corpus from the batch tables is test scaffolding, not
    * stream cost. Build each input ONCE PER RUN (per JVM) under a
    * directory keyed by (run token, key, sf dir); the bench prewarms
    * the build untimed (the t44b at-rest-index precedent) and lists
    * the rows under "prewarmed" in the artifact. Query lambdas call
    * the same builder (a no-op once built in this JVM), so Verify and
    * direct calls stay self-contained. The r13 version keyed only on
    * (key, sf dir) and reused the files ACROSS runs via a _DONE
    * marker — per-run intermediates persisted across invocations,
    * which the rules forbid and which contaminated the r13 c8 scaling
    * board (it consumed inputs built during the c32 run). The run
    * token makes every invocation build its own inputs; a shutdown
    * hook deletes them so /tmp does not accumulate. Returns the
    * directory the stream reads. */
  private val runToken: String =
    java.lang.ProcessHandle.current().pid().toString + "-" +
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** This run's input directory, deleted by one shutdown hook per JVM
    * (a JVM already shutting down refuses the hook and keeps it). */
  private lazy val runRoot: java.nio.file.Path = {
    val r = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-stream-in", s"run-$runToken")
    try Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try deleteTree(r) catch { case _: Throwable => }))
    catch { case _: IllegalStateException => }
    r
  }
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
      finally paths.close()
    }
  private def atRestInput(key: String, dir: String)
      (build: String => Unit): String = {
    val root = runRoot.resolve(s"$key-${dir.replaceAll("[^A-Za-z0-9.]", "_")}")
    val done = root.resolve("_DONE")
    val data = root.resolve("data")
    this.synchronized {
      if (!Files.exists(done)) {
        // wipe any partial build, then write fresh + mark complete
        deleteTree(root)
        Files.createDirectories(root)
        build(data.toString)
        Files.createFile(done)
      }
    }
    data.toString
  }

  /** Full events table as single-file line protocol (s01/s05/s06). */
  private def evLinesInput(s: SparkSession, dir: String): String =
    atRestInput("evlines", dir) { p =>
      graft.sources.Formats.toGtsLines(Gts.fromEvents(s, dir))
        .coalesce(1).write.text(p)
    }

  /** Full events points as single-file parquet (s02). */
  private def evPtsInput(s: SparkSession, dir: String): String =
    atRestInput("evpts", dir) { p =>
      Gts.fromEvents(s, dir).select(col("gtsid"), col("ts"), col("vdouble"))
        .coalesce(1).write.parquet(p)
    }

  /** Write `src` filtered by `cond` as a single parquet file named
    * `name.parquet` under `in`, stamped `mtime` (file-source batch
    * order is mtime order). */
  private def writeBatchFile(src: DataFrame, cond: Column, in: String,
      name: String, mtime: Long): Unit = {
    val stage = java.nio.file.Paths.get(in).getParent
      .resolve(s"stage_$name").toString
    src.filter(cond).coalesce(1).write.parquet(stage)
    val part = Files.list(java.nio.file.Paths.get(stage)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.toString.endsWith(".parquet")).get
    Files.createDirectories(java.nio.file.Paths.get(in))
    val dst = java.nio.file.Paths.get(in, s"$name.parquet")
    Files.move(part, dst)
    dst.toFile.setLastModified(mtime)
  }

  /** Two ordered micro-batch files for s03 (even users, then odd). */
  private def lateDropInput(s: SparkSession, dir: String): String =
    atRestInput("latedrop", dir) { p =>
      val src = Gts.fromEvents(s, dir)
        .select(col("class"), userid, col("ts"))
      val now = System.currentTimeMillis()
      writeBatchFile(src, expr("CAST(userid AS BIGINT) % 2 = 0"), p, "b0",
        now - 60000)
      writeBatchFile(src, expr("CAST(userid AS BIGINT) % 2 = 1"), p, "b1",
        now - 30000)
    }

  /** Two ordered micro-batch files for s04 (even doc ids + planted
    * cross-parity duplicates, then odd). */
  private def dedupInput(s: SparkSession, dir: String): String =
    atRestInput("dedup", dir) { p =>
      val base = s.read.parquet(s"$dir/documents.parquet")
      val src = base.select(col("doc_id"), md5(col("text")).as("digest"))
        .unionAll(base.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1001).as("doc_id"),
            md5(col("text")).as("digest")))
      val now = System.currentTimeMillis()
      writeBatchFile(src, col("doc_id") % 2 === 0, p, "b0", now - 60000)
      writeBatchFile(src, col("doc_id") % 2 === 1, p, "b1", now - 30000)
    }

  /** Untimed input builds for the bench (listed under "prewarmed"). */
  override val prewarm: Map[String, (SparkSession, String) => Unit] = Map(
    "s01_stream_ingest" -> ((s, dir) => { evLinesInput(s, dir); () }),
    "s02_stream_sessions" -> ((s, dir) => { evPtsInput(s, dir); () }),
    "s03_stream_latedrop" -> ((s, dir) => { lateDropInput(s, dir); () }),
    "s04_stream_dedup" -> ((s, dir) => { dedupInput(s, dir); () }),
    "s05_stream_plasma" -> ((s, dir) => { evLinesInput(s, dir); () }),
    "s06_stream_mobius" -> ((s, dir) => { evLinesInput(s, dir); () }),
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_stream_ingest" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-s01-").toString
      val outP = s"$tmp/out"; val ck = s"$tmp/ck"
      val in = evLinesInput(s, dir)
      val q = StreamingIngest.ingestFiles(s, in, outP, ck, now = 0L)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      releaseStreamingResources()
      s.read.parquet(outP)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),

    "s02_stream_sessions" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-s02-").toString
      val outP = s"$tmp/out"; val ck = s"$tmp/ck"
      val in = evPtsInput(s, dir)
      val src = Gts.fromEvents(s, dir)
      val pts = s.readStream.schema(ptsSchema).parquet(in)
      val q = StreamingState.timesplitSessions(pts, HOUR).writeStream
        .format("parquet").option("path", outP)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      releaseStreamingResources()
      // gtsid -> (class, userid) is a small exact dimension: broadcast.
      val dim = src.select(col("gtsid"), col("class"), userid).distinct()
      s.read.parquet(outP)
        .join(broadcast(dim), "gtsid")
        // batch TIMESPLIT session ids are 1-based (g15 oracle); the
        // streaming carry starts at 0 and only increments.
        .select(col("class"), col("userid"), col("ts"),
          (col("session") + 1).as("sessionid"))
    }),

    // Watermark semantics under AvailableNow (SURVEY §2.10): two ordered
    // micro-batches (even users first, odd users in a second file),
    // 1-day watermark, 1-day tumbling count in APPEND mode. The rules —
    // established empirically by WatermarkProbeSpec against this exact
    // Spark build and verified against the checkpoint's batchWatermarkMs:
    //  * the watermark of batch N is ms-truncate(max event time over
    //    batches < N) - delay, so the LAST batch's watermark derives
    //    from the first file only (here: the even users);
    //  * late rows landing in windows still held in state are MERGED,
    //    not dropped (drop-on-arrival applies only to windows already
    //    finalized, which never happens mid-run in an AvailableNow
    //    drain — no no-data batch runs after the last file);
    //  * a window is emitted exactly once, when its end <= the
    //    watermark at the final commit.
    // Net observable: full counts for every finalized window; the
    // trailing windows the watermark never passed are withheld.
    "s03_stream_latedrop" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-s03-").toString
      val outP = s"$tmp/out"; val ck = s"$tmp/ck"
      val in = lateDropInput(s, dir)
      val schema = StructType(Seq(
        StructField("class", StringType), StructField("userid", StringType),
        StructField("ts", LongType)))
      val pts = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val agg = pts.withColumn("etime", timestamp_micros(col("ts")))
        .withWatermark("etime", "24 hours")
        .groupBy(window(col("etime"), "1 day"), col("class"))
        .count()
        .select(col("class"), unix_micros(col("window.start")).as("ws"),
          col("count").as("n"))
      val q = agg.writeStream.format("parquet").option("path", outP)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      releaseStreamingResources()
      s.read.parquet(outP)
    }),

    // Streaming exact dedup (streaming/StreamingDedup.scala, the
    // streaming face of t01): two ordered micro-batches (even doc_ids
    // first, odd second); cross-batch flatMapGroupsWithState state
    // means a digest first seen among the evens must NOT re-emit for a
    // later odd duplicate — the batch twin encodes exactly that
    // earlier-batch-wins, min-id-within-batch rule.
    "s04_stream_dedup" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-s04-").toString
      val outP = s"$tmp/out"; val ck = s"$tmp/ck"
      // the corpus has no exact dups — the input builder PLANTS
      // cross-parity duplicates (doc_id < 50 re-emitted as doc_id +
      // 1001, flipping parity) so the cross-batch state rule is
      // genuinely exercised: the batch-0 (even) occurrence must win
      // over the batch-1 (odd) duplicate
      val in = dedupInput(s, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("digest", StringType)))
      val docsStream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = graft.streaming.StreamingDedup.firstSeen(docsStream)
        .writeStream.format("parquet").option("path", outP)
        .option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      releaseStreamingResources()
      s.read.parquet(outP)
    }),

    // s05: Plasma subscription (StandalonePlasmaHandler.java:153-180)
    // over the REAL wire: an RFC 6455 loopback server
    // (surface/WsServer), the JDK's independent WebSocket client
    // SUBSCRIBEs a selector, an AvailableNow line-protocol stream
    // dispatches each micro-batch through PlasmaEndpoint, and the
    // TEXT-format push messages (`=`-continuation lines) are parsed
    // BACK through LineProtocol into the result frame — so the row
    // hash-checks handshake, framing, id-based subscription resolution
    // and the push format against the batch selector filter.
    "s05_stream_plasma" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-s05-").toString
      val ck = s"$tmp/ck"
      val in = evLinesInput(s, dir)
      val src = Gts.fromEvents(s, dir)
      val directory = Gts.seriesMeta(src)
      val plasma = new graft.surface.PlasmaEndpoint(() => directory,
        maxRowsPerBatch = 2000000)
      val server = plasma.mount()
      val port = server.start()
      val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val ws = wsClient(port, "/api/v0/plasma", messages)
      try {
        val selector = "~events\\.(click|view){user~1.*}"
        ws.sendText(s"SUBSCRIBE tok $selector", true)
          .get(30, java.util.concurrent.TimeUnit.SECONDS)
        awaitCond(plasma.subscriptionCount > 0, "plasma subscription")
        val q = StreamingIngest.parseStream(s.readStream.text(in), now = 0L)
          .writeStream
          .foreachBatch((b: DataFrame, _: Long) => plasma.dispatch(b))
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        releaseStreamingResources()
        // delivery is async: the batch twin tells us how many points to
        // await before decoding the messages
        val expected = src
          .filter(graft.sources.Selector.parse(selector).predicate).count()
        awaitCond(
          messages.iterator().asScala.map(_.count(_ == '\n')).sum == expected,
          s"plasma delivery of $expected points")
        val rows = messages.iterator().asScala.toVector.flatMap { msg =>
          graft.sources.LineProtocol
            .parseBatch(msg.linesIterator, now = 0L, None, None)
            .map { p =>
              org.apache.spark.sql.Row(p.cls, p.labels, 0L, p.ts,
                p.lat.orNull, p.lon.orNull, p.elev.orNull, p.vtype,
                p.vlong.orNull, p.vdouble.orNull, p.vbool.orNull,
                p.vstring.orNull, p.vbinary.orNull)
            }
        }
        val parsed = s.createDataFrame(
          new java.util.ArrayList(rows.asJava), Gts.pointSchema)
        Gts.canonicalRehash(parsed)
          .select(col("class"), userid, col("ts"), col("vdouble"))
      } finally {
        try ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
        catch { case _: Exception => () }
        server.stop()
      }
    }),

    // s06: Mobius periodic push (EgressMobiusHandler.java:78-140) over
    // the real wire: the JDK client submits a WarpScript program whose
    // macro BUCKETIZEs per-series counts, the endpoint acks the parse,
    // and an AvailableNow stream fires the period (tick → macro re-exec
    // → stack-JSON push). The pushed JSON is read back with
    // spark.read.json and hash-checked against the batch counts.
    "s06_stream_mobius" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft-s06-").toString
      val ck = s"$tmp/ck"
      val in = evLinesInput(s, dir)
      val mobius = new graft.surface.MobiusEndpoint(
        () => WsQueries.engine(s, dir, cents = false), maxRows = 1000000)
      val server = mobius.mount()
      val port = server.start()
      val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val ws = wsClient(port, "/api/v0/mobius", messages)
      try {
        ws.sendText(
          s"<% [ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH " +
            s"bucketizer.count $LB 0 1 ] BUCKETIZE %>", true)
          .get(30, java.util.concurrent.TimeUnit.SECONDS)
        awaitCond(!messages.isEmpty, "mobius parse ack")
        messages.poll() // the post-parse ack (empty remaining stack)
        awaitCond(mobius.hasMacros, "mobius macro registration")
        val q = StreamingIngest.parseStream(s.readStream.text(in), now = 0L)
          .writeStream
          .foreachBatch((_: DataFrame, _: Long) => mobius.tick())
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        releaseStreamingResources()
        awaitCond(!messages.isEmpty, "mobius period push")
        import s.implicits._
        // the push is the STACK array whose single value is the frame's
        // row array: [[{"c",...},...]] — flatten one level
        s.createDataset(Seq(messages.poll())).toDF("value")
          .select(explode(flatten(from_json(col("value"),
            org.apache.spark.sql.types.DataType.fromDDL(
              "ARRAY<ARRAY<STRUCT<c: STRING, l: MAP<STRING,STRING>, " +
                "t: BIGINT, v: DOUBLE>>>")
              .asInstanceOf[org.apache.spark.sql.types.ArrayType])))
            .as("p"))
          .select(col("p.c").as("class"), col("p.l").getItem("user").as("userid"),
            col("p.v").cast(LongType).as("n"))
      } finally {
        try ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
        catch { case _: Exception => () }
        server.stop()
      }
    }),
    // s07: live line-protocol ingest over the REAL streamupdate
    // WebSocket (StandaloneStreamUpdateHandler.java:142-465): the JDK
    // client pushes every events line in chunked measurement messages,
    // each acked `OK <seq> UPDATE <count> <nanos>`; the sink's rows
    // must hash-match the batch events table (s01's oracle, over the
    // wire instead of the file source).
    "s07_stream_update_ws" -> ((s, dir) => {
      val src = Gts.fromEvents(s, dir)
      val lines = graft.sources.Formats.toGtsLines(src)
        .collect().map(_.getString(0))
      val got = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.Row]
      val su = new graft.surface.StreamUpdateEndpoint(
        rows => rows.foreach(got.add))
      val server = su.mount()
      val port = server.start()
      val acks = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val ws = wsClient(port, "/api/v0/streamupdate", acks)
      try {
        val chunks = lines.grouped(5000).toVector
        chunks.foreach { chunk =>
          ws.sendText(chunk.mkString("\n"), true)
            .get(30, java.util.concurrent.TimeUnit.SECONDS)
        }
        awaitCond(acks.size == chunks.length, "streamupdate acks")
        val seen = acks.iterator().asScala.toVector
        require(seen.forall(_.contains(" UPDATE ")),
          s"unexpected ack: ${seen.find(!_.contains(" UPDATE "))}")
        require(got.size == lines.length,
          s"sink rows ${got.size} != ${lines.length}")
        val parsed = s.createDataFrame(
          new java.util.ArrayList(got.iterator().asScala.toVector.asJava),
          Gts.pointSchema)
        Gts.canonicalRehash(parsed)
          .select(col("class"), userid, col("ts"), col("vdouble"))
      } finally {
        try ws.sendClose(java.net.http.WebSocket.NORMAL_CLOSURE, "done")
        catch { case _: Exception => () }
        server.stop()
      }
    }),
  )

  /** JDK WebSocket client whose complete text messages land in `sink`
    * (partial deliveries reassembled until `last`). */
  private def wsClient(port: Int, path: String,
      sink: java.util.concurrent.ConcurrentLinkedQueue[String])
      : java.net.http.WebSocket = {
    val partial = new StringBuilder
    java.net.http.HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(java.net.URI.create(s"ws://127.0.0.1:$port$path"),
        new java.net.http.WebSocket.Listener {
          override def onText(w: java.net.http.WebSocket,
              data: CharSequence, last: Boolean)
              : java.util.concurrent.CompletionStage[_] = {
            partial.append(data)
            if (last) { sink.add(partial.toString); partial.setLength(0) }
            w.request(1); null
          }
        }).get(30, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def awaitCond(cond: => Boolean, what: String,
      timeoutMs: Long = 60000): Unit = {
    val deadline = System.nanoTime + timeoutMs * 1000000
    while (!cond && System.nanoTime < deadline) Thread.sleep(10)
    require(cond, s"timed out waiting for $what")
  }

  val oracleSql: Map[String, String] = Map(
    // identical to g62: streaming ingest must reproduce the raw table
    "s01_stream_ingest" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    // the wire-ingested rows must reproduce the same raw table
    "s07_stream_update_ws" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    // the subscription = the batch selector filter
    "s05_stream_plasma" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g
         |WHERE regexp_full_match(class, 'events\\.(click|view)')
         |  AND regexp_full_match(userid, '1.*')""".stripMargin,

    // the macro BUCKETIZEs one count bucket per series → the pushed
    // JSON is the per-(class, user) count of in-range points
    "s06_stream_mobius" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, CAST(count(*) AS BIGINT) AS n FROM g
         |WHERE ts <= $LB GROUP BY 1, 2""".stripMargin,

    // batch twin of the watermark rules (see s03 Scaladoc): the final
    // watermark derives from the FIRST batch only (even users), Spark
    // truncates the tracked max event time to MILLISECONDS before
    // subtracting the delay (EventTimeStats is ms-valued, verified
    // against the checkpoint's batchWatermarkMs), and every row counts —
    // late arrivals merge into still-open windows
    "s03_stream_latedrop" ->
      s"""WITH g AS ($EV),
         |w1 AS (SELECT (max(ts) // 1000) * 1000 - $DAY AS wm FROM g
         |       WHERE CAST(userid AS BIGINT) % 2 = 0)
         |SELECT class, (ts // $DAY) * $DAY AS ws, CAST(count(*) AS BIGINT) AS n
         |FROM g
         |WHERE (ts // $DAY) * $DAY + $DAY <= (SELECT wm FROM w1)
         |GROUP BY 1, 2""".stripMargin,

    // earlier-batch-wins, min-doc_id-within-batch survivor rule of the
    // two-micro-batch streaming dedup
    "s04_stream_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1001, md5(text) FROM documents
        |           WHERE doc_id < 50),
        |s AS (SELECT digest,
        |        min(CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS mine,
        |        min(CASE WHEN doc_id % 2 = 1 THEN doc_id END) AS mino
        |      FROM d GROUP BY 1)
        |SELECT coalesce(mine, mino) AS doc_id, digest FROM s""".stripMargin,

    // identical to g15: stateful sessionization == batch gap-cumsum
    "s02_stream_sessions" ->
      s"""WITH g AS ($EV),
         |l AS (SELECT class, userid, ts,
         |        ts - lag(ts) OVER (PARTITION BY class, userid ORDER BY ts, vdouble) AS gap
         |      FROM g)
         |SELECT class, userid, ts,
         |       CAST(sum(CASE WHEN gap IS NULL OR gap >= $HOUR THEN 1 ELSE 0 END)
         |         OVER (PARTITION BY class, userid ORDER BY ts
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sessionid
         |FROM l""".stripMargin
  )
}
