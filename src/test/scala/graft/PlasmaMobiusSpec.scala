package graft

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit, CompletionStage}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine
import graft.sources.WrapperCodec
import graft.surface.{MobiusEndpoint, PlasmaEndpoint, StreamUpdateEndpoint}

/** The Plasma and Mobius WebSocket endpoints driven end-to-end by the
  * JDK client: subscribe→dispatch in every output format, the
  * SUBSCRIPTIONS/CLEAR/SAMPLE/KO command surface, and the Mobius
  * program-ack → periodic macro-push cycle. */
class PlasmaMobiusSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    GtsFrame(Gts.canonical(Seq(
      ("m.cpu", Map("host" -> "a"), 100L, 1.5),
      ("m.cpu", Map("host" -> "a"), 200L, 2.5),
      ("m.cpu", Map("host" -> "b"), 150L, 7.0),
      ("m.mem", Map("host" -> "a"), 300L, 3.0))
      .toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))))
  }

  private final class Client(port: Int, path: String) {
    val texts = new ConcurrentLinkedQueue[String]
    private val partial = new StringBuilder
    val ws: WebSocket = HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(URI.create(s"ws://127.0.0.1:$port$path"),
        new WebSocket.Listener {
          override def onText(w: WebSocket, data: CharSequence,
              last: Boolean): CompletionStage[_] = {
            partial.append(data)
            if (last) { texts.add(partial.toString); partial.setLength(0) }
            w.request(1); null
          }
        }).get(10, TimeUnit.SECONDS)

    def send(m: String): Unit = ws.sendText(m, true).get(5, TimeUnit.SECONDS)

    def awaitText(timeoutMs: Long = 10000): String = {
      val deadline = System.nanoTime + timeoutMs * 1000000
      while (texts.isEmpty && System.nanoTime < deadline) Thread.sleep(5)
      val t = texts.poll()
      assert(t != null, "no message within timeout")
      t
    }

    def awaitTexts(n: Int, timeoutMs: Long = 10000): Seq[String] =
      (1 to n).map(_ => awaitText(timeoutMs))
  }

  private def awaitSubs(p: PlasmaEndpoint, n: Int): Unit = {
    val deadline = System.nanoTime + 10000L * 1000000
    while (p.subscriptionCount != n && System.nanoTime < deadline) Thread.sleep(5)
    assert(p.subscriptionCount == n)
  }

  test("plasma: subscribe, TEXT continuation push, list, unsubscribe, clear") {
    val f = fixture
    val dir = () => Gts.seriesMeta(f.df)
    val plasma = new PlasmaEndpoint(dir)
    val server = plasma.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/plasma")
      c.send("SUBSCRIBE tok m.cpu{host=a}")
      awaitSubs(plasma, 1)
      plasma.dispatch(f.df)
      // one message per GTS: first line full, then `=`-continuation
      assert(c.awaitText() == "100// m.cpu{host=a} 1.5\n=200// 2.5\n")
      c.send("SUBSCRIPTIONS")
      assert(c.awaitText() == "SUB m.cpu{host=a}")
      c.send("SUBSCRIBE tok m.mem{}")
      awaitSubs(plasma, 2)
      c.send("UNSUBSCRIBE tok m.cpu{host=a}")
      awaitSubs(plasma, 1)
      plasma.dispatch(f.df)
      assert(c.awaitText() == "300// m.mem{host=a} 3.0\n")
      c.send("CLEAR")
      awaitSubs(plasma, 0)
      c.send("SUBSCRIBE tok ~bogus{") // unparseable selector
      assert(c.awaitText().startsWith("KO"))
      c.send("RAW")
      assert(c.awaitText().startsWith("KO"))
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("plasma: FULLTEXT, JSON and byte-compatible WRAPPER formats") {
    val f = fixture
    val dir = () => Gts.seriesMeta(f.df)
    val plasma = new PlasmaEndpoint(dir)
    val server = plasma.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/plasma")
      c.send("SUBSCRIBE tok m.cpu{host=a}")
      awaitSubs(plasma, 1)
      c.send("FULLTEXT")
      plasma.dispatch(f.df)
      assert(c.awaitText() ==
        "100// m.cpu{host=a} 1.5\n200// m.cpu{host=a} 2.5\n")
      c.send("JSON")
      plasma.dispatch(f.df)
      assert(c.awaitText() ==
        """[{"c":"m.cpu","l":{"host":"a"},"t":100,"v":1.5},""" +
          """{"c":"m.cpu","l":{"host":"a"},"t":200,"v":2.5}]""")
      c.send("WRAPPER")
      plasma.dispatch(f.df)
      val (w, pts) = WrapperCodec.unwrapString(c.awaitText())
      assert(w.name == "m.cpu" && w.labels == Map("host" -> "a"))
      assert(pts.map(p => (p.ts, p.value)) == Vector((100L, 1.5), (200L, 2.5)))
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("plasma: SAMPLE thins the push with the session's seeded PRNG") {
    val f = fixture
    val dir = () => Gts.seriesMeta(f.df)
    val plasma = new PlasmaEndpoint(dir)
    val server = plasma.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/plasma")
      c.send("SUBSCRIBE tok m.cpu{host=a}")
      awaitSubs(plasma, 1)
      c.send("SAMPLE 0.5")
      plasma.dispatch(f.df)
      // replay the session PRNG: kept iff nextDouble() <= 0.5, 2 points
      val rng = new java.util.Random(42L)
      val kept = Seq((100L, 1.5), (200L, 2.5)).filter(_ => rng.nextDouble() <= 0.5)
      if (kept.nonEmpty) {
        val msg = c.awaitText()
        assert(msg.count(_ == '\n') == kept.size)
      } else assert(c.texts.isEmpty)
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("plasma TEXT push round-trips every value type through LineProtocol") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, first}
    import graft.model.GtsType
    // one series carrying long, boolean, string, binary and a located
    // double — the push must re-parse to the identical points
    def pt(ts: Long, vt: Byte, vl: Any = null, vd: Any = null,
           vb: Any = null, vs: Any = null, vbin: Any = null,
           lat: Any = null, lon: Any = null, elev: Any = null): Row =
      Row("m.mix", Map("host" -> "a"), 0L, ts, lat, lon, elev, vt,
        vl, vd, vb, vs, vbin)
    val rows = java.util.Arrays.asList(
      pt(10L, GtsType.LONG, vl = 7L),
      pt(20L, GtsType.BOOLEAN, vb = true),
      pt(30L, GtsType.STRING, vs = "hi-there"),
      pt(40L, GtsType.BINARY, vbin = Array[Byte](1, 2, 0xFF.toByte)),
      pt(50L, GtsType.DOUBLE, vd = 2.5, lat = 48.5, lon = -3.25,
        elev = 120L))
    val df = Gts.canonicalRehash(
      spark.createDataFrame(rows, Gts.pointSchema))
    val dir = () => Gts.seriesMeta(df)
    val plasma = new PlasmaEndpoint(dir)
    val server = plasma.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/plasma")
      c.send("SUBSCRIBE tok m.mix{}")
      awaitSubs(plasma, 1)
      plasma.dispatch(df)
      val msg = c.awaitText()
      val parsed = graft.sources.LineProtocol
        .parseBatch(msg.linesIterator, now = 0L, None, None).toVector
      assert(parsed.map(_.ts) == Vector(10L, 20L, 30L, 40L, 50L))
      assert(parsed.forall(p => p.cls == "m.mix" &&
        p.labels == Map("host" -> "a")))
      assert(parsed(0).vlong.contains(7L))
      assert(parsed(1).vbool.contains(true))
      assert(parsed(2).vstring.contains("hi-there"))
      assert(parsed(3).vbinary.exists(_.sameElements(Array[Byte](1, 2, 0xFF.toByte))))
      assert(parsed(4).vdouble.contains(2.5))
      assert(parsed(4).lat.contains(48.5) && parsed(4).lon.contains(-3.25))
      assert(parsed(4).elev.contains(120L))
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("streamupdate: verbs ack with seqnos, measurements land in the sink") {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]
    val su = new StreamUpdateEndpoint(rows => rows.foreach(got.add))
    val server = su.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/streamupdate")
      c.send("TOKEN wtok")
      assert(c.awaitText() == "OK 0 TOKEN")
      c.send("NOOP")
      assert(c.awaitText() == "OK 1 NOOP")
      c.send("ONERROR message")
      assert(c.awaitText() == "OK 2 ONERROR")
      c.send("100// m.s{h=a} 1.5\n=200// 2.5")
      val ack = c.awaitText()
      assert(ack.startsWith("OK 3 UPDATE 2 "))
      assert(got.size == 2)
      val r = got.poll()
      assert(r.getString(0) == "m.s" && r.getLong(3) == 100L)
      // malformed measurement in message-mode answers ERROR, keeps the
      // socket open, and applies nothing
      c.send("garbage line")
      assert(c.awaitText().startsWith("ERROR"))
      assert(got.size == 1)
      c.send("NOOP")
      assert(c.awaitText() == "OK 4 NOOP")
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("plasma TEXT push escapes hostile string values (quotes, " +
    "newlines, %, +) so the line protocol round-trips them") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, first}
    import graft.model.GtsType
    val hostile = "it's\n50% sure + more\r'quoted'"
    val rows = java.util.Arrays.asList(
      Row("m.str", Map("host" -> "a"), 0L, 10L, null, null, null,
        GtsType.STRING, null, null, null, hostile, null),
      Row("m.str", Map("host" -> "a"), 0L, 20L, null, null, null,
        GtsType.STRING, null, null, null, "plain", null))
    val df = Gts.canonicalRehash(
      spark.createDataFrame(rows, Gts.pointSchema))
    val dir = () => Gts.seriesMeta(df)
    val plasma = new PlasmaEndpoint(dir)
    val server = plasma.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/plasma")
      c.send("SUBSCRIBE tok m.str{}")
      awaitSubs(plasma, 1)
      plasma.dispatch(df)
      val msg = c.awaitText()
      // the raw newline/quote must NOT appear inside the value literal —
      // exactly 2 value lines, each parseable
      assert(msg.linesIterator.size == 2)
      val parsed = graft.sources.LineProtocol
        .parseBatch(msg.linesIterator, now = 0L, None, None).toVector
      assert(parsed.map(_.ts) == Vector(10L, 20L))
      assert(parsed(0).vstring.contains(hostile))
      assert(parsed(1).vstring.contains("plain"))
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("plasma: an over-cap batch pushes a KO truncation notice, " +
    "never a silent partial delivery") {
    import spark.implicits._
    val big = GtsFrame(Gts.canonical(
      (1 to 40).map(i => ("m.cpu", Map("host" -> "a"), i.toLong, i.toDouble))
        .toDF("class", "labels", "ts", "vdouble")
        .withColumn("lat", lit(null).cast(DoubleType))
        .withColumn("lon", lit(null).cast(DoubleType))
        .withColumn("elev", lit(null).cast(LongType))
        .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
        .withColumn("vlong", lit(null).cast(LongType))
        .withColumn("vbool", lit(null).cast(BooleanType))
        .withColumn("vstring", lit(null).cast(StringType))
        .withColumn("vbinary", lit(null).cast(BinaryType))))
    val dir = () => Gts.seriesMeta(big.df)
    val plasma = new PlasmaEndpoint(dir, maxRowsPerBatch = 25)
    val server = plasma.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/plasma")
      c.send("SUBSCRIBE tok m.cpu{}")
      awaitSubs(plasma, 1)
      plasma.dispatch(big.df)
      val Seq(notice, data) = c.awaitTexts(2)
      assert(notice.startsWith("KO Batch truncated at 25 rows"))
      assert(data.linesIterator.size == 25) // capped delivery, flagged
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("mobius: program ack, macro registered, tick pushes re-execution") {
    val f = fixture
    val engine = () => new WarpScriptEngine(
      (cls, labels, a, b) => f.select(cls, labels).timeclip(a, b))
    val mobius = new MobiusEndpoint(engine)
    val server = mobius.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/mobius")
      c.send("7 8") // non-macro: stack JSON, nothing scheduled
      assert(c.awaitText() == "[8,7]")
      assert(!mobius.hasMacros)
      c.send("'ack' <% 1 2 + %>") // macro on top: ack = remaining stack
      assert(c.awaitText() == "[\"ack\"]")
      assert(mobius.hasMacros)
      mobius.tick()
      assert(c.awaitText() == "[3]")
      mobius.tick()
      assert(c.awaitText() == "[3]")
      // a later NON-macro message keeps the registered macro scheduled
      // (EgressMobiusHandler only replaces it when a new macro arrives)
      c.send("9")
      assert(c.awaitText() == "[9]")
      assert(mobius.hasMacros)
      mobius.tick()
      assert(c.awaitText() == "[3]")
      c.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    } finally server.stop()
  }

  test("plasma: RAW pushes AES-wrapped metadata : encoder bytes; invalid verb closes") {
    val f = fixture
    val dir = () => Gts.seriesMeta(f.df)
    val key = (0 until 16).map(_.toByte).toArray
    val plasma = new PlasmaEndpoint(dir, metadataKey = Some(key))
    val server = plasma.mount()
    val port = server.start()
    try {
      val c = new Client(port, "/api/v0/plasma")
      c.send("SUBSCRIBE tok m.cpu{host=a}")
      awaitSubs(plasma, 1)
      c.send("RAW") // key configured: switches the format, no KO
      plasma.dispatch(f.df)
      val msg = c.awaitText()
      // <base>// OPB64(keywrap(thrift Metadata)):OPB64(encoder bytes)
      val Array(baseStr, payload) = msg.split("// ", 2)
      assert(baseStr.toLong == 100L)
      val Array(metaB64, ptsB64) = payload.split(":", 2)
      val metaBytes = graft.sources.AesWrap.unwrap(
        key, WrapperCodec.opb64Decode(metaB64))
      assert(metaBytes.isDefined) // integrity check passed
      val (name, labels, _) = WrapperCodec.readMetadataBytes(metaBytes.get)
      assert(name == "m.cpu" && labels == Map("host" -> "a"))
      val pts = WrapperCodec.decodePoints(
        WrapperCodec.opb64Decode(ptsB64), baseStr.toLong)
      assert(pts.map(p => (p.ts, p.value)) == Vector((100L, 1.5), (200L, 2.5)))
      // wrong key: integrity check fails, no plaintext lookalike
      assert(graft.sources.AesWrap.unwrap(new Array[Byte](16),
        WrapperCodec.opb64Decode(metaB64)).isEmpty)
      // invalid verb: KO, then the session is CLOSED with 1002
      // (the reference fails the session, StandalonePlasmaHandler:331)
      c.send("BOGUSVERB")
      assert(c.awaitText().startsWith("KO Invalid verb"))
      val deadline = System.nanoTime + 10000L * 1000000
      while (server.openConnections.nonEmpty && System.nanoTime < deadline)
        Thread.sleep(5)
      assert(server.openConnections.isEmpty)
    } finally server.stop()
  }
}
