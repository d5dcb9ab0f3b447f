package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WarpScript front-end queries, part 3 (round-6 word tail):
  * bitwise/shift operators, ALMOSTEQ, the Morton Z-order codec,
  * MAPID, FIND/FINDSTATS, POLYFUNC. Same contract as [[WsQueries]]:
  * each row runs a real WarpScript program through the engine and is
  * hashed against an independent DuckDB derivation (or the literal
  * expected values for scalar words whose kernels are vector-tested in
  * WsExt5Spec — SipHash-2-4 against the published Aumasson/Bernstein
  * vectors, Morton against hand-computed interleavings).
  */
object WsQueries3 extends QueryPack {
  import GtsQueries.{DAY, EV, LB}
  import WsQueries.engine

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // bitwise + shifts + ALMOSTEQ (binary/BitwiseAND.java family,
    // fn/ALMOSTEQ.java) — the oracle recomputes each in DuckDB's
    // integer algebra
    "w85_ws_bitwise" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      def l(p: String) = e.run(p).head.asInstanceOf[Long]
      def b(p: String) = e.run(p).head.asInstanceOf[Boolean]
      s.range(1).select(
        lit(l("12 10 &")).as("band"),
        lit(l("12 10 |")).as("bor"),
        lit(l("12 10 ^")).as("bxor"),
        lit(l("0 ~")).as("bnot"),
        lit(l("1 8 <<")).as("shl"),
        lit(l("-16 2 >>")).as("shr_arith"),
        lit(l("-1 60 >>>")).as("shr_logical"),
        lit(b("1.0 1.05 0.1 ~=")).as("almost_close"),
        lit(b("NaN NaN 0.0 ~=")).as("almost_nan"))
    }),

    // Morton Z-order codec (fn/TOZ.java bit layout, fn/ZTO.java
    // inverse): hand-computed byte expectations + a 30-bit round trip
    "w86_ws_morton" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      def hex(p: String) = e.run(p).head.asInstanceOf[Array[Byte]]
        .map(x => f"$x%02x").mkString
      val rt = e.run("[ 123456789 987654321 40 ] 30 ->Z 3 30 Z->")
        .head.asInstanceOf[Vector[Any]]
      s.range(1).select(
        lit(hex("[ 3 5 ] 4 ->Z")).as("z35"),
        lit(hex("[ 1 ] 8 ->Z")).as("z1"),
        lit(hex("[ 1 0 ] 4 ->Z")).as("z10"),
        lit(hex("[ 0 1 ] 4 ->Z")).as("z01"),
        lit(rt == Vector(123456789L, 987654321L, 40L)).as("roundtrip"))
    }),

    // FIND + FINDSTATS over the events metadata: exact distributed
    // cardinalities vs DuckDB's exact counts (the reference returns
    // HyperLogLog estimates — egress/ThriftDirectoryClient.java:576)
    "w87_ws_findstats" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val stats = e.run("[ '' '~events\\..*' { } ] FINDSTATS")
        .head.asInstanceOf[Map[Any, Any]]
      val found = e.run("[ '' 'events.click' { } ] FIND SIZE")
        .head.asInstanceOf[Long]
      val perClass = stats("per.class.estimate").asInstanceOf[Map[Any, Any]]
      s.range(1).select(
        lit(stats("gts.estimate").asInstanceOf[Long]).as("n_gts"),
        lit(stats("classes.estimate").asInstanceOf[Long]).as("n_classes"),
        lit(stats("labelnames.estimate").asInstanceOf[Long]).as("n_labelnames"),
        lit(stats("labelvalues.estimate").asInstanceOf[Long]).as("n_labelvalues"),
        lit(perClass("events.click").asInstanceOf[Long]).as("n_click_series"),
        lit(found).as("n_click_found"))
    }),

    // POLYFUNC applied to a bucketized frame: vdouble becomes
    // p(tick) = 2*tick + 1 on the daily count grid — exactly
    // representable doubles (tick < 2^52), closed-form DuckDB twin
    "w88_ws_polyfunc" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.count $LB $DAY 0 ] BUCKETIZE
           |[ 1.0 2.0 ] POLYFUNC EVAL""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("p_ts"))
    }),
    // session-store words (fn/UPDATE.java, DELETE.java) + collection
    // literals + MFILTER: write a series, delete a tick range, fetch
    // the remainder merged with the events universe
    "w89_ws_update_delete" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val prog =
        """[ 1000 2000 3000 4000 ] [ ] [ ] [ ] [ 1.0 2.0 3.0 4.0 ] MAKEGTS
          |'session.metric' RENAME { 'src' 'w89' } RELABEL UPDATE
          |'tok' 'session.metric{}' 1500 2500 DELETE DROP
          |[ '' 'session.metric' { } 100000 100001 ] FETCH
          |DUP SIZE 'n' STORE TICKLIST ',' JOIN
          |( 'a' 'b' 'a' ) SIZE
          |{ 'x' 1 'y' 5 } <% DROP 'v' STORE DROP $v 2 > %> MFILTER SIZE
          |$n""".stripMargin
      val out = e.run(prog)
      s.range(1).select(
        lit(out(0).asInstanceOf[Long]).as("n_points"),
        lit(out(1).asInstanceOf[Long]).as("n_mfilter"),
        lit(out(2).asInstanceOf[Long]).as("n_set"),
        lit(out(3).toString).as("ticks_csv"))
    }),

    // Python pickle codec (fn ->PICKLE / PICKLE->, TOPICKLE.java /
    // PICKLETO.java; GTS shape of continuum/gts/GTSPickler.java).
    // canon_hex: the codec's deterministic bytes for a mixed-type
    // structure, validated against CPython's pickle.loads; fixedpoint /
    // from_python: unpickle(→repickle) of both our bytes and CPython's
    // own protocol-3 output (with its BINPUT memo opcodes) reach the
    // same canonical encoding. The GTS leg pickles a fetched frame to
    // the reference's per-series map shape and counts series/points
    // against DuckDB.
    "w90_ws_pickle" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val canon = "80035d284b01474004000000000000580600000068c3a96c6c6f884e5d" +
        "284b034b04657d285801000000614b015801000000624b02754304deadbeef652e"
      val pyHex = "80035d7100284b01474004000000000000580600000068c3a96c6c" +
        "6f7101884e5d7102284b034b04657d71032858010000006171044b01580100000062" +
        "71054b02754304deadbeef7106652e"
      def hexOf(p: String) = e.run(p).head.asInstanceOf[String]
      val mine = hexOf("[ 1 2.5 'héllo' true NULL [ 3 4 ] { 'a' 1 'b' 2 } " +
        "'deadbeef' HEX-> ] ->PICKLE ->HEX")
      val fixedpoint = hexOf(s"'$canon' HEX-> PICKLE-> ->PICKLE ->HEX")
      val fromPython = hexOf(s"'$pyHex' HEX-> PICKLE-> ->PICKLE ->HEX")
      val gl = e.run(s"[ '' 'events.click' { } $LB ${LB + 1} ] FETCH ->PICKLE PICKLE->")
        .head.asInstanceOf[Vector[Any]]
      val maps = gl.map(_.asInstanceOf[Map[Any, Any]])
      val nPoints = maps.map(
        _("timestamps").asInstanceOf[Vector[Any]].size.toLong).sum
      val shapeOk = maps.forall { m =>
        m("classname") == "events.click" &&
        m("labels").asInstanceOf[Map[Any, Any]].contains("user") &&
        m("values").asInstanceOf[Vector[Any]].forall(_.isInstanceOf[Double]) &&
        m("attributes") == Map.empty[Any, Any]
      }
      s.range(1).select(
        lit(mine == canon).as("canon_match"),
        lit(fixedpoint == canon).as("fixedpoint"),
        lit(fromPython == canon).as("from_python"),
        lit(gl.size.toLong).as("n_series"),
        lit(nPoints).as("n_points"),
        lit(shapeOk).as("gts_shape_ok"))
    }),

    // ARGON2 word (fn ARGON2 over BouncyCastle in the reference;
    // clean-room RFC 9106 here): the RFC §5.3 Argon2id vector driven
    // through the word's parameter-map contract, wide params admitted
    // via the same capability names the reference gates on
    "w93_ws_argon2" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val prog =
        """'argon2.maxpar=4' CAPADD
          |{ 'type' 'id' 'iterations' 3 'memory' 32 'parallelism' 4
          |  'size' 32
          |  'password' '0101010101010101010101010101010101010101010101010101010101010101' HEX->
          |  'salt' '02020202020202020202020202020202' HEX->
          |  'secret' '0303030303030303' HEX->
          |  'additional' '040404040404040404040404' HEX-> } ARGON2 ->HEX""".stripMargin
      s.range(1).select(
        lit(e.run(prog).head.asInstanceOf[String]).as("argon2id_tag"))
    }),

    // WHIRLPOOL + GOST digest words (WarpScriptLib DIGEST wrappers;
    // clean-room ISO/IEC 10118-3 and RFC 5831/CryptoPro
    // implementations, spec test vectors)
    "w92_ws_whirlpool" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      def hx(p: String) = e.run(p).head.asInstanceOf[String]
      s.range(1).select(
        lit(hx("'' 'UTF-8' ->BYTES WHIRLPOOL ->HEX")).as("wp_empty"),
        lit(hx("'abc' 'UTF-8' ->BYTES WHIRLPOOL ->HEX")).as("wp_abc"),
        lit(hx("'' 'UTF-8' ->BYTES GOST ->HEX")).as("gost_empty"),
        lit(hx("'The quick brown fox jumps over the lazy dog' " +
          "'UTF-8' ->BYTES GOST ->HEX")).as("gost_fox"))
    }),

    // Processing rendering words (script/processing/*; clean-room
    // java.awt canvas, AA off). Every expected value is independently
    // derivable: rect fills cover exactly w×h pixel centers, the
    // ellipse count follows the pixel-center insideness rule
    // ((x+.5-cx)²/rx² + (y+.5-cy)²/ry² < 1 → 80 px for rx=6, ry=4),
    // and the PNG data-URL round-trips through Pdecode pixel-exact.
    "w91_ws_processing" -> ((s, dir) => {
      val e = engine(s, dir, cents = false)
      val out = e.run(
        """64 48 '2D' PGraphics
          |32 32 32 Pbackground
          |PnoStroke 255 0 0 Pfill 8 8 16 12 Prect
          |0 255 0 Pfill 'CENTER' PrectMode 48 12 8 8 Prect
          |PpushMatrix 0 24 Ptranslate 0 0 255 Pfill 'CORNER' PrectMode
          |4 4 10 6 Prect PpopMatrix
          |255 255 0 Pfill 40 36 12 8 Pellipse
          |10 10 Pget 'p_red' STORE
          |48 12 Pget 'p_green' STORE
          |5 29 Pget 'p_blue' STORE
          |40 36 Pget 'p_yellow' STORE
          |0 0 Pget 'p_bg' STORE
          |Ppixels 'pxs' STORE
          |Pencode 'url' STORE
          |$url Pdecode 'img' STORE
          |64 48 '2D' PGraphics $img 0 0 Pimage
          |40 36 Pget 'rt_yellow' STORE 0 0 Pget 'rt_bg' STORE DROP
          |10 10 '2D' PGraphics 5 0 10 0 100 Pmap 'pmap' STORE
          |0 0 3 4 Pdist 'pdist' STORE DROP
          |$p_bg $p_red $p_green $p_blue $p_yellow $pxs
          |$url $rt_yellow $rt_bg $pmap $pdist""".stripMargin)
      val Seq(pBg, pRed, pGreen, pBlue, pYellow) =
        out.reverse.take(5).map(_.asInstanceOf[Long])
      val pxs = out(5).asInstanceOf[Vector[Any]].map(_.asInstanceOf[Long])
      val url = out(4).asInstanceOf[String]
      val (rtY, rtBg) = (out(3).asInstanceOf[Long], out(2).asInstanceOf[Long])
      s.range(1).select(
        lit(pBg).as("p_bg"), lit(pRed).as("p_red"),
        lit(pGreen).as("p_green"), lit(pBlue).as("p_blue"),
        lit(pYellow).as("p_yellow"),
        lit(pxs.count(_ == 0xffff0000L).toLong).as("n_red"),
        lit(pxs.count(_ == 0xff00ff00L).toLong).as("n_green"),
        lit(pxs.count(_ == 0xff0000ffL).toLong).as("n_blue"),
        lit(pxs.count(_ == 0xffffff00L).toLong).as("n_yellow"),
        lit(pxs.count(_ == 0xff202020L).toLong).as("n_bg"),
        lit(url.startsWith("data:image/png;base64,")).as("png_url"),
        lit(rtY == pYellow && rtBg == pBg).as("roundtrip_ok"),
        lit(out(1).asInstanceOf[Double]).as("pmap"),
        lit(out(0).asInstanceOf[Double]).as("pdist"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "w85_ws_bitwise" ->
      """SELECT CAST(12 & 10 AS BIGINT) AS band,
        |  CAST(12 | 10 AS BIGINT) AS bor,
        |  CAST(xor(12, 10) AS BIGINT) AS bxor,
        |  ~CAST(0 AS BIGINT) AS bnot,
        |  CAST(1 AS BIGINT) << 8 AS shl,
        |  CAST(-16 AS BIGINT) >> 2 AS shr_arith,
        |  CAST(15 AS BIGINT) AS shr_logical,
        |  true AS almost_close, true AS almost_nan""".stripMargin,

    // hand-computed TOZ interleavings (WsExt5Spec derivations): [3,5]
    // width 4 -> bits v1,v0 LSB-first = 11 01 10 00 -> reversed byte 1b
    "w86_ws_morton" ->
      """SELECT '1b' AS z35, '01' AS z1, '02' AS z10, '01' AS z01,
        |  true AS roundtrip""".stripMargin,

    "w87_ws_findstats" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM
        |          (SELECT DISTINCT event_type, user_id FROM events)) AS n_gts,
        |  (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM events) AS n_classes,
        |  CAST(1 AS BIGINT) AS n_labelnames,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_labelvalues,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
        |   WHERE event_type = 'click') AS n_click_series,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
        |   WHERE event_type = 'click') AS n_click_found""".stripMargin,

    "w89_ws_update_delete" ->
      """SELECT CAST(3 AS BIGINT) AS n_points, CAST(1 AS BIGINT) AS n_mfilter,
        |  CAST(2 AS BIGINT) AS n_set, '1000,3000,4000' AS ticks_csv""".stripMargin,

    "w93_ws_argon2" ->
      """SELECT '0d640df58d78766c08c037a34a8b53c9d01ef0452d75b65eb52520e96b01e659' AS argon2id_tag""".stripMargin,

    "w92_ws_whirlpool" ->
      """SELECT
        |  '19fa61d75522a4669b44e39c1d2e1726c530232130d407f89afee0964997f7a73e83be698b288febcf88e3e03c4f0757ea8964e59b63d93708b138cc42a66eb3' AS wp_empty,
        |  '4e2448a4c6f486bb16b6562c73b4020bf3043e3a731bce721ae1b303d97e6d4c7181eebdb6c57e277d0e34957114cbd6c797fc9d95d8b582d225292076d4eef5' AS wp_abc,
        |  '981e5f3ca30c841487830f84fb433e13ac1101569b9c13584ac483234cd656c0' AS gost_empty,
        |  '9004294a361a508c586fe53d1f1b02746765e71b765472786e4770d565830a76' AS gost_fox""".stripMargin,

    // all literals independently derived: rect fills cover w×h pixel
    // centers exactly; ellipse count 80 from the center-insideness rule
    "w91_ws_processing" ->
      """SELECT CAST(4280295456 AS BIGINT) AS p_bg,
        |  CAST(4294901760 AS BIGINT) AS p_red,
        |  CAST(4278255360 AS BIGINT) AS p_green,
        |  CAST(4278190335 AS BIGINT) AS p_blue,
        |  CAST(4294967040 AS BIGINT) AS p_yellow,
        |  CAST(192 AS BIGINT) AS n_red, CAST(64 AS BIGINT) AS n_green,
        |  CAST(60 AS BIGINT) AS n_blue, CAST(80 AS BIGINT) AS n_yellow,
        |  CAST(2676 AS BIGINT) AS n_bg,
        |  true AS png_url, true AS roundtrip_ok,
        |  50.0 AS pmap, 5.0 AS pdist""".stripMargin,

    "w90_ws_pickle" ->
      s"""SELECT true AS canon_match, true AS fixedpoint, true AS from_python,
         |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
         |   WHERE event_type = 'click' AND epoch_us(ts) <= $LB) AS n_series,
         |  (SELECT CAST(count(*) AS BIGINT) FROM events
         |   WHERE event_type = 'click' AND epoch_us(ts) <= $LB) AS n_points,
         |  true AS gts_shape_ok""".stripMargin,

    "w88_ws_polyfunc" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid,
         |  $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |  2.0 * ($LB - (($LB - ts) // $DAY) * $DAY) + 1.0 AS p_ts
         |FROM g WHERE ts <= $LB
         |GROUP BY 1, 2, 3""".stripMargin,
  )
}
