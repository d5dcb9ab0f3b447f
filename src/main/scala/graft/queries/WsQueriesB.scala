package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine

/** WarpScript front-end queries, continued (w41+ and w14): split out of
  * [[WsQueries]] to keep files under the review/method-size ceiling.
  * Same contract — every row reuses or derives an independent DuckDB
  * oracle; see the [[WsQueries]] Scaladoc.
  */
object WsQueriesB extends QueryPack {
  import GtsQueries.{T0, T7, LB, HOUR, DAY, EV}
  import WsQueries.engine

  private val userid = col("labels").getItem("user").as("userid")

  /** w67 pattern list — real bSAX wire words (levels 2, wordLen 5);
    * the symbol vectors are noted inline. Chosen for stable nonempty
    * hits across sf0.001–0.1. */
  private[queries] val DetectPatterns: Seq[String] = Seq(
    Array(1, 1, 3, 1, 1), // one high spike mid-window
    Array(3, 1, 1, 1, 1), // leading spike
    Array(0, 1, 1, 3, 1)  // dip then spike
  ).map(graft.kernels.SaxCodec.bsaxWord(2, _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ZIP / SORTBY / STRINGFORMAT — closed-form oracle
    "w41_ws_zip_sortby" -> ((s, dir) => {
      val program =
        """[ [ 1 2 3 ] [ 10 20 30 ] [ 7 ] ] ZIP FLATTEN ',' JOIN
          |[ 3 1 2 ] <% 10 SWAP - %> SORTBY ',' JOIN
          |'%25s=%2505.1f' [ 'x' 2.5 ] STRINGFORMAT
          |""".stripMargin
      val stv = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(stv(2).asInstanceOf[String]).as("v_zip"),
        lit(stv(1).asInstanceOf[String]).as("v_sortby"),
        lit(stv(0).asInstanceOf[String]).as("v_fmt"))
    }),


    // COMMONTICKS word: one user's daily-bucketized click+view series,
    // keep only buckets where BOTH series have a point (SORT exercises
    // the set-semantics pass-through)
    "w42_ws_commonticks" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\.(click|view)' { 'user' '20' } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 0 ] BUCKETIZE
           |SORT COMMONTICKS""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // control-flow words: FOR/FORSTEP/WHILE/UNTIL loops, BREAK/
    // CONTINUE, RETURN unwinding, registers, GUARD symbol isolation —
    // each sub-result a literal column (fn/FOR.java family)
    "w43_ws_control" -> ((s, dir) => {
      val program =
        """0 1 100 <% + %> FOR 'for' STORE
          |1 <% DUP 64 < %> <% 2 * %> WHILE 'while' STORE
          |1 <% 2 * %> <% DUP 100 > %> UNTIL 'until' STORE
          |0 10 0 <% -2 + %> <% + %> FORSTEP 'forstep' STORE
          |0 [ 1 2 3 4 5 6 7 ] <% DUP 5 == <% DROP BREAK %> IFT + %> FOREACH 'brk' STORE
          |0 1 10 <% DUP 2 % 0 == <% DROP CONTINUE %> IFT + %> FOR 'cont' STORE
          |<% <% 1 2 NRETURN 98 %> EVAL 99 %> EVAL 'nret' STORE
          |42 POPR7 7 'seven' STORE
          |<% 0 'seven' STORE %> GUARD
          |PUSHR7 $seven + 'regs' STORE
          |$for $while $until $forstep $brk $cont $nret $regs""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(7).asInstanceOf[Long]).as("v_for"),
        lit(v(6).asInstanceOf[Long]).as("v_while"),
        lit(v(5).asInstanceOf[Long]).as("v_until"),
        lit(v(4).asInstanceOf[Long]).as("v_forstep"),
        lit(v(3).asInstanceOf[Long]).as("v_break"),
        lit(v(2).asInstanceOf[Long]).as("v_continue"),
        lit(v(1).asInstanceOf[Long]).as("v_nreturn"),
        lit(v(0).asInstanceOf[Long]).as("v_regs"))
    }),


    // scalar math/time tail: exact arithmetic, bit words, raw IEEE
    // bits, ISO durations, calendar arithmetic, TSELEMENTS inverse
    "w44_ws_mathtail" -> ((s, dir) => {
      val program =
        """MAXLONG 1 SUBTRACTEXACT 'a' STORE
          |255 BITCOUNT 'b' STORE
          |'ff00' FROMHEX 'c' STORE
          |1.5 ->DOUBLEBITS 'd' STORE
          |'PT2H30M' DURATION 'e' STORE
          |90061000001 HUMANDURATION 'f' STORE
          |1706659200000000 1 ADDMONTHS 'g' STORE
          |[ 2024 1 31 12 30 15 250 ] TSELEMENTS-> 'h' STORE
          |'2024-01-31T00:00:00Z' TOTIMESTAMP 'i' STORE
          |$a $b $c $d $e $f $g $h $i""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(8).asInstanceOf[Long]).as("v_subexact"),
        lit(v(7).asInstanceOf[Long]).as("v_bitcount"),
        lit(v(6).asInstanceOf[Long]).as("v_fromhex"),
        lit(v(5).asInstanceOf[Long]).as("v_dblbits"),
        lit(v(4).asInstanceOf[Long]).as("v_duration"),
        lit(v(3).asInstanceOf[String]).as("v_humandur"),
        lit(v(2).asInstanceOf[Long]).as("v_addmonths"),
        lit(v(1).asInstanceOf[Long]).as("v_tselements"),
        lit(v(0).asInstanceOf[Long]).as("v_totimestamp"))
    }),


    // collection words: set algebra, RESHAPE/SHAPE, matrix DET /
    // mat-vec product, SORTWITH comparator macro, LFILTER, SUBMAP
    "w45_ws_coll" -> ((s, dir) => {
      val program =
        """[ 1 2 3 ] ->SET [ 2 3 4 ] ->SET INTERSECTION SET-> ',' JOIN 'a' STORE
          |[ 1 2 3 4 5 6 ] [ 2 3 ] RESHAPE SHAPE ',' JOIN 'b' STORE
          |[ [ 2.0 1.0 ] [ 1.0 3.0 ] ] ->MAT DET 'c' STORE
          |[ [ 1.0 2.0 ] [ 3.0 4.0 ] ] ->MAT [ 5.0 6.0 ] ->VEC * VEC-> ',' JOIN 'd' STORE
          |[ 5 1 4 2 ] <% - %> SORTWITH ',' JOIN 'e' STORE
          |[ 1 2 3 4 ] <% DROP 2 % 0 == %> LFILTER ',' JOIN 'f' STORE
          |{ 'a' 1 'b' 2 'c' 3 } [ 'b' 'c' ] SUBMAP KEYLIST ',' JOIN 'g' STORE
          |$a $b $c $d $e $f $g""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(6).asInstanceOf[String]).as("v_set"),
        lit(v(5).asInstanceOf[String]).as("v_shape"),
        lit(v(4).asInstanceOf[Double]).as("v_det"),
        lit(v(3).asInstanceOf[String]).as("v_matvec"),
        lit(v(2).asInstanceOf[String]).as("v_sortwith"),
        lit(v(1).asInstanceOf[String]).as("v_lfilter"),
        lit(v(0).asInstanceOf[String]).as("v_submap"))
    }),


    // crypto tail: SHA-3 / SHA-384 (JDK provider, NIST vectors),
    // HMAC (RFC 4231 case 2), SipHash-2-4 (paper appendix vector),
    // order-preserving base64, gzip round-trip, EC sign/verify + ECDH
    "w46_ws_crypto2" -> ((s, dir) => {
      val program =
        """'' SHA3.256 ->HEX 'a' STORE
          |'abc' SHA384 ->HEX 'b' STORE
          |'what do ya want for nothing?' 'Jefe' SHA256HMAC ->HEX 'c' STORE
          |'000102030405060708090a0b0c0d0e' HEX->
          |  0x0706050403020100 0x0f0e0d0c0b0a0908 HASH 'd' STORE
          |'graft' 'UTF-8' ->BYTES ->OPB64 'e' STORE
          |'squeeze' 'UTF-8' ->BYTES GZIP UNGZIP 'UTF-8' BYTES-> 'f' STORE
          |'secp256r1' ECGEN 'pub' STORE 'priv' STORE
          |'msg' 'SHA256WITHECDSA' $priv ECPRIVATE ECSIGN
          |'msg' SWAP 'SHA256WITHECDSA' $pub ECPUBLIC ECVERIFY 'g' STORE
          |'secp256r1' ECGEN 'pubB' STORE 'privB' STORE
          |$priv ECPRIVATE $pubB ECPUBLIC ECDH
          |$privB ECPRIVATE $pub ECPUBLIC ECDH == 'h' STORE
          |$a $b $c $d $e $f $g $h""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(7).asInstanceOf[String]).as("v_sha3"),
        lit(v(6).asInstanceOf[String]).as("v_sha384"),
        lit(v(5).asInstanceOf[String]).as("v_hmac"),
        lit(v(4).asInstanceOf[Long]).as("v_siphash"),
        lit(v(3).asInstanceOf[String]).as("v_opb64"),
        lit(v(2).asInstanceOf[String]).as("v_gzip"),
        lit(v(1).asInstanceOf[Boolean]).as("v_ecverify"),
        lit(v(0).asInstanceOf[Boolean]).as("v_ecdh"))
    }),


    // MONOTONIC word: ascending clamp = running max per series (RANGE
    // frame over coincident ticks)
    "w47_ws_monotonic" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |false MONOTONIC""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("mono"))
    }),


    // VALUEDEDUP word: keep the OLDEST point per duplicate value
    "w48_ws_valuededup" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |true VALUEDEDUP""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("cents"))
    }),


    // SHRINK word: the 5 most recent points per series (negative n)
    "w49_ws_shrink" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |-5 SHRINK""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("cents"))
    }),


    // BigDecimal/BigInteger word tail: exact arithmetic, number
    // theory, bit algebra (fn/BDMOD.java family) — values rendered
    // via BD-> plain strings
    "w50_ws_bd" -> ((s, dir) => {
      val program =
        """-17 5 BDMOD BD-> 'a' STORE
          |'1.5' TOBD 3 BDPOW BD-> 'b' STORE
          |48 36 BDGCD BD-> 'c' STORE
          |4 13 497 BDMODPOW BD-> 'd' STORE
          |3 11 BDMODINVERSE BD-> 'e' STORE
          |90 BDNEXTPROBABLEPRIME BD-> 'f' STORE
          |12 10 BDXOR 3 BDSHIFTLEFT BD-> 'g' STORE
          |'2.5' TOBD BDCEIL '2.5' TOBD BDFLOOR BDSUB BD-> 'h' STORE
          |$a $b $c $d $e $f $g $h""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(7).asInstanceOf[String]).as("v_mod"),
        lit(v(6).asInstanceOf[String]).as("v_pow"),
        lit(v(5).asInstanceOf[String]).as("v_gcd"),
        lit(v(4).asInstanceOf[String]).as("v_modpow"),
        lit(v(3).asInstanceOf[String]).as("v_modinv"),
        lit(v(2).asInstanceOf[String]).as("v_nextprime"),
        lit(v(1).asInstanceOf[String]).as("v_bits"),
        lit(v(0).asInstanceOf[String]).as("v_ceilfloor"))
    }),


    // JSON render/parse, SNAPSHOT re-eval, macro round-trip, Base58,
    // TEMPLATE interpolation (fn/TOJSON.java, SNAPSHOT variants,
    // MACROTO, TOB58, TEMPLATE)
    "w51_ws_jsonb58" -> ((s, dir) => {
      val program =
        """{ 'b' 2 'a' 1 } ->JSON 'a' STORE
          |'[1,2.5,"x",true,null]' JSON-> ->JSON 'b' STORE
          |1 'two' 3.5 SNAPSHOTALL EVAL SNAPSHOTALL 'c' STORE
          |<% 1 2 + %> MACRO-> ->MACRO EVAL 'd' STORE
          |'Hello World!' 'UTF-8' ->BYTES ->B58 'e' STORE
          |'x={{a}} y={{b}}' { 'a' 1 'b' 'two' } TEMPLATE 'f' STORE
          |$a $b $c $d $e $f""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(5).asInstanceOf[String]).as("v_json"),
        lit(v(4).asInstanceOf[String]).as("v_jsonrt"),
        lit(v(3).asInstanceOf[String]).as("v_snapshot"),
        lit(v(2).asInstanceOf[Long]).as("v_macro"),
        lit(v(1).asInstanceOf[String]).as("v_b58"),
        lit(v(0).asInstanceOf[String]).as("v_template"))
    }),


    // GEO.WKT + GEO.WITHIN words ≡ g47: the shape literal parses on
    // stack, the predicate compiles to the same exact ray-cast plan
    "w52_ws_geo_within" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val uid = col("labels").getItem("user").cast(LongType)
      val track = f.withColumn("lat", uid % 120 - 60 + col("vdouble") / 100.0)
        .withColumn("lon", (col("ts") % 360) - 180 + col("vdouble") / 100.0)
      val en = new WarpScriptEngine(
        fetch = (_, _, _, _) => GtsFrame(track), nowTs = LB)
      val program =
        s"""'POLYGON ((-100.137 -20.731, -30.421 -58.283, 40.618 -10.207, 25.314 35.941, -60.253 40.123, -100.137 -20.731))'
           |6 GEO.WKT 'p' STORE
           |[ '' '~.*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH $$p GEO.WITHIN""".stripMargin
      en.runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // geo scalar words: the Wikipedia geohash vector, HHCode and
    // GEOPACK round-trips emitted as booleans, neighbor algebra
    "w53_ws_geoscalars" -> ((s, dir) => {
      val program =
        s"""57.64911 10.40744 11 ->GEOHASH 'gh' STORE
           |12.3 45.6 ->HHCODE HHCODE-> 'lo' STORE 'la' STORE
           |$$la 12.3 - ABS 0.000001 < $$lo 45.6 - ABS 0.000001 < AND 'hhrt' STORE
           |'POLYGON ((-10.5 -10.5, 10.5 -10.5, 10.5 10.5, -10.5 10.5, -10.5 -10.5))'
           |5 GEO.WKT 'sq' STORE
           |$$sq GEOPACK GEOUNPACK 'sq2' STORE
           |$$sq $$sq2 GEO.INTERSECTS 'packrt' STORE
           |$$sq 1 GEO.BUFFER 'big' STORE
           |$$big $$sq GEO.DIFFERENCE 'ring' STORE
           |$$sq GEOSPLIT SIZE 'ncomp' STORE
           |0 0 5 ->GEOCELL 'cell' STORE
           |$$gh $$hhrt $$packrt $$ncomp $$cell""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(4).asInstanceOf[String]).as("v_geohash"),
        lit(v(3).asInstanceOf[Boolean]).as("v_hhcode_rt"),
        lit(v(2).asInstanceOf[Boolean]).as("v_pack_rt"),
        lit(v(1).asInstanceOf[Long]).as("v_ncomponents"),
        lit(v(0).asInstanceOf[Long]).as("v_cell"))
    }),


    // STL word (fn/STL.java → GTSHelper.stl, faithful r11): the REAL
    // Cleveland STL loop driven through SQL-replayable parameters —
    // BANDWIDTH_S −1 degrades the cycle smoothing to cycle MEANS
    // (lowess_stl's documented negative-bandwidth face) and
    // BANDWIDTH_L/T 1 make the low-pass/trend rlowess passes exact
    // identities on the filled grid, so the oracle can replay the
    // cycle-subseries extension + triple-moving-average cascade of
    // both inner iterations in closed form. Output is the reference's
    // [seasonal, trend] pair under _suffixed class names.
    "w54_ws_stl" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 h 720 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE
           |{ 'PERIOD' 24 'BANDWIDTH_S' -1 'BANDWIDTH_L' 1 'BANDWIDTH_T' 1
           |  'SPEED' 0 } STL""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          round(col("vdouble"), 6).as("v"))
    }),


    // FFTAP word: the g81 spectrum in amplitude/phase form (atan2 on
    // bit-exact re/im; the driver compare rounds to 1e-9)
    "w55_ws_fftap" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |${GtsQueries8.Bins} $DAY $LB FFTAP""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("k"), col("amp"), col("phase"))
    }),


    // IFFT word: FFT → IFFT reconstructs the 16 daily bucket sums.
    // The inverse pass carries ~1e-10 order-dependent cancellation
    // noise (large re/im terms cancel to small x), so the gate is the
    // INTEGER-rounded reconstruction — signal magnitude is ≥ 1e4, so
    // a 0.5 rounding boundary sits 5e9 noise-widths away
    "w56_ws_ifft" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |${GtsQueries8.Bins} $DAY $LB FFT
           |${GtsQueries8.Bins} IFFT""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts").as("n"),
          round(col("vdouble"), 0).cast(LongType).as("x"))
    }),


    // mapper.highest (selection mapper, MapperHighest.java): top-3
    // values per series through the MAP word
    "w57_ws_mapper_highest" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  3 mapper.highest 0 0 0 ] MAP""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("cents"))
    }),


    // mapper.geo.within through the MAP word ≡ g47 (same polygon, same
    // exact ray-cast — the shape travels as a stack GEOSHAPE)
    "w58_ws_mapper_geo" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val uid = col("labels").getItem("user").cast(LongType)
      val track = f.withColumn("lat", uid % 120 - 60 + col("vdouble") / 100.0)
        .withColumn("lon", (col("ts") % 360) - 180 + col("vdouble") / 100.0)
      val en = new WarpScriptEngine(
        fetch = (_, _, _, _) => GtsFrame(track), nowTs = LB)
      val program =
        s"""'POLYGON ((-100.137 -20.731, -30.421 -58.283, 40.618 -10.207, 25.314 35.941, -60.253 40.123, -100.137 -20.731))'
           |6 GEO.WKT 'p' STORE
           |[ [ '' '~.*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  $$p mapper.geo.within 0 0 0 ] MAP""".stripMargin
      en.runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // Keccak vectors (published pre-NIST test values), typed encoder
    // ->GTS split, MV extraction, WKT render round-trip
    "w59_ws_encoder_keccak" -> ((s, dir) => {
      val program =
        """'' KECCAK.256 ->HEX 'a' STORE
          |'abc' KECCAK.256 ->HEX 'b' STORE
          |NEWENCODER 'enc' RENAME
          |1 NaN NaN NULL 42 ADDVALUE
          |2 NaN NaN NULL 1.5 ADDVALUE
          |3 NaN NaN NULL 'txt' ADDVALUE
          |->GTS DUP SIZE 'c' STORE 'LONG' GET VALUES 0 GET 'd' STORE
          |'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 10.0, 0.0 0.0))'
          |5 GEO.WKT ->WKT 'e' STORE
          |$a $b $c $d $e""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(4).asInstanceOf[String]).as("v_keccak_empty"),
        lit(v(3).asInstanceOf[String]).as("v_keccak_abc"),
        lit(v(2).asInstanceOf[Long]).as("v_types"),
        lit(v(1).asInstanceOf[Long]).as("v_longval"),
        lit(v(0).asInstanceOf[String]).as("v_wkt"))
    }),


    // MD4 / RIPEMD-160 (RFC 1320 + RIPEMD paper vectors) and RLP
    // encode vectors from the public spec
    "w60_ws_digest_rlp" -> ((s, dir) => {
      val program =
        """'abc' MD4 ->HEX 'a' STORE
          |'abc' RIPEMD160 ->HEX 'b' STORE
          |[ 'cat' 'dog' ] ->RLP ->HEX 'c' STORE
          |1024 ->RLP ->HEX 'd' STORE
          |[ 'cat' 'dog' ] ->RLP RLP-> 1 GET 'UTF-8' BYTES-> 'e' STORE
          |$a $b $c $d $e""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(4).asInstanceOf[String]).as("v_md4"),
        lit(v(3).asInstanceOf[String]).as("v_ripemd"),
        lit(v(2).asInstanceOf[String]).as("v_rlp_list"),
        lit(v(1).asInstanceOf[String]).as("v_rlp_long"),
        lit(v(0).asInstanceOf[String]).as("v_rlp_rt"))
    }),


    // PROB word: per-point value probability from the per-series
    // histogram — two window counts, no driver state
    "w61_ws_prob" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH PROB""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("p"))
    }),


    // TICKINDEX word on unique daily buckets: ticks → 0..n-1
    "w62_ws_tickindex" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 0 ] BUCKETIZE TICKINDEX""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts").as("idx"), col("vdouble"))
    }),


    // Geo codec tail: the SAME polygon as w52 round-tripped through
    // ->WKB / GEO.WKB, ->KML / GEO.KML and ->GML / GEO.GML before the
    // GEO.WITHIN filter — the parse∘render identity means the ray-cast
    // (and so the rows) must equal g47's oracle exactly
    "w64_ws_geo_codecs" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val uid = col("labels").getItem("user").cast(LongType)
      val track = f.withColumn("lat", uid % 120 - 60 + col("vdouble") / 100.0)
        .withColumn("lon", (col("ts") % 360) - 180 + col("vdouble") / 100.0)
      val en = new WarpScriptEngine(
        fetch = (_, _, _, _) => GtsFrame(track), nowTs = LB)
      val program =
        s"""'POLYGON ((-100.137 -20.731, -30.421 -58.283, 40.618 -10.207, 25.314 35.941, -60.253 40.123, -100.137 -20.731))'
           |6 GEO.WKT
           |->WKB 6 GEO.WKB
           |->KML 6 GEO.KML
           |->GML 6 GEO.GML 'p' STORE
           |[ '' '~.*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH $$p GEO.WITHIN""".stripMargin
      en.runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // ZPATTERNS (faithful r11 — fn/PATTERNS.java standardizePAA=false
    // → GTSHelper.bSAX): the exact mapped values ((cents%7−3)·0.5,
    // binary-exact) hit the Acklam quantization bounds raw; the result
    // is the STRING GTS of OPB64-encoded bSAX words at window-start
    // ticks, byte-identical to the reference's wire words
    "w65_ws_zpatterns" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  7.0 mapper.mod 0 0 0 ] MAP 'g' STORE
           |[ $$g -3.0 mapper.add 0 0 0 ] MAP 'g' STORE
           |[ $$g 0.5 mapper.mul 0 0 0 ] MAP 5 5 4 ZPATTERNS""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vstring").as("word"))
    }),

    // ZDISCORDS (faithful r11 — continuum/gts/DISCORDS.java over a
    // FILLVALUE'd 8-bucket grid): windowLen 4, wordLen 2 (a REAL 2-point
    // PAA), count 1, overlap tolerated, no distance-ratio purge. With 5
    // windows per series only the (0,4) window pair is >= windowLen
    // apart, so interior windows keep nndist=+inf and the winner is the
    // first +inf candidate in the reference's (occurrence, lex,
    // location) processing order — a closed form the oracle replays
    "w66_ws_zdiscords" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 8 ] BUCKETIZE
           |[ 0 0 0 0.0 ] FILLVALUE 'b' STORE
           |[ $$b 7.0 mapper.mod 0 0 0 ] MAP 'g' STORE
           |[ $$g -3.0 mapper.add 0 0 0 ] MAP 'g' STORE
           |[ $$g 0.5 mapper.mul 0 0 0 ] MAP
           |4 2 4 1 true 0.0 ZDISCORDS""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // PATTERNDETECTION (faithful r11 — GTSHelper.detect over bSAX
    // words): union of all 5-point windows whose Bessel-standardized
    // bSAX word is in the pattern list, original points, each tick once
    "w67_ws_patterndetect" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |[ ${WsQueriesB.DetectPatterns.map(p => s"'$p'").mkString(" ")} ]
           |5 5 4 PATTERNDETECTION""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),


    // FFTWINDOW hamming over the daily bucket sums (fn/FFTWINDOW.java
    // verbatim formula: 0.54 - 0.46 cos(2 pi n / (N-1)))
    "w68_ws_fftwindow" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } $LB ${LB + 1} ] FETCH
           |  bucketizer.sum $LB 1 d 0 ] BUCKETIZE
           |'hamming' FFTWINDOW""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"),
          round(col("vdouble"), 6).as("wv"))
    }),


    // BUCKETIZE.CALENDAR word: monthly calendar buckets over events —
    // the oracle recomputes via DuckDB's own date_trunc
    "w72_ws_bucketize_calendar" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  bucketizer.sum 0 '1m' 0 ] BUCKETIZE.CALENDAR""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("msum"))
    }),


    // PACK/UNPACK bit codec: the oracle bytes are hand-derived from the
    // format spec (big-endian specs emit the value MSB-first; little-
    // endian emit it bit-reversed within the stream; bit tail 0-padded)
    "w71_ws_pack" -> ((s, dir) => {
      val program =
        """[ 1 2 3 ] '>U8>U8>U8' PACK ->HEX 'a' STORE
          |[ 258 ] '>U16' PACK ->HEX 'b' STORE
          |[ 1 ] '>U4' PACK ->HEX 'c' STORE
          |[ 1 ] '<U8' PACK ->HEX 'd' STORE
          |[ 123 -5 3.25 true ] '<L12>L8>DB' PACK '<L12>L8>DB' UNPACK
          |DUP 0 GET 'e' STORE DUP 1 GET 'f' STORE DUP 2 GET 'g' STORE 3 GET 'h' STORE
          |$a $b $c $d $e $f $g $h""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(7).asInstanceOf[String]).as("a"),
        lit(v(6).asInstanceOf[String]).as("b"),
        lit(v(5).asInstanceOf[String]).as("c"),
        lit(v(4).asInstanceOf[String]).as("d"),
        lit(v(3).asInstanceOf[Long]).as("e"),
        lit(v(2).asInstanceOf[Long]).as("f"),
        lit(v(1).asInstanceOf[Double]).as("g"),
        lit(v(0).asInstanceOf[Boolean]).as("h"))
    }),


    // MACROMAPPER: a user macro (window sum over the values list) runs
    // per window on the EXECUTORS via ScalarEval — must reproduce
    // mapper.sum's g06 oracle byte-for-byte
    "w70_ws_macromapper" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  <% 7 GET 0.0 SWAP <% + %> FOREACH %> MACROMAPPER
           |  0 1 h - 0 0 ] MAP""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("wsum"))
    }),


    // INTERPOLATOR.1D.LINEAR as a MAPPER: the interpolant compiles to a
    // piecewise-Horner Column, fully codegen'd — the oracle recomputes
    // the interpolation from the knot literals alone (independent path)
    "w69_ws_interpolator" -> ((s, dir) => {
      val program =
        s"""[ [ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |  [ 0.0 5.0 50.0 ] [ 0.0 100.0 -40.0 ] INTERPOLATOR.1D.LINEAR
           |  0 0 0 ] MAP""".stripMargin
      engine(s, dir, cents = false).runToFrame(program)
        .select(col("class"), userid, col("ts"), col("vdouble").as("iv"))
    }),


    // Quaternion words (fn/TOQUATERNION.java family): pack/conjugate/
    // Hamilton product/divide/rotate on the stack; oracle recomputes
    // through the Quaternions SQL twin forms (exact pack arithmetic)
    "w63_ws_quaternions" -> ((s, dir) => {
      val rq = graft.functions.Quaternions.RotQ
      val program =
        s"""1.0 0.05 0.1 0.15 ->Q 'q' STORE
           |$$q QCONJUGATE 'qc' STORE
           |$$q $rq QMULTIPLY 'qm' STORE
           |$$q $rq QDIVIDE 'qd' STORE
           |0.5 0.25 0.125 $$q QROTATE 'vz' STORE 'vy' STORE 'vx' STORE
           |$$q $$qc $$qm $$qd $$vx $$vy $$vz""".stripMargin
      val v = engine(s, dir, cents = false).run(program)
      s.range(1).select(
        lit(v(6).asInstanceOf[Long]).as("q"),
        lit(v(5).asInstanceOf[Long]).as("qc"),
        lit(v(4).asInstanceOf[Long]).as("qm"),
        lit(v(3).asInstanceOf[Long]).as("qd"),
        lit(v(2).asInstanceOf[Double]).as("vx"),
        lit(v(1).asInstanceOf[Double]).as("vy"),
        lit(v(0).asInstanceOf[Double]).as("vz"))
    }),


    // ESDTEST word ≡ g77 (mean/sd variant; k=3, alpha=0.05)
    "w14_ws_esdtest" -> ((s, dir) => {
      val program =
        s"""[ '' '~events\\..*' { } ${Long.MaxValue} ${Long.MaxValue} ] FETCH
           |3 false 0.05 ESDTEST""".stripMargin
      engine(s, dir, cents = true).runToFrame(program)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble").as("cents"),
          col("round").cast(org.apache.spark.sql.types.IntegerType).as("round"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "w70_ws_macromapper" -> GtsQueries.oracleSql("g06_map_timewindow_sum"),

    "w14_ws_esdtest" -> GtsQueries7.oracleSql("g77_esd_outliers"),

    // control/math/coll/crypto scalar rows: the oracle is the
    // independently-derived constant (loop closed forms, NIST/RFC/
    // SipHash-paper vectors, hand-computed OPB64) — CAST pins BIGINT
    "w43_ws_control" ->
      """SELECT CAST(5050 AS BIGINT) AS v_for, CAST(64 AS BIGINT) AS v_while,
        |  CAST(128 AS BIGINT) AS v_until, CAST(30 AS BIGINT) AS v_forstep,
        |  CAST(10 AS BIGINT) AS v_break, CAST(25 AS BIGINT) AS v_continue,
        |  CAST(1 AS BIGINT) AS v_nreturn, CAST(49 AS BIGINT) AS v_regs""".stripMargin,

    "w44_ws_mathtail" ->
      """SELECT CAST(9223372036854775806 AS BIGINT) AS v_subexact,
        |  CAST(8 AS BIGINT) AS v_bitcount, CAST(65280 AS BIGINT) AS v_fromhex,
        |  CAST(4609434218613702656 AS BIGINT) AS v_dblbits,
        |  CAST(9000000000 AS BIGINT) AS v_duration,
        |  '1d1h1m1.000001s' AS v_humandur,
        |  CAST(1709164800000000 AS BIGINT) AS v_addmonths,
        |  CAST(1706704215000250 AS BIGINT) AS v_tselements,
        |  CAST(1706659200000000 AS BIGINT) AS v_totimestamp""".stripMargin,

    "w45_ws_coll" ->
      """SELECT '2,3' AS v_set, '2,3' AS v_shape, CAST(5.0 AS DOUBLE) AS v_det,
        |  '17.0,39.0' AS v_matvec, '1,2,4,5' AS v_sortwith,
        |  '2,4' AS v_lfilter, 'b,c' AS v_submap""".stripMargin,

    "w46_ws_crypto2" ->
      """SELECT 'a7ffc6f8bf1ed76651c14756a061d662f580ff4de43b49fa82d80a4b80f8434a' AS v_sha3,
        |  'cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed8086072ba1e7cc2358baeca134c825a7' AS v_sha384,
        |  '5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843' AS v_hmac,
        |  CAST(-6833708440360172059 AS BIGINT) AS v_siphash,
        |  'Or8WObF' AS v_opb64, 'squeeze' AS v_gzip,
        |  TRUE AS v_ecverify, TRUE AS v_ecdh""".stripMargin,

    // BD tail: DuckDB HUGEINT/DECIMAL compute the same exact values
    "w50_ws_bd" ->
      """SELECT CAST(mod(CAST(-17 AS HUGEINT) % 5 + 5, 5) AS VARCHAR) AS v_mod,
        |  CAST(1.5 * 1.5 * 1.5 AS VARCHAR) AS v_pow,
        |  CAST(gcd(48, 36) AS VARCHAR) AS v_gcd,
        |  CAST(CAST(pow(4, 13) AS HUGEINT) % 497 AS VARCHAR) AS v_modpow,
        |  '4' AS v_modinv, '97' AS v_nextprime,
        |  CAST(xor(12, 10) * 8 AS VARCHAR) AS v_bits,
        |  '1' AS v_ceilfloor""".stripMargin,

    "w51_ws_jsonb58" ->
      """SELECT '{"a":1,"b":2}' AS v_json,
        |  '[1,2.5,"x",true,null]' AS v_jsonrt,
        |  '1 ''two'' 3.5' AS v_snapshot,
        |  CAST(3 AS BIGINT) AS v_macro,
        |  '2NEpo7TZRRrLZSi2U' AS v_b58,
        |  'x=1 y=two' AS v_template""".stripMargin,


    // GEO words: the w52 predicate must hash-match g47's oracle (same
    // shape, same ray-cast); w53 pins the public geohash test vector
    // and round-trip booleans
    "w52_ws_geo_within" -> GeoQueries.oracleSql("g47_geo_within"),

    "w64_ws_geo_codecs" -> GeoQueries.oracleSql("g47_geo_within"),

    "w53_ws_geoscalars" ->
      """SELECT 'u4pruydqqvj' AS v_geohash, TRUE AS v_hhcode_rt,
        |  TRUE AS v_pack_rt, CAST(1 AS BIGINT) AS v_ncomponents,
        |  CAST(528 AS BIGINT) AS v_cell""".stripMargin,


    // faithful-STL closed form (see the query comment): two inner
    // iterations of cycle-MEAN seasonal smoothing over the ±1-period
    // extended grid, the reference's MA(24)->MA(24)->MA(3) low-pass
    // cascade, identity trend smoothing; round 6 absorbs the kernel's
    // running-sum vs SQL-avg association noise
    "w54_ws_stl" -> {
      val HOUR = GtsQueries.HOUR
      // one inner iteration: detrended input column `det` (over grid
      // j/x/cyc) -> seasonal component column of that round
      def round(n: Int, det: String, src: String): String =
        s"""cm$n AS (SELECT class, userid, cyc, avg($det) AS m
           |       FROM $src GROUP BY 1, 2, 3),
           |ext$n AS (SELECT g0.class, g0.userid, r.idx,
           |         cm$n.m AS v
           |       FROM (SELECT DISTINCT class, userid FROM grid) g0
           |       CROSS JOIN (SELECT unnest(range(768)) AS idx) r
           |       JOIN cm$n ON cm$n.class = g0.class AND cm$n.userid = g0.userid
           |         AND cm$n.cyc = ((743 - r.idx) % 24 + 24) % 24),
           |ma1_$n AS (SELECT class, userid, idx, avg(v)
           |         OVER (PARTITION BY class, userid ORDER BY idx
           |           ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS v
           |       FROM ext$n QUALIFY idx <= 744),
           |ma2_$n AS (SELECT class, userid, idx, avg(v)
           |         OVER (PARTITION BY class, userid ORDER BY idx
           |           ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS v
           |       FROM ma1_$n QUALIFY idx <= 721),
           |ma3_$n AS (SELECT class, userid, idx, avg(v)
           |         OVER (PARTITION BY class, userid ORDER BY idx
           |           ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS v
           |       FROM ma2_$n QUALIFY idx <= 719),
           |seas$n AS (SELECT g.class, g.userid, g.j, g.x, g.cyc,
           |         cm$n.m - ma3_$n.v AS s
           |       FROM grid g
           |       JOIN cm$n ON cm$n.class = g.class AND cm$n.userid = g.userid
           |         AND cm$n.cyc = g.cyc
           |       JOIN ma3_$n ON ma3_$n.class = g.class
           |         AND ma3_$n.userid = g.userid AND ma3_$n.idx = g.j)"""
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, ($LB - ts) // $HOUR AS k, sum(cents) AS sv
         |      FROM g WHERE ts <= $LB AND ($LB - ts) // $HOUR < 720
         |      GROUP BY 1, 2, 3),
         |ser AS (SELECT DISTINCT class, userid FROM g
         |        WHERE ts <= $LB AND ($LB - ts) // $HOUR < 720),
         |grid AS (SELECT ser.class, ser.userid, r.j,
         |           CAST(coalesce(b.sv, 0) AS DOUBLE) AS x,
         |           (719 - r.j) % 24 AS cyc
         |         FROM ser CROSS JOIN (SELECT unnest(range(720)) AS j) r
         |         LEFT JOIN b ON b.class = ser.class AND b.userid = ser.userid
         |           AND b.k = 719 - r.j),
         |${round(1, "x", "grid")},
         |${round(2, "s", "seas1")},
         |out AS (SELECT class, userid, $LB - (719 - j) * $HOUR AS ts,
         |          s AS seasonal, x - s AS trend
         |        FROM seas2)
         |SELECT class || '_seasonal' AS class, userid, ts, round(seasonal, 6) AS v
         |FROM out
         |UNION ALL
         |SELECT class || '_trend', userid, ts, round(trend, 6) FROM out""".stripMargin
    },

    // FFTAP: g81's spectrum CTE + amplitude/phase (atan2 rounds away
    // in the driver's 1e-9 canonicalization)
    "w55_ws_fftap" -> {
      val (b, wc, ws) = (GtsQueries8.Bins, GtsQueries8.WC, GtsQueries8.WS)
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid,
         |        CAST(floor(($LB - ts) / $DAY) AS BIGINT) AS n, sum(cents) AS x
         |      FROM g WHERE ts <= $LB AND floor(($LB - ts) / $DAY) < $b
         |      GROUP BY 1, 2, 3),
         |kk AS (SELECT b.*, t.k FROM b CROSS JOIN
         |        (SELECT unnest(range($b)) AS k) t),
         |s AS (SELECT class, userid, k,
         |        sum(x * ($wc)[(k * n) % $b + 1]) AS re,
         |        sum(-x * ($ws)[(k * n) % $b + 1]) AS im
         |      FROM kk GROUP BY 1, 2, 3)
         |SELECT class, userid, k, sqrt(re * re + im * im) AS amp,
         |       atan2(im, re) AS phase
         |FROM s""".stripMargin
    },

    // IFFT: the inverse sum over the same dyadic twiddles, /bins exact
    "w56_ws_ifft" -> {
      val (b, wc, ws) = (GtsQueries8.Bins, GtsQueries8.WC, GtsQueries8.WS)
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid,
         |        CAST(floor(($LB - ts) / $DAY) AS BIGINT) AS n, sum(cents) AS x
         |      FROM g WHERE ts <= $LB AND floor(($LB - ts) / $DAY) < $b
         |      GROUP BY 1, 2, 3),
         |kk AS (SELECT b.*, t.k FROM b CROSS JOIN
         |        (SELECT unnest(range($b)) AS k) t),
         |s AS (SELECT class, userid, k,
         |        sum(x * ($wc)[(k * n) % $b + 1]) AS re,
         |        sum(-x * ($ws)[(k * n) % $b + 1]) AS im
         |      FROM kk GROUP BY 1, 2, 3),
         |nn AS (SELECT s.*, t.n FROM s CROSS JOIN
         |        (SELECT unnest(range($b)) AS n) t)
         |SELECT class, userid, n,
         |       CAST(round(sum(re * ($wc)[(k * n) % $b + 1] -
         |           im * ($ws)[(k * n) % $b + 1]) / $b, 0) AS BIGINT) AS x
         |FROM nn GROUP BY 1, 2, 3""".stripMargin
    },


    "w59_ws_encoder_keccak" ->
      """SELECT 'c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470' AS v_keccak_empty,
        |  '4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45' AS v_keccak_abc,
        |  CAST(3 AS BIGINT) AS v_types, CAST(42 AS BIGINT) AS v_longval,
        |  'POLYGON ((0.0 0.0, 10.0 0.0, 10.0 10.0, 0.0 10.0, 0.0 0.0))' AS v_wkt""".stripMargin,


    "w60_ws_digest_rlp" ->
      """SELECT 'a448017aaf21d8525fc10ae87aa6729d' AS v_md4,
        |  '8eb208f7e05d987a9b044a8e98c6b087f15a0bfc' AS v_ripemd,
        |  'c88363617483646f67' AS v_rlp_list, '820400' AS v_rlp_long,
        |  'dog' AS v_rlp_rt""".stripMargin,

    "w71_ws_pack" ->
      """SELECT '010203' AS a, '0102' AS b, '10' AS c, '80' AS d,
        |  CAST(123 AS BIGINT) AS e, CAST(-5 AS BIGINT) AS f,
        |  CAST(3.25 AS DOUBLE) AS g, true AS h""".stripMargin,


    "w72_ws_bucketize_calendar" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid,
         |  epoch_us(date_trunc('month', make_timestamp(ts))) AS ts,
         |  CAST(sum(cents) AS DOUBLE) AS msum
         |FROM g GROUP BY 1, 2, 3""".stripMargin,


    "w69_ws_interpolator" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  CASE WHEN vdouble < 0.0 OR vdouble > 50.0 THEN CAST('NaN' AS DOUBLE)
         |       WHEN vdouble >= 5.0
         |         THEN ((-40.0 - 100.0) / (50.0 - 5.0)) * (vdouble - 5.0) + 100.0
         |       ELSE ((100.0 - 0.0) / (5.0 - 0.0)) * (vdouble - 0.0) + 0.0
         |  END AS iv
         |FROM g""".stripMargin,


    // faithful bSAX word at every window start: symbols from the exact
    // mapped values against the full-precision Acklam bounds, word via
    // the shared 1024-entry vocabulary table
    "w65_ws_zpatterns" -> {
      val xs = (0 until 5).map(i => s"x$i")
      val leads = (1 until 5).map(i => s"lead(x, $i) OVER w AS x$i").mkString(", ")
      val syms = xs.map(x => SaxOracle.symbolSql(x, 4))
      s"""WITH g AS ($EV),
         |v AS (SELECT class, userid, ts, (cents % 7 - 3) * 0.5 AS x FROM g),
         |o AS (SELECT class, userid, ts, x AS x0, $leads
         |      FROM v WINDOW w AS (PARTITION BY class, userid ORDER BY ts, x))
         |SELECT class, userid, ts, ${SaxOracle.wordSql(syms, 4, 5)} AS word
         |FROM o WHERE x4 IS NOT NULL""".stripMargin
    },

    // the 8-bucket ZDISCORDS closed form: words (2-point PAA means, raw
    // quantization), per-series occurrence counts, the +inf candidate
    // pool {1,2,3} ∪ {0 if w4>w0} ∪ {4 if w0>w4}, winner = first in
    // (occurrence, lex word, location) order, output = its 4 points
    "w66_ws_zdiscords" -> {
      def m(a: String, b: String) = s"(($a) + ($b)) / 2.0"
      val means = (i: String) => Seq(
        m(s"xs[$i + 1]", s"xs[$i + 2]"), m(s"xs[$i + 3]", s"xs[$i + 4]"))
      val word = (i: String) =>
        SaxOracle.wordSql(means(i).map(x => SaxOracle.symbolSql(x, 4)), 4, 2)
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, ($LB - ts) // $DAY AS k, sum(cents) AS s
         |      FROM g WHERE ts <= $LB AND ($LB - ts) // $DAY < 8
         |      GROUP BY 1, 2, 3),
         |ser AS (SELECT DISTINCT class, userid FROM g
         |        WHERE ts <= $LB AND ($LB - ts) // $DAY < 8),
         |grid AS (SELECT ser.class, ser.userid, r.j,
         |           $LB - (7 - r.j) * $DAY AS bts,
         |           ((coalesce(b.s, 0) % 7) - 3) * 0.5 AS x
         |         FROM ser CROSS JOIN (SELECT unnest(range(8)) AS j) r
         |         LEFT JOIN b ON b.class = ser.class AND b.userid = ser.userid
         |           AND b.k = 7 - r.j),
         |p AS (SELECT class, userid, list(x ORDER BY j) AS xs,
         |        list(bts ORDER BY j) AS bt FROM grid GROUP BY 1, 2),
         |wrd AS (SELECT class, userid, xs, bt, w.i, ${word("w.i")} AS word
         |        FROM p CROSS JOIN (SELECT unnest(range(5)) AS i) w),
         |occ AS (SELECT *, count(*) OVER (PARTITION BY class, userid, word)
         |          AS n_occ FROM wrd),
         |w04 AS (SELECT class, userid,
         |          max(CASE WHEN i = 0 THEN word END) AS w0,
         |          max(CASE WHEN i = 4 THEN word END) AS w4
         |        FROM wrd GROUP BY 1, 2),
         |pool AS (SELECT o.* FROM occ o JOIN w04
         |           ON o.class = w04.class AND o.userid = w04.userid
         |         WHERE o.i IN (1, 2, 3) OR (o.i = 0 AND w04.w4 > w04.w0)
         |            OR (o.i = 4 AND w04.w0 > w04.w4)),
         |win AS (SELECT *, row_number() OVER (PARTITION BY class, userid
         |          ORDER BY n_occ, word, i) AS rk FROM pool)
         |SELECT w.class, w.userid, w.bt[w.i + kk + 1] AS ts,
         |  w.xs[w.i + kk + 1] AS vdouble
         |FROM win w CROSS JOIN (SELECT unnest(range(4)) AS kk) k4
         |WHERE w.rk = 1""".stripMargin
    },


    "w67_ws_patterndetect" -> {
      val xs = (0 until 5).map(i => s"x$i")
      val leads = (1 until 5)
        .map(i => s"lead(x, $i) OVER w AS x$i").mkString(", ")
      val zs = SaxOracle.besselZSql(xs.map(x => s"($x)"))
      val word = SaxOracle.wordSql(zs.map(z => SaxOracle.symbolSql(z, 4)), 4, 5)
      val pats = DetectPatterns.map(p => s"'$p'").mkString(", ")
      s"""WITH g AS ($EV),
         |v AS (SELECT class, userid, ts, CAST(cents AS DOUBLE) AS x FROM g),
         |o AS (SELECT class, userid, ts, x, x AS x0, $leads
         |      FROM v WINDOW w AS (PARTITION BY class, userid ORDER BY ts, x)),
         |ww AS (SELECT class, userid, ts, x,
         |        CASE WHEN x4 IS NOT NULL THEN $word END AS word
         |      FROM o),
         |h AS (SELECT class, userid, ts, x,
         |        max(CASE WHEN word IN ($pats) THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY class, userid ORDER BY ts, x
         |            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS hit
         |      FROM ww)
         |SELECT class, userid, ts, x AS vdouble
         |FROM h WHERE hit = 1""".stripMargin
    },


    "w68_ws_fftwindow" -> {
      val DAY = GtsQueries.DAY
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |        sum(cents) AS v
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3),
         |r AS (SELECT class, userid, ts, v,
         |        CAST(row_number() OVER (PARTITION BY class, userid
         |          ORDER BY ts) - 1 AS DOUBLE) AS n,
         |        CAST(count(*) OVER (PARTITION BY class, userid) AS DOUBLE) AS nn
         |      FROM b)
         |SELECT class, userid, ts,
         |  round(v * (0.54 - 0.46 * cos(2 * pi() * n / (nn - 1.0))), 6) AS wv
         |FROM r""".stripMargin
    },


    "w63_ws_quaternions" -> {
      import graft.functions.Quaternions._
      val qS = (0 to 3).map(i => componentSql("q", i))
      val rS = (0 to 3).map(i => componentSql(RotQ.toString, i))
      val cS = (0 to 3).map(i => componentSql("rc", i))
      // QROTATE of (0.5, 0.25, 0.125) by q — same IEEE expression order
      // as Quaternions.rotate
      val vx = s"(1.0 - 2.0*${qS(2)}*${qS(2)} - 2.0*${qS(3)}*${qS(3)}) * 0.5 + " +
        s"2.0*(${qS(1)}*${qS(2)} + ${qS(0)}*${qS(3)}) * 0.25 + " +
        s"2.0*(${qS(1)}*${qS(3)} - ${qS(0)}*${qS(2)}) * 0.125"
      val vy = s"2.0*(${qS(1)}*${qS(2)} - ${qS(0)}*${qS(3)}) * 0.5 + " +
        s"(1.0 - 2.0*${qS(1)}*${qS(1)} - 2.0*${qS(3)}*${qS(3)}) * 0.25 + " +
        s"2.0*(${qS(2)}*${qS(3)} + ${qS(0)}*${qS(1)}) * 0.125"
      val vz = s"2.0*(${qS(1)}*${qS(3)} + ${qS(0)}*${qS(2)}) * 0.5 + " +
        s"2.0*(${qS(2)}*${qS(3)} - ${qS(0)}*${qS(1)}) * 0.25 + " +
        s"(1.0 - 2.0*${qS(1)}*${qS(1)} - 2.0*${qS(2)}*${qS(2)}) * 0.125"
      s"""WITH p AS (SELECT ${packQSql("1.0", "0.05", "0.1", "0.15")} AS q,
         |    ${packQSql(rS(0), s"-${rS(1)}", s"-${rS(2)}", s"-${rS(3)}")} AS rc)
         |SELECT q,
         |  ${packQSql(qS(0), s"-${qS(1)}", s"-${qS(2)}", s"-${qS(3)}")} AS qc,
         |  ${multiplySql(qS, rS)} AS qm,
         |  ${multiplySql(qS, cS)} AS qd,
         |  $vx AS vx, $vy AS vy, $vz AS vz
         |FROM p""".stripMargin
    },


    "w61_ws_prob" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  CAST(count(*) OVER (PARTITION BY class, userid, cents) AS DOUBLE) /
         |  count(*) OVER (PARTITION BY class, userid) AS p
         |FROM g""".stripMargin,

    "w62_ws_tickindex" -> {
      val DAY = GtsQueries.DAY
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |        sum(cents) AS vdouble
         |      FROM g WHERE ts <= $LB GROUP BY 1, 2, 3)
         |SELECT class, userid,
         |  CAST(row_number() OVER (PARTITION BY class, userid ORDER BY ts) - 1
         |    AS BIGINT) AS idx, vdouble
         |FROM b""".stripMargin
    },


    // mapper tail: top-3 rank per series / the g47 ray-cast reused
    "w57_ws_mapper_highest" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, cents FROM g
         |QUALIFY row_number() OVER (PARTITION BY class, userid
         |  ORDER BY cents DESC, ts) <= 3""".stripMargin,

    "w58_ws_mapper_geo" -> GeoQueries.oracleSql("g47_geo_within"),


    // MONOTONIC ascending = running max; RANGE frame includes all
    // coincident ticks on both engines
    "w47_ws_monotonic" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  max(cents) OVER (PARTITION BY class, userid ORDER BY ts
         |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mono
         |FROM g""".stripMargin,

    "w48_ws_valuededup" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, cents FROM g
         |QUALIFY row_number() OVER (PARTITION BY class, userid, cents
         |  ORDER BY ts) = 1""".stripMargin,

    "w49_ws_shrink" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, cents FROM g
         |QUALIFY row_number() OVER (PARTITION BY class, userid
         |  ORDER BY ts DESC, cents DESC) <= 5""".stripMargin,


    "w42_ws_commonticks" -> {
      val DAY = GtsQueries.DAY
      s"""WITH g AS ($EV),
         |b AS (SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |        sum(cents) AS vdouble
         |      FROM g WHERE class IN ('events.click', 'events.view')
         |        AND userid = '20' AND ts <= $LB GROUP BY 1, 2, 3),
         |t AS (SELECT ts FROM b GROUP BY ts
         |      HAVING count(*) = (SELECT count(DISTINCT class || '|' || userid) FROM b))
         |SELECT b.class, b.userid, b.ts, b.vdouble FROM b JOIN t USING (ts)""".stripMargin
    },


    // ZIP transpose with singleton broadcast; SORTBY keys 10-x give
    // 3(7),2(8),1(9); %05.1f zero-pads
    "w41_ws_zip_sortby" ->
      """SELECT '1,10,7,2,20,7,3,30,7' AS v_zip,
        |  '3,2,1' AS v_sortby, 'x=002.5' AS v_fmt""".stripMargin,
  )
}