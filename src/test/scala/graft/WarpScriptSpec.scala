package graft

import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.{WarpScriptEngine, WarpScriptTokenizer}
import graft.script.WsToken._

/** WarpScript front-end semantics: tokenizer grammar
  * (MemoryWarpScriptStack.java:700-1010 re-derivation) and stack
  * evaluator words. Frame words are covered end-to-end by the oracle
  * rows w01-w07; here we pin the grammar and scalar semantics. */
class WarpScriptSpec extends SparkSpec {

  private def eng = new WarpScriptEngine(
    fetch = (_, _, _, _) => throw new UnsupportedOperationException("no storage"),
    nowTs = 42L)

  private def top(program: String): Any = eng.run(program).head

  // ----------------------------------------------------------- tokenizer

  test("tokenizer: numbers, booleans, strings, words") {
    assert(WarpScriptTokenizer.tokenize("1 -2 3.5 .5 1e3 0x2a 0b101 T false 'a b' \"c\" FOO") ==
      Vector(WsLong(1), WsLong(-2), WsDouble(3.5), WsDouble(0.5), WsDouble(1000.0),
        WsLong(42), WsLong(5), WsBool(true), WsBool(false), WsStr("a b"),
        WsStr("c"), WsWord("FOO")))
  }

  test("tokenizer: strings percent-decode and may contain quotes") {
    // closing quote must be followed by whitespace/EOL (reference :729)
    assert(WarpScriptTokenizer.tokenize("'it's fine'") == Vector(WsStr("it's fine")))
    assert(WarpScriptTokenizer.tokenize("'a%20b%C3%A9'") == Vector(WsStr("a bé")))
  }

  test("tokenizer: comments — line, hash, block") {
    assert(WarpScriptTokenizer.tokenize("1 // two\n2 # three\n/* 4\n5 */ 6") ==
      Vector(WsLong(1), WsLong(2), WsLong(6)))
  }

  test("tokenizer: multiline string") {
    assert(WarpScriptTokenizer.tokenize("<'\nline1\nline2 'quoted'\n'>") ==
      Vector(WsStr("line1\nline2 'quoted'")))
  }

  // ----------------------------------------------------------- scalar words

  test("arithmetic promotion: long+long stays long, long/long truncates") {
    assert(top("2 3 +") == 5L)
    assert(top("2 3.0 +") == 5.0)
    assert(top("7 2 /") == 3L)
    assert(top("7.0 2 /") == 3.5)
    assert(top("'a' 'b' +") == "ab")
  }

  test("stack words") {
    assert(eng.run("1 2 3 ROT") == List(1L, 3L, 2L))
    assert(eng.run("1 2 SWAP DROP") == List(2L))
    assert(top("1 2 3 DEPTH") == 3L)
    assert(top("9 8 2 PICK") == 9L)
  }

  test("lists, maps, GET, SIZE, FLATTEN") {
    assert(top("[ 1 2 [ 3 4 ] ] FLATTEN") == Vector(1L, 2L, 3L, 4L))
    assert(top("[ 10 20 30 ] 1 GET") == 20L)
    assert(top("{ 'a' 1 'b' 2 } 'b' GET") == 2L)
    assert(top("{ 'a' 1 } SIZE") == 1L)
  }

  test("macros: STORE/$deref/EVAL, IFTE, FOREACH") {
    assert(top("<% DUP * %> 'sq' STORE 7 $sq EVAL") == 49L)
    assert(top("3 4 > <% 'yes' %> <% 'no' %> IFTE") == "no")
    assert(top("0 'acc' STORE [ 1 2 3 ] <% $acc + 'acc' STORE %> FOREACH $acc") == 6L)
  }

  test("NOW is injected; duration words scale to µs") {
    assert(top("NOW") == 42L)
    assert(top("2 h") == 7200000000L)
    assert(top("1 w") == 604800000000L)
  }

  test("string words") {
    assert(top("'a-b-c' '-' SPLIT") == Vector("a", "b", "c"))
    assert(top("[ 'x' 'y' ] '/' JOIN") == "x/y")
    assert(top("'Hello' TOUPPER") == "HELLO")
    // REPLACE is regex replaceFirst (fn/REPLACE.java all=false)
    assert(top("'hello' 'l' 'L' REPLACE") == "heLlo")
    assert(top("'a-b-c' '-' 2 SPLIT") == Vector("a", "b-c"))
    assert(top("'a--' '-' SPLIT") == Vector("a", "", ""))
    assert(top("'abc123' '[a-z]+[0-9]+' MATCHES") == true)
    assert(top("'abcdef' 1 3 SUBSTRING") == "bcd")
    // negative start wraps from the end; the 3-arg form clamps
    // start+len to the size (fn/SUBSTRING.java + computeAndCheckIndex)
    assert(top("'abcdef' -2 SUBSTRING") == "ef")
    assert(top("'abcdef' 4 10 SUBSTRING") == "ef")
  }

  test("NumericalUnary/BinaryFunction type rules and list/fold faces (r12)") {
    // FLOOR/CEIL/SIGNUM have no long op: LONG input yields a DOUBLE
    assert(top("7 FLOOR") == 7.0)
    assert(top("2.5 CEIL") == 3.0)
    assert(top("-3 SIGNUM") == -1.0)
    // ROUND: long-identity, Math.round (floor(x+0.5)) for doubles
    assert(top("5 ROUND") == 5L)
    assert(top("2.5 ROUND") == 3L)
    assert(top("-2.5 ROUND") == -2L)
    // ** on two LONGs is the truncated (long) Math.pow
    assert(top("2 10 **") == 1024L)
    assert(top("2.0 10 **") == 1024.0)
    // a BigDecimal operand forces the double face (reference
    // `instanceof BigDecimal` checks); long-only ops truncate it
    assert(top("'2.5' TOBD 2 **") == 6.25)
    assert(top("'2.5' TOBD ABS") == 2.5)
    assert(top("7 '2.9' TOBD FLOORDIV") == 3L)
    // applyOnSingleList folds: one list or one GTS reduces to a scalar
    assert(top("[ 3 9 2 ] MAX") == 9L)
    assert(top("[ 3 9.0 2 ] MIN") == 2.0)
    assert(top("[ 1 2 3 4 ] ADDEXACT") == 10L)
    // scalar-list elementwise keeps the reference's operand order
    assert(top("[ 1 4 ] 2 **") == Vector(1L, 16L))
    // unary words apply DIRECTLY to GTS operands, elementwise
    val sEng = new WarpScriptEngine(
      fetch = (_, _, _, _) => throw new UnsupportedOperationException,
      nowTs = 42L, session = Some(spark))
    val g = "[ 1 2 ] [ ] [ ] [ ] [ 4.0 9.0 ] MAKEGTS 'm' RENAME"
    assert(sEng.runToFrame(s"$g SQRT").select("vdouble")
      .collect().map(_.getDouble(0)).sorted.toSeq == Seq(2.0, 3.0))
    // binary scalar x GTS: the scalar below the GTS is the LEFT operand
    assert(sEng.runToFrame(s"100.0 $g ATAN2").select("vdouble")
      .collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(math.atan2(100.0, 4.0), math.atan2(100.0, 9.0)).sorted)
    // GTS fold via applyOnSingleList
    assert(sEng.run(s"$g MAX").head == 9.0)
    // faithful r12: label selector values carry their '='/'~' marker
    // (GTSHelper.parseLabelsSelectors:4149)
    assert(eng.run("'cpu{host=a,dc~b.*}' PARSESELECTOR") ==
      List(Map("host" -> "=a", "dc" -> "~b.*"), "cpu"))
    // TOSELECTOR operates on a GTS (fn/TOSELECTOR.java); an empty
    // label value renders '~$', spaces render %20 (the empty-valued
    // label comes in through the line protocol — RELABEL faithfully
    // REMOVES empty values, so MAKEGTS+RELABEL cannot build one)
    val pEng = new WarpScriptEngine(
      fetch = (_, _, _, _) => throw new UnsupportedOperationException,
      nowTs = 42L, session = Some(spark))
    assert(pEng.run("<'\n1000// cpu%20u{host=a,dc=} 1.0\n'>\nPARSE TOSELECTOR")
      .head == "cpu%20u{dc~$,host=a}")
  }

  test("labels inserted out of key order: WRAP, TOSELECTOR and LABELS output") {
    val base = GtsFrame(Gts.canonicalRehash(gtsOf(("lo.c", "u", 10L, 1.0),
      ("lo.c", "u", 20L, 2.0), ("lo.c", "u", 30L, 3.0)).withColumn("labels",
      map(lit("z"), lit("1"), lit("a"), lit("2"), lit("m"), lit("3")))))
    val fEng = new WarpScriptEngine(
      fetch = (cls, labels, s, e) => base.select(cls, labels).timeclip(s, e),
      nowTs = 0L, session = Some(spark))
    val fetch = "[ '' 'lo.c' {} 30 100 ] FETCH"
    val dense = s"[ $fetch bucketizer.sum 30 10 3 ] BUCKETIZE [ 0 0 0 0.0 ] FILLVALUE"
    // the dense grid's wrapper also carries the bucket fields
    val wraps = Map(
      fetch -> "60V3Q5wiNlg2X.4W.I70QF3n.Mc0BF0c6_FJEz.........J43..........40G.1........0N5..",
      dense -> ("60V3Q5wiNlg2X.4W.I70QF3n.Mc0BF.LE0NJ4VNs6_FJEz.........J43.........." +
        "40G.1........0N5.."))
    for (src <- Seq(fetch, dense)) {
      assert(fEng.run(s"$src WRAP").head == wraps(src), src)
      assert(fEng.run(s"$src TOSELECTOR").head == "lo.c{a=2,m=3,z=1}", src)
      assert(fEng.run(s"$src LABELS").head == Map("z" -> "1", "a" -> "2", "m" -> "3"), src)
      assert(fEng.run(s"$src LABELS ->JSON").head == """{"a":"2","m":"3","z":"1"}""", src)
    }
  }

  test("binary operator faces: BigDecimal, collections, GTS (r12)") {
    // BigDecimal-exact arithmetic on either operand (ADD.java:77-79)
    assert(top("'0.1' TOBD '0.2' TOBD +").toString == "0.3")
    assert(top("'2.5' TOBD 2 *").toString == "5.0")
    assert(top("7.5 '2' TOBD %").toString == "1.5")
    // MOD doubles face (MOD.java:47) — the old word was longs-only
    assert(top("7.5 2.0 %") == 1.5)
    // list/set append faces: the TOP operand is appended WHOLE
    assert(top("[ 1 2 ] 3 +") == Vector(1L, 2L, 3L))
    assert(top("[ 1 2 ] [ 3 4 ] +") == Vector(1L, 2L, Vector(3L, 4L)))
    // macro concatenation
    assert(eng.run("<% 1 %> <% 2 + %> + EVAL") == List(3L))
    // bitwise BigDecimal faces go through exact BigIntegers
    assert(top("'12' TOBD 10 &").toString == "8")
    assert(top("1 '10' TOBD <<").toString == "1024")
    // GTS faces need a session-backed engine
    val sEng = new WarpScriptEngine(
      fetch = (_, _, _, _) => throw new UnsupportedOperationException,
      nowTs = 42L, session = Some(spark))
    // 5-list MAKEGTS preserves LONG values (the reference's setValue
    // keeps the raw type)
    val gA = "[ 1 2 3 ] [ ] [ ] [ ] [ 10 20 30 ] MAKEGTS 'a' RENAME"
    val gB = "[ 2 3 4 ] [ ] [ ] [ ] [ 5 6 7 ] MAKEGTS 'b' RENAME"
    // GTS×GTS: common ticks only, LONG iff both LONG, NO metadata
    val sum = sEng.runToFrame(s"$gA $gB +")
    assert(sum.select("ts", "vlong").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((2L, 25L), (3L, 36L)))
    assert(sum.select("class").head().getString(0) == "")
    // GTS×scalar keeps metadata; scalar below is the LEFT operand
    val sc = sEng.runToFrame(s"100 $gA -")
    assert(sc.select("class").head().getString(0) == "a")
    assert(sc.select("ts", "vlong").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 90L), (2L, 80L), (3L, 70L)))
    // double promotion when either side is DOUBLE
    assert(sEng.runToFrame(s"$gA 2.0 /").select("vdouble").collect()
      .map(_.getDouble(0)).sorted.toSeq == Seq(5.0, 10.0, 15.0))
    // ADD string face concatenates in stack order
    assert(sEng.runToFrame(s"$gA '!' +").select("vstring").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("10!", "20!", "30!"))
    // bitwise GTS faces: LONG gts below, mask on top; GTS×GTS join
    assert(sEng.runToFrame(s"$gA 6 &").select("vlong").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L, 6L))
    assert(sEng.runToFrame(s"$gA $gB ^").select("ts", "vlong").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((2L, 20L ^ 5L), (3L, 30L ^ 6L)))
  }

  test("comparison operator faces: NaN flags, exact compare, GTS filters (r12)") {
    // NaN flag semantics (EQ (false,true), NE (true,false), LE/GE
    // (false,true), LT/GT (false,false))
    assert(top("NaN NaN ==") == true)
    assert(top("NaN NaN <=") == true)
    assert(top("NaN NaN <") == false)
    assert(top("0.0 NaN !=") == true)
    assert(top("0.0 NaN ==") == false)
    assert(top("NaN NaN !=") == false)
    // exact EQ.compare: mixed long/double pairs go through EXACT
    // BigDecimals — big longs never lose precision
    assert(top("10 10.0 ==") == true)
    assert(top("10 10.0 >=") == true)
    assert(top("10000000000000001 1.0E16 ==") == false)
    assert(top("10000000000000001 1.0E16 >") == true)
    // strings compare lexicographically; byte arrays unsigned
    assert(top("'abc' 'abd' <") == true)
    assert(top("'ff' HEX-> '01' HEX-> >") == true)
    // equals fallback for lists/maps/booleans
    assert(top("[ 1 2 ] [ 1 2 ] ==") == true)
    assert(top("true false !=") == true)
    // GTS comparisons are FILTERS keeping the holding points
    val sEng = new WarpScriptEngine(
      fetch = (_, _, _, _) => throw new UnsupportedOperationException,
      nowTs = 42L, session = Some(spark))
    val gA = "[ 1 2 3 ] [ ] [ ] [ ] [ 10 20 30 ] MAKEGTS 'a' RENAME"
    val gB = "[ 1 2 3 ] [ ] [ ] [ ] [ 15 20 25 ] MAKEGTS 'b' RENAME"
    assert(sEng.runToFrame(s"$gA $gB <").select("ts", "vlong").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == Seq((1L, 10L)))
    // GTS vs scalar keeps metadata; scalar BELOW flips the order
    val gt20 = sEng.runToFrame(s"$gA 20 >=")
    assert(gt20.select("class").head().getString(0) == "a")
    assert(gt20.select("vlong").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(20L, 30L))
    assert(sEng.runToFrame(s"25 $gA <").select("vlong").collect()
      .map(_.getLong(0)).toSeq == Seq(30L))
    // AND/OR list short-circuit with macros
    assert(top("[ true <% false %> ] AND") == false)
    assert(top("[ false <% true %> false ] OR") == true)
    assert(top("true true AND") == true)
    // NOT negates a BOOLEAN GTS in place (unary/NOT.java GTS face);
    // AND/OR tick-join two boolean GTS
    val boolG = "[ 1 2 ] [ ] [ ] [ ] [ true false ] MAKEGTS"
    val boolH = "[ 1 2 ] [ ] [ ] [ ] [ true true ] MAKEGTS"
    assert(sEng.runToFrame(s"$boolG !").select("ts", "vbool").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq ==
      Seq((1L, false), (2L, true)))
    assert(sEng.runToFrame(s"$boolG $boolH AND").select("ts", "vbool")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sorted.toSeq ==
      Seq((1L, true), (2L, false)))
    // ADD* words over a TSELEMENTS list (fn/ADDDAYS.java:60-140 etc.):
    // element arithmetic with the reference's own NO-400 leap rule —
    // year 2000 is NOT a leap year there
    assert(top("[ 2024 2 28 ] 1 ADDDAYS") == Vector(2024L, 2L, 29L))
    assert(top("[ 2000 2 28 ] 1 ADDDAYS") == Vector(2000L, 3L, 1L))
    assert(top("[ 2024 1 31 ] 1 ADDMONTHS") == Vector(2024L, 2L, 29L))
    assert(top("[ 2023 3 1 ] -1 ADDDAYS") == Vector(2023L, 2L, 28L))
    assert(top("[ 2024 2 29 ] 1 ADDYEARS") == Vector(2025L, 2L, 28L))
    // ADDDURATION: optional count of durations on top; tselements face
    assert(top("0 'PT1H' 3 ADDDURATION") == 3L * 3600000000L)
    assert(top("[ 2024 1 31 23 0 0 0 ] 'PT2H' ADDDURATION")
      .asInstanceOf[Vector[Any]].take(4) == Vector(2024L, 2L, 1L, 1L))
    // STORE list face binds FIRST->LAST: a duplicated name ends with
    // the value nearest the TOP (fn/STORE.java's own doc example)
    assert(top("1 2 3 [ 'a' 'b' 'b' ] STORE $b") == 3L)
    assert(top("1 2 3 [ 'x' NULL 'z' ] STORE $x 10 * $z +") == 13L)
    // FOREACH faces (fn/FOREACH.java): boolean pushIndex on top,
    // STRING iterates characters, a GTS pushes [ts lat lon elev value]
    assert(sEng.run("0 'abc' <% DROP 1 + %> FOREACH") == List(3L))
    assert(sEng.run("0 [ 10 20 ] <% + + %> true FOREACH") == List(31L))
    assert(sEng.run(s"$gA <% 4 GET %> FOREACH DEPTH").head == 3L)
    assert(sEng.run(s"0 $gA <% 4 GET + %> FOREACH") == List(60L))
    // FIRSTTICK/LASTTICK answer from bucket fields on a bucketized
    // operand (GTSHelper.firsttick:6882) and return the MAX/MIN
    // sentinels on an empty unbucketized one
    assert(sEng.run(s"[ $gA bucketizer.sum 10 2 5 ] BUCKETIZE " +
      "DUP FIRSTTICK SWAP LASTTICK") == List(10L, 2L))
    assert(top("NEWGTS FIRSTTICK") == Long.MaxValue)
    assert(top("NEWGTS LASTTICK") == Long.MinValue)
    // CLONEEMPTY keeps bucket fields (GeoTimeSerie.cloneEmpty)
    assert(sEng.run(s"[ $gA bucketizer.sum 10 2 5 ] BUCKETIZE " +
      "CLONEEMPTY BUCKETSPAN") == List(2L))
    // metadata-only words keep bucketization: RENAME then FILLVALUE
    // still sees the bucket grid
    assert(sEng.runToFrame(s"[ $gA bucketizer.sum 10 2 5 ] BUCKETIZE " +
      "'rn' RENAME [ NaN NaN NaN 0.0 ] FILLVALUE").count() == 5L)
    // APPEND's GTS face: the base below keeps its metadata, the top
    // GTS's points are restamped onto it (GTSHelper.merge)
    val app = sEng.runToFrame(s"$gA $gB APPEND")
    assert(app.select("class").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    assert(app.select("ts", "vlong").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (1L, 15L), (2L, 20L), (2L, 20L), (3L, 25L), (3L, 30L)))
  }

  test("NEWGTS/ADDVALUE builds a series from literals, frame words consume it") {
    val e = new WarpScriptEngine(
      fetch = (_, _, _, _) => throw new UnsupportedOperationException,
      nowTs = 0L, session = Some(spark))
    val df = e.runToFrame(
      """NEWGTS 'script.made' RENAME { 'src' 'stack' } RELABEL
        |100 NaN NaN NULL 1.5 ADDVALUE
        |200 NaN NaN NULL 2.5 ADDVALUE
        |300 NaN NaN NULL 4.0 ADDVALUE
        |300 301 TIMECLIP""".stripMargin) // now=300, duration=301 → [0,300]
    val got = df.select("class", "ts", "vdouble").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._2)
    assert(got.toSeq == Seq(("script.made", 100L, 1.5),
      ("script.made", 200L, 2.5), ("script.made", 300L, 4.0)))
    val labels = df.select("labels").head().getMap[String, String](0)
    assert(labels("src") == "stack")
  }

  test("DEDUP on a stack-built series keeps the LAST appended duplicate tick") {
    // GTSHelper.dedup:7193-7216 keeps "the last value found for a given
    // timestamp" in append order — observable only on a stack-built
    // series, where conflicting values share a tick and the LOWER one
    // arrives last (the storage path's canonical-max pick would differ).
    val e = new WarpScriptEngine(
      fetch = (_, _, _, _) => throw new UnsupportedOperationException,
      nowTs = 0L, session = Some(spark))
    val df = e.runToFrame(
      """NEWGTS 'script.dup' RENAME
        |100 NaN NaN NULL 9.0 ADDVALUE
        |100 NaN NaN NULL 1.5 ADDVALUE
        |200 NaN NaN NULL 2.5 ADDVALUE
        |DEDUP""".stripMargin)
    val got = df.select("ts", "vdouble").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(got.toSeq == Seq((100L, 1.5), (200L, 2.5)))
  }

  test("a realistic monitoring script end-to-end") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val pts = (0 until 48).map { i =>
      ("sys.cpu", Map("host" -> s"h${i % 2}"), i.toLong * 1800000000L,
        if (i == 40) 99.0 else 10.0 + (i % 4))
    }
    val df = pts.toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))
    val frame = GtsFrame(Gts.canonical(df))
    val e = new WarpScriptEngine(
      fetch = (c, l, a, b) => frame.select(c, l).timeclip(a, b),
      nowTs = 47L * 1800000000L)
    // hourly max per host over the last day, keep series peaking > 50
    val out = e.runToFrame(
      """'sys.cpu' 'sel' STORE
        |[ [ 'TOKEN' $sel { } NOW NOW 1 + ] FETCH
        |  bucketizer.max NOW 1 h 0 ] BUCKETIZE
        |[ SWAP [ ] 50.0 filter.any.gt ] FILTER
        |""".stripMargin)
    // only h0 (the host with the spike at i=40, ts-ordered last bucket>50?)
    val classes = out.select("labels").collect().map(_.getMap[String, String](0)("host")).toSet
    assert(classes == Set("h0"))
  }

  test("unknown word and stack underflow raise") {
    intercept[IllegalArgumentException](eng.run("NOT_A_WORD_XYZ"))
    intercept[IllegalStateException](eng.run("DROP"))
    intercept[IllegalArgumentException](eng.run("$nope"))
  }

  // ----------------------------------------------------------- frame words

  test("frame pipeline compiles onto GtsFrame (FETCH→BUCKETIZE→REDUCE)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val pts = Seq(
      ("m.cpu", Map("user" -> "1"), 1000000L, 1.0),
      ("m.cpu", Map("user" -> "1"), 2000000L, 2.0),
      ("m.cpu", Map("user" -> "2"), 2000000L, 10.0))
      .toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))
    val frame = GtsFrame(Gts.canonical(pts))
    val e = new WarpScriptEngine(
      fetch = (cls, ls, a, b) => frame.select(cls, ls).timeclip(a, b))
    val df = e.runToFrame(
      "[ [ '' '~m\\..*' { } 9000000 9000001 ] FETCH [ 'user' ] reducer.sum ] REDUCE")
    val got = df.select(col("user"), col("ts"), col("vdouble")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("1", 1000000L, 1.0), ("1", 2000000L, 2.0), ("2", 2000000L, 10.0)))

    // accessor words are driver-side scalars
    assert(e.run("[ '' '~m\\..*' { } 9000000 9000001 ] FETCH FIRSTTICK") == List(1000000L))
    assert(e.run("[ '' '~m\\..*' { } 9000000 9000001 ] FETCH NAME") == List(Vector("m.cpu")))
  }
  test("outlier/smoothing words: ESDTEST flags the spike; SES/DES smooth; RESETS rebuilds") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // 9 calm points + one wild spike
    val vals = (1 to 9).map(i => (i * 1000000L, 100.0 + (i % 3))) :+ (10000000L, 9000.0)
    val pts = vals.map { case (t, v) => ("m.x", Map("user" -> "1"), t, v) }
      .toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))
    val frame = GtsFrame(Gts.canonical(pts))
    val e = new WarpScriptEngine(
      fetch = (cls, ls, a, b) => frame.select(cls, ls).timeclip(a, b))
    val esd = e.runToFrame(
      "[ '' '~m\\..*' { } 99999999 100000000 ] FETCH 3 false 0.05 ESDTEST")
      .select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(esd.contains((10000000L, 9000.0)))
    val ses = e.runToFrame(
      "[ '' '~m\\..*' { } 99999999 100000000 ] FETCH 0.5 SINGLEEXPONENTIALSMOOTHING")
    assert(ses.count() === 10)
    // faithful DES returns the [level, best-estimate] PAIR, both from
    // tick[1]: 9 + 9 rows after the list merge
    val des = e.runToFrame(
      "[ '' '~m\\..*' { } 99999999 100000000 ] FETCH 0.5 0.5 DOUBLEEXPONENTIALSMOOTHING")
    assert(des.count() === 18)
    val res = e.runToFrame(
      "[ '' '~m\\..*' { } 99999999 100000000 ] FETCH false RESETS")
    // compensated series is monotonically non-decreasing
    val rv = res.orderBy("ts").select("vdouble").collect().map(_.getDouble(0))
    assert(rv.zip(rv.tail).forall { case (a, b) => b >= a })
  }

  test("scalar math, HAVERSINE, SNAPSHOT, and WRAP/UNWRAP words") {
    val e = new WarpScriptEngine(fetch = (_, _, _, _) =>
      throw new UnsupportedOperationException)
    assert(e.run("0.0 SIN 0.0 COS PI") ==
      List(math.Pi, 1.0, 0.0))
    assert(e.run("100.0 LOG10").head == 2.0)
    // Paris -> London great-circle ~ 344 km on the sphere radius used
    val d = e.run("48.8566 2.3522 51.5074 -0.1278 HAVERSINE").head
      .asInstanceOf[Double]
    assert(d > 330000 && d < 360000, d)
    assert(e.run("42 SNAPSHOT").head == "42 ")
    // WRAP then UNWRAP reproduces the frame
    import org.apache.spark.sql.functions._
    val frame = graft.operators.GtsFrame(gtsOf(
      ("m.w", "1", 1000L, 1.5), ("m.w", "1", 2000L, 2.5)))
    // UNWRAP of a reference wire string materializes a builder → needs
    // the session (round-7 WRAP words emit the reference format)
    val e2 = new WarpScriptEngine(fetch = (cls, ls, a, b) => frame,
      session = Some(spark))
    val back = e2.runToFrame(
      "[ '' '~m\\..*' { } 9999 10000 ] FETCH WRAP UNWRAP")
    val got = back.select(col("ts"), col("vdouble")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1000L, 1.5), (2000L, 2.5)))
  }

  test("encoding words: TOB64/B64TO round-trip, TOHEX, ISO8601") {
    assert(top("'hello' TOB64") == "aGVsbG8=")
    // B64TO yields BYTES (reference parity); decode to text explicitly
    assert(top("'hello' TOB64 B64TO 'UTF-8' BYTES->") == "hello")
    assert(top("48213 TOHEX") == "bc55")
    assert(top("1704067200123456 ISO8601") == "2024-01-01T00:00:00.123456Z")
  }

  test("list words: SUBLIST, LMAP, UNIQUE, LSORT, APPEND, REVERSE") {
    assert(top("[ 5 3 1 4 1 5 ] UNIQUE LSORT") == Vector(1L, 3L, 4L, 5L))
    assert(top("[ 10 20 30 40 ] [ 1 2 ] SUBLIST") == Vector(20L, 30L))
    // >2 indices = element picks with duplicates; negatives from the end
    assert(top("[ 10 20 30 40 ] [ 0 0 -1 ] SUBLIST") == Vector(10L, 10L, 40L))
    // numeric start/end/step faces (fn/SUBLIST.java, faithful r12):
    // start>end defaults step -1 (reverse); explicit step strides;
    // bare start runs to the end; negative bounds wrap
    assert(top("[ 10 20 30 40 ] 2 1 SUBLIST") == Vector(30L, 20L))
    assert(top("[ 10 20 30 40 50 ] 0 4 2 SUBLIST") == Vector(10L, 30L, 50L))
    assert(top("[ 10 20 30 40 ] 2 SUBLIST") == Vector(30L, 40L))
    assert(top("[ 10 20 30 40 ] -2 -1 SUBLIST") == Vector(30L, 40L))
    // LMAP pushes element then index; macro here uses both: v*10 + i
    assert(top("[ 7 8 9 ] <% 'i' STORE 10 * $i + %> LMAP") ==
      Vector(70L, 81L, 92L))
    assert(top("[ 1 2 ] [ 3 ] APPEND") == Vector(1L, 2L, 3L))
  }

  test("map words: MMAP, KEYLIST, VALUELIST") {
    assert(top("{ 'b' 2 'a' 1 } <% DROP 2 * %> MMAP VALUELIST") ==
      Vector(2L, 4L))
    assert(top("{ 'b' 2 'a' 1 } KEYLIST") == Vector("a", "b"))
    // MMAP can rewrite keys too (macro leaves key below value)
    assert(top("{ 'x' 1 } <% DROP SWAP 'k.' SWAP + SWAP %> MMAP KEYLIST") ==
      Vector("k.x"))
  }

  test("OPTDTW finds the exact subsequence at distance 0") {
    val r = top("[ 1.0 5.0 2.0 8.0 1.0 9.0 2.0 7.0 ] [ 8.0 1.0 9.0 ] 3 OPTDTW")
      .asInstanceOf[Vector[Vector[Any]]]
    assert(r.length == 3)
    assert(r.head == Vector(3L, 0.0)) // [8,1,9] starts at index 3
    // windowed form: band 1 must agree on the exact hit
    val rw = top("[ 1.0 5.0 2.0 8.0 1.0 9.0 2.0 7.0 ] [ 8.0 1.0 9.0 ] 1 2 OPTDTW")
      .asInstanceOf[Vector[Vector[Any]]]
    assert(rw.head == Vector(3L, 0.0) && rw.length == 2)
  }

  test("math word tail: CBRT/SINH/ATAN2/SIGNUM/EXPM1/LOG1P/NEXTAFTER/IEEEREMAINDER") {
    assert(top("27.0 CBRT") == math.cbrt(27.0))
    assert(top("1.0 SINH") == math.sinh(1.0))
    assert(top("1.0 2.0 ATAN2") == math.atan2(1.0, 2.0))
    assert(top("-5 SIGNUM") == -1L)
    assert(top("-0.5 SIGNUM") == -1.0)
    assert(top("0.5 EXPM1") == math.expm1(0.5))
    assert(top("0.5 LOG1P") == math.log1p(0.5))
    assert(top("1.0 2.0 NEXTAFTER") == math.nextAfter(1.0, 2.0))
    assert(top("5.0 3.0 IEEEREMAINDER") == math.IEEEremainder(5.0, 3.0))
    assert(top("90.0 TORADIANS TODEGREES") == 90.0)
  }

  test("LABELS and CLONEEMPTY on a single-series frame") {
    val frame = graft.operators.GtsFrame(gtsOf(("m.w", "1", 1000L, 1.5)))
    val e2 = new WarpScriptEngine(fetch = (_, _, _, _) => frame)
    assert(e2.run("[ '' 'm.w' { } 9999 10000 ] FETCH LABELS").head ==
      Map("user" -> "1"))
    assert(e2.run("[ '' 'm.w' { } 9999 10000 ] FETCH CLONEEMPTY SIZE").head == 0L)
  }

  test("RSA encrypt/decrypt round-trips with the nonce stripped") {
    val n = "7926955442507415057210607385506121997689529697485136240574604503768788820120193532578286006291189972668427413500371142792463105078406585121658835942452443"
    val d = "6738462466355350416593071822847117851187594625579358608093928490920594381154250373415010101917650545635783047904394795660730048516179584987959212992503617"
    val program =
      s"""{ 'algorithm' 'RSA' 'modulus' '$n' 'exponent' '$d' } RSAPRIVATE 'priv' STORE
         |{ 'algorithm' 'RSA' 'modulus' '$n' 'exponent' '65537' } RSAPUBLIC 'pub' STORE
         |'secret payload' 'UTF-8' ->BYTES $$pub RSAENCRYPT
         |$$priv RSADECRYPT 'UTF-8' BYTES->
         |""".stripMargin
    assert(eng.run(program).head == "secret payload")
  }

  test("SNAPSHOT of BigDecimal and bytes re-evaluates to the same value") {
    // '1.500' TOBD SNAPSHOT → "'1.500' TOBD " which EVALs back
    assert(top("'1.500' TOBD SNAPSHOT") == "'1.500' TOBD ")
    assert(top("'1.500' TOBD SNAPSHOT EVAL 2 BDSCALE TOSTRING") == "1.50")
    val rt = top("'hi' 'UTF-8' ->BYTES SNAPSHOT EVAL 'UTF-8' BYTES->")
    assert(rt == "hi")
  }

  test("AESWRAP/AESUNWRAP round-trips (RFC 3394 + PKCS7 + nonce)") {
    val key = (0 until 16).map(_.toByte).toArray
    val keyB64 = java.util.Base64.getEncoder.encodeToString(key)
    val out = eng.run(
      s"""'$keyB64' B64TO 'k' STORE
         |'the payload' 'UTF-8' ->BYTES $$k AESWRAP $$k AESUNWRAP 'UTF-8' BYTES->
         |""".stripMargin)
    assert(out.head == "the payload")
  }

  test("control words: SWITCH picks first true case, TRY catches") {
    val sw = "7 'v' STORE " +
      "<% $v 5 < %> <% 'small' %> <% $v 10 < %> <% 'medium' %> " +
      "<% 'large' %> 2 SWITCH"
    assert(top(sw) == "medium")
    assert(top("<% [ ] 0 GET %> <% 'caught' %> <% %> TRY") == "caught")
    // finally runs on success too, and the happy path keeps its value
    assert(eng.run("<% 42 %> <% 'caught' %> <% 1 %> TRY") ==
      List(1L, 42L))
  }

}
