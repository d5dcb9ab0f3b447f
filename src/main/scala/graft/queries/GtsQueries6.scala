package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts

/** Sixth pack: the remaining §2.4 mapper families — unary math/cast
  * mappers, the full calendar field set, regexp/string mappers.
  *
  * Determinism notes: round() only on EXACT dyadic halves (v/8 — both
  * engines round ties away from zero on exact .5); transcendental
  * mappers (exp/log/tanh/sigmoid/npdf) run on O(1)-normalized inputs
  * and round to 9 digits (libm-vs-JVM noise is ~1e-16 relative, eight
  * orders below the boundary); ToString only renders integers (double
  * formatting is engine-specific).
  */
object GtsQueries6 extends QueryPack {
  import GtsQueries.EV

  private val userid = col("labels").getItem("user").as("userid")

  /** 2π/100 — one shared double literal in both engines. */
  val CircK: Double = 2.0 * math.Pi / 100.0

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // unary mappers mapper.abs/ceil/floor/round/mod/exp/log/sigmoid/
    // tanh/npdf/finite + casts (script/mapper/MapperAbs.java ...)
    "g58_unary_mappers" -> ((s, dir) => {
      val f = Gts.fromEventsCents(s, dir)
      val v = col("vdouble")
      val u = v / 10000.0
      f.select(col("class"), userid, col("ts"),
        abs(v - 5000.0).as("m_abs"),
        ceil(v / 7.0).cast(LongType).as("m_ceil"),
        floor(v / 7.0).cast(LongType).as("m_floor"),
        round(v / 8.0).cast(LongType).as("m_round"),
        // `%` (sign-of-dividend) on BOTH engines — pmod would diverge
        // from DuckDB's % on negative values
        (v.cast(LongType) % lit(7L)).as("m_mod"),
        round(exp(u), 9).as("m_exp"),
        round(log(lit(1.0) + u), 9).as("m_log"),
        round(lit(1.0) / (lit(1.0) + exp(-u)), 9).as("m_sigmoid"),
        // exp-based tanh: DuckDB 1.0 has no tanh(); same formula both sides
        round((exp(u * 2.0) - 1.0) / (exp(u * 2.0) + 1.0), 9).as("m_tanh"),
        round(exp(-u * u / 2.0) / math.sqrt(2.0 * math.Pi), 9).as("m_npdf"),
        (!isnan(v) && !v.isNull).as("m_finite"),
        v.cast(LongType).as("m_tolong"),
        v.cast(LongType).cast(StringType).as("m_tostring"))
    }),

    // calendar mappers mapper.year/month/day/weekday/hour/minute/second
    // + mapper.tick (script/mapper/MapperYear.java ... MapperTick.java)
    "g59_calendar_fields" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val t = timestamp_micros(col("ts"))
      f.select(col("class"), userid, col("ts"),
        year(t).cast(LongType).as("m_year"),
        month(t).cast(LongType).as("m_month"),
        dayofmonth(t).cast(LongType).as("m_day"),
        (weekday(t) + 1).cast(LongType).as("m_isodow"),
        hour(t).cast(LongType).as("m_hour"),
        minute(t).cast(LongType).as("m_minute"),
        second(t).cast(LongType).as("m_second"),
        col("ts").as("m_tick"))
    }),

    // line-protocol END-TO-END: render the events GTS table to protocol
    // lines (Formats.toGtsLines), re-parse through the full ingest
    // grammar (LineProtocol.ingest, parallel default), and the result
    // must reproduce the source table exactly — the oracle is the raw
    // table itself, so the whole format+parser round-trip is
    // hash-verified (not just spec'd)
    "g62_ingest_roundtrip" -> ((s, dir) => {
      val src = Gts.fromEvents(s, dir)
      val lines = graft.sources.Formats.toGtsLines(src)
      graft.sources.LineProtocol.ingest(lines, now = 0L)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),

    // raw/wrapper codec END-TO-END: WRAP every series into its binary
    // blob (varint/zigzag/delta codec) and UNWRAP back — must reproduce
    // the source table; oracle = the raw table (codec hash-verified in
    // the gate, not just spec'd)
    "g64_codec_roundtrip" -> ((s, dir) => {
      val src = Gts.fromEvents(s, dir)
      graft.sources.GtsCodec.unwrap(graft.sources.GtsCodec.wrap(src))
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),

    // MVSPLIT END-TO-END (fn/MVSPLIT.java): pack every series into a
    // BINARY-valued carrier point holding its encoded sub-stream, then
    // MVSPLIT explodes the carriers back into constituent points — must
    // reproduce the source table (oracle = raw table)
    "g65_mvsplit_roundtrip" -> ((s, dir) => {
      val src = Gts.fromEvents(s, dir)
      val carriers = graft.model.Gts.canonical(
        graft.sources.GtsCodec.wrap(src).select(
          col("class"), col("labels"),
          lit(0L).as("ts"),
          lit(null).cast(DoubleType).as("lat"),
          lit(null).cast(DoubleType).as("lon"),
          lit(null).cast(LongType).as("elev"),
          lit(graft.model.GtsType.BINARY).cast(ByteType).as("vtype"),
          lit(null).cast(LongType).as("vlong"),
          lit(null).cast(DoubleType).as("vdouble"),
          lit(null).cast(BooleanType).as("vbool"),
          lit(null).cast(StringType).as("vstring"),
          col("blob").as("vbinary")))
      graft.sources.GtsCodec.mvSplit(carriers)
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),

    // JSON format END-TO-END: render points to JSON rows and parse back
    // with from_json — schema/format hash-verified against the raw table
    "g66_json_roundtrip" -> ((s, dir) => {
      val src = Gts.fromEvents(s, dir)
      val json = graft.sources.Formats.toJsonRows(src)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "c STRING, l MAP<STRING,STRING>, t BIGINT, v DOUBLE")
      json.select(from_json(col("value"), schema).as("p"))
        .select(col("p.c").as("class"), col("p.l").getItem("user").as("userid"),
          col("p.t").as("ts"), col("p.v").as("vdouble"))
    }),

    // outlier test GRUBBS (script/functions/GRUBBSTEST.java family):
    // per-series Grubbs statistic max|x-mu|/sd vs the critical value
    // (computed once, shared literal); sd noise bounded by round 6
    "g63_grubbs" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gtsid"))
      val f = Gts.fromEventsCents(s, dir)
        .withColumn("__mu", avg(col("vdouble")).over(w))
        .withColumn("__sd", stddev_pop(col("vdouble")).over(w))
      f.groupBy(col("class"), userid)
        .agg(count(lit(1)).as("n"),
          round(max(abs(col("vdouble") - col("__mu")) / col("__sd")), 6).as("grubbs"))
    }),

    // SINGLEEXPONENTIALSMOOTHING with general α (fn/
    // SINGLEEXPONENTIALSMOOTHING.java): the per-series sequential
    // kernel runs the exact recursion s←αx+(1−α)s; the oracle replays
    // the SAME recursion with a DuckDB recursive CTE (iterations =
    // max points per series). round 6 absorbs FMA-contraction ulps.
    "g67_ses_general" -> ((s, dir) => {
      val f = Gts.fromEventsCents(s, dir)
      new graft.kernels.KernelOps(f).expSmooth(0.25)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), round(col("vdouble"), 6).as("ses"))
    }),

    // DOUBLEEXPONENTIALSMOOTHING (Holt, fn/DOUBLEEXPONENTIALSMOOTHING
    // .java): coupled level+trend recursion via the same kernel /
    // recursive-CTE-replay pairing (two state columns in the CTE)
    "g68_holt_general" -> ((s, dir) => {
      val f = Gts.fromEventsCents(s, dir)
      new graft.kernels.KernelOps(f).expSmooth(0.25, Some(0.5))
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), round(col("vdouble"), 6).as("holt"))
    }),

    // bucketizer.mean.circular (script/aggregator/CircularMean.java):
    // per-series circular mean of the value seen as an angle of period
    // 100 — atan2 of mean sin / mean cos, rounded 6 (trig ulp noise is
    // ~1e-15, nine orders below the boundary)
    "g61_circular_mean" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val ang = col("vdouble") * CircK
      f.groupBy(col("class"), userid)
        .agg(round(atan2(avg(sin(ang)), avg(cos(ang))), 6).as("circ_mean"))
    }),

    // regexp/string mappers mapper.regexp.match/replace, Replace
    // (script/mapper/MapperRegExpMatch.java, MapperRegExpReplace.java)
    "g60_regex_mappers" -> ((s, dir) => {
      val ev = graft.model.Gts.eventsRaw(s, dir)
      ev.select(col("event_type"),
        col("ts"),
        regexp_replace(col("props"), "[0-9]", "#").as("m_re_replace"),
        regexp_replace(col("props"), "a", "@").as("m_replace"),
        col("props").rlike("[0-9]{2,}").as("m_re_match"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "g58_unary_mappers" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  abs(cents - 5000.0) AS m_abs,
         |  CAST(ceil(cents / 7.0) AS BIGINT) AS m_ceil,
         |  CAST(floor(cents / 7.0) AS BIGINT) AS m_floor,
         |  CAST(round(cents / 8.0) AS BIGINT) AS m_round,
         |  CAST(cents AS BIGINT) % 7 AS m_mod,
         |  round(exp(cents / 10000.0), 9) AS m_exp,
         |  round(ln(1.0 + cents / 10000.0), 9) AS m_log,
         |  round(1.0 / (1.0 + exp(-(cents / 10000.0))), 9) AS m_sigmoid,
         |  round((exp((cents / 10000.0) * 2.0) - 1.0)
         |    / (exp((cents / 10000.0) * 2.0) + 1.0), 9) AS m_tanh,
         |  round(exp(-(cents / 10000.0) * (cents / 10000.0) / 2.0)
         |    / ${math.sqrt(2.0 * math.Pi)}, 9) AS m_npdf,
         |  (NOT isnan(cents) AND cents IS NOT NULL) AS m_finite,
         |  CAST(cents AS BIGINT) AS m_tolong,
         |  CAST(CAST(cents AS BIGINT) AS VARCHAR) AS m_tostring
         |FROM g""".stripMargin,

    "g59_calendar_fields" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  CAST(year(make_timestamp(ts)) AS BIGINT) AS m_year,
         |  CAST(month(make_timestamp(ts)) AS BIGINT) AS m_month,
         |  CAST(day(make_timestamp(ts)) AS BIGINT) AS m_day,
         |  CAST(isodow(make_timestamp(ts)) AS BIGINT) AS m_isodow,
         |  CAST(hour(make_timestamp(ts)) AS BIGINT) AS m_hour,
         |  CAST(minute(make_timestamp(ts)) AS BIGINT) AS m_minute,
         |  CAST(second(make_timestamp(ts)) AS BIGINT) AS m_second,
         |  ts AS m_tick
         |FROM g""".stripMargin,

    // the parser round-trip must reproduce the source table verbatim
    "g62_ingest_roundtrip" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    "g64_codec_roundtrip" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    "g65_mvsplit_roundtrip" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    "g66_json_roundtrip" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts, vdouble FROM g""".stripMargin,

    "g63_grubbs" ->
      s"""WITH g AS ($EV),
         |m AS (SELECT class, userid, cents,
         |   avg(cents) OVER (PARTITION BY class, userid) AS mu,
         |   stddev_pop(cents) OVER (PARTITION BY class, userid) AS sd FROM g)
         |SELECT class, userid, count(*) AS n,
         |       round(max(abs(cents - mu) / sd), 6) AS grubbs
         |FROM m GROUP BY 1, 2""".stripMargin,

    "g67_ses_general" ->
      s"""WITH RECURSIVE g AS ($EV),
         |o AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid ORDER BY ts, cents) AS rn
         |  FROM g
         |  QUALIFY count(*) OVER (PARTITION BY class, userid) >= 2),
         |r AS (
         |  SELECT class, userid, ts, rn, CAST(cents AS DOUBLE) AS s
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.class, o.userid, o.ts, o.rn, 0.25 * o.cents + 0.75 * r.s
         |  FROM o JOIN r ON o.class = r.class AND o.userid = r.userid
         |    AND o.rn = r.rn + 1
         |)
         |SELECT class, userid, ts, round(s, 6) AS ses FROM r""".stripMargin,

    // the faithful Holt trace (GTSHelper.doubleExponentialSmoothing:
    // 9162-9223): both state series start at the SECOND point with
    // s = v2, b = v2 − v1; output begins there too
    "g68_holt_general" ->
      s"""WITH RECURSIVE g AS ($EV),
         |o AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid ORDER BY ts, cents) AS rn
         |  FROM g
         |  QUALIFY count(*) OVER (PARTITION BY class, userid) >= 2),
         |r AS (
         |  SELECT o2.class, o2.userid, o2.ts, o2.rn,
         |    CAST(o2.cents AS DOUBLE) AS s,
         |    CAST(o2.cents AS DOUBLE) - o1.cents AS b
         |  FROM o o2 JOIN o o1 ON o1.class = o2.class
         |    AND o1.userid = o2.userid AND o1.rn = 1
         |  WHERE o2.rn = 2
         |  UNION ALL
         |  SELECT o.class, o.userid, o.ts, o.rn,
         |    0.25 * o.cents + 0.75 * (r.s + r.b) AS s,
         |    0.5 * ((0.25 * o.cents + 0.75 * (r.s + r.b)) - r.s) + 0.5 * r.b AS b
         |  FROM o JOIN r ON o.class = r.class AND o.userid = r.userid
         |    AND o.rn = r.rn + 1
         |)
         |SELECT class, userid, ts, round(s, 6) AS holt FROM r""".stripMargin,

    "g61_circular_mean" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid,
         |  round(atan2(avg(sin(vdouble * $CircK)), avg(cos(vdouble * $CircK))), 6)
         |    AS circ_mean
         |FROM g GROUP BY 1, 2""".stripMargin,

    "g60_regex_mappers" ->
      """SELECT event_type, epoch_us(ts) AS ts,
        |  regexp_replace(props, '[0-9]', '#', 'g') AS m_re_replace,
        |  regexp_replace(props, 'a', '@', 'g') AS m_replace,
        |  regexp_matches(props, '[0-9]{2,}') AS m_re_match
        |FROM events""".stripMargin
  )
}
