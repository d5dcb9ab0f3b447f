package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.SkewOps

/** Tenth pack: skew-salted aggregation equivalence, string encodings
  * (TOB64/TOHEX/STRINGFORMAT), ISO8601 rendering. */
object GtsQueries10 extends QueryPack {
  import GtsQueries.EV

  private val userid = col("labels").getItem("user").as("userid")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // aggregator/Percentile.java DEFAULT (Hyndman-Fan type 1, nearest
    // rank) as the GtsFrame.Percentile bucketizer — exact, vs a DuckDB
    // sorted-list index oracle (quantile_disc is type-1 only for some
    // ranks, so the oracle spells out ceil(p·n) explicitly)
    "g107_percentile_type1" -> ((s, dir) => {
      import graft.operators.GtsFrame
      import graft.operators.GtsFrame._
      GtsFrame(Gts.fromEventsCents(s, dir))
        .bucketize(Percentile(90.0), GtsQueries.LB, GtsQueries.DAY)
        .df.select(col("class"), userid, col("ts"), col("vdouble").as("p90_v"))
    }),

    // salted two-stage aggregation (SkewOps — the 100 TB hot-key path)
    // must be VALUE-IDENTICAL to the plain one-stage aggregate: the
    // oracle is the plain GROUP BY, so a hash match proves salting is
    // semantically free (exact cents make partials order-independent)
    "g100_salted_agg" -> ((s, dir) =>
      SkewOps.saltedSumCount(
        Gts.fromEventsCents(s, dir)
          .select(col("class"), userid, col("ts"), col("vdouble")),
        Seq("class", "userid"), "vdouble", 16)),

    // string-encoding words (fn/TOB64.java, TOHEX.java,
    // STRINGFORMAT.java): base64/hex/printf round-trips as column
    // expressions — C-style %07.2f agrees across engines because cents
    // values carry exactly 2 decimals (no rounding at the boundary)
    "g101_encodings" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val tag = concat(col("class"), lit(":"), col("labels").getItem("user"))
      val cents = round(col("vdouble") * 100) // the EV cents expression
      f.select(col("class"), userid, col("ts"),
        base64(tag.cast(BinaryType)).as("b64"),
        hex(cents.cast(LongType)).as("hexv"),
        format_string("%s=%09.2f", col("class"), col("vdouble")).as("fmt"))
    }),

    // CPROB (fn/CPROB.java): conditional value probability P(v | class)
    // vs the unconditional P(v) — exact count ratios (single correctly-
    // rounded division each), extending the g80 PROB/MODE family
    "g103_cprob" -> ((s, dir) => {
      val f = Gts.fromEventsCents(s, dir)
      val q = (floor(col("vdouble") / 5000.0) * 5000.0).as("v")
      val rows = f.select(col("class"), q)
      val byClass = rows.groupBy(col("class"), col("v"))
        .agg(count(lit(1)).as("n_cv"))
      val classTot = rows.groupBy(col("class")).agg(count(lit(1)).as("n_c"))
      val valTot = rows.groupBy(col("v")).agg(count(lit(1)).as("n_v"))
      val total = rows.agg(count(lit(1)).cast(DoubleType).as("__total"))
      byClass.join(classTot, "class").join(valTot, "v")
        .crossJoin(broadcast(total))
        .select(col("class"), col("v"), col("n_cv"),
          (col("n_cv") / col("n_c").cast(DoubleType)).as("cprob"),
          (col("n_v") / col("__total")).as("prob"))
    }),

    // ISODURATION (fn/ISODURATION.java): µs span → ISO-8601 duration
    // text (PnDTnHnMn.nnnnnnS) via pure integer field extraction
    "g104_isoduration" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      val dur = col("ts") % 777777777777L // synthetic positive spans
      val d = floor(dur / 86400000000L).cast(LongType)
      val h = floor(dur / 3600000000L).cast(LongType) % 24
      val m = floor(dur / 60000000L).cast(LongType) % 60
      val sec = floor(dur / 1000000L).cast(LongType) % 60
      val us = (dur % 1000000L).cast(LongType)
      f.select(col("class"), userid, col("ts"),
        concat(lit("P"), d, lit("DT"), h, lit("H"), m, lit("M"),
          sec, lit("."), lpad(us.cast(StringType), 6, "0"), lit("S"))
          .as("isodur"))
    }),

    // RANGECOMPACT (fn/RANGECOMPACT.java): deadband compression — keep
    // points deviating > delta from the last KEPT value; sequential
    // kernel vs a recursive-CTE replay (the g67 idiom), exact cents
    "g105_rangecompact" -> ((s, dir) => {
      val f = Gts.fromEventsCents(s, dir)
      new graft.kernels.KernelOps(f).rangeCompact(5000.0)
        .select(col("class"), userid, col("ts"), col("vdouble").as("cents"))
    }),

    // MONOTONIC (fn/MONOTONIC.java): per-series monotonicity flags via
    // one lag window + bool_and aggregates (exact integer compares)
    "g106_monotonic" -> ((s, dir) => {
      val f = Gts.fromEventsCents(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))
      val prev = lag(col("vdouble"), 1).over(w)
      f.withColumn("__nd", prev.isNull || col("vdouble") >= prev)
        .withColumn("__ni", prev.isNull || col("vdouble") <= prev)
        .groupBy(col("class"), userid)
        .agg(count(lit(1)).as("n"),
          bool_and(col("__nd")).as("nondecreasing"),
          bool_and(col("__ni")).as("nonincreasing"))
    }),

    // ISO8601 (fn/ISO8601.java): µs-precision UTC rendering + epoch day
    "g102_iso8601" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
      f.select(col("class"), userid, col("ts"),
        date_format(timestamp_micros(col("ts")),
          "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("iso"),
        floor(col("ts") / 86400000000L).cast(LongType).as("epoch_day"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // H&F type 1 spelled out: 1-indexed sorted-list element at
    // max(ceil(p·n), 1) — what aggregator/Percentile.java's default
    // type computes
    "g107_percentile_type1" -> {
      val LB = GtsQueries.LB; val DAY = GtsQueries.DAY
      s"""WITH g AS ($EV)
         |SELECT class, userid, $LB - (($LB - ts) // $DAY) * $DAY AS ts,
         |  list_sort(list(cents))[CAST(greatest(ceil(0.9 * count(*)), 1) AS BIGINT)] AS p90_v
         |FROM g WHERE ts <= $LB GROUP BY 1, 2, 3""".stripMargin
    },

    "g100_salted_agg" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, sum(cents) AS sum_v,
         |  count(cents) AS count_v
         |FROM g GROUP BY 1, 2""".stripMargin,

    "g101_encodings" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  base64(encode(class || ':' || userid)) AS b64,
         |  to_hex(CAST(cents AS BIGINT)) AS hexv,
         |  printf('%s=%09.2f', class, vdouble) AS fmt
         |FROM g""".stripMargin,

    "g102_iso8601" ->
      s"""WITH g AS ($EV)
         |SELECT class, userid, ts,
         |  strftime(make_timestamp(ts), '%Y-%m-%dT%H:%M:%S.%fZ') AS iso,
         |  ts // 86400000000 AS epoch_day
         |FROM g""".stripMargin,

    "g103_cprob" ->
      s"""WITH g AS ($EV),
         |r AS (SELECT class, floor(cents / 5000.0) * 5000.0 AS v FROM g),
         |cv AS (SELECT class, v, count(*) AS n_cv FROM r GROUP BY 1, 2),
         |ct AS (SELECT class, count(*) AS n_c FROM r GROUP BY 1),
         |vt AS (SELECT v, count(*) AS n_v FROM r GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM r)
         |SELECT cv.class, cv.v, cv.n_cv,
         |  cv.n_cv / CAST(ct.n_c AS DOUBLE) AS cprob,
         |  vt.n_v / tot.total AS prob
         |FROM cv JOIN ct ON cv.class = ct.class
         |  JOIN vt ON cv.v = vt.v CROSS JOIN tot""".stripMargin,

    "g106_monotonic" ->
      s"""WITH g AS ($EV),
         |o AS (SELECT class, userid, cents,
         |    lag(cents) OVER (PARTITION BY class, userid
         |      ORDER BY ts, cents) AS prev
         |  FROM g)
         |SELECT class, userid, count(*) AS n,
         |  bool_and(prev IS NULL OR cents >= prev) AS nondecreasing,
         |  bool_and(prev IS NULL OR cents <= prev) AS nonincreasing
         |FROM o GROUP BY 1, 2""".stripMargin,

    "g105_rangecompact" ->
      s"""WITH RECURSIVE g AS ($EV),
         |o AS (SELECT class, userid, ts, cents,
         |    row_number() OVER (PARTITION BY class, userid ORDER BY ts, cents)
         |      AS rn
         |  FROM g),
         |r AS (
         |  SELECT class, userid, ts, cents, rn, cents AS lastkept, true AS kept
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.class, o.userid, o.ts, o.cents, o.rn,
         |    CASE WHEN abs(o.cents - r.lastkept) > 5000
         |      THEN o.cents ELSE r.lastkept END,
         |    abs(o.cents - r.lastkept) > 5000
         |  FROM o JOIN r ON o.class = r.class AND o.userid = r.userid
         |    AND o.rn = r.rn + 1
         |)
         |SELECT class, userid, ts, cents FROM r WHERE kept""".stripMargin,

    "g104_isoduration" ->
      s"""WITH g AS ($EV),
         |d AS (SELECT class, userid, ts, ts % 777777777777 AS dur FROM g)
         |SELECT class, userid, ts,
         |  'P' || (dur // 86400000000) || 'DT' ||
         |  ((dur // 3600000000) % 24) || 'H' ||
         |  ((dur // 60000000) % 60) || 'M' ||
         |  ((dur // 1000000) % 60) || '.' ||
         |  lpad(CAST(dur % 1000000 AS VARCHAR), 6, '0') || 'S' AS isodur
         |FROM d""".stripMargin
  )
}
