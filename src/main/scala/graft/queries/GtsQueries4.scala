package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.model.Gts

/** Fourth pack: FETCH boundary semantics, string/regexp mappers over
  * the props payload, TPC-H Q3-shaped join + top-k. */
object GtsQueries4 extends QueryPack {
  import GtsQueries.{T0, T7}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // FETCH boundary.pre/post (fn/FETCH.java:99-141): the interval's
    // points plus up to 2 boundary points on each side per series
    "g45_fetch_boundary" -> ((s, dir) => {
      val f = Gts.fromEvents(s, dir)
        .select(col("class"), col("labels").getItem("user").as("userid"),
          col("ts"), col("vdouble"))
      val wPre = Window.partitionBy(col("class"), col("userid")).orderBy(col("ts").desc)
      val wPost = Window.partitionBy(col("class"), col("userid")).orderBy(col("ts").asc)
      val pre = f.filter(col("ts") < T0)
        .withColumn("__rn", row_number().over(wPre)).filter(col("__rn") <= 2).drop("__rn")
      val post = f.filter(col("ts") > T7 - 1)
        .withColumn("__rn", row_number().over(wPost)).filter(col("__rn") <= 2).drop("__rn")
      val in = f.filter(col("ts") >= T0 && col("ts") <= T7 - 1)
      in.unionByName(pre).unionByName(post)
    }),

    // string/regexp mappers (mapper.regexp.match/replace → regexp_*)
    // over the events props payload: extract the numeric k, bucket it
    "g46_props_extract" -> ((s, dir) => {
      val ev = graft.model.Gts.eventsRaw(s, dir)
      ev.select(col("event_type"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast(LongType).as("k"))
        .groupBy(col("event_type"), (col("k") % 10).as("kmod"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
    }),

    // TPC-H Q3 shape: segment filter → join → revenue top-10
    "r09_shipping_priority" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      val rev = sum(round(col("l_extendedprice") * 100).cast(LongType) *
        (lit(100L) - round(col("l_discount") * 100).cast(LongType))).as("rev_c4")
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(rev)
      // distributed top-k (TakeOrderedAndProject), not a global window
      graft.operators.RankOps.topK(j,
        Seq(col("rev_c4").desc, col("l_orderkey")), 10, "rk")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "g45_fetch_boundary" -> {
      val base = GtsQueries.EV
      s"""WITH g AS ($base),
         |pre AS (SELECT class, userid, ts, vdouble,
         |    row_number() OVER (PARTITION BY class, userid ORDER BY ts DESC) AS rn
         |  FROM g WHERE ts < $T0),
         |post AS (SELECT class, userid, ts, vdouble,
         |    row_number() OVER (PARTITION BY class, userid ORDER BY ts ASC) AS rn
         |  FROM g WHERE ts > ${T7 - 1})
         |SELECT class, userid, ts, vdouble FROM g
         |  WHERE ts >= $T0 AND ts <= ${T7 - 1}
         |UNION ALL SELECT class, userid, ts, vdouble FROM pre WHERE rn <= 2
         |UNION ALL SELECT class, userid, ts, vdouble FROM post WHERE rn <= 2""".stripMargin
    },

    "g46_props_extract" ->
      """SELECT event_type,
        |  CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) % 10 AS kmod,
        |  count(*) AS n,
        |  CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2""".stripMargin,

    "r09_shipping_priority" ->
      """WITH j AS (SELECT l_orderkey, o_orderpriority,
        |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS rev_c4
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY 1, 2),
        |r AS (SELECT l_orderkey, o_orderpriority, rev_c4,
        |    row_number() OVER (ORDER BY rev_c4 DESC, l_orderkey) AS rk FROM j)
        |SELECT l_orderkey, o_orderpriority, rev_c4, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 10""".stripMargin
  )
}
