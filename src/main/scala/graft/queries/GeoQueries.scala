package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GeoCells, GeoShape}
import graft.model.Gts
import graft.operators.GtsFrame

/** Geo-shape pack (fn/GEOWITHIN.java, fn/GeoWKT.java,
  * script/mapper/MapperGeoWithin.java, GEOSHAPE cell algebra): the g38
  * synthetic deterministic track gains shape predicates — exact
  * ray-casting containment, a cell-cover pushdown path that must lose
  * nothing, and an even-odd polygon-with-hole fence profile.
  *
  * Oracle discipline: the containment predicate and cell ids are the
  * SAME +,−,×,÷ arithmetic rendered to both engines (no trig), so
  * booleans are bit-reproducible; outputs carry only exact columns.
  */
object GeoQueries extends QueryPack {
  import GtsQueries.EV

  /** Query-constant shapes, parsed from WKT like the reference parses
    * shape literals (fn/GeoWKT.java). Vertices chosen with fractional
    * offsets so no track point falls exactly on an edge. */
  val Pentagon: GeoShape = GeoShape.parseWkt(
    "POLYGON ((-100.137 -20.731, -30.421 -58.283, 40.618 -10.207, " +
      "25.314 35.941, -60.253 40.123, -100.137 -20.731))")

  /** Outer pentagon with a triangular hole — even-odd parity test. */
  val Holed: GeoShape = GeoShape.parseWkt(
    "POLYGON ((-100.137 -20.731, -30.421 -58.283, 40.618 -10.207, " +
      "25.314 35.941, -60.253 40.123, -100.137 -20.731), " +
      "(-50.617 -10.283, -10.421 -20.107, -25.309 10.529, -50.617 -10.283))")

  val CoverRes = 6
  val Cover: Set[Long] = GeoCells.cover(Pentagon, CoverRes)

  private def track(s: SparkSession, dir: String): DataFrame = {
    val f = Gts.fromEvents(s, dir)
    val uid = col("labels").getItem("user").cast(LongType)
    f.withColumn("lat", uid % 120 - 60 + col("vdouble") / 100.0)
      .withColumn("lon", (col("ts") % 360) - 180 + col("vdouble") / 100.0)
  }

  private val userid = col("labels").getItem("user").as("userid")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GEO.WITHIN via exact ray-cast (fn/GEOWITHIN.java exact verify)
    "g47_geo_within" -> ((s, dir) =>
      GtsFrame(track(s, dir)).geoWithin(Pentagon)
        .df.select(col("class"), userid, col("ts"), col("vdouble"))),

    // Cell-cover pushdown (GEOSHAPE → IN-list at the scan) + exact
    // verify: MUST equal g47 — proves the cover is a true superset
    "g48_geo_cover_pushdown" -> ((s, dir) => {
      val t = track(s, dir)
      t.filter(GeoCells.inCover(col("lat"), col("lon"), Cover, CoverRes))
        .filter(Pentagon.containsCol(col("lat"), col("lon")))
        .select(col("class"), userid, col("ts"), col("vdouble"))
    }),

    // mapper.geo.within/outside fence profile over a holed polygon:
    // per-series inside/outside counts (even-odd hole semantics)
    "g49_geo_fence_profile" -> ((s, dir) => {
      val inside = Holed.containsCol(col("lat"), col("lon"))
      track(s, dir).groupBy(col("class"), userid)
        .agg(sum(when(inside, 1L).otherwise(0L)).as("n_in"),
          sum(when(inside, 0L).otherwise(1L)).as("n_out"))
    }),

    // mapper.geo.approximate + mapper.geo.clear
    // (script/mapper/MapperGeoApproximate.java reduces location
    // resolution; MapperGeoClear.java drops it): snap each point to
    // its res-6 grid-cell CENTER — exact dyadic arithmetic (180/64 and
    // offsets are exact doubles) — and null the location where the
    // value masks out (the clear mapper composed with a condition)
    "g98_geo_approximate" -> ((s, dir) => {
      val n = 1L << CoverRes
      val cell = GeoCells.cellIdCol(col("lat"), col("lon"), CoverRes)
      val aLat = (cell.cast(DoubleType) / n).cast(LongType).cast(DoubleType) /
        n * 180.0 - 90.0 + 90.0 / n
      val aLon = pmod(cell, lit(n)).cast(DoubleType) / n * 360.0 - 180.0 + 180.0 / n
      val keep = col("vdouble") >= 50.0
      track(s, dir).select(col("class"), userid, col("ts"), cell.as("cell"),
        when(keep, aLat).as("approx_lat"), when(keep, aLon).as("approx_lon"))
    }),

    // TOGEOHASH / GEOHASHTO (fn/TOGEOHASH.java, fn/GEOHASHTO.java):
    // base-32 geohash text encode of every track point + decode back to
    // the cell center — pure shift/mask/concat column expressions, the
    // oracle renders the IDENTICAL arithmetic as SQL
    "g108_geohash" -> ((s, dir) =>
      track(s, dir)
        .withColumn("gh", graft.functions.GeoHash.encode(col("lat"), col("lon"), 7))
        .select(col("class"), userid, col("ts"), col("gh"),
          graft.functions.GeoHash.decodeLat(col("gh"), 7).as("ghlat"),
          graft.functions.GeoHash.decodeLon(col("gh"), 7).as("ghlon"))),

    // GEOBUFFER (fn/GEOBUFFER.java): one-ring dilation of the pentagon
    // cover — the Spark side filters on the driver-dilated IN-list (the
    // pushdown shape), the oracle independently re-derives membership as
    // "some 8-neighborhood offset of the point's cell is in the BASE
    // cover" — a hash match proves the dilation is exactly the
    // neighborhood union
    "g109_geobuffer" -> ((s, dir) => {
      val buffered = GeoCells.dilate(Cover, CoverRes, 1)
      track(s, dir)
        .filter(GeoCells.inCover(col("lat"), col("lon"), buffered, CoverRes))
        .select(col("class"), userid, col("ts"), col("vdouble"))
    })
  )

  private[queries] val trackSql =
    s"""t AS (SELECT class, userid, ts, vdouble,
       |  CAST(userid AS BIGINT) % 120 - 60 + vdouble/100.0 AS lat,
       |  (ts % 360) - 180 + vdouble/100.0 AS lon FROM g)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "g47_geo_within" ->
      s"""WITH g AS ($EV),
         |$trackSql
         |SELECT class, userid, ts, vdouble FROM t
         |WHERE ${Pentagon.containsSql("lat", "lon")}""".stripMargin,

    // the pushdown path must be lossless → identical oracle to g47
    "g48_geo_cover_pushdown" ->
      s"""WITH g AS ($EV),
         |$trackSql
         |SELECT class, userid, ts, vdouble FROM t
         |WHERE ${Pentagon.containsSql("lat", "lon")}""".stripMargin,

    "g49_geo_fence_profile" ->
      s"""WITH g AS ($EV),
         |$trackSql
         |SELECT class, userid,
         |  CAST(sum(CASE WHEN ${Holed.containsSql("lat", "lon")} THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
         |  CAST(sum(CASE WHEN ${Holed.containsSql("lat", "lon")} THEN 0 ELSE 1 END) AS BIGINT) AS n_out
         |FROM t GROUP BY 1, 2""".stripMargin,

    "g98_geo_approximate" ->
      s"""WITH g AS ($EV),
         |$trackSql,
         |a AS (SELECT class, userid, ts, vdouble,
         |        ${GeoCells.cellIdSql("lat", "lon", CoverRes)} AS cell FROM t)
         |SELECT class, userid, ts, cell,
         |  CASE WHEN vdouble >= 50.0 THEN
         |    CAST(cell // 64 AS DOUBLE) / 64 * 180.0 - 90.0 + 90.0 / 64
         |  END AS approx_lat,
         |  CASE WHEN vdouble >= 50.0 THEN
         |    CAST(cell % 64 AS DOUBLE) / 64 * 360.0 - 180.0 + 180.0 / 64
         |  END AS approx_lon
         |FROM a""".stripMargin,

    "g108_geohash" -> {
      import graft.functions.GeoHash
      s"""WITH g AS ($EV),
         |$trackSql,
         |e AS (SELECT class, userid, ts,
         |        ${GeoHash.encodeSql("lat", "lon", 7)} AS gh FROM t)
         |SELECT class, userid, ts, gh,
         |  ${GeoHash.decodeSql("gh", 7, lat = true)} AS ghlat,
         |  ${GeoHash.decodeSql("gh", 7, lat = false)} AS ghlon
         |FROM e""".stripMargin
    },

    "g109_geobuffer" -> {
      val n = 1L << CoverRes
      val coverList = Cover.toSeq.sorted.mkString(", ")
      s"""WITH g AS ($EV),
         |$trackSql,
         |a AS (SELECT class, userid, ts, vdouble,
         |        ${GeoCells.cellIdSql("lat", "lon", CoverRes)} AS cell FROM t),
         |b AS (SELECT *, cell // $n AS la, cell % $n AS lo FROM a),
         |cov AS (SELECT unnest([$coverList]) AS c)
         |SELECT class, userid, ts, vdouble FROM b
         |WHERE EXISTS (
         |  SELECT 1 FROM cov,
         |    (VALUES (-1), (0), (1)) d1(dla), (VALUES (-1), (0), (1)) d2(dlo)
         |  WHERE la + dla BETWEEN 0 AND ${n - 1}
         |    AND cov.c = (la + dla) * $n + ((lo + dlo + $n) % $n))""".stripMargin
    }
  )
}
