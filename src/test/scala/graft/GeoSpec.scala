package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GeoCells, GeoShape}

/** Geo shapes: WKT/GeoJSON parsing, ray-cast containment (driver and
  * Column forms agree), cover superset property, cell set algebra. */
class GeoSpec extends SparkSpec {

  val square: GeoShape = GeoShape.parseWkt(
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")

  val holed: GeoShape = GeoShape.parseWkt(
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))")

  test("WKT polygon parse") {
    assert(square.rings.size == 1 && square.rings.head.size == 5)
    assert(square.bbox == (0.0, 10.0, 0.0, 10.0))
  }

  test("WKT multipolygon parse yields all rings") {
    val mp = GeoShape.parseWkt(
      "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 10, 14 10, 14 14, 10 14, 10 10)))")
    assert(mp.rings.size == 2)
    assert(mp.contains(2.0, 2.0) && mp.contains(12.0, 12.0) && !mp.contains(7.0, 7.0))
  }

  test("GeoJSON polygon parse matches WKT twin") {
    val gj = GeoShape.parseGeoJson(
      """{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],
        |[[3,3],[7,3],[7,7],[3,7],[3,3]]]}""".stripMargin)
    assert(gj.rings == holed.rings)
  }

  test("GeoJSON multipolygon parse") {
    val gj = GeoShape.parseGeoJson(
      """{"type":"MultiPolygon","coordinates":[[[[0,0],[4,0],[4,4],[0,4],[0,0]]],
        |[[[10,10],[14,10],[14,14],[10,14],[10,10]]]]}""".stripMargin)
    assert(gj.rings.size == 2 && gj.contains(2.0, 2.0) && gj.contains(12.0, 12.0))
  }

  test("even-odd containment: hole is outside") {
    // (lat, lon) args; vertices are (lon, lat)
    assert(square.contains(5.0, 5.0))
    assert(!square.contains(15.0, 5.0))
    assert(holed.contains(1.5, 1.5))
    assert(!holed.contains(5.0, 5.0)) // inside the hole
    assert(holed.contains(2.9, 5.0))
  }

  test("Column containment agrees with driver containment") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(500)((rnd.nextDouble() * 24 - 6, rnd.nextDouble() * 24 - 6))
    val df = pts.toDF("lat", "lon")
    val got = df.withColumn("in", holed.containsCol(col("lat"), col("lon")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
    got.foreach { case (lat, lon, in) =>
      assert(in == holed.contains(lat, lon), s"($lat, $lon)")
    }
  }

  test("cover is a superset: every contained point's cell is in the cover") {
    val res = 8
    val cov = GeoCells.cover(square, res)
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val lat = rnd.nextDouble() * 30 - 10
      val lon = rnd.nextDouble() * 30 - 10
      if (square.contains(lat, lon)) {
        val n = 1L << res
        val cell = math.floor((lat + 90.0) / 180.0 * n).toLong * n +
          math.floor((lon + 180.0) / 360.0 * n).toLong
        assert(cov.contains(cell), s"cell of ($lat, $lon) missing")
      }
    }
  }

  test("cover is selective: far-away cells are excluded") {
    val cov = GeoCells.cover(square, 8)
    val n = 1L << 8
    val farCell = math.floor((80.0 + 90.0) / 180.0 * n).toLong * n +
      math.floor((170.0 + 180.0) / 360.0 * n).toLong
    assert(!cov.contains(farCell))
    // square is ~10°×10° ⇒ tens of cells at res 8, not thousands
    assert(cov.nonEmpty && cov.size < 500)
  }

  test("cell set algebra") {
    val a = GeoCells.cover(square, 6)
    val far = GeoShape.parseWkt("POLYGON ((100 50, 120 50, 120 60, 100 60, 100 50))")
    val b = GeoCells.cover(far, 6)
    assert(GeoCells.intersection(a, b).isEmpty)
    assert(GeoCells.union(a, b).size == a.size + b.size)
    assert(GeoCells.subtraction(GeoCells.union(a, b), b) == a)
  }

  test("geoWithin keeps every point inside the shape") {
    import graft.operators.GtsFrame
    val f = gtsOf(
      ("m", "u1", 1L, 1.0), ("m", "u1", 2L, 2.0), ("m", "u1", 3L, 3.0))
      .withColumn("lat", col("vdouble") * 3)   // 3, 6, 9
      .withColumn("lon", col("vdouble") * 3)
    val in = GtsFrame(f).geoWithin(square).df.count()
    assert(in == 3) // all of (3,3),(6,6),(9,9) inside
  }

  test("geohash matches the published standard and round-trips") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.GeoHash
    // canonical public test vector (Niemeyer's geohash.org example):
    // (57.64911, 10.40744) -> u4pruydqqvj at 11 chars
    val df = Seq((57.64911, 10.40744), (48.8566, 2.3522), (-33.8688, 151.2093))
      .toDF("lat", "lon")
      .withColumn("gh", GeoHash.encode(col("lat"), col("lon"), 11))
      .withColumn("lat2", GeoHash.decodeLat(col("gh"), 11))
      .withColumn("lon2", GeoHash.decodeLon(col("gh"), 11))
    val rows = df.collect()
    assert(rows.head.getAs[String]("gh") == "u4pruydqqvj")
    // 11 chars: cell ≈ 1e-6 deg — decode lands inside the input's cell
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getAs[Double]("lat2")) < 1e-4)
      assert(math.abs(r.getDouble(1) - r.getAs[Double]("lon2")) < 1e-4)
    }
  }

  test("GEOSPLIT: 4-connected components, corner contact does not join") {
    import graft.functions.GeoCells
    val res = 6; val n = 1L << res
    def c(la: Long, lo: Long) = la * n + lo
    // an L-shaped blob, a corner-touching single cell, and a far cell
    val cover = Set(c(10, 10), c(10, 11), c(11, 10), // connex L
      c(11, 12), // touches (10,11)/(11,11)? only corner of (10,11)... adjacent to nothing in the L
      c(40, 40))
    val comps = GeoCells.split(cover, res)
    assert(comps.length == 3)
    assert(comps.head == Set(c(10, 10), c(10, 11), c(11, 10)))
    // wrap: lon 0 and lon n-1 are 4-neighbors
    val wrap = GeoCells.split(Set(c(5, 0), c(5, n - 1)), res)
    assert(wrap.length == 1)
  }

  test("scalar geohash matches the Column encoder and round-trips") {
    import graft.functions.GeoHash
    assert(GeoHash.encodeScalar(57.64911, 10.40744, 11) == "u4pruydqqvj")
    val (la, lo) = GeoHash.decodeScalar("u4pruydqqvj")
    assert(math.abs(la - 57.64911) < 1e-4 && math.abs(lo - 10.40744) < 1e-4)
  }

  test("GEOBUFFER dilation: one ring grows the cover by its perimeter ring") {
    import graft.functions.GeoCells
    val res = 6; val n = 1L << res
    val single = Set(10L * n + 10L)
    val d1 = GeoCells.dilate(single, res, 1)
    assert(d1.size == 9 && d1.contains(9L * n + 9L) && d1.contains(11L * n + 11L))
    assert(GeoCells.dilate(single, res, 2).size == 25)
    // pole clamp: a cell on the top row has no row above
    val top = Set((n - 1) * n + 10L)
    assert(GeoCells.dilate(top, res, 1).size == 6)
    // antimeridian wrap: lon 0 pulls in lon n-1
    val left = Set(10L * n + 0L)
    assert(GeoCells.dilate(left, res, 1).contains(10L * n + (n - 1)))
  }
}
