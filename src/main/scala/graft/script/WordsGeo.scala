package graft.script

import org.apache.spark.sql.functions._

import graft.functions.{GeoCells, GeoFunctions, GeoHash, GeoShape}
import graft.operators.GtsFrame

/** Geo word tail: shape construction (GEO.WKT / GEO.JSON), cell-set
  * algebra (GEO.UNION / INTERSECTION / DIFFERENCE / BUFFER / SPLIT),
  * shape↔series predicates (GEO.WITHIN / INTERSECTS), the HHCode
  * neighborhood words (fn/HHCODE*.java), geohash arrows and
  * GEOPACK/GEOUNPACK serialization — all over the cell-grid model in
  * [[graft.functions.GeoCells]] (the reference's GeoXP cells
  * re-derived on a dyadic lat/lon grid).
  *
  * A stack GEOSHAPE is [[WordsGeo.WsGeo]]: the cell cover plus, when
  * built from WKT/GeoJSON, the exact polygon — GEO.WITHIN uses the
  * exact ray-cast when available (the g47/g48 oracle pattern:
  * cover pushdown + exact verify).
  */
private[script] object WordsGeo {
  import WarpScriptEngine._

  private[script] final case class WsGeo(shape: Option[GeoShape],
      cells: Set[Long], res: Int)

  private def popGeo(st: State): WsGeo = st.pop() match {
    case g: WsGeo => g
    case o => throw new IllegalArgumentException(s"expected GEOSHAPE, got $o")
  }

  private def cellCenter(cell: Long, res: Int): (Double, Double) = {
    val n = 1L << res
    val la = cell / n; val lo = cell % n
    ((la + 0.5) / n * 180.0 - 90.0, (lo + 0.5) / n * 360.0 - 180.0)
  }

  def register(words: WordTable): Unit = {
    // ---- shape construction (fn/GeoWKT.java, GeoJSON.java: the
    // reference's pct-error knob maps to the grid resolution here)
    words("GEO.WKT", "GEO.WKT.UNIFORM") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 1 && res <= 28, s"$w resolution out of range: $res")
      val shape = GeoShape.parseWkt(st.popStr())
      st.push(WsGeo(Some(shape), GeoCells.cover(shape, res), res))
    }
    words("GEO.JSON", "GEO.JSON.UNIFORM") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 1 && res <= 28, s"$w resolution out of range: $res")
      val shape = GeoShape.parseGeoJson(st.popStr())
      st.push(WsGeo(Some(shape), GeoCells.cover(shape, res), res))
    }

    // ---- cell-set algebra (fn/GeoUnion.java family; set ops drop
    // the exact polygon — the result is the cover)
    words("GEO.UNION") { (w, st, en) =>
      val b = popGeo(st); val a = popGeo(st)
      require(a.res == b.res, "GEO.UNION: resolution mismatch")
      st.push(WsGeo(None, GeoCells.union(a.cells, b.cells), a.res))
    }
    words("GEO.INTERSECTION") { (w, st, en) =>
      val b = popGeo(st); val a = popGeo(st)
      require(a.res == b.res, "GEO.INTERSECTION: resolution mismatch")
      st.push(WsGeo(None, GeoCells.intersection(a.cells, b.cells), a.res))
    }
    words("GEO.DIFFERENCE") { (w, st, en) =>
      val b = popGeo(st); val a = popGeo(st)
      require(a.res == b.res, "GEO.DIFFERENCE: resolution mismatch")
      st.push(WsGeo(None, GeoCells.subtraction(a.cells, b.cells), a.res))
    }
    words("GEO.BUFFER", "GEOBUFFER") { (w, st, en) =>
      val rings = st.popLong().toInt
      require(rings >= 0 && rings <= 16, s"$w rings out of range: $rings")
      val g = popGeo(st)
      st.push(WsGeo(None, GeoCells.dilate(g.cells, g.res, rings), g.res))
    }
    words("GEOSPLIT") { (w, st, en) =>
      val g = popGeo(st)
      st.push(GeoCells.split(g.cells, g.res)
        .map(c => WsGeo(None, c, g.res): Any).toVector)
    }
    // GEO.COVER: re-cover the exact shape at a new resolution
    words("GEO.COVER", "GEO.COVER.RL") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 1 && res <= 28, s"$w resolution out of range: $res")
      val g = popGeo(st)
      val shape = g.shape.getOrElse(throw new IllegalArgumentException(
        s"$w needs a shape built from WKT/GeoJSON (set-algebra results are cover-only)"))
      st.push(WsGeo(g.shape, GeoCells.cover(shape, res), res))
    }
    // canonicalization no-ops: cell sets are already normalized here
    words("GEO.NORMALIZE", "GEO.OPTIMIZE") { (w, st, en) => st.push(popGeo(st)) }

    // shape renderers (inverse of GEO.WKT / GEO.JSON — require the
    // exact polygon; set-algebra results are cover-only)
    words("->WKT", "->GEOJSON") { (w, st, en) =>
      val g = popGeo(st)
      val shape = g.shape.getOrElse(throw new IllegalArgumentException(
        s"$w needs a shape built from WKT/GeoJSON"))
      def closed(r: Seq[(Double, Double)]) =
        if (r.head == r.last) r else r :+ r.head
      if (w == "->WKT")
        st.push(shape.rings.map(r => closed(r)
          .map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")"))
          .mkString("POLYGON (", ", ", ")"))
      else
        st.push(shape.rings.map(r => closed(r)
          .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]"))
          .mkString("""{"type":"Polygon","coordinates":[""", ",", "]}"))
    }
    words("MAXGEOCELLS") { (w, st, en) => st.popLong() } // capacity hint — no-op here

    // ---- predicates
    // GEO.WITHIN: gts shape → points inside (exact ray-cast when
    // the polygon is known, cover membership otherwise)
    words("GEO.WITHIN", "GEO.OUTSIDE") { (w, st, en) =>
      val g = popGeo(st)
      val f = en.toFrame(st.pop())
      val inside = g.shape match {
        case Some(shape) => shape.containsCol(col("lat"), col("lon"))
        case None => GeoCells.inCover(col("lat"), col("lon"), g.cells, g.res)
      }
      st.push(GtsFrame(f.df.filter(
        if (w == "GEO.WITHIN") inside else !coalesce(inside, lit(false)))))
    }
    // GEO.INTERSECTS: two shapes → do the covers overlap?
    words("GEO.INTERSECTS") { (w, st, en) =>
      val b = popGeo(st); val a = popGeo(st)
      require(a.res == b.res, "GEO.INTERSECTS: resolution mismatch")
      st.push(a.cells.exists(b.cells.contains))
    }

    // ---- serialization (fn/GEOPACK.java, GEOUNPACK): res byte +
    // delta-varint of the sorted cells, b64 text
    words("GEOPACK") { (w, st, en) =>
      val g = popGeo(st)
      val out = new java.io.ByteArrayOutputStream
      out.write(g.res)
      var prev = 0L
      g.cells.toSeq.sorted.foreach { c =>
        var v = c - prev; prev = c
        while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
        out.write(v.toInt)
      }
      st.push(java.util.Base64.getEncoder.encodeToString(out.toByteArray))
    }
    words("GEOUNPACK") { (w, st, en) =>
      val data = java.util.Base64.getDecoder.decode(st.popStr())
      require(data.nonEmpty, "GEOUNPACK: empty payload")
      val res = data(0).toInt
      val cells = Set.newBuilder[Long]
      var i = 1; var prev = 0L
      while (i < data.length) {
        var v = 0L; var shift = 0; var more = true
        while (more) {
          val b = data(i); i += 1
          v |= (b & 0x7fL) << shift; shift += 7
          more = (b & 0x80) != 0
        }
        prev += v; cells += prev
      }
      st.push(WsGeo(None, cells.result(), res))
    }

    // ---- cell/point codecs (->GEOCELL: lat lon res → grid cell id;
    // GEOCELL-> → [lat lon] center)
    words("->GEOCELL") { (w, st, en) =>
      val res = st.popLong().toInt
      val lon = st.popNum(); val lat = st.popNum()
      val n = 1L << res
      val la = math.min(n - 1, math.max(0L, math.floor((lat + 90.0) / 180.0 * n).toLong))
      val lo = math.min(n - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * n).toLong))
      st.push(la * n + lo)
    }
    words("GEOCELL->") { (w, st, en) =>
      val res = st.popLong().toInt
      val (la, lo) = cellCenter(st.popLong(), res)
      st.push(la); st.push(lo)
    }

    // ---- HHCode words (fn/TOHHCODE.java, HHCODETO, the
    // HHCODE.<dir> neighborhood: hhcode res → neighbor hhcode)
    words("->HHCODE", "->HHCODELONG") { (w, st, en) =>
      val lon = st.popNum(); val lat = st.popNum()
      st.push(GeoFunctions.toHHCode(lat, lon))
    }
    words("HHCODE->", "HHCODELONG->") { (w, st, en) =>
      val (la, lo) = GeoFunctions.fromHHCode(st.popLong())
      st.push(la); st.push(lo)
    }
    words("HHCODE.CENTER") { (w, st, en) =>
      val res = st.popLong().toInt
      val (la, lo) = hhCellCenter(st.popLong(), res)
      st.push(Vector[Any](la, lo))
    }
    words("HHCODE.BBOX") { (w, st, en) =>
      val res = st.popLong().toInt
      val hh = st.popLong()
      val half = (90.0 / (1L << res), 180.0 / (1L << res))
      val (la, lo) = hhCellCenter(hh, res)
      st.push(Vector[Any](la - half._1, lo - half._2, la + half._1, lo + half._2))
    }
    words("HHCODE.NORTH", "HHCODE.SOUTH", "HHCODE.EAST", "HHCODE.WEST",
      "HHCODE.NORTH.EAST", "HHCODE.NORTH.WEST", "HHCODE.SOUTH.EAST",
      "HHCODE.SOUTH.WEST") { (w, st, en) =>
      val res = st.popLong().toInt
      val hh = st.popLong()
      val dLat = (if (w.contains("NORTH")) 1 else 0) - (if (w.contains("SOUTH")) 1 else 0)
      val dLon = (if (w.contains("EAST")) 1 else 0) - (if (w.contains("WEST")) 1 else 0)
      val (la, lo) = hhCellCenter(hh, res)
      val stepLat = 180.0 / (1L << res); val stepLon = 360.0 / (1L << res)
      val nlat = math.min(90.0 - stepLat / 2, math.max(-90.0 + stepLat / 2, la + dLat * stepLat))
      var nlon = lo + dLon * stepLon
      if (nlon > 180.0) nlon -= 360.0
      if (nlon < -180.0) nlon += 360.0
      st.push(GeoFunctions.toHHCode(nlat, nlon))
    }

    // ---- geohash arrows (fn/TOGEOHASH.java): lat lon chars →
    // base-32 text; GEOHASH-> decodes to the cell center
    words("->GEOHASH") { (w, st, en) =>
      val chars = st.popLong().toInt
      require(chars >= 1 && chars <= 12, s"->GEOHASH chars out of range: $chars")
      val lon = st.popNum(); val lat = st.popNum()
      st.push(GeoHash.encodeScalar(lat, lon, chars))
    }
    words("GEOHASH->") { (w, st, en) =>
      val (la, lo) = GeoHash.decodeScalar(st.popStr())
      st.push(la); st.push(lo)
    }

    // ---- geocell-list arrows (fn/GEOSHAPETO.java, TOGEOSHAPE.java):
    // shape ↔ list of res-encoded cell longs — this grid's analog of
    // the reference's 4-bit-res + 60-bit-HHCode geocell (res in the
    // top byte). String form = 16-hex of the encoded long.
    words("GEOSHAPE->") { (w, st, en) =>
      var top = st.pop()
      val asString = top match {
        case b: Boolean => top = st.pop(); b
        case _ => false
      }
      val g = top match {
        case g: WsGeo => g
        case o => throw new IllegalArgumentException(s"expected GEOSHAPE, got $o")
      }
      val enc = g.cells.toVector.sorted.map(c => (g.res.toLong << 56) | c)
      st.push(if (asString) enc.map(l => f"$l%016x") else enc)
    }
    words("->GEOSHAPE") { (w, st, en) =>
      val list = st.pop().asInstanceOf[Vector[Any]]
      val decoded = list.map {
        case l: Long => ((l >>> 56).toInt, l & 0x00ffffffffffffffL)
        case s: String =>
          val l = java.lang.Long.parseUnsignedLong(s, 16)
          ((l >>> 56).toInt, l & 0x00ffffffffffffffL)
        case o => throw new IllegalArgumentException(s"->GEOSHAPE: bad cell $o")
      }
      require(decoded.nonEmpty, "->GEOSHAPE: empty cell list")
      decoded.foreach { case (r, _) =>
        require(r >= 1 && r <= 28, s"->GEOSHAPE: resolution out of range: $r") }
      // mixed resolutions: expand coarser cells into the finest grid
      // (4^dr children per cell; bounded like TOGEOSHAPE's validity check)
      val maxRes = decoded.map(_._1).max
      val cells = Set.newBuilder[Long]
      var expanded = 0L
      decoded.foreach { case (r, c) =>
        val f = 1L << (maxRes - r)
        expanded += f * f
        require(expanded <= (1L << 22), "->GEOSHAPE: resolution spread too large")
        val n = 1L << r; val la = c / n; val lo = c % n
        var i = 0L
        while (i < f) {
          var j = 0L
          while (j < f) {
            cells += (la * f + i) * (1L << maxRes) + (lo * f + j); j += 1
          }
          i += 1
        }
      }
      st.push(WsGeo(None, cells.result(), maxRes))
    }

    // ---- WKB (fn/TOWKB.java, GeoWKB.java — re-derived OGC
    // well-known-binary codec, big-endian writer, both endians read,
    // Polygon/MultiPolygon)
    words("->WKB") { (w, st, en) =>
      val shape = st.pop() match {
        case g: WsGeo => g.shape.getOrElse(throw new IllegalArgumentException(
          "->WKB needs a shape built from WKT/GeoJSON"))
        case s: String => GeoShape.parseWkt(s)
        case o => throw new IllegalArgumentException(s"->WKB on $o")
      }
      st.push(wkbEncode(shape))
    }
    words("GEO.WKB", "GEO.WKB.UNIFORM") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 1 && res <= 28, s"$w resolution out of range: $res")
      val shape = wkbDecode(st.pop() match {
        case b: Array[Byte] => b
        case o => throw new IllegalArgumentException(s"$w expects BYTES, got $o")
      })
      st.push(WsGeo(Some(shape), GeoCells.cover(shape, res), res))
    }

    // ---- KML / GML (fn/TOKML.java, TOGML.java, GeoKML.java,
    // GeoGML.java — minimal Polygon grammar, KML coordinates are
    // "lon,lat[,alt]", GML posList is "lat lon")
    words("->KML") { (w, st, en) =>
      val shape = popShape(st, w)
      st.push(kmlRender(shape))
    }
    words("->GML") { (w, st, en) =>
      val shape = popShape(st, w)
      st.push(gmlRender(shape))
    }
    words("GEO.KML", "GEO.KML.UNIFORM") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 1 && res <= 28, s"$w resolution out of range: $res")
      val shape = kmlParse(st.popStr())
      st.push(WsGeo(Some(shape), GeoCells.cover(shape, res), res))
    }
    words("GEO.GML", "GEO.GML.UNIFORM") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 1 && res <= 28, s"$w resolution out of range: $res")
      val shape = gmlParse(st.popStr())
      st.push(WsGeo(Some(shape), GeoCells.cover(shape, res), res))
    }

    // ---- GEOSHIFT (fn/GEOSHIFT.java): translate a shape's cover by
    // (deltalat, deltalon). The popped resolution is validated as the
    // reference does (even, 0-30); the shift itself re-snaps each
    // cell center on this grid at the shape's own resolution.
    words("GEOSHIFT") { (w, st, en) =>
      val res = st.popLong().toInt
      require(res >= 0 && res <= 30 && res % 2 == 0,
        s"GEOSHIFT expects an even resolution in [0, 30]: $res")
      val deltalon = st.popNum()
      require(deltalon >= -360.0 && deltalon <= 360.0,
        s"GEOSHIFT longitude delta out of range: $deltalon")
      val deltalat = st.popNum()
      require(deltalat >= -180.0 && deltalat <= 180.0,
        s"GEOSHIFT latitude delta out of range: $deltalat")
      val g = popGeo(st)
      val n = 1L << g.res
      val cells = g.cells.map { c =>
        val la = c / n; val lo = c % n
        val lat = math.max(-90.0, math.min(90.0,
          (la + 0.5) / n * 180.0 - 90.0 + deltalat))
        val lon0 = (lo + 0.5) / n * 360.0 - 180.0 + deltalon
        val lon = lon0 - math.floor((lon0 + 180.0) / 360.0) * 360.0
        val li = math.min(n - 1, math.max(0L, math.floor((lat + 90.0) / 180.0 * n).toLong))
        val gi = math.min(n - 1, math.max(0L, math.floor((lon + 180.0) / 360.0 * n).toLong))
        li * n + gi
      }
      st.push(WsGeo(None, cells, g.res))
    }

    // ---- GEO.REGEXP (fn/GEOREGEXP.java: shape → regexp matching
    // the cell id text forms, for selector pushdown)
    words("GEO.REGEXP") { (w, st, en) =>
      val g = popGeo(st)
      val alts = g.cells.toVector.sorted.map(c => f"${(g.res.toLong << 56) | c}%016x")
      st.push(alts.mkString("^(?:", "|", ")"))
    }

    // ---- GTS-convention HHCode arrows (fn/TOHHCODE.java with
    // useGtsConvention: NaN/NaN ↔ NO_LOCATION
    // = GeoTimeSerie.java:78's 0x0145014501450145)
    words("->GTSHHCODE", "->GTSHHCODELONG") { (w, st, en) =>
      val lon = st.popNum(); val lat = st.popNum()
      require(lat.isNaN == lon.isNaN,
        s"$w expects latitude and longitude to both be NaN or both not")
      val hh = if (lat.isNaN) NoLocation else GeoFunctions.toHHCode(lat, lon)
      st.push(if (w == "->GTSHHCODE") f"$hh%016x" else hh)
    }
    words("GTSHHCODE->") { (w, st, en) =>
      val hh = st.pop() match {
        case s: String => java.lang.Long.parseUnsignedLong(s, 16)
        case l: Long => l
        case o => throw new IllegalArgumentException(s"GTSHHCODE-> on $o")
      }
      if (hh == NoLocation) { st.push(Double.NaN); st.push(Double.NaN) }
      else {
        val (la, lo) = GeoFunctions.fromHHCode(hh)
        st.push(la); st.push(lo)
      }
    }

    // ---- COPYGEO (fn/COPYGEO.java): copy the locations of a
    // single-series source onto the target frame, matched by tick
    words("COPYGEO") { (w, st, en) =>
      val src = en.toFrame(st.pop())
      val target = en.toFrame(st.pop())
      val locs = src.df.select(col("ts").as("__ts"), col("lat").as("__lat"),
        col("lon").as("__lon"), col("elev").as("__elev")).distinct()
      val joined = target.df.drop("lat", "lon", "elev")
        .join(locs, col("ts") === col("__ts"), "left")
        .withColumn("lat", col("__lat")).withColumn("lon", col("__lon"))
        .withColumn("elev", col("__elev"))
        .drop("__ts", "__lat", "__lon", "__elev")
      st.push(GtsFrame(joined.select(target.df.columns.map(col).toSeq: _*)))
    }

    // ---- MOTIONSPLIT (fn/MOTIONSPLIT.java time/distance-threshold
    // core: a split when the tick gap OR the haversine distance
    // between consecutive points exceeds its threshold; the
    // proximity-zone dwell machinery is not reproduced). One lag
    // window + running sum — fully distributed, the timesplit shape.
    words("MOTIONSPLIT") { (w, st, en) =>
      val label = st.popStr()
      val distThreshold = st.popNum()
      val timeThreshold = st.popLong()
      val f = en.toFrame(st.pop())
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gtsid")).orderBy(col("ts"))
      val prevTs = lag(col("ts"), 1).over(win)
      val prevLat = lag(col("lat"), 1).over(win)
      val prevLon = lag(col("lon"), 1).over(win)
      val gap = prevTs.isNotNull && (
        (col("ts") - prevTs > timeThreshold) ||
        (prevLat.isNotNull && col("lat").isNotNull &&
          GeoFunctions.haversine(prevLat, prevLon, col("lat"), col("lon")) > distThreshold))
      val splitId = sum(when(gap, 1L).otherwise(0L))
        .over(win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
      st.push(GtsFrame(f.df
        .withColumn("labels", map_concat(col("labels"),
          map(lit(label), splitId.cast("string"))))
        .withColumn("gtsid", graft.model.Gts.gtsIdCol(col("class"), col("labels")))))
    }
  }

  /** GeoTimeSerie.java:78 NO_LOCATION sentinel. */
  private val NoLocation = 0x0145014501450145L

  private def popShape(st: State, w: String): GeoShape = st.pop() match {
    case g: WsGeo => g.shape.getOrElse(throw new IllegalArgumentException(
      s"$w needs a shape built from WKT/GeoJSON/WKB/KML/GML"))
    case s: String => GeoShape.parseWkt(s)
    case o => throw new IllegalArgumentException(s"$w on $o")
  }

  private def closedRing(r: Seq[(Double, Double)]): Seq[(Double, Double)] =
    if (r.head == r.last) r else r :+ r.head

  /** OGC WKB Polygon, big-endian (byte order 0). */
  private[script] def wkbEncode(shape: GeoShape): Array[Byte] = {
    val rings = shape.rings.map(closedRing)
    val size = 1 + 4 + 4 + rings.map(4 + _.size * 16).sum
    val buf = java.nio.ByteBuffer.allocate(size) // big-endian default
    buf.put(0.toByte).putInt(3).putInt(rings.size)
    rings.foreach { r =>
      buf.putInt(r.size)
      r.foreach { case (x, y) => buf.putDouble(x).putDouble(y) }
    }
    buf.array()
  }

  /** WKB reader: both endians, Polygon (3) and MultiPolygon (6),
    * optional EWKB SRID flag. MultiPolygon rings merge (even-odd). */
  private[script] def wkbDecode(data: Array[Byte]): GeoShape = {
    val buf = java.nio.ByteBuffer.wrap(data)
    def readGeom(acc: scala.collection.mutable.ArrayBuffer[Seq[(Double, Double)]]): Unit = {
      val order = buf.get()
      buf.order(if (order == 0) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      var tpe = buf.getInt
      if ((tpe & 0x20000000) != 0) { buf.getInt; tpe &= ~0x20000000 } // EWKB SRID
      tpe & 0xff match {
        case 3 =>
          val nRings = buf.getInt
          var i = 0
          while (i < nRings) {
            val nPts = buf.getInt
            val ring = (0 until nPts).map(_ => { val x = buf.getDouble; val y = buf.getDouble; (x, y) })
            acc += ring; i += 1
          }
        case 6 =>
          val nPolys = buf.getInt
          var i = 0
          while (i < nPolys) { readGeom(acc); i += 1 }
        case other =>
          throw new IllegalArgumentException(s"WKB geometry type $other unsupported")
      }
    }
    val rings = scala.collection.mutable.ArrayBuffer[Seq[(Double, Double)]]()
    readGeom(rings)
    GeoShape(rings.toSeq)
  }

  /** KML Polygon: coordinates are "lon,lat[,alt]" whitespace-separated. */
  private[script] def kmlRender(shape: GeoShape): String = {
    def ring(r: Seq[(Double, Double)]) =
      "<LinearRing><coordinates>" +
        closedRing(r).map { case (x, y) => s"$x,$y,0" }.mkString(" ") +
        "</coordinates></LinearRing>"
    val outer = s"<outerBoundaryIs>${ring(shape.rings.head)}</outerBoundaryIs>"
    val inner = shape.rings.tail
      .map(r => s"<innerBoundaryIs>${ring(r)}</innerBoundaryIs>").mkString
    s"<Polygon>$outer$inner</Polygon>"
  }

  private[script] def kmlParse(kml: String): GeoShape = {
    val coordRe = "(?s)<coordinates>(.*?)</coordinates>".r
    val rings = coordRe.findAllMatchIn(kml).map { m =>
      m.group(1).trim.split("\\s+").toSeq.filter(_.nonEmpty).map { triple =>
        val parts = triple.split(",")
        (parts(0).toDouble, parts(1).toDouble) // (lon, lat)
      }
    }.toSeq
    require(rings.nonEmpty, "KML: no <coordinates> found")
    GeoShape(rings)
  }

  /** GML 3 Polygon: posList is "lat lon" pairs (EPSG:4326 axis order). */
  private[script] def gmlRender(shape: GeoShape): String = {
    def ring(r: Seq[(Double, Double)]) =
      "<gml:LinearRing><gml:posList>" +
        closedRing(r).map { case (x, y) => s"$y $x" }.mkString(" ") +
        "</gml:posList></gml:LinearRing>"
    val outer = s"<gml:exterior>${ring(shape.rings.head)}</gml:exterior>"
    val inner = shape.rings.tail
      .map(r => s"<gml:interior>${ring(r)}</gml:interior>").mkString
    s"<gml:Polygon>$outer$inner</gml:Polygon>"
  }

  private[script] def gmlParse(gml: String): GeoShape = {
    val posRe = "(?s)<(?:gml:)?posList[^>]*>(.*?)</(?:gml:)?posList>".r
    val rings = posRe.findAllMatchIn(gml).map { m =>
      val nums = m.group(1).trim.split("\\s+").filter(_.nonEmpty).map(_.toDouble)
      require(nums.length % 2 == 0, "GML posList must hold lat/lon pairs")
      nums.grouped(2).map(p => (p(1), p(0))).toSeq // (lon, lat)
    }.toSeq
    require(rings.nonEmpty, "GML: no posList found")
    GeoShape(rings)
  }

  /** Center of the res-level cell containing an HHCode point. */
  private def hhCellCenter(hh: Long, res: Int): (Double, Double) = {
    val (la, lo) = GeoFunctions.fromHHCode(hh)
    val n = 1L << res
    val li = math.min(n - 1, math.max(0L, math.floor((la + 90.0) / 180.0 * n).toLong))
    val gi = math.min(n - 1, math.max(0L, math.floor((lo + 180.0) / 360.0 * n).toLong))
    ((li + 0.5) / n * 180.0 - 90.0, (gi + 0.5) / n * 360.0 - 180.0)
  }
}
