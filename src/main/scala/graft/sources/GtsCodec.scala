package graft.sources

import java.io.{ByteArrayOutputStream, ByteArrayInputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{Gts, GtsType}

/** Compact binary codec for a per-series point stream — the analogue of
  * the reference's GTSEncoder/GTSWrapper (reference:
  * continuum/gts/GTSEncoder.java:91-130 — per-point flag byte,
  * delta/zigzag timestamps, typed value encodings; WRAP/UNWRAP
  * fn/WRAP.java). Re-derived format, NOT byte-compatible: flag byte =
  * [hasLoc][hasElev][tsDelta][vtype:3]; timestamps zigzag-varint
  * delta-encoded; longs zigzag-varint; doubles raw 8B; strings/binary
  * length-prefixed.
  *
  * In this engine parquet is the at-rest format (LongTable) — the codec
  * exists for wire-compat shapes: compact shuffling of whole series,
  * WRAP-style checkpoints, and caching.
  */
object GtsCodec {

  final case class Point(ts: Long, lat: Option[Double], lon: Option[Double],
                         elev: Option[Long], vtype: Byte,
                         vlong: Option[Long], vdouble: Option[Double],
                         vbool: Option[Boolean], vstring: Option[String],
                         vbinary: Option[Array[Byte]])

  // ---- varint / zigzag primitives ----

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def readVarint(in: ByteArrayInputStream): Long = {
    var shift = 0; var result = 0L
    var b = in.read()
    while ((b & 0x80) != 0) {
      // EOF reads -1 forever, whose bit 7 is set — fail fast instead of
      // spinning on truncated/garbage input
      if (b < 0) throw new IllegalArgumentException("truncated varint")
      result |= (b & 0x7fL) << shift
      shift += 7
      b = in.read()
    }
    if (b < 0) throw new IllegalArgumentException("truncated varint")
    result | (b.toLong << shift)
  }

  private def writeDouble(out: ByteArrayOutputStream, d: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(d)
    (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt))
  }

  private def readDouble(in: ByteArrayInputStream): Double = {
    var bits = 0L
    (0 until 8).foreach(i => bits |= in.read().toLong << (8 * i))
    java.lang.Double.longBitsToDouble(bits)
  }

  // ---- point-stream codec ----

  def encode(points: Seq[Point]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeVarint(out, points.length.toLong)
    var prevTs = 0L
    points.foreach { p =>
      val hasLoc = p.lat.isDefined && p.lon.isDefined
      val flags = (if (hasLoc) 0x20 else 0) | (if (p.elev.isDefined) 0x10 else 0) |
        (0x08 /* ts delta */) | p.vtype
      out.write(flags)
      writeVarint(out, zigzag(p.ts - prevTs))
      prevTs = p.ts
      if (hasLoc) { writeDouble(out, p.lat.get); writeDouble(out, p.lon.get) }
      p.elev.foreach(e => writeVarint(out, zigzag(e)))
      p.vtype match {
        case GtsType.LONG    => writeVarint(out, zigzag(p.vlong.get))
        case GtsType.DOUBLE  => writeDouble(out, p.vdouble.get)
        case GtsType.BOOLEAN => out.write(if (p.vbool.get) 1 else 0)
        case GtsType.STRING =>
          val b = p.vstring.get.getBytes(StandardCharsets.UTF_8)
          writeVarint(out, b.length.toLong); out.write(b)
        case GtsType.BINARY =>
          writeVarint(out, p.vbinary.get.length.toLong); out.write(p.vbinary.get)
      }
    }
    out.toByteArray
  }

  def decode(bytes: Array[Byte]): Seq[Point] = {
    val in = new ByteArrayInputStream(bytes)
    val n = readVarint(in).toInt
    var prevTs = 0L
    (0 until n).map { _ =>
      val flags = in.read()
      val ts = prevTs + unzigzag(readVarint(in))
      prevTs = ts
      val (lat, lon) =
        if ((flags & 0x20) != 0) (Some(readDouble(in)), Some(readDouble(in)))
        else (None, None)
      val elev = if ((flags & 0x10) != 0) Some(unzigzag(readVarint(in))) else None
      val vtype = (flags & 0x07).toByte
      vtype match {
        case GtsType.LONG =>
          Point(ts, lat, lon, elev, vtype, Some(unzigzag(readVarint(in))), None, None, None, None)
        case GtsType.DOUBLE =>
          Point(ts, lat, lon, elev, vtype, None, Some(readDouble(in)), None, None, None)
        case GtsType.BOOLEAN =>
          Point(ts, lat, lon, elev, vtype, None, None, Some(in.read() == 1), None, None)
        case GtsType.STRING =>
          val len = readVarint(in).toInt
          val b = new Array[Byte](len); in.read(b)
          Point(ts, lat, lon, elev, vtype, None, None, None,
            Some(new String(b, StandardCharsets.UTF_8)), None)
        case GtsType.BINARY =>
          val len = readVarint(in).toInt
          val b = new Array[Byte](len); in.read(b)
          Point(ts, lat, lon, elev, vtype, None, None, None, None, Some(b))
      }
    }
  }

  // ---- DataFrame surface: WRAP / UNWRAP ----

  private val pointStruct = struct(col("ts"), col("lat"), col("lon"),
    col("elev"), col("vtype"), col("vlong"), col("vdouble"), col("vbool"),
    col("vstring"), col("vbinary"))

  private val encodeUdf = udf { pts: Seq[Row] =>
    encode(pts.map(r => Point(
      r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Double]),
      Option(r.get(2)).map(_.asInstanceOf[Double]),
      Option(r.get(3)).map(_.asInstanceOf[Long]),
      r.getByte(4),
      Option(r.get(5)).map(_.asInstanceOf[Long]),
      Option(r.get(6)).map(_.asInstanceOf[Double]),
      Option(r.get(7)).map(_.asInstanceOf[Boolean]),
      Option(r.get(8)).map(_.asInstanceOf[String]),
      Option(r.get(9)).map(_.asInstanceOf[Array[Byte]]))))
  }

  /** WRAP: one row per series with metadata + encoded point blob. */
  def wrap(points: DataFrame): DataFrame =
    Gts.aggBySeries(points)(count(lit(1)).as("npoints"),
      encodeUdf(sort_array(collect_list(pointStruct))).as("blob"))

  /** MVSPLIT (reference fn/MVSPLIT.java — split multivalue points whose
    * value is an encoder-per-tick): BINARY-valued points carrying an
    * encoded sub-stream explode into their constituent points, stamped
    * with the carrier's identity. Non-binary points pass through. */
  def mvSplit(points: DataFrame): DataFrame = {
    val plain = points.filter(col("vtype") =!= GtsType.BINARY)
    val sub = unwrap(points.filter(col("vtype") === GtsType.BINARY)
      .select(col("class"), col("labels"), col("vbinary").as("blob")))
    plain.unionByName(sub)
  }

  /** UNWRAP back to the canonical long table. */
  def unwrap(wrapped: DataFrame): DataFrame = {
    val spark = wrapped.sparkSession
    val schema = Gts.pointSchema
    val rows = wrapped.select(col("class"), col("labels"), col("blob"))
      .rdd.flatMap { r =>
        decode(r.getAs[Array[Byte]]("blob")).map { p =>
          Row(r.getString(0), r.getAs[Map[String, String]](1), 0L, p.ts,
            p.lat.orNull, p.lon.orNull, p.elev.orNull, p.vtype,
            p.vlong.orNull, p.vdouble.orNull, p.vbool.orNull,
            p.vstring.orNull, p.vbinary.orNull)
        }
      }
    Gts.canonicalRehash(spark.createDataFrame(rows, schema))
  }
}
