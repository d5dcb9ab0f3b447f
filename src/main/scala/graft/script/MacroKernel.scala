package graft.script

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{Gts, GtsType}

/** Distributed execution of MACRO* adapter words (fn/MACROMAPPER.java,
  * MACROREDUCER, MACROBUCKETIZER, MACROFILTER): the macro's token
  * vector ships to the executors and [[ScalarEval]] interprets it once
  * per window/bucket/tick-group/series. Same scale shape as the other
  * sequential kernels — flatMapGroups per series (or per tick-group for
  * the reducer), shuffle only on the grouping key, no driver loops.
  */
private[script] object MacroKernel {

  /** Canonical-schema input point (Option encodes absent geo/elev). */
  final case class MPt(gtsid: Long, cls: String,
      labels: Map[String, String], ts: Long, lat: Option[Double],
      lon: Option[Double], elev: Option[Long], v: Double)

  final case class OPt(gtsid: Long, ts: Long, lat: Option[Double],
      lon: Option[Double], elev: Option[Long], v: Double)

  private def pts(df: DataFrame): Dataset[MPt] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("gtsid"), col("class").as("cls"), col("labels"), col("ts"),
      col("lat"), col("lon"), col("elev"), col("vdouble").as("v")).as[MPt]
  }

  /** MACROMAPPER window params (MACROMAPPER.java:73-135: [tick, names,
    * labels, ticks, lats, lons, elevs, values]). */
  private def params(tick: Long, cls: String, labels: Map[String, String],
      win: IndexedSeq[MPt]): List[Any] =
    List(Vector[Any](tick,
      Vector[Any](cls),
      Vector[Any](labels.asInstanceOf[Map[Any, Any]]),
      win.map(_.ts: Any).toVector,
      win.map(p => p.lat.getOrElse(Double.NaN): Any).toVector,
      win.map(p => p.lon.getOrElse(Double.NaN): Any).toVector,
      win.map(p => p.elev.map(_.asInstanceOf[Any]).getOrElse(Double.NaN)).toVector,
      win.map(_.v: Any).toVector))

  /** MACROMAPPER output (MACROMAPPER.listToObjects): a [tick value] /
    * [tick lat lon elev value] list, or a bare value at the window
    * tick; null value drops the point. */
  private def collect(stack: List[Any], tick: Long,
      at: MPt): Option[OPt] = {
    def numOpt(v: Any): Option[Double] = v match {
      case null => None
      case l: Long => Some(l.toDouble)
      case d: Double => Some(d)
      case b: Boolean => Some(if (b) 1.0 else 0.0)
      case o => throw new IllegalArgumentException(s"macro returned $o")
    }
    stack.headOption match {
      case Some(l: Vector[Any @unchecked]) if l.length == 5 =>
        numOpt(l(4)).map(v => OPt(at.gtsid, l(0).asInstanceOf[Long],
          numOpt(l(1)).filterNot(_.isNaN), numOpt(l(2)).filterNot(_.isNaN),
          l(3) match {
            case null => None
            case d: Double if d.isNaN => None
            case x: Long => Some(x)
            case d: Double => Some(d.toLong)
            case o => throw new IllegalArgumentException(s"bad elev $o")
          }, v))
      case Some(l: Vector[Any @unchecked]) if l.length == 2 =>
        numOpt(l(1)).map(v => OPt(at.gtsid, l(0).asInstanceOf[Long],
          None, None, None, v))
      case Some(v) =>
        numOpt(v).map(x => OPt(at.gtsid, tick, at.lat, at.lon, at.elev, x))
      case None => None
    }
  }

  /** MAP with a macro mapper: same window rules as GtsFrame.mapWindow
    * (pre/post <= 0 → time span, >= 0 → tick count; mixed throws). */
  def macroMap(df: DataFrame, tokens: Vector[WsToken], pre: Long,
      post: Long, occurrences: Long): DataFrame = {
    require(pre <= 0 && post <= 0 || pre >= 0 && post >= 0,
      "MACROMAPPER: mixed time/count windows are not supported")
    val spark = df.sparkSession
    import spark.implicits._
    val out = pts(df).groupByKey(_.gtsid).flatMapGroups { (_, it) =>
      val all = it.toIndexedSeq.sortBy(p => (p.ts, p.v))
      val n = all.length
      val res = Iterator.range(0, n).flatMap { i =>
        val p = all(i)
        val win =
          if (pre <= 0 && post <= 0) {
            val lo = p.ts + pre; val hi = p.ts - post
            all.filter(q => q.ts >= lo && q.ts <= hi)
          } else all.slice(math.max(0, i - pre.toInt),
            math.min(n, i + post.toInt + 1))
        if (win.isEmpty) None
        else collect(ScalarEval.run(tokens, params(p.ts, p.cls, p.labels, win)),
          p.ts, p)
      }
      (if (occurrences > 0) res.take(occurrences.toInt) else res).toSeq
    }
    finish(out.toDF(), df)
  }

  /** BUCKETIZE with a macro bucketizer: one evaluation per non-empty
    * end-anchored bucket, tick = bucket end. */
  def macroBucketize(df: DataFrame, tokens: Vector[WsToken], lastbucket: Long,
      span: Long): DataFrame = {
    require(span > 0 && lastbucket != 0,
      "MACROBUCKETIZER needs explicit lastbucket and span")
    val spark = df.sparkSession
    import spark.implicits._
    val out = pts(df).filter(_.ts <= lastbucket)
      .groupByKey(p => (p.gtsid, lastbucket - (lastbucket - p.ts) / span * span))
      .flatMapGroups { (key: (Long, Long), it: Iterator[MPt]) =>
        val bucketEnd = key._2
        val win = it.toIndexedSeq.sortBy(p => (p.ts, p.v))
        collect(ScalarEval.run(tokens,
          params(bucketEnd, win.head.cls, win.head.labels, win)),
          bucketEnd, win.head).map(_.copy(ts = bucketEnd)).toSeq
      }
    finish(out.toDF(), df)
  }

  /** REDUCE with a macro reducer: tick-aligned groups over the label
    * partition key; emits the flattened (labels..., ts, vdouble) shape
    * of GtsFrame.reduce. */
  def macroReduce(df: DataFrame, tokens: Vector[WsToken],
      byLabels: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sep = "\u0000"
    val grouped = pts(df)
      .groupByKey(p => (byLabels.map(l => p.labels.getOrElse(l, "")).mkString(sep), p.ts))
      .flatMapGroups { (kt: (String, Long), it: Iterator[MPt]) =>
        val (key, ts) = kt
        val win = it.toIndexedSeq.sortBy(p => (p.cls, p.gtsid, p.v))
        val names = win.map(_.cls: Any).toVector
        val labels = win.map(_.labels.asInstanceOf[Any]).toVector
        val init = List(Vector[Any](ts, names, labels,
          win.map(_.ts: Any).toVector,
          win.map(p => p.lat.getOrElse(Double.NaN): Any).toVector,
          win.map(p => p.lon.getOrElse(Double.NaN): Any).toVector,
          win.map(p => p.elev.map(_.asInstanceOf[Any]).getOrElse(Double.NaN)).toVector,
          win.map(_.v: Any).toVector))
        collect(ScalarEval.run(tokens, init), ts, win.head)
          .map(o => (key, ts, o.v)).toSeq
      }
    val out = grouped.toDF("__key", "ts", "vdouble")
    val withLabels = byLabels.zipWithIndex.foldLeft(out) { case (d, (l, i)) =>
      d.withColumn(l, split(col("__key"), sep).getItem(i))
    }
    withLabels.select(byLabels.map(col) :+ col("ts") :+ col("vdouble"): _*)
  }

  /** FILTER with a macro filter: the macro sees the series as a
    * [[ScalarEval.GtsLite]] list and leaves a boolean. */
  def filterSeries(df: DataFrame, tokens: Vector[WsToken]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val kept = pts(df).groupByKey(_.gtsid).mapGroups { (id, it) =>
      val all = it.toIndexedSeq.sortBy(p => (p.ts, p.v))
      val g = ScalarEval.GtsLite(all.head.cls, all.head.labels,
        all.map(_.ts).toVector, all.map(_.v: Any).toVector)
      ScalarEval.run(tokens, List(Vector[Any](g))) match {
        case (b: Boolean) :: _ => (id, b)
        case o => throw new IllegalArgumentException(
          s"MACROFILTER macro must leave a BOOLEAN, got ${o.headOption}")
      }
    }.filter(_._2).toDF("__gtsid", "__keep")
    df.join(broadcast(kept), df("gtsid") === col("__gtsid"), "left_semi")
  }

  /** Rebuild the canonical 13-column frame from kernel output. */
  private def finish(out: DataFrame, src: DataFrame): DataFrame =
    out.join(Gts.seriesMeta(src), "gtsid").select(
      col("class"), col("labels"), col("gtsid"), col("ts"),
      col("lat"), col("lon"), col("elev"),
      lit(GtsType.DOUBLE).as("vtype"),
      lit(null).cast("long").as("vlong"), col("v").as("vdouble"),
      lit(null).cast("boolean").as("vbool"),
      lit(null).cast("string").as("vstring"),
      lit(null).cast("binary").as("vbinary"))
}
