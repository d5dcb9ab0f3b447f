package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.KernelOps
import graft.model.Gts
import graft.operators.{GtsFrame, StatOps}
import graft.script.StlParams

/** Every per-series kernel returns each result row with its series'
  * class and labels, as the reference's kernels return each result GTS
  * with its metadata attached. */
class KernelMetaSpec extends SparkSpec {

  /** Two 96-bucket series (period 12, one spike each), labels built
    * out of key order. */
  private def twoSeries: DataFrame = {
    import spark.implicits._
    val pts = for {
      (cls, sign) <- Seq(("k.one", 1.0), ("k.two", -1.0))
      j <- 0 until 96
    } yield {
      val base = (if (j % 12 < 6) 40.0 else -40.0) + (j / 3) + (j % 7)
      (cls, j.toLong, sign * (if (j == 20 || j == 70) base + 400.0 else base))
    }
    Gts.canonical(pts.toDF("class", "ts", "vdouble").select(
      col("class"),
      when(col("class") === "k.one",
        map(lit("z"), lit("1"), lit("a"), lit("2"), lit("m"), lit("3")))
        .otherwise(map(lit("y"), lit("9"), lit("b"), lit("8"))).as("labels"),
      col("ts"),
      lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
      lit(null).cast("bigint").as("elev"),
      lit(graft.model.GtsType.DOUBLE).cast("tinyint").as("vtype"),
      lit(null).cast("bigint").as("vlong"), col("vdouble"),
      lit(null).cast("boolean").as("vbool"), lit(null).cast("string").as("vstring"),
      lit(null).cast("binary").as("vbinary")))
  }

  test("every KernelOps kernel and ESD flagger returns its series' class " +
    "and key-sorted labels") {
    val in = twoSeries
    val expected = Map(
      "k.one" -> Seq("a" -> "2", "m" -> "3", "z" -> "1"),
      "k.two" -> Seq("b" -> "8", "y" -> "9"))
    val ids = in.select(col("gtsid"), col("class")).distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ids.size == 2)
    val ops = KernelOps(in)
    def filled(rule: KernelOps.FillRule) = GtsFrame(in).fill(95L, 1L, 96L, rule).df
    val lams = StatOps.lambdas(0.05, 128)
    val p = StlParams.resolve(Map("PERIOD" -> 12L))
    val h = StlParams.resolve(Map("PERIOD" -> 12L, "BANDWIDTH_S" -> -1L, "ROBUST" -> false))
    val bucket = (95L, 1L, 96L)
    val cases = Seq(
      "lttbExact" -> ops.lttbExact(10),
      "lttbRef" -> ops.lttbRef(10, timebased = false),
      "fillAkimaGrid" -> filled(KernelOps.Akima),
      "fillLowessGrid" -> filled(KernelOps.Lowess(40, 0, 1e-12)),
      "fillSplineGrid" -> filled(KernelOps.Spline),
      "fillNewtonGrid" -> filled(KernelOps.Newton),
      "fillTrend" -> filled(KernelOps.Trend),
      "fillNewtonMidpoints" -> ops.fillNewtonMidpoints(),
      "rangeCompact" -> ops.rangeCompact(5.0),
      "expSmooth" -> ops.expSmooth(0.5),
      "expSmooth holt" -> ops.expSmooth(0.5, Some(0.5)),
      "holtSmooth" -> ops.holtSmooth(0.5, 0.5),
      "esdFlag" -> ops.esdFlag(3, lams),
      "esdMadFlag" -> ops.esdMadFlag(3, lams),
      "stlDecomposeTagged" -> ops.stlDecomposeTagged(bucket, p.bpp, p.inner,
        p.outer, p.ns, p.ds, p.js, p.nl, p.dl, p.jl, p.nt, p.dt, p.jt,
        p.np, p.dp, p.jp),
      "rlowessSmooth" -> ops.rlowessSmooth(5, 0, 0L, 1, None),
      "hybridFlags" -> ops.hybridFlags(bucket, 12, 4, 2, 0.05, entropy = false,
        Some((h.ns, h.ds, h.js, h.nl, h.dl, h.jl, h.nt, h.dt, h.jt,
          h.np, h.dp, h.jp, h.inner, h.outer))),
      "discords" -> ops.discords(8, 4, 4, 1, mayOverlap = true, 0.0,
        standardizePAA = true),
      "StatOps.esdFlag" -> StatOps.esdFlag(GtsFrame(in), 3, 0.05, 128),
      "StatOps.esdMadFlag" -> StatOps.esdMadFlag(GtsFrame(in), 3, 0.05, 128))
    cases.foreach { case (name, out) =>
      val rows = out.select(col("gtsid"), col("class"), col("labels")).collect()
      assert(rows.map(_.getLong(0)).toSet == ids.keySet, name)
      rows.foreach { r =>
        val cls = ids(r.getLong(0))
        assert(r.getString(1) == cls, name)
        assert(r.getMap[String, String](2).toSeq == expected(cls), name)
      }
    }
  }
}
