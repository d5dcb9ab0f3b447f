package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.KernelOps
import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.StlParams

/** A FILLVALUE grid handed to a kernel packs its sparse origin and fills
  * each series after the pack; the same grid rebuilt as a plain frame
  * packs the materialized grid rows. Both must give the same rows,
  * class and labels included, on every input — a repeated tick and a
  * null value among them. */
class FillFusionSpec extends SparkSpec {

  /** Two series over ticks 0..95 (period 12, one spike each, every
    * fifth tick missing), labels built out of key order; series k.one
    * repeats tick 33 and has a null value at tick 44, a gap. */
  private def operand: GtsFrame = {
    import spark.implicits._
    val pts = for {
      (cls, sign) <- Seq(("k.one", 1.0), ("k.two", -1.0))
      j <- 0 until 96 if j % 5 != 4
    } yield {
      val base = (if (j % 12 < 6) 40.0 else -40.0) + (j / 3) + (j % 7)
      (cls, j.toLong, Option(sign * (if (j == 20 || j == 70) base + 400.0 else base)))
    }
    val extra = Seq(("k.one", 33L, Option(7.5)), ("k.one", 44L, Option.empty[Double]))
    GtsFrame(Gts.canonical((pts ++ extra).toDF("class", "ts", "vdouble").select(
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
      lit(null).cast("binary").as("vbinary"))))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("kernels over a fused FILLVALUE grid equal kernels over its " +
    "materialized rows") {
    val filled = operand.fill(95L, 1L, 96L, KernelOps.Value(0.0))
    assert(filled.origin.isDefined)
    val grid = filled.df.filter(col("class") === "k.one")
    assert(grid.filter(col("ts") === 33L).count() == 2) // both points kept
    assert(grid.filter(col("ts") === 44L).head().getAs[Double]("vdouble") == 0.0)
    val fused = KernelOps(filled)
    val dense = KernelOps(GtsFrame(filled.df))
    val p = StlParams.resolve(Map("PERIOD" -> 12L))
    val lams = graft.operators.StatOps.lambdas(0.05, 128)
    val kernels: Seq[(String, KernelOps => DataFrame)] = Seq(
      "LTTB" -> (_.lttbRef(10, timebased = false)),
      "DISCORDS" -> (_.discords(8, 4, 4, 1, mayOverlap = true, 0.0,
        standardizePAA = true)),
      "ESDTEST" -> (_.esdFlag(3, lams)),
      "SINGLEEXPONENTIALSMOOTHING" -> (_.expSmooth(0.5)),
      "STL" -> (_.stlDecomposeTagged((95L, 1L, 96L), p.bpp, p.inner, p.outer,
        p.ns, p.ds, p.js, p.nl, p.dl, p.jl, p.nt, p.dt, p.jt, p.np, p.dp, p.jp)))
    kernels.foreach { case (name, k) =>
      val a = rows(k(fused))
      assert(a.nonEmpty, name)
      assert(a == rows(k(dense)), name)
    }
  }
}
