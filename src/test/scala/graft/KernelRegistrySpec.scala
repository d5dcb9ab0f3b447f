package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.kernels.KernelRegistry

/** Per-name kernel registry: weight laws + smoothing invariants. */
class KernelRegistrySpec extends SparkSpec {

  private val series = Window.partitionBy(col("gtsid")).orderBy(col("ts"), col("vdouble"))

  test("all 10 kernels produce symmetric, center-peaked dyadic weights") {
    KernelRegistry.Names.foreach { name =>
      val w = KernelRegistry.weights(name, 3)
      assert(w.size == 7, name)
      assert(w == w.reverse, s"$name not symmetric")
      // dyadic: w * 2^20 is integral
      w.foreach(x => assert(x * 1048576.0 == math.rint(x * 1048576.0), name))
      if (name != "silverman") // silverman's reference formula zeroes the center
        assert(w(3) >= w.max - 1e-12, s"$name not center-peaked")
    }
  }

  test("renormalized smoothing of a constant series is the constant") {
    val pts = (1 to 20).map(i => ("m", "u", i.toLong, 5.0))
    val f = gtsOf(pts: _*)
    KernelRegistry.Names.filterNot(_ == "silverman").foreach { name =>
      val out = f.select(KernelRegistry.smoothCol(name, 2, col("vdouble"), series))
        .collect().map(_.getDouble(0))
      out.foreach(v => assert(math.abs(v - 5.0) < 1e-9, name))
    }
  }

  test("gaussian smoothing matches a hand-computed interior point") {
    val f = gtsOf(("m", "u", 1L, 1.0), ("m", "u", 2L, 2.0), ("m", "u", 3L, 3.0),
      ("m", "u", 4L, 4.0), ("m", "u", 5L, 5.0))
    val w = KernelRegistry.weights("gaussian", 2)
    val expect = (1 to 5, w).zipped.map((v, wk) => v * wk).sum / w.sum
    val got = f.select(col("ts"), KernelRegistry.smoothCol("gaussian", 2, col("vdouble"), series))
      .filter(col("ts") === 3L).head().getDouble(1)
    assert(math.abs(got - expect) < 1e-12)
  }
}
