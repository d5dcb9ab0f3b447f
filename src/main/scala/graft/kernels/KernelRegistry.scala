package graft.kernels

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-name smoothing-kernel registry (reference:
  * script/mapper/MapperKernel*.java — 10 kernels feeding
  * MapperKernelSmoother). The reference builds a half-kernel weight
  * array with `u = i / (len-1)` over `1 + width/2` entries; smoothing is
  * the renormalized windowed dot product. Weights are computed ONCE on
  * the driver and embedded as double literals in both the Spark plan
  * and the oracle SQL, so transcendental kernels are still
  * bit-reproducible cross-engine (both engines multiply by the same
  * literal).
  *
  * Note: silverman reproduces the reference's formula verbatim
  * (MapperKernelSilverman.java:36), including its zero center weight.
  */
object KernelRegistry {

  val Names: Seq[String] = Seq("uniform", "triangular", "epanechnikov",
    "gaussian", "quartic", "triweight", "tricube", "cosine", "logistic",
    "silverman")

  /** Half-kernel weight at normalized offset u ∈ [0, 1]. */
  def weight(name: String, u: Double): Double = name match {
    case "uniform"      => 0.5
    case "triangular"   => 1.0 - u
    case "epanechnikov" => 0.75 * (1.0 - u * u)
    case "gaussian"     => (1.0 / math.sqrt(2.0 * math.Pi)) * math.exp(-0.5 * u * u)
    case "quartic"      => (15.0 / 16.0) * math.pow(1.0 - u * u, 2.0)
    case "triweight"    => (35.0 / 32.0) * math.pow(1.0 - u * u, 3.0)
    case "tricube"      => (70.0 / 81.0) * math.pow(1.0 - math.pow(math.abs(u), 3.0), 3.0)
    case "cosine"       => (math.Pi / 4.0) * math.cos((math.Pi / 2.0) * u)
    case "logistic"     => 1.0 / (math.exp(u) + 2.0 + math.exp(-u))
    case "silverman"    => 0.5 * math.exp(-math.abs(u) / math.sqrt(2.0)) *
      math.sin((math.Pi / 4.0) * math.abs(u) / math.sqrt(2.0))
    case other => throw new IllegalArgumentException(s"unknown kernel: $other")
  }

  /** Symmetric weight vector for offsets -halfWidth..halfWidth,
    * QUANTIZED to dyadic rationals k/2^20: integer-valued inputs then
    * make every product and partial sum exactly representable, so the
    * smoothed output is bit-identical across engines (raw transcendental
    * weights differ by ~1 ulp under FMA contraction). The kernel shape
    * is preserved to 1e-6 relative. */
  def weights(name: String, halfWidth: Int): Seq[Double] =
    (-halfWidth to halfWidth).map { o =>
      val w = weight(name, math.abs(o).toDouble / halfWidth)
      math.rint(w * 1048576.0) / 1048576.0
    }

  /** Renormalized windowed dot product over a tick-ordered per-series
    * window — the g42 pattern parameterized by kernel name. Edge ticks
    * renormalize over the weights actually present
    * (MapperKernelSmoother.java renormalizes over in-window ticks). */
  def smoothCol(name: String, halfWidth: Int, v: Column,
                w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val terms = weights(name, halfWidth).zipWithIndex.map { case (wk, i) =>
      val off = i - halfWidth
      val x = if (off < 0) lag(v, -off).over(w)
              else if (off > 0) lead(v, off).over(w)
              else v
      (when(x.isNotNull, x * wk).otherwise(0.0),
        when(x.isNotNull, lit(wk)).otherwise(0.0))
    }
    terms.map(_._1).reduce(_ + _) / terms.map(_._2).reduce(_ + _)
  }

  /** Oracle twin: the same renormalized dot product as DuckDB window
    * SQL over a value expression and a WINDOW named `wname`. */
  def smoothSql(name: String, halfWidth: Int, vExpr: String,
                wname: String): String = {
    val terms = weights(name, halfWidth).zipWithIndex.map { case (wk, i) =>
      val off = i - halfWidth
      val x = if (off < 0) s"lag($vExpr, ${-off}) OVER $wname"
              else if (off > 0) s"lead($vExpr, $off) OVER $wname"
              else vExpr
      (s"(CASE WHEN $x IS NOT NULL THEN $x * $wk ELSE 0.0 END)",
        s"(CASE WHEN $x IS NOT NULL THEN $wk ELSE 0.0 END)")
    }
    s"(${terms.map(_._1).mkString(" + ")}) / (${terms.map(_._2).mkString(" + ")})"
  }
}
