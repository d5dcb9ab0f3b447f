package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic HyperLogLog (Flajolet et al. 2007) whose estimate is
  * REPRODUCIBLE cross-engine — unlike `approx_count_distinct`
  * (engine-private hashing, h01 is rows-only checked), this sketch is
  * oracle-verifiable bit-for-bit modulo a final round(·,6):
  *
  * - hash: the repo-wide 60-bit md5 prefix (native [[graft.plans.Md5Hash60]]);
  * - register index = h mod m, rank = leading-zero count of the
  *   remaining 60−p bits computed EXACTLY via the minimal binary-string
  *   length (`bin`), an integer in both engines;
  * - 2^{-M} terms as `1.0 / (1 << M)` — representable, so exact (pow()
  *   is not guaranteed correctly rounded; shifts are);
  * - the register sum's last-ulp order dependence and ln()'s libm-vs-JVM
  *   ulps are absorbed by round(est, 6) (noise ~1e-11 for est ~1e3).
  *
  * The register table is the standard mergeable-sketch shape: groupBy
  * (key, bucket) → max(rank) — partial aggregation map-side, unions
  * merge by max, nothing quadratic anywhere.
  */
object HllOps {

  /** HLL distinct estimate of `value` per `key`, precision `p`
    * (m = 2^p registers). Returns (key, est) with est rounded to 6
    * decimals. */
  def estimateByKey(df: DataFrame, key: Column, value: Column, p: Int = 12): DataFrame = {
    val m = 1 << p
    val restBits = 60 - p
    // rank = leading zeros of the top restBits bits + 1; bin() of a
    // positive long is its minimal binary repr, so its length is
    // floor(log2)+1 EXACTLY — rank = restBits - length(bin(rest)) + 1
    val regs = df.select(key.as("k"), graft.plans.Md5Hash60.md5Hash60(df.sparkSession, value).as("h"))
      .withColumn("bucket", expr(s"h % $m"))
      .withColumn("rest", expr(s"h div $m")) // integer division
      .withColumn("rho", when(col("rest") === 0, lit(restBits + 1))
        .otherwise(lit(restBits + 1) - length(bin(col("rest")))))
      .groupBy(col("k"), col("bucket"))
      .agg(max(col("rho")).as("reg"))
    // all-m register grid per key (absent buckets count as zeros)
    val grid = df.select(key.as("k")).distinct()
      .withColumn("bucket", explode(sequence(lit(0), lit(m - 1))))
    val full = grid.join(regs, Seq("k", "bucket"), "left")
      .withColumn("reg", coalesce(col("reg"), lit(0)))
    val alphaM2 = 0.7213 / (1.0 + 1.079 / m) * m.toDouble * m.toDouble
    val agg = full.groupBy(col("k")).agg(
      sum(expr("cast(1 as double) / cast(shiftleft(cast(1 as bigint), reg) as double)"))
        .as("spow"),
      count(when(col("reg") === 0, 1)).cast("double").as("zeros"))
    val raw = lit(alphaM2) / col("spow")
    val est = when(raw <= lit(2.5 * m) && col("zeros") > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / col("zeros"))).otherwise(raw)
    agg.select(col("k"), round(est, 6).as("est"))
  }

  /** The αm² constant and rank width for a given p — shared with the
    * oracle SQL so both engines divide by the same literal. */
  def alphaM2(p: Int): Double = {
    val m = 1 << p
    0.7213 / (1.0 + 1.079 / m) * m.toDouble * m.toDouble
  }
}
