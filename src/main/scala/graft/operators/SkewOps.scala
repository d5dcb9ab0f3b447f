package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling building blocks for the 100 TB plan.
  *
  * AQE's skew-join splitting handles join-side skew automatically (and
  * is enabled in Bench/Verify sessions); aggregation-side skew — one
  * giant series or label value swamping a reducer — is handled here by
  * classic two-stage salting: partial-aggregate on (key, salt), then
  * final-aggregate on key. Works for any decomposable aggregate
  * (sum/count/min/max and their compositions like mean = sum+count).
  */
object SkewOps {

  /** Two-stage salted sum/count per key set. `salts` buckets the hot
    * keys; the first shuffle spreads a hot key over `salts` reducers,
    * the second is tiny (one row per (key, salt)). */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     salts: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(col("ts")), lit(salts)))
    val partial = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(col(valueCol)).as("__pcnt"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as("sum_v"), sum(col("__pcnt")).as("count_v"))
  }
}
