package graft

import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.operators.SkewOps

class TypedSkewSpec extends SparkSpec {

  test("salted aggregation equals direct aggregation") {
    val pts = Gts.fromEventsCents(spark, "/root/testdata/sf0.001")
    val direct = pts.groupBy(col("class"))
      .agg(sum(col("vdouble")).as("sum_v"), count(col("vdouble")).as("count_v"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedSumCount(pts, Seq("class"), "vdouble")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted === direct)
  }
}
