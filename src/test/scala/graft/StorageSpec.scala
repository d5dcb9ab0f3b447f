package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model.{Gts, LongTable}

class StorageSpec extends SparkSpec {

  test("long table round-trips and day-partitions prune (FIXTURES §1)") {
    val pts = Gts.fromEvents(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-longtable").toFile.getAbsolutePath
    LongTable.write(pts, dir)

    // partition layout exists
    val dirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("tsday="))
    assert(dirs.length > 5, s"expected day partitions, got ${dirs.length}")

    // range fetch returns exactly the timeclip result
    val t0 = 1704067200000000L; val t1 = 1704672000000000L - 1
    val ranged = LongTable.fetchRange(spark, dir, t0, t1)
    val expected = pts.filter(col("ts") >= t0 && col("ts") <= t1).count()
    assert(ranged.count() === expected)

    // partition pruning reaches the scan
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("tsday"), "tsday must appear as a partition filter")
    // and the ts row-group filter is pushed
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"))
  }

  test("bucket_end custom expression: exact, codegen'd, SQL-callable") {
    import spark.implicits._
    // semantics: right-closed end-anchored (BucketizeSpec goldens)
    val df = Seq(100L, 91L, 90L, 81L, 105L).toDF("ts")
      .selectExpr("ts", "bucket_end(ts, 100, 10) AS be")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(100L -> 100L, 91L -> 100L, 90L -> 90L, 81L -> 90L,
      105L -> 110L))
    // negative-territory ticks stay exact (floorDiv, not double floor)
    val far = Seq(-1000000001L).toDF("ts")
      .selectExpr("bucket_end(ts, 0, 3) AS be").head().getLong(0)
    assert(far === -1000000000L + 1L)
    // participates in whole-stage codegen (no CodegenFallback) — use a
    // parquet-backed column so the projection isn't constant-folded
    val ev = Gts.fromEvents(spark, "/root/testdata/sf0.001")
      .selectExpr("bucket_end(ts, 1706659200000000, 86400000000) AS be")
    // `*(n)` marks WholeStageCodegen spans in the simple plan string
    val plan = ev.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [bucket_end"), plan)
    assert(!plan.contains("CodegenFallback"), plan)
    assert(ev.distinct().count() === 30)
  }
  test("bucketed store: groupBy(gtsid) and self-join plan with NO exchange") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-bucketed").toFile.getAbsolutePath
    val pts = gtsOf((1 to 60).map(i =>
      ("m.b", s"u${i % 6}", i.toLong * 1000L, i.toDouble)): _*)
    graft.model.LongTable.writeBucketed(pts, "gts_bucketed_spec", dir, 4)
    try {
      val t = graft.model.LongTable.readBucketed(spark, "gts_bucketed_spec")
      val agg = t.groupBy(col("gtsid")).agg(max(col("vdouble")).as("mx"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("ShuffleExchange"), aggPlan)
      assert(agg.count() === 6)
      // broadcast would bypass bucketing on this tiny table — force the
      // shuffle-join path to show the bucketed scan satisfies it
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = t.select(col("gtsid"), col("ts"), col("vdouble"))
          .join(t.select(col("gtsid"), col("ts").as("ts2")), "gtsid")
        val jPlan = j.queryExecution.executedPlan.toString
        assert(!jPlan.contains("ShuffleExchange"), jPlan)
        assert(j.count() === 600) // 6 series x 10 x 10
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS gts_bucketed_spec")
  }

}
