package graft

/** The session `graft.Session` builds (the suite's shared one): its
  * configuration and the installed [[graft.plans.GraftExtensions]]. */
class SessionSpec extends SparkSpec {

  test("the factory session carries the coalescing floor, the checksum toggle and UTC") {
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1k")
    assert(spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("RewriteMd5Prefix: the portable SQL spelling rewrites to md5_hash60") {
    val df = spark.range(100).selectExpr(
      "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h")
    // the session's own optimizer runs the injected rule; value identity
    // native-vs-composed is Md5Hash60Spec's assertion
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("md5_hash60"), plan)
  }

  test("rule leaves non-matching conv/substring/md5 shapes alone") {
    // 14-digit prefix is NOT the 60-bit idiom — must not rewrite
    val df = spark.range(10).selectExpr(
      "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 14), 16, 10) AS BIGINT) AS h")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("md5_hash60"), plan)
  }
}
