package graft

/** Optimization-round profiler (driver-side tooling, not part of the
  * engine): run named SparkEntry queries K times in one JVM against
  * SPARK_GRAFT_SF_DIR, timing each run with the noop sink (guide §1.4
  * — computes every column, discards the write) so first-run
  * planning/codegen cost and steady-state compute are separable.
  * Usage: runMain graft.Profile <k> <query> [query...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(2)
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // stage-level accounting: wall duration + summed executor run time
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double, Int)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield (c - s) / 1e3).getOrElse(-1.0)
        stages.add((si.name.takeWhile(_ != '\n').take(90), wall,
          si.taskMetrics.executorRunTime / 1e3, si.numTasks))
      }
    })
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val dumpStages = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")
    for (name <- names; i <- 1 to k) {
      SparkEntry.prewarm.get(name).foreach(p =>
        try p(spark, sfDir) catch { case _: Throwable => })
      stages.clear()
      spark.sparkContext.setJobDescription(s"$name run$i")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[profile] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case e: Throwable =>
        println(s"[profile] $name run$i FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
      }
      if (dumpStages) {
        Thread.sleep(200) // let late stage-completed events drain
        import scala.jdk.CollectionConverters._
        val ss = stages.asScala.toSeq.sortBy(-_._2)
        println(f"[profile]   ${ss.size} stages, wall-sum ${ss.map(_._2).sum}%.2f s, " +
          f"exec-sum ${ss.map(_._3).sum}%.2f s")
        ss.take(12).foreach { case (n, w, e, t) =>
          println(f"[profile]   stage $n%-90s wall $w%6.2f exec $e%7.2f tasks $t%4d")
        }
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
