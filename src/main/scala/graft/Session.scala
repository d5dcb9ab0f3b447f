package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one SparkSession factory (Bench, Verify, Explain, Profile, tests),
  * with [[GraftExtensions]] installed. A/B runs pass extra confs as
  * `SPARK_GRAFT_CONF="k=v;k=v"`, applied last over the defaults. */
object Session {

  /** AQE coalescing floor (r13): the default 1 MB coalesces small-BYTE
    * but CPU-heavy shuffles (per-series kernel stages, series-count-sized
    * at any scale) to one task — g94 steady 4.7 → 1.6 s with the floor.
    * With parallelismFirst the target stays max(bytes/parallelism, this),
    * so byte-sized stages coalesce exactly as before. */
  val MinPartitionSize = "1k"

  /** Streaming checkpoint checksums off (r14): Spark 4.1 writes a sidecar
    * file per checkpoint file, per state partition per micro-batch,
    * doubling every stateful commit's small-file ops (s03 4.1 → 2.6 s,
    * s04 2.1 → 1.6 s off); HDFS block checksums and S3 ETags already
    * cover corruption. */
  val StreamChecksum = "false"

  /** A local session, one shuffle partition per core (or the running one). */
  def local(cores: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", MinPartitionSize)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", StreamChecksum)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .withExtensions(new GraftExtensions)
    for (kv <- sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(";") if kv.trim.nonEmpty) {
      val parts = kv.split("=", 2).map(_.trim)
      require(parts.length == 2, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
      builder.config(parts(0), parts(1))
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
