package graftbench

import java.io.File

/** JVM side of the benchmark: runs one workload and prints its raw
  * record as one line `RAW {json}`. run.py builds this, starts it and
  * turns the record into metrics.
  *
  * Arguments: --workload batch-ws|rest-mixed|stream-ingest --seed N
  * --seconds N --trace 0|1 --work DIR [--expected FILE] [--regen 1]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val run: Ctx => Unit = workload match {
      case "batch-ws" => BatchWs.run
      case "rest-mixed" => RestMixed.run
      case "stream-ingest" => StreamIngest.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    val spark = Common.session(work)
    val report = new Report
    val code =
      try {
        run(Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
          opts.get("trace").contains("1"), work, opts.get("expected").map(new File(_)),
          opts.get("regen").contains("1"), report))
        if (report.layers.nonEmpty) Layers.finish(report)
        println("RAW " + report.toJson)
        0
      } catch { case e: Throwable =>
        e.printStackTrace()
        1
      } finally spark.stop()
    System.out.flush()
    System.exit(code)
  }
}
