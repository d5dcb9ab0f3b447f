package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Everything one run needs: the session, its inputs and where it reports. */
final case class Ctx(spark: SparkSession, seed: Long,
                     seconds: Int, trace: Boolean, work: File,
                     expected: Option[File], regen: Boolean, report: Report) {
  def cores: Int = spark.sparkContext.defaultParallelism
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** The raw record a run hands to run.py: samples, counts and per-layer
  * values. run.py turns it into the printed metrics. */
final class Report {
  val setupS = mutable.ArrayBuffer.empty[Double]
  var coldS = 0.0
  /** Steady-phase latencies in ms, per operation kind. */
  val kinds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Wall seconds of each steady round: a pass, a round of requests or
    * a drain. Throughput is units per round over their median. */
  val roundsS = mutable.ArrayBuffer.empty[Double]
  /** What throughput counts per round: operations, or rows for ingest. */
  var unitsPerRound = 0.0
  var attempted = 0L
  var failed = 0L
  var retainedHeapMb = 0.0
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.ArrayBuffer.empty[String]

  def sample(kind: String, ms: Double): Unit =
    kinds.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  /** Record one checked operation; a failure is logged to stderr. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[bench] CHECK FAILED: $what") }
  }

  def toJson: String = Json.obj(
    "setup_s" -> setupS.toSeq, "cold_s" -> coldS,
    "kinds" -> kinds.map { case (k, v) => k -> v.toSeq }.toSeq,
    "rounds_s" -> roundsS.toSeq, "units_per_round" -> unitsPerRound,
    "attempted" -> attempted, "failed" -> failed,
    "retained_heap_mb" -> retainedHeapMb,
    "layers" -> layers.map { case (k, (v, u)) => k -> Seq[Any](v, u) }.toSeq,
    "info" -> info.toSeq)
}

/** Minimal JSON writer for the raw record (numbers, strings, lists and
  * ordered objects as Seq of pairs). */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toSeq)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + graft.surface.StackJson.escape(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => value(String.valueOf(k)) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
}

object Common {
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 11

  /** The session graft.Bench uses: local[cores], one shuffle partition
    * per core, AQE with the 1k coalescing floor, checkpoint checksums
    * off, UTC. Scratch space stays inside the run's work directory. */
  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val local = new File(work, "spark-local"); local.mkdirs()
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, ms(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Used heap after full collections, in MB. */
  def heapAfterGcMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Consume a frame's full result without letting Catalyst prune it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-independent checksum of a result: row count, the sum of a
    * 31-bit hash of the non-floating columns, and the sum of the
    * floating columns (NaN as 0). The first two must match exactly; the
    * float sum within a relative 1e-9, so that a different summation
    * order on another core count does not read as a wrong answer. */
  def checksum(df: DataFrame): (Long, Long, Double) = {
    val fields = df.schema.fields
    val keys = fields.filterNot(f => isFloat(f.dataType)).map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val floats = fields.filter(f => isFloat(f.dataType)).map { f =>
      val c = col(f.name).cast(DoubleType)
      when(c.isNull || isnan(c), lit(0.0)).otherwise(c)
    }
    val h = if (keys.isEmpty) lit(0L) else pmod(xxhash64(keys.toIndexedSeq: _*), lit(2147483647L))
    val v = if (floats.isEmpty) lit(0.0) else floats.reduce(_ + _)
    val r = df.select(h.as("h"), v.as("v"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L)), coalesce(sum(col("v")), lit(0.0)))
      .head()
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  private def isFloat(t: DataType) = t == DoubleType || t == FloatType

  def sameSum(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
