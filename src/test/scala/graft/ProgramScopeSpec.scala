package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine

/** The engine's program scope: what a program's words persist stays
  * cached while its result is consumed and is released by `release()`
  * or by the next `run`, so a reused engine keeps no cache of its own.
  * Pair words persist nothing at all. */
class ProgramScopeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val span = 100L
  private val lb = 4800L
  private val n = 48

  /** Two seasonal series over n buckets, read back from parquet so a
    * plan that misses the cache shows a FileScan. */
  private lazy val source: GtsFrame = {
    import spark.implicits._
    val rows = for (u <- Seq("1", "2"); j <- 0 until n) yield {
      val t = lb - (n - 1 - j) * span
      val phase = ((lb - t) / span) % 12
      ("m.x", Map("user" -> u), t, (if (phase < 6) 50.0 else -50.0) + 0.5 * j)
    }
    val pts = rows.toDF("class", "labels", "ts", "vdouble")
      .withColumn("lat", lit(null).cast(DoubleType))
      .withColumn("lon", lit(null).cast(DoubleType))
      .withColumn("elev", lit(null).cast(LongType))
      .withColumn("vtype", lit(graft.model.GtsType.DOUBLE).cast(ByteType))
      .withColumn("vlong", lit(null).cast(LongType))
      .withColumn("vbool", lit(null).cast(BooleanType))
      .withColumn("vstring", lit(null).cast(StringType))
      .withColumn("vbinary", lit(null).cast(BinaryType))
    val dir = Files.createTempDirectory("graft-scope-").resolve("points").toString
    Gts.canonical(pts).write.parquet(dir)
    GtsFrame(spark.read.parquet(dir))
  }

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("word persists live for one program: released by release() and by the next run") {
    val fetch = s"[ '' '~m\\..*' { } $lb ${lb + 1} ] FETCH"
    val cases = Seq(("ACCEL.CACHE FETCH", s"ACCEL.CACHE $fetch", 2L * n))
    val e = new WarpScriptEngine(
      fetch = (cls, ls, a, b) => source.select(cls, ls).timeclip(a, b),
      nowTs = 0L, session = Some(spark))
    val baseline = persistedIds
    cases.foreach { case (name, program, rows) =>
      withClue(s"$name: ") {
        val df = e.runToFrame(program)
        assert(df.collect().length == rows)
        assert((persistedIds -- baseline).nonEmpty, "the word persisted nothing")
        e.release()
        assert(persistedIds -- baseline == Set.empty, "after release()")

        assert(e.runToFrame(program).collect().length == rows)
        assert((persistedIds -- baseline).nonEmpty)
        assert(e.run("1") == List(1L))
        assert(persistedIds -- baseline == Set.empty, "after the next run")
      }
    }
  }

  test("pair words persist nothing: their merged pair scans the source once") {
    val fetch = s"[ '' '~m\\..*' { } $lb ${lb + 1} ] FETCH"
    val cases = Seq(
      ("STL pair",
        s"""[ $fetch bucketizer.mean $lb $span $n ] BUCKETIZE
           |{ 'PERIOD' 12 'BANDWIDTH_S' -1 'BANDWIDTH_L' 1 'BANDWIDTH_T' 1
           |  'SPEED' 0 } STL""".stripMargin, 4L * n),
      ("DOUBLEEXPONENTIALSMOOTHING pair",
        s"$fetch 0.5 0.3 DOUBLEEXPONENTIALSMOOTHING", 4L * (n - 1)))
    val e = new WarpScriptEngine(
      fetch = (cls, ls, a, b) => source.select(cls, ls).timeclip(a, b),
      nowTs = 0L, session = Some(spark))
    val baseline = persistedIds
    cases.foreach { case (name, program, rows) =>
      withClue(s"$name: ") {
        val df = e.runToFrame(program)
        assert(df.collect().length == rows)
        assert(persistedIds -- baseline == Set.empty, "the word persisted")
        val plan = df.queryExecution.executedPlan
        assert(collect(plan) { case s: InMemoryTableScanExec => s }.isEmpty, plan)
        assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan)
      }
    }
  }
}
