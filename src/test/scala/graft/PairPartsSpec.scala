package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.operators.GtsFrame
import graft.script.WarpScriptEngine

/** STL and DOUBLEEXPONENTIALSMOOTHING return their pair as two parts of
  * one kernel frame: merging the parts reads that frame once (one kernel
  * pass, one scan, no cache) and gives the rows of their union. */
class PairPartsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val (span, lb, n) = (100L, 4800L, 48)

  /** Two seasonal series over n buckets with labels built out of key
    * order, read back from parquet so every read of it is a FileScan. */
  private lazy val source: GtsFrame = {
    import spark.implicits._
    val pts = for (cls <- Seq("p.one", "p.two"); j <- 0 until n) yield {
      val t = lb - (n - 1 - j) * span
      (cls, t, (if (j % 12 < 6) 50.0 else -50.0) + (if (cls == "p.one") 0.5 else -0.25) * j)
    }
    val df = Gts.canonical(pts.toDF("class", "ts", "vdouble").select(
      col("class"),
      when(col("class") === "p.one", map(lit("z"), lit("1"), lit("a"), lit("2")))
        .otherwise(map(lit("y"), lit("9"), lit("b"), lit("8"), lit("m"), lit("7"))).as("labels"),
      col("ts"),
      lit(null).cast("double").as("lat"), lit(null).cast("double").as("lon"),
      lit(null).cast("bigint").as("elev"),
      lit(graft.model.GtsType.DOUBLE).cast("tinyint").as("vtype"),
      lit(null).cast("bigint").as("vlong"), col("vdouble"),
      lit(null).cast("boolean").as("vbool"), lit(null).cast("string").as("vstring"),
      lit(null).cast("binary").as("vbinary")))
    val dir = Files.createTempDirectory("graft-parts-").resolve("points").toString
    df.write.parquet(dir)
    GtsFrame(spark.read.parquet(dir))
  }

  private def engine = new WarpScriptEngine(
    fetch = (cls, ls, a, b) => source.select(cls, ls).timeclip(a, b),
    nowTs = 0L, session = Some(spark))

  private val fetch = s"[ '' '~p\\..*' { } $lb ${lb + 1} ] FETCH"
  private val pairs = Seq(
    "STL" -> (s"""[ $fetch bucketizer.mean $lb $span $n ] BUCKETIZE
                 |{ 'PERIOD' 12 'BANDWIDTH_S' -1 'BANDWIDTH_L' 1 'BANDWIDTH_T' 1
                 |  'SPEED' 0 } STL""".stripMargin, 2 * n),
    "DOUBLEEXPONENTIALSMOOTHING" -> (s"$fetch 0.5 0.3 DOUBLEEXPONENTIALSMOOTHING", 2 * (n - 1)))

  /** Every row of `df` as text (class, labels, gtsid and values), sorted. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(col("class"), to_json(col("labels")).as("labels"), col("gtsid"),
      col("ts"), col("vdouble")).collect().map(_.toString).toSeq.sorted

  private def partsOf(program: String): (GtsFrame, GtsFrame) =
    engine.run(program).head match {
      case Vector(a: GtsFrame, b: GtsFrame) => (a, b)
      case o => fail(s"not a pair of frames: $o")
    }

  private def partOf(f: GtsFrame): GtsFrame.Part = f.origin match {
    case Some(p: GtsFrame.Part) => p
    case o => fail(s"not a part: $o")
  }

  private def plan(df: DataFrame) = df.queryExecution.executedPlan

  pairs.foreach { case (word, (program, partRows)) =>
    test(s"$word: merging the pair gives its union's rows from one kernel pass") {
      val (a, b) = partsOf(program)
      assert(partOf(a).whole eq partOf(b).whole)
      assert(rows(a.df).size == partRows && rows(b.df).size == partRows)
      val union = rows(a.df.unionByName(b.df))
      val merged = a.merge(b)
      assert(rows(merged.df) == union)
      assert(rows(b.merge(a).df) == union)
      assert(merged.df.columns.toSeq == a.df.columns.toSeq)
      // the merged plan is the whole: one kernel, one scan, no cache
      val p = plan(merged.df)
      assert(collect(p) { case m: MapPartitionsExec => m }.size == 1, p)
      assert(collect(p) { case s: FileSourceScanExec => s }.size == 1, p)
      assert(collect(p) { case s: InMemoryTableScanExec => s }.isEmpty, p)
      // the MERGE word and a list in frame position collapse the same way
      val e = engine
      val viaWord = e.runToFrame(s"$program MERGE")
      assert(rows(viaWord) == union)
      assert(collect(plan(viaWord)) { case m: MapPartitionsExec => m }.size == 1)
      assert(rows(e.runToFrame(program)) == union)
    }

    test(s"$word: a part alone, twice, renamed or merged with another frame") {
      val (a, b) = partsOf(program)
      val e = engine
      // 0 GET is the first part: its whole filtered to its value
      val first = e.run(s"$program 0 GET").head.asInstanceOf[GtsFrame]
      val GtsFrame.Part(whole, key, values, all) = partOf(first)
      assert(values == partOf(a).values && all == partOf(a).values ++ partOf(b).values)
      assert(rows(first.df) == rows(whole.filter(col(key) === values.head).drop(key)))
      assert(rows(first.df) == rows(a.df))
      // bag semantics: a part merged with itself keeps both copies
      val twice = e.runToFrame(s"$program 0 GET DUP 2 ->LIST MERGE")
      assert(twice.count() == 2L * partRows)
      assert(rows(a.merge(a).df) == (rows(a.df) ++ rows(a.df)).sorted)
      // an unrelated frame: a plain union
      val other = GtsFrame(source.df.select(a.df.columns.map(col).toIndexedSeq: _*))
      val mixed = a.merge(other)
      assert(mixed.origin.isEmpty)
      assert(rows(mixed.df) == (rows(a.df) ++ rows(other.df)).sorted)
      // a rebuilt frame is just its rows: RENAME drops the marker, and
      // merging it with the other part is a union of two kernel branches
      val renamed = e.run(s"$program 0 GET '+.x' RENAME").head.asInstanceOf[GtsFrame]
      assert(renamed.origin.isEmpty)
      val withOther = e.runToFrame(s"$program DUP 0 GET '+.x' RENAME SWAP 1 GET 2 ->LIST MERGE")
      assert(collect(plan(withOther)) { case m: MapPartitionsExec => m }.size == 2)
      assert(withOther.count() == 2L * partRows)
    }
  }

  test("StackJson renders a pair from one cached whole and keeps nothing cached") {
    val (program, _) = pairs.head._2
    val (a, b) = partsOf(program)
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        scans.add((collect(qe.executedPlan) { case s: FileSourceScanExec => s }.size,
          collect(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size))
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val cached = spark.sparkContext.getPersistentRDDs.keySet.toSet
    spark.listenerManager.register(listener)
    val json = try graft.surface.StackJson.render(Vector(a, b), 10000)
      finally {
        val deadline = System.nanoTime() + 10000000000L
        while (scans.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
        spark.listenerManager.unregister(listener)
      }
    assert(json.contains("p.one_seasonal") && json.contains("p.two_trend"))
    // both parts read the cached whole: the first one fills it
    assert(scans.toArray.toSeq == Seq((0, 1), (0, 1)))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == cached)
    assert(json == "[" + graft.surface.StackJson.render(a, 10000) + "," +
      graft.surface.StackJson.render(b, 10000) + "]")
  }
}
