package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.plans.{BucketEnd, DotProduct, Md5Hash60}

/** The native functions are registered once per session: Column builds
  * leave the registry alone, and re-register only what a session lacks. */
class NativeFunctionsSpec extends SparkSpec {

  private val names = Seq("gts_id", "md5_hash60", "bucket_end", "dot_product")

  private def buildAll(): Unit = {
    Gts.gtsIdCol(col("class"), col("labels"))
    Md5Hash60.md5Hash60(spark, col("s"))
    BucketEnd.bucketEnd(spark, col("ts"), lit(100L), lit(10L))
    DotProduct.dot(col("a"), col("b"))
  }

  test("each function's registry entry is the same object after 100 Column builds") {
    val registry = spark.sessionState.functionRegistry
    def entries = names.map { name =>
      val id = FunctionIdentifier(name)
      (registry.lookupFunction(id).getOrElse(fail(s"$name is not registered")),
        registry.lookupFunctionBuilder(id).get)
    }
    buildAll()
    val before = entries
    (1 to 100).foreach(_ => buildAll())
    names.zip(before).zip(entries).foreach { case ((name, (info, builder)), (info2, builder2)) =>
      assert((info2 eq info) && (builder2 eq builder), s"$name was re-registered")
    }
  }

  test("a session without gts_id gets it back on the next gtsIdCol") {
    // a session of its own, so the shared one keeps its functions
    val s = spark.newSession()
    val id = FunctionIdentifier("gts_id")
    s.sessionState.functionRegistry.dropFunction(id)
    assert(!s.sessionState.functionRegistry.functionExists(id))
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try {
      val df = s.range(3).select(Gts.gtsIdCol(lit("c"),
        map(lit("k"), col("id").cast("string"))).as("id"))
      assert(df.queryExecution.optimizedPlan.toString.contains("gts_id"))
      assert(df.distinct().count() == 3)
      assert(s.sessionState.functionRegistry.functionExists(id))
    } finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }
}
