package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, MapType, StringType}

/** The native expressions' SQL names, in one table (inputs coerced to
  * the expression's types). [[GraftExtensions]] injects them; the Column
  * helpers go through [[call]], whose [[ensure]] registers only what a
  * session built elsewhere lacks, so no registry entry is ever replaced. */
object NativeFunctions {

  private val doubles = ArrayType(DoubleType)

  private val all = Seq[(String, Class[_], Seq[Expression] => Expression)](
    ("gts_id", classOf[GtsId],
      e => GtsId(Cast(e(0), StringType), Cast(e(1), MapType(StringType, StringType)))),
    ("md5_hash60", classOf[Md5Hash60], e => Md5Hash60(Cast(e(0), StringType))),
    ("bucket_end", classOf[BucketEnd],
      e => BucketEnd(Cast(e(0), LongType), Cast(e(1), LongType), Cast(e(2), LongType))),
    ("dot_product", classOf[DotProduct], e => DotProduct(Cast(e(0), doubles), Cast(e(1), doubles)))
  ).map { case (name, cls, b) => (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b) }

  def inject(ext: SparkSessionExtensions): Unit = all.foreach(ext.injectFunction)

  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      for ((id, info, b) <- all if !registry.functionExists(id)) registry.registerFunction(id, info, b)
    }
  }

  def call(spark: SparkSession, name: String, args: Column*): Column = {
    ensure(spark)
    call_function(name, args: _*)
  }
}
