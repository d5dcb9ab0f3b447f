package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, StringType}

/** Session extension wiring (SURVEY §4.2 — custom Catalyst work only
  * where built-ins fall short): registers the [[NativeFunctions]] and
  * injects [[RewriteMd5Prefix]] so SQL/Column code written in the
  * PORTABLE spelling gets the native kernel automatically.
  *
  * `graft.Session` installs it; elsewhere activate with `withExtensions`
  * or `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.inject(ext)
    ext.injectOptimizerRule(_ => RewriteMd5Prefix)
  }
}

/** Rewrites the engine-portable 60-bit hash idiom
  * `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)` — the form
  * every DuckDB oracle spells out — into the codegen'd [[Md5Hash60]].
  * Value-identical by construction (the first 15 hex digits ARE the
  * first 60 bits of the digest), so the rewrite is a pure physical
  * optimization: users can keep writing the portable SQL and still get
  * the native kernel. */
object RewriteMd5Prefix extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Cast(
          Conv(Substring(Md5(child), IntegerLiteral(1), IntegerLiteral(15)),
            IntegerLiteral(16), IntegerLiteral(10), _),
          LongType, _, _) =>
        Md5Hash60(stringChild(child))
    }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) => Some(v)
      case Literal(v: Long, _) if v.isValidInt => Some(v.toInt)
      case _ => None
    }
  }

  /** md5() takes binary — its child is usually Cast(string AS binary);
    * unwrap so Md5Hash60 hashes the same UTF-8 bytes. */
  private def stringChild(e: Expression): Expression = e match {
    case Cast(c, _, _, _) if c.dataType == StringType => c
    case other => Cast(other, StringType)
  }
}
