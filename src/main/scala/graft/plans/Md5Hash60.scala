package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd form of the repo-wide portable 60-bit content hash
  * `conv(substring(md5(x), 1, 15), 16, 10)::BIGINT`: the first 15 hex
  * digits of an md5 are the digest's first 60 BITS, i.e. its first 8
  * bytes read big-endian, shifted right 4 — so the hash can come
  * straight off the digest without materializing a 32-char hex string,
  * substringing it, and re-parsing base 16 (three allocations per
  * value on the hottest path of every shingle/simhash/winnowing
  * query). Value-identical to the composed form by construction, so
  * every DuckDB oracle keeps the `('0x' || substring(md5(x),1,15))`
  * spelling unchanged.
  *
  * The §4.2 escalation rule (custom Expression only where built-ins
  * fall short): the built-in composition is semantically right but
  * allocates ~3× per row; this one digest-and-fold participates in
  * whole-stage codegen via a static helper with a thread-local digest.
  */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  // input coercion happens at the registry (Cast to StringType); the
  // expression itself only ever sees UTF8String
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash60"

  protected override def nullSafeEval(input: Any): Any =
    Md5Hash60.hash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Md5Hash60.hash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)
}

object Md5Hash60 {

  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5(bytes of s): first 8 digest bytes big-endian,
    * >>> 4. Called from generated code — keep it static and allocation
    * free beyond the digest's own output. */
  def hash60(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (d(i) & 0xFFL); i += 1 }
    acc >>> 4
  }

  /** Column form of `md5_hash60(c)`. */
  def md5Hash60(spark: SparkSession, c: Column): Column =
    NativeFunctions.call(spark, "md5_hash60", c)
}
