package graft.plans

import java.util.Arrays

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, MapData}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd series id `gts_id(class, labels)` — bit-identical
  * to the Column formula the engine's ids were first defined by:
  *
  * {{{ xxhash64(class, concat_ws("\u0001", transform(array_sort(map_entries(labels)),
  *       e -> concat_ws("\u0000", e.key, e.value)))) }}}
  *
  * i.e. xxhash64 (seed 42) over the class, then over the key-sorted
  * pairs, each pair `key \u0000 value` (a null value contributes its
  * key alone, as concat_ws skips nulls), pairs joined with `\u0001`. A
  * null class is skipped like xxhash64 skips null inputs; a null label
  * map hashes like an empty one (concat_ws over a null array is "").
  *
  * The formula's per-row work — an entries array, a sort, a lambda per
  * pair and two string concatenations — runs interpreted (higher-order
  * functions do not codegen) and splits every id Project out of its
  * whole-stage stage. This expression computes the same bytes in one
  * static call inside the generated code (the paper's series id is
  * likewise a single hash of class and labels, computed once).
  */
case class GtsId(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "gts_id"

  override def eval(input: InternalRow): Any =
    GtsId.hash(left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = left.genCode(ctx)
    val l = right.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${l.code}
      long ${ev.value} = graft.plans.GtsId.hash(
        ${c.isNull} ? null : ${c.value}, ${l.isNull} ? null : ${l.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GtsId =
    copy(left = newLeft, right = newRight)
}

object GtsId {

  private val Seed = 42L

  private val byKeyThenValue = new java.util.Comparator[Array[UTF8String]] {
    // array_sort's struct order: key, then value with null first
    def compare(a: Array[UTF8String], b: Array[UTF8String]): Int = {
      val k = a(0).compareTo(b(0))
      if (k != 0) k
      else if (a(1) == null) { if (b(1) == null) 0 else -1 }
      else if (b(1) == null) 1
      else a(1).compareTo(b(1))
    }
  }

  /** The series id of (cls, labels); either may be null. Called from
    * generated code — keep it static. */
  def hash(cls: UTF8String, labels: MapData): Long = {
    val h = if (cls == null) Seed else XXH64.hashUTF8String(cls, Seed)
    val n = if (labels == null) 0 else labels.numElements()
    val pairs = new Array[Array[UTF8String]](n)
    val keys = if (n > 0) labels.keyArray() else null
    val vals = if (n > 0) labels.valueArray() else null
    var len = math.max(n - 1, 0)
    var i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      val v = if (vals.isNullAt(i)) null else vals.getUTF8String(i)
      pairs(i) = Array(k, v)
      len += k.numBytes + (if (v == null) 0 else 1 + v.numBytes)
      i += 1
    }
    if (n > 1) Arrays.sort(pairs, byKeyThenValue)
    val buf = new Array[Byte](len)
    var pos = 0
    i = 0
    while (i < n) {
      if (i > 0) { buf(pos) = 1; pos += 1 }
      pos = put(pairs(i)(0), buf, pos)
      if (pairs(i)(1) != null) { buf(pos) = 0; pos = put(pairs(i)(1), buf, pos + 1) }
      i += 1
    }
    XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, h)
  }

  /** [[hash]] of a series given as JVM values, for rows built outside
    * a plan. */
  def idOf(cls: String, labels: Map[String, String]): Long = {
    val utf8: Any => Any = s => UTF8String.fromString(s.asInstanceOf[String])
    hash(UTF8String.fromString(cls), ArrayBasedMapData(labels, utf8, utf8))
  }

  private def put(s: UTF8String, buf: Array[Byte], pos: Int): Int = {
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
    pos + s.numBytes
  }

  /** Column form of `gts_id(class, labels)` (in the active session). */
  def gtsId(cls: Column, labels: Column): Column =
    NativeFunctions.call(SparkSession.active, "gts_id", cls, labels)
}
