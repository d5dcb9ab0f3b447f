package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}

import graft.model.Gts
import graft.plans.GtsId

/** The native series id must equal, bit for bit, the Column formula
  * every stored id was computed with. */
class GtsIdSpec extends SparkSpec {

  /** The original series-id formula, kept here as the reference. */
  private def referenceId(cls: Column, labels: Column): Column = {
    val sortedPairs = transform(
      array_sort(map_entries(labels)),
      e => concat_ws("\u0000", e.getField("key"), e.getField("value")))
    xxhash64(cls, concat_ws("\u0001", sortedPairs))
  }

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(20), p)
    assert(res.passed, res.status.toString)
  }

  private val utf8: Any => Any =
    s => if (s == null) null else UTF8String.fromString(s.asInstanceOf[String])

  /** (class, labels) → (native id, reference id, driver-side id). */
  private def ids(series: Seq[(String, Map[String, String])]): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    series.toDF("class", "labels")
      .select(col("class"), col("labels"),
        Gts.gtsIdCol(col("class"), col("labels")).as("nat"),
        referenceId(col("class"), col("labels")).as("ref"))
      .collect().toSeq.map { r =>
        val labels = r.getMap[String, String](1)
        val driver = GtsId.hash(
          if (r.isNullAt(0)) null else UTF8String.fromString(r.getString(0)),
          if (r.isNullAt(1)) null
          else ArrayBasedMapData(labels, utf8, utf8))
        (r.getLong(2), r.getLong(3), driver)
      }
  }

  // text that stresses the byte layout: separators inside keys and
  // values, spaces, multi-byte and supplementary characters
  private val genText: Gen[String] = Gen.frequency(
    4 -> Gen.alphaNumStr.map(_.take(8)),
    1 -> Gen.const(""),
    3 -> Gen.listOf(Gen.oneOf("a", "b", "\u0000", "\u0001", " ", "é", "中",
      "\uD83D\uDE00", "\uFFFD", "z")).map(_.take(6).mkString))

  private val genLabels: Gen[Map[String, String]] = for {
    n <- Gen.frequency(2 -> Gen.const(0), 4 -> Gen.choose(1, 4), 3 -> Gen.choose(5, 9))
    keys <- Gen.listOfN(n, genText)
    values <- Gen.listOfN(n, Gen.frequency(5 -> genText.map(Option(_)), 1 -> Gen.const(None)))
  } yield keys.zip(values.map(_.orNull)).toMap

  private val genSeries: Gen[(String, Map[String, String])] = for {
    cls <- Gen.frequency(9 -> genText, 1 -> Gen.const(null: String))
    labels <- genLabels
  } yield (cls, labels)

  test("native id equals the Column formula on random class/labels") {
    check(Prop.forAll(Gen.listOfN(50, genSeries)) { series =>
      ids(series).forall { case (nat, ref, driver) => nat == ref && driver == ref }
    })
  }

  test("the generators reach the edge cases the property is about") {
    val sample = Gen.listOfN(2000, genSeries).sample.get
    assert(sample.exists(_._2.isEmpty))
    assert(sample.exists(_._2.values.exists(_ == null)))
    assert(sample.exists(_._2.size > 4))
    assert(sample.exists(_._2.keys.exists(k => k.contains("\u0000") || k.contains("\u0001"))))
    assert(sample.exists(_._2.values.exists(v => v != null && v.contains(" "))))
    assert(sample.exists(_._2.keys.exists(_.exists(_ > '\u007f'))))
  }

  test("pinned ids of the stored formula") {
    val pinned = Seq(
      ("events.click", Map("user" -> "12")) -> 3234047440088094258L,
      ("a", Map("b" -> "c", "a" -> "z")) -> 1294351942895326063L,
      ("x", Map.empty[String, String]) -> -817586847176701807L)
    ids(pinned.map(_._1)).zip(pinned.map(_._2)).foreach { case ((nat, ref, driver), want) =>
      assert(nat == want && ref == want && driver == want)
    }
  }
}
