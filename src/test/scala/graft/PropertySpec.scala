package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.kernels.SeriesKernels
import graft.kernels.SeriesKernels.Pt
import graft.operators.{GtsFrame, StatOps}
import graft.sources.GtsCodec
import graft.sources.GtsCodec.Point
import graft.model.GtsType

/** Algebraic-law properties (FIXTURES.md §5c): codec round-trips,
  * bucket-arithmetic invariants, dedup idempotence, kernel bounds —
  * pure-function level so they run fast under ScalaCheck. The SAX
  * property alone runs its operator on the shared session. */
class PropertySpec extends SparkSpec {

  /** raw ScalaCheck runner (no scalatestplus bridge in the dep set) */
  private def check(p: Prop, tests: Int = 100): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(tests), p)
    assert(res.passed, res.status.toString)
  }

  private val genTs: Gen[Long] = Gen.chooseNum(-1000000000000L, 1000000000000L)

  private val genPoint: Gen[Point] = for {
    ts <- genTs
    hasLoc <- Gen.oneOf(true, false)
    lat <- Gen.chooseNum(-90.0, 90.0)
    lon <- Gen.chooseNum(-180.0, 180.0)
    elev <- Gen.option(Gen.chooseNum(-1000000L, 1000000L))
    value <- Gen.oneOf[Any](
      Gen.chooseNum(Long.MinValue + 1, Long.MaxValue).sample.get,
      Gen.chooseNum(-1e12, 1e12).sample.get,
      Gen.oneOf(true, false).sample.get,
      Gen.alphaNumStr.sample.get)
  } yield value match {
    case l: Long =>
      Point(ts, if (hasLoc) Some(lat) else None, if (hasLoc) Some(lon) else None,
        elev, GtsType.LONG, Some(l), None, None, None, None)
    case d: Double =>
      Point(ts, if (hasLoc) Some(lat) else None, if (hasLoc) Some(lon) else None,
        elev, GtsType.DOUBLE, None, Some(d), None, None, None)
    case b: Boolean =>
      Point(ts, if (hasLoc) Some(lat) else None, if (hasLoc) Some(lon) else None,
        elev, GtsType.BOOLEAN, None, None, Some(b), None, None)
    case s: String =>
      Point(ts, if (hasLoc) Some(lat) else None, if (hasLoc) Some(lon) else None,
        elev, GtsType.STRING, None, None, None, Some(s), None)
  }

  test("codec round-trip: decode(encode(pts)) == pts for any stream") {
    check(Prop.forAll(Gen.listOf(genPoint)) { pts =>
      val back = GtsCodec.decode(GtsCodec.encode(pts))
      back.size == pts.size && back.zip(pts).forall { case (a, b) => a == b }
    })
  }

  test("bucket_end invariants: ts in (end-span, end], end aligned to lastbucket grid") {
    val gen = for {
      ts <- genTs
      lb <- genTs
      span <- Gen.chooseNum(1L, 1000000000L)
    } yield (ts, lb, span)
    check(Prop.forAll(gen) { case (ts, lb, span) =>
      val end = lb - Math.floorDiv(lb - ts, span) * span
      ts > end - span && ts <= end && Math.floorDiv(lb - end, span) * span == lb - end
    })
  }

  test("lttb: keeps endpooints, bounded size, chronological, subset") {
    val gen = for {
      n <- Gen.chooseNum(3, 300)
      th <- Gen.chooseNum(3, 50)
      vs <- Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6))
    } yield (vs.zipWithIndex.map { case (v, i) => Pt(i.toLong, v) }.toIndexedSeq, th)
    // LTTB keeps at most `th` points; TLTTB resets the count to its
    // non-empty time buckets plus the two endpoints, at most th + 1
    for (timebased <- Seq(false, true)) withClue(s"timebased=$timebased: ") {
      check(Prop.forAll(gen) { case (pts, th) =>
        val span = pts.last.ts - pts.head.ts
        if (timebased && pts.length > th - 2 && span <= 2)
          // the time bucket ⌈(span − 2)/(th − 2)⌉ is 0: GTSHelper.lttb
          // divides by it
          scala.util.Try(SeriesKernels.lttbReference(pts, th, timebased))
            .failed.toOption.exists(_.isInstanceOf[ArithmeticException])
        else {
          val out = SeriesKernels.lttbReference(pts, th, timebased)
          out.length <= (if (timebased) th + 1 else th) &&
            out.head == pts.head && out.last == pts.last &&
            out.map(_.ts) == out.map(_.ts).sorted &&
            out.forall(pts.contains)
        }
      })
    }
  }

  test("dtw: identity is zero, symmetric, non-negative") {
    val gen = Gen.listOfN(20, Gen.chooseNum(-100.0, 100.0))
      .map(_.toIndexedSeq)
    check(Prop.forAll(gen, gen) { (a, b) =>
      SeriesKernels.dtw(a, a) == 0.0 &&
        SeriesKernels.dtw(a, b) == SeriesKernels.dtw(b, a) &&
        SeriesKernels.dtw(a, b) >= 0.0
    })
  }

  test("banded dtw: full band equals dtw, narrower bands only increase cost") {
    val gen = Gen.listOfN(16, Gen.chooseNum(-100.0, 100.0)).map(_.toIndexedSeq)
    check(Prop.forAll(gen, gen) { (a, b) =>
      val full = SeriesKernels.dtw(a, b)
      SeriesKernels.dtwBanded(a, b, 16) == full &&
        SeriesKernels.dtwBanded(a, b, 15) == full && // w >= max(n,m)-1 covers all cells
        SeriesKernels.dtwBanded(a, b, 2) >= full &&
        SeriesKernels.dtwBanded(a, b, 4) <= SeriesKernels.dtwBanded(a, b, 2)
    })
  }

  test("sax word: length and alphabet bounds, shift-invariant") {
    val gen = for {
      vs <- Gen.listOfN(32, Gen.chooseNum(-100.0, 100.0))
      shift <- Gen.chooseNum(-1000.0, 1000.0)
    } yield (vs.toIndexedSeq, shift)
    // StatOps.saxWords is a frame operator: each case carries 25
    // (series, shifted twin) pairs, told apart by the user label,
    // through one job
    check(Prop.forAll(Gen.listOfN(25, gen)) { cases =>
      val pts = cases.zipWithIndex.flatMap { case ((vs, shift), i) =>
        vs.zipWithIndex.flatMap { case (v, j) =>
          Seq(("a", s"$i", j.toLong, v), ("b", s"$i", j.toLong, v + shift))
        }
      }
      val words = StatOps.saxWords(GtsFrame(gtsOf(pts: _*)), 8, 4)
        .select(col("labels")("user"), col("class"), col("word")).collect()
        .groupBy(_.getString(0)).values.map(_.sortBy(_.getString(1)).map(_.getString(2)))
      words.size == cases.size && words.forall {
        case Array(w, ws) => w.length == 8 && w.forall(c => c >= 'a' && c <= 'd') && w == ws
        case _ => false
      }
    }, tests = 4)
  }

  test("exp smoothing: output bounded by input range") {
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))
      .map(_.zipWithIndex.map { case (v, i) => Pt(i.toLong, v) }.toIndexedSeq)
    check(Prop.forAll(gen, Gen.chooseNum(0.01, 0.99)) { (pts, alpha) =>
      val out = SeriesKernels.singleExpSmoothing(pts, alpha)
      val (lo, hi) = (pts.map(_.v).min, pts.map(_.v).max)
      out.forall(p => p.v >= lo - 1e-9 && p.v <= hi + 1e-9)
    })
  }
}
