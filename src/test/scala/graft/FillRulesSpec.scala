package graft

import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.script.WarpScriptEngine
import graft.sources.WrapperCodec

/** Every FILL filler but MACROFILLER is a fill rule on the one bucket
  * grid (`GtsFrame.fill`). These cases pin each moved filler's rows,
  * bit for bit, to the rows of the dedicated grid builders it replaced:
  * filler.trend's windowed grid join and the index-space grid of the
  * interpolating fillers. The operands are two bucketized wrappers over
  * the grid 30..100 step 10, with labels given out of key order. Series
  * f.a has a knot before the window (tick 10), a gap at each edge and
  * an interior gap; f.b has a knot after the window (tick 120), edge
  * gaps and two interior gaps. */
class FillRulesSpec extends SparkSpec {

  private val (lb, span, count) = (100L, 10L, 8L)

  private def blob(cls: String, labels: Map[String, String], pts: Seq[(Long, Double)]) = {
    val enc = WrapperCodec.encodePoints(
      pts.map { case (t, v) => WrapperCodec.WPoint(t, None, None, v) }, 0L)
    WrapperCodec.opb64Encode(WrapperCodec.writeWrapper(WrapperCodec.Wrapper(
      cls, labels, Map.empty, 0L, enc, pts.length.toLong, false, 1, lb, span, count)))
  }

  private val a = blob("f.a", Map("z" -> "1", "a" -> "2"),
    Seq(10L -> 3.5, 50L -> 7.25, 70L -> 4.5, 80L -> 11.0))
  private val b = blob("f.b", Map("y" -> "9", "b" -> "8"),
    Seq(40L -> 2.5, 50L -> 6.0, 80L -> -1.5, 90L -> 5.75, 120L -> 9.5))

  /** (gtsid, ts, raw bits of vdouble) per filler, sorted by (gtsid, ts). */
  private val expected: Seq[(String, Seq[(Long, Long, Option[Long])])] = Seq(
    "filler.trend" -> Seq(
      (185172934576985124L, 30L, Some(0x4024000000000000L)),
      (185172934576985124L, 40L, Some(0x4021400000000000L)),
      (185172934576985124L, 50L, Some(0x401d000000000000L)),
      (185172934576985124L, 60L, Some(0x4008c00000000000L)),
      (185172934576985124L, 70L, Some(0x4012000000000000L)),
      (185172934576985124L, 80L, Some(0x4026000000000000L)),
      (185172934576985124L, 90L, Some(0x4031800000000000L)),
      (185172934576985124L, 100L, Some(0x4038000000000000L)),
      (3848052022399677405L, 30L, Some(0xbff0000000000000L)),
      (3848052022399677405L, 40L, Some(0x4004000000000000L)),
      (3848052022399677405L, 50L, Some(0x4018000000000000L)),
      (3848052022399677405L, 60L, Some(0xc01e000000000002L)),
      (3848052022399677405L, 70L, Some(0x4016ffffffffffffL)),
      (3848052022399677405L, 80L, Some(0xbff8000000000000L)),
      (3848052022399677405L, 90L, Some(0x4017000000000000L)),
      (3848052022399677405L, 100L, Some(0x402a000000000000L)),
    ),
    "filler.spline" -> Seq(
      (185172934576985124L, 30L, Some(0x401ff4b4b4b4b4b4L)),
      (185172934576985124L, 40L, Some(0x4021330f0f0f0f0fL)),
      (185172934576985124L, 50L, Some(0x401d000000000000L)),
      (185172934576985124L, 60L, Some(0x40115e1e1e1e1e1eL)),
      (185172934576985124L, 70L, Some(0x4012000000000000L)),
      (185172934576985124L, 80L, Some(0x4026000000000000L)),
      (3848052022399677405L, 40L, Some(0x4004000000000000L)),
      (3848052022399677405L, 50L, Some(0x4018000000000000L)),
      (3848052022399677405L, 60L, Some(0x400a97b425ed097aL)),
      (3848052022399677405L, 70L, Some(0xbff684bda12f6848L)),
      (3848052022399677405L, 80L, Some(0xbff8000000000000L)),
      (3848052022399677405L, 90L, Some(0x4017000000000000L)),
      (3848052022399677405L, 100L, Some(0x402492f684bda12fL)),
    ),
    "filler.akima" -> Seq(
      (185172934576985124L, 30L, Some(0x4018dcc2bf9b7c13L)),
      (185172934576985124L, 40L, Some(0x401b4c5b178eeb96L)),
      (185172934576985124L, 50L, Some(0x401d000000000000L)),
      (185172934576985124L, 60L, Some(0x40177fffffffffffL)),
      (185172934576985124L, 70L, Some(0x4012000000000000L)),
      (185172934576985124L, 80L, Some(0x4026000000000000L)),
      (3848052022399677405L, 40L, Some(0x4004000000000000L)),
      (3848052022399677405L, 50L, Some(0x4018000000000000L)),
      (3848052022399677405L, 60L, Some(0x4010451451451452L)),
      (3848052022399677405L, 70L, Some(0xbfd5d75d75d75d60L)),
      (3848052022399677405L, 80L, Some(0xbff8000000000000L)),
      (3848052022399677405L, 90L, Some(0x4017000000000000L)),
      (3848052022399677405L, 100L, Some(0x40215d75d75d75d7L)),
    ),
    "filler.newton" -> Seq(
      (185172934576985124L, 30L, Some(0x402b986186186186L)),
      (185172934576985124L, 40L, Some(0x4026adb6db6db6dcL)),
      (185172934576985124L, 50L, Some(0x401d000000000000L)),
      (185172934576985124L, 60L, Some(0x401070c30c30c30cL)),
      (185172934576985124L, 70L, Some(0x4012000000000000L)),
      (185172934576985124L, 80L, Some(0x4026000000000000L)),
      (3848052022399677405L, 40L, Some(0x4004000000000000L)),
      (3848052022399677405L, 50L, Some(0x4018000000000000L)),
      (3848052022399677405L, 60L, Some(0x3ff5333333333330L)),
      (3848052022399677405L, 70L, Some(0xc006000000000000L)),
      (3848052022399677405L, 80L, Some(0xbff8000000000000L)),
      (3848052022399677405L, 90L, Some(0x4017000000000000L)),
      (3848052022399677405L, 100L, Some(0x402f3ffffffffffdL)),
    ),
    "4 filler.lowess" -> Seq(
      (185172934576985124L, 30L, Some(0x4015b91ffd70e4d1L)),
      (185172934576985124L, 40L, Some(0x4018d023ed5e3d52L)),
      (185172934576985124L, 50L, Some(0x401d000000000000L)),
      (185172934576985124L, 60L, Some(0x401cf7907e351149L)),
      (185172934576985124L, 70L, Some(0x4012000000000000L)),
      (185172934576985124L, 80L, Some(0x4026000000000000L)),
      (3848052022399677405L, 40L, Some(0x4004000000000000L)),
      (3848052022399677405L, 50L, Some(0x4018000000000000L)),
      (3848052022399677405L, 60L, Some(0x40075665e702d9f4L)),
      (3848052022399677405L, 70L, Some(0x40024dbd2514463aL)),
      (3848052022399677405L, 80L, Some(0xbff8000000000000L)),
      (3848052022399677405L, 90L, Some(0x4017000000000000L)),
      (3848052022399677405L, 100L, Some(0x4014d664e5ec27c8L)),
    ),
    "4 2 filler.rlowess" -> Seq(
      (185172934576985124L, 30L, Some(0x4015ab986c69abdfL)),
      (185172934576985124L, 40L, Some(0x4018d314377e41eaL)),
      (185172934576985124L, 50L, Some(0x401d000000000000L)),
      (185172934576985124L, 60L, Some(0x401d57ffd47dbe42L)),
      (185172934576985124L, 70L, Some(0x4012000000000000L)),
      (185172934576985124L, 80L, Some(0x4026000000000000L)),
      (3848052022399677405L, 40L, Some(0x4004000000000000L)),
      (3848052022399677405L, 50L, Some(0x4018000000000000L)),
      (3848052022399677405L, 60L, Some(0x40088c972e5aed51L)),
      (3848052022399677405L, 70L, Some(0x400436156d90b17aL)),
      (3848052022399677405L, 80L, Some(0xbff8000000000000L)),
      (3848052022399677405L, 90L, Some(0x4017000000000000L)),
      (3848052022399677405L, 100L, Some(0x4014b9cbdf83c480L)),
    ),
  )

  expected.foreach { case (filler, rows) =>
    test(s"$filler FILL keeps the rows of its former grid builder") {
      val eng = new WarpScriptEngine(
        (_, _, _, _) => throw new IllegalStateException("no FETCH"), session = Some(spark))
      val got = Seq(a, b).flatMap { blob =>
        val df = eng.runToFrame(s"'$blob' UNWRAP $filler FILL")
        assert(df.columns.toSeq == Gts.columns, filler)
        df.select(col("gtsid"), col("ts"), col("vdouble")).collect().toSeq
      }.map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
        .sortBy(r => (r._1, r._2))
      assert(got == rows, filler)
    }
  }
}
