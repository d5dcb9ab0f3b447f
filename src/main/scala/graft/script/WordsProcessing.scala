package graft.script

/** Processing (`P*`) rendering words over the clean-room [[WsCanvas]]
  * java.awt canvas (reference: the ~100 words under
  * script/processing/, each of which pops arguments until the
  * PGraphics instance is found, applies the Processing call, and
  * pushes the instance back — ProcessingUtil.parseParams:36-63; the
  * same argument protocol is replicated here).
  *
  * Implemented: the 2D drawing core (shapes incl. bezier/Catmull-Rom
  * curves, color with RGB/HSB colorMode, transforms, style/matrix
  * stacks, pixels, filters/tint/blend/mask/copy, encode/decode, basic
  * typography, the P-math scalars). Not implemented: the 3D surface
  * (Pbox/Psphere/PGraphics '3D' — the reference builds those on
  * OpenGL), the global PblendMode, shape files, and font loading;
  * those throw with a clear message rather than rendering wrongly.
  *
  * Detached images are [[WordsProcessing.WsImage]] wrappers so the
  * until-canvas argument scan cannot mistake an image argument for
  * the target canvas (the reference relies on PImage != PGraphics).
  */
private[script] object WordsProcessing {
  import WarpScriptEngine._

  /** A detached image (PtoImage / Pdecode / Pget-copy / Presize). */
  final case class WsImage(c: WsCanvas)

  private def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
    case i: Int => i.toDouble
    case o => throw new IllegalArgumentException(s"expected a number, got $o")
  }
  private def colorInt(v: Any): Int = (num(v).toLong & 0xffffffffL).toInt

  /** Pop args until the canvas (the reference's parseParams): returns
    * (canvas, args in push order). */
  private def params(st: State, word: String, arities: Int*): (WsCanvas, Vector[Any]) = {
    val max = arities.max
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    var canvas: WsCanvas = null
    while (canvas == null && st.stack.nonEmpty && buf.length <= max) {
      st.pop() match {
        case c: WsCanvas => canvas = c
        case o => buf += o
      }
    }
    require(canvas != null, s"$word: no PGraphics instance on the stack")
    require(arities.contains(buf.length),
      s"$word: expected one of ${arities.mkString("/")} parameters, got ${buf.length}")
    (canvas, buf.reverse.toVector)
  }

  /** Processing color(...) overloads under the canvas' active
    * colorMode (see WsCanvas.makeColor). */
  private def packColor(c: WsCanvas, args: Vector[Any]): Int =
    c.makeColor(args.map(num))

  def register(words: WordTable): Unit = {
    words("PGraphics") { (w, st, en) =>
      val tpe = st.popStr()
      val h = st.popLong().toInt
      val wd = st.popLong().toInt
      require(tpe.startsWith("2D"),
        s"PGraphics: only the '2D' surface is supported (got '$tpe')")
      st.push(new WsCanvas(wd, h))
    }

    words("Pencode") { (w, st, en) =>
      var fmt = "png"
      val img = st.pop() match {
        case m: Map[Any @unchecked, Any @unchecked] =>
          fmt = m.getOrElse("format", "png").toString match {
            case "jpeg" | "jpg" => "jpeg"; case _ => "png"
          }
          st.pop()
        case o => o
      }
      img match {
        case c: WsCanvas => st.push(c.encode(fmt))
        case WsImage(c) => st.push(c.encode(fmt))
        case o => throw new IllegalArgumentException(s"Pencode: not an image: $o")
      }
    }

    words("Pdecode") { (w, st, en) =>
      val c = st.pop() match {
        case b: Array[Byte] => WsCanvas.decode(b)
        case s: String if s.startsWith("data:") => WsCanvas.decode(
          java.util.Base64.getDecoder.decode(s.substring(s.indexOf(",") + 1)))
        case s: String => WsCanvas.decode(java.util.Base64.getDecoder.decode(s))
        case o => throw new IllegalArgumentException(s"Pdecode: $o")
      }
      st.push(WsImage(c))
    }

    // -------------------------------------------------------- color
    words("Pbackground") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2, 3, 4)
      c.background(packColor(c, a)); st.push(c)
    }
    words("Pclear") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.clear(); st.push(c)
    }
    words("Pfill") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2, 3, 4)
      c.fillColor = Some(packColor(c, a)); st.push(c)
    }
    words("PnoFill") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.fillColor = None; st.push(c)
    }
    words("Pstroke") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2, 3, 4)
      c.strokeColor = Some(packColor(c, a)); st.push(c)
    }
    words("PnoStroke") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.strokeColor = None; st.push(c)
    }
    words("PstrokeWeight") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.strokeW = num(a(0)); st.push(c)
    }
    // PstrokeCap/PstrokeJoin (processing/shape/PstrokeCap.java:45-55):
    // Processing SQUARE = AWT butt end, PROJECT = AWT square
    words("PstrokeCap") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      c.strokeCap = a(0).toString match {
        case "SQUARE" => java.awt.BasicStroke.CAP_BUTT
        case "PROJECT" => java.awt.BasicStroke.CAP_SQUARE
        case "ROUND" => java.awt.BasicStroke.CAP_ROUND
        case o => throw new IllegalArgumentException(
          s"$w: invalid mode '$o' (SQUARE/PROJECT/ROUND)")
      }
      st.push(c)
    }
    words("PstrokeJoin") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      c.strokeJoin = a(0).toString match {
        case "MITER" => java.awt.BasicStroke.JOIN_MITER
        case "BEVEL" => java.awt.BasicStroke.JOIN_BEVEL
        case "ROUND" => java.awt.BasicStroke.JOIN_ROUND
        case o => throw new IllegalArgumentException(
          s"$w: invalid mode '$o' (MITER/BEVEL/ROUND)")
      }
      st.push(c)
    }
    words("Pcolor") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2, 3, 4)
      st.push(c); st.push(packColor(c, a).toLong & 0xffffffffL)
    }
    words("Pred", "Pgreen", "Pblue", "Palpha") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      val v = colorInt(a(0))
      val shift = w match {
        case "Pred" => 16; case "Pgreen" => 8; case "Pblue" => 0; case _ => 24
      }
      st.push(c); st.push(((v >>> shift) & 0xff).toDouble)
    }
    words("Phue", "Psaturation", "Pbrightness") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      val v = colorInt(a(0))
      val hsb = java.awt.Color.RGBtoHSB(
        (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff, null)
      val idx = w match {
        case "Phue" => 0; case "Psaturation" => 1; case _ => 2
      }
      st.push(c); st.push(hsb(idx).toDouble * 255.0)
    }
    words("PlerpColor") { (w, st, en) =>
      val (c, a) = params(st, w, 3)
      val (c1, c2, t) = (colorInt(a(0)), colorInt(a(1)), num(a(2)))
      def lerp(sh: Int) = math.round(
        ((c1 >>> sh) & 0xff) + (((c2 >>> sh) & 0xff) - ((c1 >>> sh) & 0xff)) * t
      ).toInt & 0xff
      st.push(c)
      st.push(((lerp(24) << 24) | (lerp(16) << 16) | (lerp(8) << 8) |
        lerp(0)).toLong & 0xffffffffL)
    }

    // ------------------------------------------------------- shapes
    words("Ppoint") { (w, st, en) =>
      val (c, a) = params(st, w, 2)
      c.point(num(a(0)), num(a(1))); st.push(c)
    }
    words("Pline") { (w, st, en) =>
      val (c, a) = params(st, w, 4)
      c.line(num(a(0)), num(a(1)), num(a(2)), num(a(3))); st.push(c)
    }
    words("Prect") { (w, st, en) =>
      val (c, a) = params(st, w, 4)
      c.rect(num(a(0)), num(a(1)), num(a(2)), num(a(3))); st.push(c)
    }
    words("Pellipse") { (w, st, en) =>
      val (c, a) = params(st, w, 4)
      c.ellipse(num(a(0)), num(a(1)), num(a(2)), num(a(3))); st.push(c)
    }
    words("Ptriangle") { (w, st, en) =>
      val (c, a) = params(st, w, 6)
      c.triangle(num(a(0)), num(a(1)), num(a(2)), num(a(3)),
        num(a(4)), num(a(5))); st.push(c)
    }
    words("Pquad") { (w, st, en) =>
      val (c, a) = params(st, w, 8)
      c.quad(num(a(0)), num(a(1)), num(a(2)), num(a(3)),
        num(a(4)), num(a(5)), num(a(6)), num(a(7))); st.push(c)
    }
    words("Parc") { (w, st, en) =>
      val (c, a) = params(st, w, 6, 7)
      val mode = if (a.length == 7) a(6).toString else "OPEN"
      c.arc(num(a(0)), num(a(1)), num(a(2)), num(a(3)),
        num(a(4)), num(a(5)), mode); st.push(c)
    }
    words("PbeginShape") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.beginShape(); st.push(c)
    }
    words("Pvertex") { (w, st, en) =>
      val (c, a) = params(st, w, 2)
      c.vertex(num(a(0)), num(a(1))); st.push(c)
    }
    words("PendShape") { (w, st, en) =>
      val (c, a) = params(st, w, 0, 1)
      c.endShape(close = a.headOption.exists(_.toString == "CLOSE"))
      st.push(c)
    }
    words("PbeginContour") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.beginContour(); st.push(c)
    }
    words("PendContour") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.endContour(); st.push(c)
    }
    words("PrectMode") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.rectMode = a(0).toString; st.push(c)
    }
    words("PellipseMode") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.ellipseMode = a(0).toString; st.push(c)
    }

    // --------------------------------------------------- transforms
    words("Ptranslate") { (w, st, en) =>
      val (c, a) = params(st, w, 2)
      c.translate(num(a(0)), num(a(1))); st.push(c)
    }
    words("Protate") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.rotate(num(a(0))); st.push(c)
    }
    words("Pscale") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2)
      if (a.length == 1) c.scale(num(a(0)), num(a(0)))
      else c.scale(num(a(0)), num(a(1)))
      st.push(c)
    }
    words("PshearX") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.shearX(num(a(0))); st.push(c)
    }
    words("PshearY") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.shearY(num(a(0))); st.push(c)
    }
    words("PpushMatrix") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.pushMatrix(); st.push(c)
    }
    words("PpopMatrix") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.popMatrix(); st.push(c)
    }
    words("PresetMatrix") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.resetMatrix(); st.push(c)
    }
    words("PpushStyle") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.pushStyle(); st.push(c)
    }
    words("PpopStyle") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.popStyle(); st.push(c)
    }

    // ------------------------------------------------------- pixels
    words("Pget") { (w, st, en) =>
      val (c, a) = params(st, w, 0, 2, 4)
      st.push(c)
      a.length match {
        case 0 => st.push(WsImage(c.copy()))
        case 2 => st.push(
          c.get(num(a(0)).toInt, num(a(1)).toInt).toLong & 0xffffffffL)
        case _ => st.push(WsImage(c.copy(num(a(0)).toInt, num(a(1)).toInt,
          num(a(2)).toInt, num(a(3)).toInt)))
      }
    }
    words("Pset") { (w, st, en) =>
      val (c, a) = params(st, w, 3)
      c.set(num(a(0)).toInt, num(a(1)).toInt, colorInt(a(2))); st.push(c)
    }
    words("Ppixels") { (w, st, en) =>
      val (c, _) = params(st, w, 0)
      st.push(c); st.push(c.pixels().map(p => p: Any))
    }
    words("PupdatePixels") { (w, st, en) =>
      val (c, a) = params(st, w, 0, 1)
      a.headOption.foreach {
        case v: Vector[Any @unchecked] => c.setPixels(v.map(x => num(x).toLong))
        case o => throw new IllegalArgumentException(s"PupdatePixels: $o")
      }
      st.push(c)
    }
    words("PtoImage") { (w, st, en) =>
      st.pop() match {
        case c: WsCanvas => st.push(WsImage(c.copy()))
        case i: WsImage => st.push(i)
        case o => throw new IllegalArgumentException(s"PtoImage: $o")
      }
    }
    words("Pimage") { (w, st, en) =>
      val (c, a) = params(st, w, 3, 5)
      val img = a(0) match {
        case WsImage(i) => i
        case o => throw new IllegalArgumentException(s"Pimage: not an image: $o")
      }
      if (a.length == 3) c.drawImage(img, num(a(1)), num(a(2)))
      else c.drawImage(img, num(a(1)), num(a(2)), num(a(3)), num(a(4)))
      st.push(c)
    }
    words("Presize") { (w, st, en) =>
      val h = st.popLong().toInt
      val wd = st.popLong().toInt
      st.pop() match {
        case WsImage(i) => st.push(WsImage(i.resized(wd, h)))
        case c: WsCanvas => st.push(WsImage(c.resized(wd, h)))
        case o => throw new IllegalArgumentException(s"Presize: $o")
      }
    }

    // --------------------------------------------------------- math
    words("Pconstrain") { (w, st, en) =>
      val (c, a) = params(st, w, 3)
      st.push(c)
      st.push(math.max(num(a(1)), math.min(num(a(2)), num(a(0)))))
    }
    words("Pdist") { (w, st, en) =>
      val (c, a) = params(st, w, 4, 6)
      val d =
        if (a.length == 4) math.hypot(num(a(2)) - num(a(0)), num(a(3)) - num(a(1)))
        else math.sqrt(
          math.pow(num(a(3)) - num(a(0)), 2) + math.pow(num(a(4)) - num(a(1)), 2) +
          math.pow(num(a(5)) - num(a(2)), 2))
      st.push(c); st.push(d)
    }
    words("Plerp") { (w, st, en) =>
      val (c, a) = params(st, w, 3)
      st.push(c)
      st.push(num(a(0)) + (num(a(1)) - num(a(0))) * num(a(2)))
    }
    words("Pmag") { (w, st, en) =>
      val (c, a) = params(st, w, 2, 3)
      val m =
        if (a.length == 2) math.hypot(num(a(0)), num(a(1)))
        else math.sqrt(math.pow(num(a(0)), 2) + math.pow(num(a(1)), 2) +
          math.pow(num(a(2)), 2))
      st.push(c); st.push(m)
    }
    words("Pmap") { (w, st, en) =>
      val (c, a) = params(st, w, 5)
      st.push(c)
      st.push(num(a(3)) + (num(a(4)) - num(a(3))) *
        ((num(a(0)) - num(a(1))) / (num(a(2)) - num(a(1)))))
    }
    words("Pnorm") { (w, st, en) =>
      val (c, a) = params(st, w, 3)
      st.push(c)
      st.push((num(a(0)) - num(a(1))) / (num(a(2)) - num(a(1))))
    }

    // --------------------------------------------------- typography
    words("PtextSize") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.textSize = num(a(0)); st.push(c)
    }
    words("Ptext") { (w, st, en) =>
      val (c, a) = params(st, w, 3)
      c.text(a(0).toString, num(a(1)), num(a(2))); st.push(c)
    }
    words("PtextWidth") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      st.push(c); st.push(c.textWidth(a(0).toString))
    }
    words("PtextAscent") { (w, st, en) =>
      val (c, _) = params(st, w, 0); st.push(c); st.push(c.textAscent())
    }
    words("PtextDescent") { (w, st, en) =>
      val (c, _) = params(st, w, 0); st.push(c); st.push(c.textDescent())
    }
    words("PtextLeading") { (w, st, en) =>
      val (c, a) = params(st, w, 0, 1)
      if (a.nonEmpty) { c.textLeadingV = num(a(0)); st.push(c) }
      else { st.push(c); st.push(c.textLeading) }
    }
    words("PtextAlign") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2) // vertical align accepted, ignored
      c.textAlignH = a(0).toString; st.push(c)
    }
    words("PtextMode") { (w, st, en) => // MODEL is the only java2d-meaningful mode
      val (c, a) = params(st, w, 1)
      require(a(0).toString == "MODEL",
        s"PtextMode: only MODEL is supported (got ${a(0)})")
      st.push(c)
    }
    words("PcreateFont") { (w, st, en) =>
      val (c, a) = params(st, w, 2)
      st.push(c); st.push(c.createFont(a(0).toString, num(a(1))))
    }
    words("PtextFont") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2)
      a(0) match {
        case f: java.awt.Font =>
          c.setFont(f)
          if (a.length == 2) c.textSize = num(a(1))
        case o => throw new IllegalArgumentException(s"PtextFont: $o")
      }
      st.push(c)
    }
    words("Pclip") { (w, st, en) =>
      val (c, a) = params(st, w, 4)
      c.clip(num(a(0)), num(a(1)), num(a(2)), num(a(3))); st.push(c)
    }
    words("PnoClip") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.noClip(); st.push(c)
    }

    // ------------------------------------------------ bezier / curve
    words("Pbezier") { (w, st, en) =>
      val (c, a) = params(st, w, 8)
      c.bezier(num(a(0)), num(a(1)), num(a(2)), num(a(3)),
        num(a(4)), num(a(5)), num(a(6)), num(a(7))); st.push(c)
    }
    words("PbezierVertex") { (w, st, en) =>
      val (c, a) = params(st, w, 6)
      c.bezierVertex(num(a(0)), num(a(1)), num(a(2)), num(a(3)),
        num(a(4)), num(a(5))); st.push(c)
    }
    words("PquadraticVertex") { (w, st, en) =>
      val (c, a) = params(st, w, 4)
      c.quadraticVertex(num(a(0)), num(a(1)), num(a(2)), num(a(3)))
      st.push(c)
    }
    words("Pcurve") { (w, st, en) =>
      val (c, a) = params(st, w, 8)
      c.curve(num(a(0)), num(a(1)), num(a(2)), num(a(3)),
        num(a(4)), num(a(5)), num(a(6)), num(a(7))); st.push(c)
    }
    words("PcurveVertex") { (w, st, en) =>
      val (c, a) = params(st, w, 2)
      c.curveVertex(num(a(0)), num(a(1))); st.push(c)
    }
    words("PcurveTightness") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      c.curveTightnessV = num(a(0)); st.push(c)
    }
    words("PbezierDetail", "PcurveDetail") { (w, st, en) =>
      // Java2D flattens adaptively; detail hints are accepted no-ops
      val (c, _) = params(st, w, 1); st.push(c)
    }
    // de Casteljau scalar forms (processing.org bezierPoint/...):
    // exact closed-form doubles, ideal oracle material
    words("PbezierPoint", "PbezierTangent", "PcurvePoint", "PcurveTangent") { (w, st, en) =>
      val (c, args) = params(st, w, 5)
      val Vector(a, b, cc, d, t) = args.map(num)
      val u = 1.0 - t
      val v = w match {
        case "PbezierPoint" =>
          u * u * u * a + 3 * u * u * t * b + 3 * u * t * t * cc + t * t * t * d
        case "PbezierTangent" =>
          3 * u * u * (b - a) + 6 * u * t * (cc - b) + 3 * t * t * (d - cc)
        case "PcurvePoint" =>
          // hermite through b..c, tangents s(c−a) / s(d−b),
          // s = (1−tightness)/2
          val s = (1.0 - c.curveTightnessV) / 2.0
          val (h00, h10, h01, h11) = (
            2 * t * t * t - 3 * t * t + 1, t * t * t - 2 * t * t + t,
            -2 * t * t * t + 3 * t * t, t * t * t - t * t)
          h00 * b + h10 * s * (cc - a) + h01 * cc + h11 * s * (d - b)
        case _ =>
          val s = (1.0 - c.curveTightnessV) / 2.0
          val (d00, d10, d01, d11) = (
            6 * t * t - 6 * t, 3 * t * t - 4 * t + 1,
            -6 * t * t + 6 * t, 3 * t * t - 2 * t)
          d00 * b + d10 * s * (cc - a) + d01 * cc + d11 * s * (d - b)
      }
      st.push(c); st.push(v)
    }

    // ------------------------------------------------ image effects
    words("Pfilter") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2)
      c.filter(a(0).toString,
        if (a.length == 2) num(a(1)) else Double.NaN)
      st.push(c)
    }
    words("Ptint") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2, 3, 4)
      c.tint = Some(packColor(c, a)); st.push(c)
    }
    words("PnoTint") { (w, st, en) =>
      val (c, _) = params(st, w, 0); c.tint = None; st.push(c)
    }
    words("PimageMode") { (w, st, en) =>
      val (c, a) = params(st, w, 1); c.imageMode = a(0).toString; st.push(c)
    }
    words("Pcopy") { (w, st, en) =>
      val (c, a) = params(st, w, 8, 9)
      val (src, off) = a(0) match {
        case WsImage(i) => (i, 1)
        case _ => (c, 0)
      }
      val n = a.drop(off).map(x => num(x).toInt)
      c.copyRegion(src, n(0), n(1), n(2), n(3), n(4), n(5), n(6), n(7))
      st.push(c)
    }
    words("Pblend") { (w, st, en) =>
      val (c, a) = params(st, w, 9, 10)
      val (src, off) = a(0) match {
        case WsImage(i) => (i, 1)
        case _ => (c, 0)
      }
      val n = a.slice(off, off + 8).map(x => num(x).toInt)
      c.blendRegion(src, n(0), n(1), n(2), n(3), n(4), n(5), n(6), n(7),
        a.last.toString)
      st.push(c)
    }
    words("Pmask") { (w, st, en) =>
      val mask = st.pop() match {
        case WsImage(i) => i
        case o => throw new IllegalArgumentException(s"Pmask: $o")
      }
      st.pop() match {
        case WsImage(i) => i.maskWith(mask); st.push(WsImage(i))
        case o => throw new IllegalArgumentException(s"Pmask: $o")
      }
    }
    words("PcolorMode") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 2, 4, 5)
      c.colorModeName = a(0).toString match {
        case "HSB" => "HSB"
        case _ => "RGB"
      }
      val ms = a.tail.map(num)
      c.colorMax = ms.length match {
        case 0 => c.colorMax
        case 1 => (ms(0), ms(0), ms(0), ms(0))
        case 3 => (ms(0), ms(1), ms(2), c.colorMax._4)
        case _ => (ms(0), ms(1), ms(2), ms(3))
      }
      st.push(c)
    }

    // PblendMode (processing/rendering/PblendMode.java): the global
    // composite for every subsequent draw — Processing's documented
    // per-channel formulas via a custom java.awt.Composite
    words("PblendMode") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      c.setBlendMode(String.valueOf(a(0)))
      st.push(c)
    }

    // PloadShape (processing/shape/PloadShape.java:39-55): pops an
    // SVG XML string, pushes the parsed shape (the reference builds
    // Processing's PShapeJava2D; WsShape is the clean-room parser of
    // the same 2D SVG subset)
    words("PloadShape") { (w, st, en) =>
      st.push(WsShape.fromSvg(st.popStr()))
    }

    // PshapeMode (processing/shape/PshapeMode.java:47-53)
    words("PshapeMode") { (w, st, en) =>
      val (c, a) = params(st, w, 1)
      a(0).toString match {
        case m @ ("CORNER" | "CORNERS" | "CENTER") => c.shapeMode = m
        case m => throw new IllegalArgumentException(s"$w: bad mode '$m'")
      }
      st.push(c)
    }

    // Pshape (processing/shape/Pshape.java:40-66): draw a loaded
    // shape — bare (natural size at the origin), at (x, y), or
    // fitted into the shapeMode-interpreted box (x, y, w, h)
    words("Pshape") { (w, st, en) =>
      val (c, a) = params(st, w, 1, 3, 5)
      val sh = a(0) match {
        case s: WsShape => s
        case o => throw new IllegalArgumentException(s"$w: not a shape: $o")
      }
      val ns = a.tail.map(num)
      val tx = new java.awt.geom.AffineTransform()
      ns match {
        case Vector() => ()
        case Vector(x, y) =>
          if (c.shapeMode == "CENTER")
            tx.translate(x - sh.width / 2, y - sh.height / 2)
          else tx.translate(x, y)
        case Vector(p1, p2, p3, p4) =>
          val (x, y, bw, bh) = c.shapeMode match {
            case "CORNERS" => (p1, p2, p3 - p1, p4 - p2)
            case "CENTER" => (p1 - p3 / 2, p2 - p4 / 2, p3, p4)
            case _ => (p1, p2, p3, p4)
          }
          tx.translate(x, y)
          tx.scale(bw / sh.width, bh / sh.height)
        case _ => ()
      }
      c.drawWsShape(sh, tx)
      st.push(c)
    }

    // Psize (processing/image/Psize.java:39-48): pixel dimensions of
    // an image — pushes width then height
    words("Psize") { (w, st, en) =>
      st.pop() match {
        case c: WsCanvas =>
          st.push(c.width.toLong); st.push(c.height.toLong)
        case o => throw new IllegalArgumentException(s"$w: not an image: $o")
      }
    }

    // unimplemented P-words fail loud rather than draw wrongly. The
    // 3D words (Pbox/Psphere/ProtateX...) are live reference surface
    // only under the '3D' PGraphics renderer; this engine implements
    // the '2D' subset, where the reference's own 2D renderer rejects
    // them too (processing.core.PGraphics depth warnings)
    words("Pbox", "Psphere", "PsphereDetail", "ProtateX", "ProtateY", "ProtateZ") { (w, st, en) =>
      throw new UnsupportedOperationException(
        s"$w: not implemented in the 2D java.awt rendering subset")
    }
  }
}
