package graft.script

import java.math.BigInteger
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.model.Gts
import graft.operators.GtsFrame

/** Round-5 word tail: introspection (FUNCTIONS/TDESCRIBE), tensor
  * PERMUTE, LOCATIONOFFSET, PIVOTSTRICT, metadata search words
  * (FINDSETS/METASET/META/METADIFF), the engine-side KV store
  * (KVSTORE/KVLOAD), macro signing (MSIG/MSIGN/MVERIFY/MCHECKSIG/
  * MSIGINFO/MSIGCOUNT), ECRECOVER, and ->MVSTRING.
  */
private[script] object WordsExt4 {
  import WarpScriptEngine._
  import WsToken._
  import WordsGts.singleSeries

  def register(words: WordTable): Unit = {
    // ---- FUNCTIONS (fn/FUNCTIONS.java): the dispatched-name
    // inventory; gated on the 'inventory' capability like the
    // reference (WarpScriptStack.CAPABILITY_INVENTORY)
    words("FUNCTIONS") { (w, st, en) =>
      require(st.caps.contains("inventory"),
        "FUNCTIONS missing capability 'inventory'.")
      st.push(WarpScriptEngine.words.keys.toVector.sorted: Vector[Any])
    }

    // ---- TDESCRIBE (fn/TDESCRIBE.java): recursive TYPEOF — first
    // element of lists, one entry of maps, 16-level recursion cap
    words("TDESCRIBE") { (w, st, en) =>
      def rty(v: Any, depth: Int): String =
        if (depth > 16) "... (recursion limit reached)"
        else v match {
          case l: Vector[Any @unchecked] =>
            if (l.isEmpty) "LIST []"
            else s"LIST [ ${rty(l.head, depth + 1)} ]"
          case m: Map[Any, Any] @unchecked =>
            if (m.isEmpty) "MAP {}"
            // the reference reports the LAST entry of the iteration
            // (its for loop overwrites key/value) — mirror that
            else {
              val (k, v2) = m.last
              s"MAP { ${rty(k, depth + 1)} : ${rty(v2, depth + 1)} } "
            }
          case other => typeNameOf(other)
        }
      st.push(rty(st.pop(), 0))
    }

    // ---- PERMUTE (fn/shape/PERMUTE.java): permute the dimensions of
    // a nested LIST viewed as a tensor; optional FAST boolean skips
    // the shape-coherence check
    words("PERMUTE") { (w, st, en) =>
      var top = st.pop()
      val fast = top match {
        case b: Boolean => top = st.pop(); b
        case _ => false
      }
      val pattern = top.asInstanceOf[Vector[Any]].map(en.asLong(_).toInt)
      require(pattern.distinct.length == pattern.length,
        "PERMUTE error: duplicate axis in permutation pattern.")
      val tensor = st.pop().asInstanceOf[Vector[Any]]
      val shape = candidateShape(tensor)
      require(pattern.forall(r => r >= 0 && r < shape.length),
        s"PERMUTE axis out of range for shape $shape")
      if (!fast) require(validShape(tensor, shape),
        "PERMUTE expects the nested list sizes to form a coherent tensor.")
      val newShape = pattern.map(shape)
      def at(t: Any, idx: List[Int]): Any = idx match {
        case Nil => t
        case i :: rest => at(t.asInstanceOf[Vector[Any]](i), rest)
      }
      def build(d: Int, newIdx: List[Int]): Any =
        if (d == newShape.length) {
          // translate the new coordinate back through the pattern
          val oldIdx = Array.fill(pattern.length)(0)
          pattern.zipWithIndex.foreach { case (axis, r) =>
            oldIdx(axis) = newIdx(r)
          }
          at(tensor, oldIdx.toList)
        } else Vector.tabulate(newShape(d))(i => build(d + 1, newIdx :+ i))
      st.push(build(0, Nil).asInstanceOf[Vector[Any]])
    }

    // ---- LOCATIONOFFSET (continuum/gts/LOCATIONOFFSET.java): keep
    // the first point, then located points >= dist meters (rhumb-line
    // distance, R=6378137 like the rest of the geo family) from the
    // LAST KEPT one, plus the last point unconditionally. Sequential
    // within a series — per-series kernel, parallel across series.
    words("LOCATIONOFFSET") { (w, st, en) =>
      val dist = st.popNum()
      val f = en.toFrame(st.pop())
      val spark = f.df.sparkSession
      import spark.implicits._
      // one (class, labels, points) row per series: the labels map
      // decodes once per series, not per point
      val packed = Gts.aggBySeries(f.df)(collect_list(struct(col("ts").as("_1"),
        col("lat").as("_2"), col("lon").as("_3"), col("elev").as("_4"),
        col("vdouble").as("_5"))).as("pts"))
        .as[(Long, String, Map[String, String],
          Seq[(Long, Option[Double], Option[Double], Option[Long], Option[Double])])]
      val kept = packed.flatMap { case (id, cls, lbl, pts) =>
        val rows = pts.sortBy(r => (r._1, r._5.getOrElse(Double.NaN)))
        val out = scala.collection.mutable.ArrayBuffer(rows.head)
        var last: Option[(Double, Double)] = rows.head._2.zip(rows.head._3)
        var i = 1
        while (i < rows.length - 1) {
          val r = rows(i)
          r._2.zip(r._3) match {
            case Some((la, lo)) =>
              last match {
                case None => last = Some((la, lo)); out += r
                case Some((pla, plo)) =>
                  if (loxodromic(pla, plo, la, lo) >= dist) {
                    last = Some((la, lo)); out += r
                  }
              }
            case None => // unlocated interior points are dropped
          }
          i += 1
        }
        if (rows.length > 1) out += rows.last
        out.iterator.map(r => (id, r._1, r._2, r._3, r._4, r._5, cls, lbl))
      }.toDF("gtsid", "ts", "lat", "lon", "elev", "vdouble", "class", "labels")
      st.push(GtsFrame(kept))
    }

    // ---- PIVOTSTRICT (fn/PIVOT.java synchronous=true): label data
    // points with the values of labeling series at ticks where ALL
    // labeling series have a point. Distributed: a tick-equality join
    // against the common-tick label map (no driver loop); identity
    // rehash via Gts.gtsIdCol since labels change.
    words("PIVOTSTRICT") { (w, st, en) =>
      val labeling = en.toFrame(st.pop())
      val data = en.toFrame(st.pop())
      // one validation action, not two: distinct class and series
      // counts in a single agg pass
      val counts = labeling.df.agg(
        countDistinct(col("class")).as("ncls"),
        countDistinct(col("gtsid")).as("nser")).head()
      val (nCls, nSer) = (counts.getLong(0), counts.getLong(1))
      require(nCls == nSer,
        "PIVOTSTRICT labeling Geo Time Series must all have different class names.")
      // ticks where every labeling class is present; its label map
      // class -> Double.toString(value) (frame values are doubles)
      val lmap = labeling.df
        .groupBy(col("ts"))
        .agg(countDistinct(col("class")).as("__n"),
          map_from_entries(collect_list(struct(col("class"),
            format_string("%s", col("vdouble"))))).as("__plabels"))
        .filter(col("__n") === nCls).drop("__n")
      val joined = data.df.join(lmap, "ts")
        .withColumn("labels", map_concat(col("labels"), col("__plabels")))
        .drop("__plabels")
        .withColumn("gtsid", Gts.gtsIdCol(col("class"), col("labels")))
      st.push(GtsFrame(joined))
    }

    // ---- FINDSETS (fn/FIND.java elements=true): selector search →
    // push the class-name set, the label-value sets, the attribute-
    // value sets. Distributed collect_set aggregation over the
    // metadata frame; only the tiny distinct sets reach the driver.
    words("FINDSETS") { (w, st, en) =>
      val (cls, labels) = findArgs(st)
      val meta = Gts.seriesMeta(en.fetchPub(cls, labels, Long.MinValue, Long.MaxValue).df)
      val classes = meta.select(col("class")).distinct()
        .collect().map(_.getString(0)).sorted.toVector
      val lrows = meta
        .select(explode(col("labels")).as(Seq("__k", "__v")))
        .groupBy(col("__k")).agg(collect_set(col("__v")).as("__vs"))
        .collect()
      val lmap: Map[Any, Any] = lrows.map { r =>
        (r.getString(0): Any) ->
          (r.getSeq[String](1).sorted.toVector.map(identity[Any]): Any)
      }.toMap
      // attributes live in the engine-side store (SETATTRIBUTES);
      // ATTRSKIP (fn/ATTRSKIP.java) suppresses them from the result
      val amap: Map[Any, Any] =
        if (st.attrSkip) Map.empty
        else {
          val ids = meta.select(col("gtsid")).collect().map(_.getLong(0)).toSet
          st.attrs.view.filterKeys(ids)
            .values.flatten.groupBy(_._1)
            .map { case (k, kvs) =>
              (k: Any) -> (kvs.map(_._2).toVector.distinct.sorted
                .map(identity[Any]): Any)
            }.toMap
        }
      st.push(classes.map(identity[Any]))
      st.push(lmap)
      st.push(amap)
    }

    // ---- METASET (fn/FIND.java metaset=true): [ token cls {labels} ]
    // ttl METASET → a metaset value. The reference serializes,
    // gzips and encrypts a thrift MetaSet; the engine-side value is
    // the transparent equivalent: the ttl + selector + matched
    // metadata (driver-bounded, same contract as the accessor words).
    words("METASET") { (w, st, en) =>
      val ttl = st.popLong()
      val (cls, labels) = findArgs(st)
      val meta = Gts.seriesMeta(en.fetchPub(cls, labels, Long.MinValue, Long.MaxValue).df)
      val rows = meta.limit(10001).collect()
      require(rows.nonEmpty,
        "METASET couldn't find any metadata matching the given class and label selectors.")
      require(rows.length <= 10000, "METASET: too many series")
      val metadatas = rows.map { r =>
        Map[Any, Any]("c" -> r.getString(1),
          "l" -> r.getMap[String, String](2).toMap
            .map { case (k, v) => (k: Any) -> (v: Any) })
      }.toVector.sortBy(_.toString)
      st.push(Map[Any, Any]("ttl" -> ttl, "selector" -> cls,
        "metadatas" -> metadatas))
    }

    // ---- META / METADIFF (fn/META.java, delta variant): push the
    // attributes of the series to the platform. The engine-side
    // attribute store (SETATTRIBUTES/ATTRDELTA) is authoritative and
    // the distributed path is MetaOps.setAttributes (m06), so the
    // word form validates and consumes, like the reference's HTTP
    // flush — it never touches the data path.
    words("META", "METADIFF") { (w, st, en) =>
      val token = st.popStr()
      require(token != null, s"$w expects a token.")
      val f = en.toFrame(st.pop())
      val unnamed = f.df.filter(col("class").isNull || col("class") === "")
        .limit(1).count()
      require(unnamed == 0,
        s"$w can only set attributes of Geo Time Series which have a non empty name.")
    }

    // ---- KVSTORE / KVLOAD (fn/KVSTORE.java, KVLOAD.java): the
    // reference writes through StoreClient under a token-scoped key
    // prefix; here the token IS the prefix over the engine-side
    // session store (same pattern as CAPADD — session state, never a
    // data path). A null value removes the key.
    words("KVSTORE") { (w, st, en) =>
      val token = st.popStr()
      val m = st.pop().asInstanceOf[Map[Any, Any]]
      m.foreach { case (k, v) =>
        val key = token + ":" + k.toString
        if (v == null) st.kv.remove(key) else st.kv(key) = v
      }
    }
    words("KVLOAD") { (w, st, en) =>
      val params = st.pop().asInstanceOf[Map[Any, Any]]
        .map { case (k, v) => k.toString -> v }
      val token = params.getOrElse("token",
        throw new IllegalArgumentException("KVLOAD expects a token under 'token'.")).toString
      val prefix = token + ":"
      val out: Map[Any, Any] = params.get("keys") match {
        case Some(keys: Vector[Any @unchecked]) =>
          keys.flatMap { k =>
            st.kv.get(prefix + k.toString).map(v => (k.toString: Any) -> v)
          }.toMap
        case _ =>
          val start = params.get("start").map(_.toString)
          val end = params.get("end").map(_.toString)
          st.kv.collect {
            case (k, v) if k.startsWith(prefix) &&
                start.forall(k.stripPrefix(prefix) >= _) &&
                end.forall(k.stripPrefix(prefix) < _) =>
              (k.stripPrefix(prefix): Any) -> v
          }.toMap
      }
      st.push(out)
    }

    // ---- macro signing (fn/MSIG.java, MSIGN.java, MVERIFY.java,
    // MSIGINFO.java, MSIGCOUNT.java): a signature is the trailing
    // 4 statements [curve, pubkey-hex, sig-hex, MSIG] of a macro;
    // the signed text is the macro snapshot without them,
    // SHA256withECDSA (MSIG.SIGALG)
    words("MSIG") { (w, st, en) =>
      st.pop() match {
        case m: WsMacro =>
          st.push(m)
          st.push(WsMacro(sigTokens(m).getOrElse(Vector.empty)))
        case s: String =>
          require(st.pop().isInstanceOf[String],
            "MSIG expects a hex encoded ECC public key.")
          require(st.pop().isInstanceOf[String],
            "MSIG expects an ECC curve name.")
          val _ = s // signature hex consumed, no output
        case o => throw new IllegalArgumentException(s"MSIG on $o")
      }
    }
    words("MSIGN") { (w, st, en) =>
      val keyMapV = st.pop().asInstanceOf[Map[Any, Any]]
        .map { case (k, v) => k.toString -> v.toString }
      val curve = keyMapV("curve")
      val d = new BigInteger(keyMapV("d"))
      val m = st.pop().asInstanceOf[WsMacro]
      val snapshot = WordsExt2.macroToString(m).getBytes(StandardCharsets.UTF_8)
      val spec = WordsCrypto.ecParams(curve)
      val priv = java.security.KeyFactory.getInstance("EC").generatePrivate(
        new java.security.spec.ECPrivateKeySpec(d, spec))
      val signer = java.security.Signature.getInstance("SHA256withECDSA")
      signer.initSign(priv); signer.update(snapshot)
      val sig = signer.sign()
      val dom = EcMath(spec)
      val q = dom.mul(Some((dom.gx, dom.gy)), d).get
      val sigmacro = WsMacro(Vector(WsStr(curve),
        WsStr(dom.encodeUncompressed(q._1, q._2)),
        WsStr(sig.map("%02x".format(_)).mkString), WsWord("MSIG")))
      st.push(m)
      st.push(sigmacro)
    }
    words("MVERIFY", "MCHECKSIG") { (w, st, en) =>
      val m = st.pop().asInstanceOf[WsMacro]
      val ok = verifyMacro(m)
      st.push(m)
      if (w == "MCHECKSIG") st.push(ok)
      else require(ok, "MVERIFY unable to verify macro.")
    }
    words("MSIGCOUNT") { (w, st, en) =>
      val m = st.pop().asInstanceOf[WsMacro]
      var toks = m.tokens
      var n = 0L
      while (sigTokens(WsMacro(toks)).isDefined) {
        n += 1; toks = toks.dropRight(4)
      }
      st.push(n)
    }
    words("MSIGINFO") { (w, st, en) =>
      val m = st.pop().asInstanceOf[WsMacro]
      sigTokens(m) match {
        case None => st.push(false)
        case Some(Vector(WsStr(curve), WsStr(pubHex), WsStr(sigHex), _)) =>
          st.push(m)
          st.push(Map[Any, Any](
            "sig" -> sigHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
            "key" -> Map[Any, Any]("curve" -> curve, "q" -> pubHex)))
        case _ => st.push(false)
      }
    }

    // ---- ECRECOVER (fn/ECRECOVER.java): recover the candidate ECC
    // public keys from an ECDSA signature — SEC1 key recovery,
    // re-derived with pure BigInteger affine point arithmetic over
    // the JDK named-curve parameters (the reference wraps
    // BouncyCastle). Params: { 'curve' 'hash' and ('sig' DER | 'r'
    // 's') [ 'i' j ] [ 'even' bool ] } → list of { 'curve' 'q' }
    // key maps (the engine's ECGEN/ECPUBLIC convention).
    words("ECRECOVER") { (w, st, en) =>
      val params = st.pop().asInstanceOf[Map[Any, Any]]
        .map { case (k, v) => k.toString -> v }
      val curve = params("curve").toString
      val spec = WordsCrypto.ecParams(curve)
      val dom = EcMath(spec)
      val hash = params("hash").asInstanceOf[Array[Byte]]
      val (r, s) = params.get("sig") match {
        case Some(der: Array[Byte]) => decodeDerSig(der)
        case _ =>
          def big(v: Any): BigInteger = {
            val str = v.toString.toLowerCase
            if (str.startsWith("0x")) new BigInteger(str.substring(2), 16)
            else new BigInteger(str)
          }
          (big(params("r")), big(params("s")))
      }
      require(r.signum > 0 && r.compareTo(dom.n) <= 0, "ECRECOVER invalid r")
      require(s.signum > 0 && s.compareTo(dom.n) <= 0, "ECRECOVER invalid s")
      var z = new BigInteger(1, hash)
      if (dom.n.bitLength < hash.length * 8)
        z = z.shiftRight(hash.length * 8 - dom.n.bitLength)
      val rinv = r.modInverse(dom.n)
      val (minJ, maxJ) = params.get("i") match {
        case Some(i) => (en.asLong(i).toInt, en.asLong(i).toInt)
        case None => (0, dom.h)
      }
      require(maxJ - minJ + 1 <= 10, "ECRECOVER cofactor above allowed maximum")
      val evens: Seq[Boolean] = params.get("even") match {
        case Some(b: Boolean) => if (b) Seq(true) else Seq(false)
        case _ => Seq(true, false)
      }
      val candidates = scala.collection.mutable.LinkedHashSet.empty[String]
      for (j <- minJ to maxJ; even <- evens) {
        val x = r.add(BigInteger.valueOf(j.toLong).multiply(dom.n))
        if (x.compareTo(dom.p) < 0) {
          dom.decompress(x, even).foreach { bigR =>
            if (dom.mul(Some(bigR), dom.n).isEmpty) {
              val rPrime = (bigR._1, dom.p.subtract(bigR._2))
              for (pt <- Seq(bigR, rPrime)) {
                // Q = r^-1 (s·R − z·G)
                val q = dom.mul(
                  dom.add(dom.mul(Some(pt), s),
                    dom.neg(dom.mul(Some((dom.gx, dom.gy)), z))), rinv)
                q.foreach { case (qx, qy) =>
                  candidates += dom.encodeUncompressed(qx, qy)
                }
              }
            }
          }
        }
      }
      st.push(candidates.toVector.map(q =>
        Map[Any, Any]("curve" -> curve, "q" -> q): Any))
    }

    // ---- ->MVSTRING (fn/TOMVSTRING.java): render a GTS as the
    // multivalue string form `[! tick/lat:lon/elev/value ... ]`
    // (the `!` marks the uncompressed form). Single-series,
    // tick-ordered, driver-bounded like the other accessors.
    words("->MVSTRING") { (w, st, en) =>
      val df = singleSeries(en.toFrame(st.pop()), w)
      WordsGts.collectGuard(df, w)
      val rows = df.select(col("ts"), col("lat"), col("lon"), col("elev"),
          col("vdouble"), col("vstring"), col("vbool"))
        .collect().sortBy(_.getLong(0))
      val sb = new StringBuilder("[! ")
      rows.foreach { row =>
        val ts = row.getLong(0)
        val hasLoc = !row.isNullAt(1) && !row.isNullAt(2)
        val hasElev = !row.isNullAt(3)
        if (ts != 0 || hasLoc || hasElev) { sb.append(ts); sb.append('/') }
        if (hasLoc) {
          sb.append(row.getDouble(1)); sb.append(':')
          sb.append(row.getDouble(2)); sb.append('/')
        } else if (hasElev) sb.append('/')
        if (hasElev) { sb.append(row.getLong(3)); sb.append('/') }
        val v: Any =
          if (!row.isNullAt(4)) row.getDouble(4)
          else if (!row.isNullAt(5)) row.getString(5)
          else if (!row.isNullAt(6)) row.getBoolean(6)
          else null
        v match {
          case s: String =>
            sb.append('\'')
            sb.append(java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20"))
            sb.append('\'')
          case b: Boolean => sb.append(if (b) "T" else "F")
          case other => sb.append(String.valueOf(other))
        }
        sb.append(' ')
      }
      sb.append(']')
      st.push(sb.toString)
    }
  }

  // ---- helpers ---------------------------------------------------------

  /** `[ token cls {labels} ]` FIND-style argument list (token ignored,
    * as in the FETCH word). */
  private def findArgs(st: State): (String, Map[String, String]) =
    st.pop().asInstanceOf[Vector[Any]] match {
      case Vector(_: String, c: String, l: Map[_, _]) =>
        (c, l.asInstanceOf[Map[String, String]])
      case Vector(c: String, l: Map[_, _]) =>
        (c, l.asInstanceOf[Map[String, String]])
      case other => throw new IllegalArgumentException(s"selector args: $other")
    }

  /** The trailing [curve, pubkey, sig, MSIG] statements, if present. */
  private def sigTokens(m: WsMacro): Option[Vector[WsToken]] =
    m.tokens.takeRight(4) match {
      case v @ Vector(_: WsStr, _: WsStr, _: WsStr, WsWord("MSIG"))
        if m.tokens.length >= 4 => Some(v)
      case _ => None
    }

  /** MVERIFY.verify: strip the signature, snapshot the rest, verify
    * SHA256withECDSA against the embedded public key. */
  private def verifyMacro(m: WsMacro): Boolean = sigTokens(m) match {
    case Some(Vector(WsStr(curve), WsStr(pubHex), WsStr(sigHex), _)) =>
      try {
        val spec = WordsCrypto.ecParams(curve)
        val body = WsMacro(m.tokens.dropRight(4))
        val data = WordsExt2.macroToString(body).getBytes(StandardCharsets.UTF_8)
        require(pubHex.startsWith("04"))
        val half = (pubHex.length - 2) / 2
        val qx = new BigInteger(pubHex.substring(2, 2 + half), 16)
        val qy = new BigInteger(pubHex.substring(2 + half), 16)
        val pub = java.security.KeyFactory.getInstance("EC").generatePublic(
          new java.security.spec.ECPublicKeySpec(
            new java.security.spec.ECPoint(qx, qy), spec))
        val sig = sigHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val ver = java.security.Signature.getInstance("SHA256withECDSA")
        ver.initVerify(pub); ver.update(data)
        ver.verify(sig)
      } catch { case _: Exception => false }
    case _ => false
  }

  /** DER ECDSA signature (SEQUENCE of two INTEGERs) → (r, s). */
  private def decodeDerSig(sig: Array[Byte]): (BigInteger, BigInteger) = {
    var off = 2
    if ((sig(1) & 0x80) != 0) off += (sig(1) & 0x7f)
    require(sig(off) == 0x02, "ECRECOVER invalid DER signature")
    val rlen = sig(off + 1) & 0xff
    val r = new BigInteger(1, java.util.Arrays.copyOfRange(sig, off + 2, off + 2 + rlen))
    off += 2 + rlen
    require(sig(off) == 0x02, "ECRECOVER invalid DER signature")
    val slen = sig(off + 1) & 0xff
    val s = new BigInteger(1, java.util.Arrays.copyOfRange(sig, off + 2, off + 2 + slen))
    (r, s)
  }

  /** Rhumb-line (loxodromic) distance in meters on the R=6378137
    * sphere — same radius as the haversine family
    * (functions/GeoFunctions.scala). */
  private[script] def loxodromic(lat1: Double, lon1: Double,
      lat2: Double, lon2: Double): Double = {
    val toRad = math.Pi / 180.0
    val phi1 = lat1 * toRad; val phi2 = lat2 * toRad
    val dphi = phi2 - phi1
    val dpsi = math.log(
      math.tan(math.Pi / 4 + phi2 / 2) / math.tan(math.Pi / 4 + phi1 / 2))
    val q = if (math.abs(dpsi) > 1e-12) dphi / dpsi else math.cos(phi1)
    var dlon = (lon2 - lon1) * toRad
    if (math.abs(dlon) > math.Pi)
      dlon = if (dlon > 0) dlon - 2 * math.Pi else dlon + 2 * math.Pi
    6378137.0 * math.sqrt(dphi * dphi + q * q * dlon * dlon)
  }

  private def candidateShape(t: Any): Vector[Int] = t match {
    case v: Vector[Any @unchecked] =>
      v.size +: v.headOption.map(candidateShape).getOrElse(Vector.empty)
    case _ => Vector.empty
  }

  private def validShape(t: Any, shape: Vector[Int]): Boolean =
    if (shape.isEmpty) true
    else t match {
      case v: Vector[Any @unchecked] =>
        v.size == shape.head && v.forall(validShape(_, shape.tail))
      case _ => false
    }

  /** Affine elliptic-curve arithmetic over a JDK named-curve spec —
    * enough for SEC1 public-key recovery (ECRECOVER) and pubkey
    * derivation (MSIGN). Points are Option[(x, y)], None = infinity. */
  private[script] final case class EcMath(p: BigInteger, a: BigInteger,
      b: BigInteger, gx: BigInteger, gy: BigInteger, n: BigInteger, h: Int) {
    type Pt = Option[(BigInteger, BigInteger)]

    def neg(pt: Pt): Pt = pt.map { case (x, y) => (x, p.subtract(y).mod(p)) }

    def add(p1: Pt, p2: Pt): Pt = (p1, p2) match {
      case (None, q) => q
      case (q, None) => q
      case (Some((x1, y1)), Some((x2, y2))) =>
        if (x1 == x2) {
          if (y1.add(y2).mod(p).signum == 0) None // P + (−P)
          else dbl(x1, y1)
        } else {
          val l = y2.subtract(y1).multiply(x2.subtract(x1).modInverse(p)).mod(p)
          val x3 = l.multiply(l).subtract(x1).subtract(x2).mod(p)
          Some((x3, l.multiply(x1.subtract(x3)).subtract(y1).mod(p)))
        }
    }

    private def dbl(x: BigInteger, y: BigInteger): Pt = {
      if (y.signum == 0) return None
      val l = x.multiply(x).multiply(BigInteger.valueOf(3)).add(a)
        .multiply(y.shiftLeft(1).modInverse(p)).mod(p)
      val x3 = l.multiply(l).subtract(x.shiftLeft(1)).mod(p)
      Some((x3, l.multiply(x.subtract(x3)).subtract(y).mod(p)))
    }

    def mul(pt: Pt, k: BigInteger): Pt = {
      var acc: Pt = None
      var addend = pt
      var kk = k.mod(n)
      while (kk.signum > 0) {
        if (kk.testBit(0)) acc = add(acc, addend)
        addend = add(addend, addend)
        kk = kk.shiftRight(1)
      }
      acc
    }

    /** y from x for the requested parity; None when x is not on the
      * curve. Fast sqrt path requires p ≡ 3 (mod 4) — true of every
      * JDK named prime curve. */
    def decompress(x: BigInteger, even: Boolean): Pt = {
      require(p.testBit(0) && p.testBit(1), "curve prime must be 3 mod 4")
      val ysq = x.modPow(BigInteger.valueOf(3), p)
        .add(a.multiply(x)).add(b).mod(p)
      val y = ysq.modPow(p.add(BigInteger.ONE).shiftRight(2), p)
      if (y.multiply(y).mod(p) != ysq) None
      else if (y.testBit(0) != even) Some((x, y))
      else Some((x, p.subtract(y)))
    }

    private val fieldBytes = (p.bitLength + 7) / 8
    def encodeUncompressed(x: BigInteger, y: BigInteger): String = {
      def fix(bi: BigInteger): String = {
        val raw = bi.toByteArray.dropWhile(_ == 0)
        ("00" * (fieldBytes - raw.length)) + raw.map("%02x".format(_)).mkString
      }
      "04" + fix(x) + fix(y)
    }
  }

  private[script] object EcMath {
    def apply(spec: java.security.spec.ECParameterSpec): EcMath = {
      val curve = spec.getCurve
      val p = curve.getField.asInstanceOf[java.security.spec.ECFieldFp].getP
      EcMath(p, curve.getA, curve.getB,
        spec.getGenerator.getAffineX, spec.getGenerator.getAffineY,
        spec.getOrder, spec.getCofactor)
    }
  }
}
