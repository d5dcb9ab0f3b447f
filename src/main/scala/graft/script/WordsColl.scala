package graft.script

/** Collection words: list/map/set conversions and set algebra
  * (fn/TOLIST.java, LISTTO, UNLIST, TOSET, UNION/INTERSECTION/
  * DIFFERENCE, CONTAINSKEY/CONTAINSVALUE, SUBMAP, MSORT, SORTWITH,
  * LFILTER/LFLATMAP), tensor shape words (fn/shape/SHAPE.java family)
  * and the vector/matrix stack suite (fn/TOMAT.java, DET, INV, TR,
  * TRANSPOSE — commons-math3 under the hood, like the reference).
  */
private[script] object WordsColl {
  import WarpScriptEngine._

  /** Stack-side matrix/vector values (reference pushes RealMatrix /
    * RealVector; TYPEOF names below mirror TYPEOF.java). */
  private[script] final case class WsMat(rows: Array[Array[Double]])
  private[script] final case class WsVec(v: Array[Double])

  private def popN(st: State): Vector[Any] = {
    val n = st.popLong().toInt
    require(n >= 0 && n <= st.stack.length, s"out of bounds: $n")
    Vector.fill(n)(st.pop()).reverse
  }

  private def toSetV(v: Any): Set[Any] = v match {
    case s: Set[Any @unchecked] => s
    case l: Vector[Any @unchecked] => l.toSet
    case o => throw new IllegalArgumentException(s"expected SET, got $o")
  }

  /** Candidate shape of a nested list (shape/SHAPE.java
    * candidate_shape: follow first elements). */
  private def candidateShape(l: Vector[Any]): Vector[Long] =
    l.headOption match {
      case Some(inner: Vector[Any @unchecked]) => l.size.toLong +: candidateShape(inner)
      case _ => Vector(l.size.toLong)
    }

  private def validShape(l: Vector[Any], shape: Vector[Long]): Boolean =
    if (shape.isEmpty) true
    else l.size == shape.head && (shape.size == 1 || l.forall {
      case inner: Vector[Any @unchecked] => validShape(inner, shape.tail)
      case _ => false
    })

  private def flattenAll(v: Vector[Any]): Vector[Any] = v.flatMap {
    case inner: Vector[Any @unchecked] => flattenAll(inner)
    case x => Vector(x)
  }

  private def nest(flat: Vector[Any], shape: Vector[Long]): Vector[Any] =
    if (shape.size == 1) flat
    else {
      val chunk = (flat.size / shape.head).toInt
      flat.grouped(chunk).map(g => nest(g, shape.tail): Any).toVector
    }

  private def toMatRows(v: Any, en: WarpScriptEngine): Array[Array[Double]] = v match {
    case WsMat(rows) => rows
    case l: Vector[Any @unchecked] =>
      val rows = l.map {
        case r: Vector[Any @unchecked] => r.map(en.asNum).toArray
        case o => throw new IllegalArgumentException(s"matrix row: $o")
      }.toArray
      require(rows.nonEmpty && rows.forall(_.length == rows(0).length),
        "matrix rows must be non-empty and rectangular")
      rows
    case o => throw new IllegalArgumentException(s"expected MATRIX, got $o")
  }

  def register(words: WordTable): Unit = {
    // ---- list/map packers (fn/TOLIST.java: LONG count form packs,
    // SET converts; LISTTO unpacks + size)
    words("->LIST") { (w, st, en) =>
      st.pop() match {
        case l: Vector[Any @unchecked] => st.push(l)
        case s: Set[Any @unchecked] => st.push(s.toVector.sortWith(en.wsLt))
        case n: Long => st.push(n); st.push(popN(st))
        case o => throw new IllegalArgumentException(s"->LIST on $o")
      }
    }
    words("LIST->") { (w, st, en) =>
      val l = st.pop().asInstanceOf[Vector[Any]]
      l.foreach(st.push)
      st.push(l.size.toLong)
    }
    words("UNLIST") { (w, st, en) =>
      val l = st.pop().asInstanceOf[Vector[Any]]
      st.push(ListMark)
      l.foreach(st.push)
    }
    words("->MAP") { (w, st, en) => // fn/TOMAP.java: count then k v pairs
      st.pop() match {
        case m: Map[Any @unchecked, Any @unchecked] => st.push(m)
        case n: Long =>
          require(n % 2 == 0, "->MAP expects an even number of elements")
          st.push(n); val items = popN(st)
          st.push(items.grouped(2).map(p => p(0) -> p(1)).toMap)
        case o => throw new IllegalArgumentException(s"->MAP on $o")
      }
    }
    words("MAP->") { (w, st, en) =>
      val m = st.pop().asInstanceOf[Map[Any, Any]]
      val entries = m.toVector.sortWith((a, b) => en.wsLt(a._1, b._1))
      entries.foreach { case (k, v) => st.push(k); st.push(v) }
      st.push(entries.size.toLong * 2)
    }
    words("UNMAP") { (w, st, en) =>
      val m = st.pop().asInstanceOf[Map[Any, Any]]
      st.push(MapMark)
      m.toVector.sortWith((a, b) => en.wsLt(a._1, b._1))
        .foreach { case (k, v) => st.push(k); st.push(v) }
    }

    // ---- sets (fn/TOSET.java, SETTO, UNION, INTERSECTION,
    // DIFFERENCE). Our sets render back to lists in deterministic
    // sorted order (the reference's HashSet order is an accident).
    words("->SET") { (w, st, en) => st.push(toSetV(st.pop())) }
    words("SET->") { (w, st, en) => st.push(toSetV(st.pop()).toVector.sortWith(en.wsLt)) }
    words("UNION") { (w, st, en) => val b = toSetV(st.pop()); st.push(toSetV(st.pop()) | b) }
    words("INTERSECTION") { (w, st, en) => val b = toSetV(st.pop()); st.push(toSetV(st.pop()) & b) }
    words("DIFFERENCE") { (w, st, en) => val b = toSetV(st.pop()); st.push(toSetV(st.pop()) -- b) }

    // ---- map probes (fn/CONTAINSKEY.java — the map STAYS, as the
    // reference peeks)
    words("CONTAINSKEY") { (w, st, en) =>
      val k = st.pop()
      st.push(st.stack.head.asInstanceOf[Map[Any, Any]].contains(k))
    }
    words("CONTAINSVALUE") { (w, st, en) =>
      val v = st.pop()
      st.push(st.stack.head.asInstanceOf[Map[Any, Any]].values.exists(_ == v))
    }
    words("SUBMAP") { (w, st, en) =>
      val keys = st.pop().asInstanceOf[Vector[Any]]
      val m = st.pop().asInstanceOf[Map[Any, Any]]
      st.push(m.view.filterKeys(keys.contains).toMap)
    }
    // MSORT sorts a map by key; our Map is unordered so this is the
    // canonicalization point before MAP->/SNAPSHOT render sorted
    // MSORT (fn/MSORT.java): reorder the map's entries by natural
    // key order (the reference rebuilds the LinkedHashMap in sorted
    // insertion order — here an insertion-ordered ListMap)
    words("MSORT") { (w, st, en) =>
      val mp = st.pop().asInstanceOf[Map[Any, Any]]
      st.push(scala.collection.immutable.ListMap(
        mp.toVector.sortWith((a, b) => en.wsLt(a._1, b._1)): _*): Map[Any, Any])
    }

    // ---- list tail (fn/NONNULL.java, NONEMPTY on GTS lists is a
    // frame FILTER — list form here; SHUFFLE uses the engine PRNG)
    words("NONNULL") { (w, st, en) =>
      st.push(st.pop().asInstanceOf[Vector[Any]].filter(_ != null))
    }
    words("SHUFFLE") { (w, st, en) =>
      val l = new java.util.ArrayList[Any]()
      st.pop().asInstanceOf[Vector[Any]].foreach(l.add)
      java.util.Collections.shuffle(l, en.prng)
      st.push(Vector.from(l.toArray))
    }
    // SORTWITH (fn/SORTWITH.java): comparator macro returns a LONG;
    // the MAP face sorts ENTRIES (k1 v1 k2 v2 on the stack) and
    // rebuilds the map in the sorted insertion order
    words("SORTWITH") { (w, st, en) =>
      val m = st.pop().asInstanceOf[WsMacro]
      st.pop() match {
        case l: Vector[Any @unchecked] =>
          st.push(l.sortWith { (a, b) =>
            st.push(a); st.push(b); en.evalMacro(m, st)
            st.popLong() < 0
          })
        case mp: Map[Any @unchecked, Any @unchecked] =>
          val sorted = mp.toVector.sortWith { case ((k1, v1), (k2, v2)) =>
            st.push(k1); st.push(v1); st.push(k2); st.push(v2)
            en.evalMacro(m, st)
            st.popLong() < 0
          }
          st.push(scala.collection.immutable.ListMap(sorted: _*): Map[Any, Any])
        case o => throw new IllegalArgumentException(s"SORTWITH on $o")
      }
    }
    // LFILTER (fn/LFILTER.java): element [index] macro → boolean
    words("LFILTER") { (w, st, en) =>
      var top = st.pop(); var pushIndex = true
      top match {
        case b: Boolean => pushIndex = b; top = st.pop()
        case _ =>
      }
      val m = top.asInstanceOf[WsMacro]
      val l = st.pop().asInstanceOf[Vector[Any]]
      st.push(l.zipWithIndex.filter { case (e, i) =>
        st.push(e); if (pushIndex) st.push(i.toLong)
        en.evalMacro(m, st); st.popBool()
      }.map(_._1))
    }
    // LFLATMAP (fn/LFLATMAP.java): LMAP whose list results splice
    words("LFLATMAP") { (w, st, en) =>
      var top = st.pop(); var pushIndex = true
      top match {
        case b: Boolean => pushIndex = b; top = st.pop()
        case _ =>
      }
      val m = top.asInstanceOf[WsMacro]
      val l = st.pop().asInstanceOf[Vector[Any]]
      st.push(l.zipWithIndex.flatMap { case (e, i) =>
        st.push(e); if (pushIndex) st.push(i.toLong)
        en.evalMacro(m, st)
        st.pop() match {
          case out: Vector[Any @unchecked] => out
          case one => Vector(one)
        }
      })
    }

    // ---- tensor shapes (fn/shape/SHAPE.java family)
    words("SHAPE") { (w, st, en) =>
      val l = st.pop().asInstanceOf[Vector[Any]]
      val shape = candidateShape(l)
      require(validShape(l, shape), "SHAPE: input is not hyper-cubic")
      st.push(shape.toVector: Vector[Any])
    }
    words("CHECKSHAPE") { (w, st, en) =>
      val l = st.pop().asInstanceOf[Vector[Any]]
      st.push(validShape(l, candidateShape(l)))
    }
    words("RESHAPE") { (w, st, en) =>
      val shape = st.pop().asInstanceOf[Vector[Any]].map(en.asLong)
      val flat = flattenAll(st.pop().asInstanceOf[Vector[Any]])
      require(shape.product == flat.size,
        s"RESHAPE: ${flat.size} cells cannot fill shape $shape")
      st.push(nest(flat, shape))
    }

    // ---- vectors/matrices (fn/TOVEC.java, TOMAT, DET, INV, TR,
    // TRANSPOSE — the columnar twin is functions/MatrixOps)
    words("->VEC") { (w, st, en) =>
      st.push(WsVec(st.pop().asInstanceOf[Vector[Any]].map(en.asNum).toArray))
    }
    words("VEC->") { (w, st, en) =>
      st.push(st.pop().asInstanceOf[WsVec].v.toVector.map(d => d: Any))
    }
    words("->MAT") { (w, st, en) => st.push(WsMat(toMatRows(st.pop(), en))) }
    words("MAT->") { (w, st, en) =>
      val m = st.pop().asInstanceOf[WsMat]
      st.push(m.rows.toVector.map(r => r.toVector.map(d => d: Any): Any))
    }
    words("DET") { (w, st, en) =>
      st.push(graft.functions.MatrixOps.det(toMatRows(st.pop(), en)))
    }
    words("INV") { (w, st, en) =>
      st.push(WsMat(graft.functions.MatrixOps.inv(toMatRows(st.pop(), en))))
    }
    words("TR") { (w, st, en) =>
      val rows = toMatRows(st.pop(), en)
      st.push((0 until math.min(rows.length, rows(0).length))
        .map(i => rows(i)(i)).sum)
    }
    words("TRANSPOSE") { (w, st, en) =>
      val rows = toMatRows(st.pop(), en)
      st.push(WsMat(Array.tabulate(rows(0).length, rows.length)((j, i) => rows(i)(j))))
    }
  }
}
