package graft.surface

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.GtsFrame
import graft.sources.Formats

/** Stack-value → JSON rendering shared by the HTTP exec facade and the
  * Mobius push path (reference StackUtils.toJSON: frames as row-object
  * arrays, scalars as literals). A list holding all the parts of one
  * frame (STL's or DOUBLEEXPONENTIALSMOOTHING's pair) caches that frame
  * while it renders, so its kernel runs once. */
object StackJson {

  def render(v: Any, maxRows: Int): String = v match {
    case f: GtsFrame =>
      Formats.toJsonRows(f.df).limit(maxRows).collect()
        .map(_.getString(0)).mkString("[", ",", "]")
    case df: DataFrame @unchecked =>
      df.limit(maxRows).toJSON.collect().mkString("[", ",", "]")
    case s: String => "\"" + escape(s) + "\""
    case l: Vector[Any] @unchecked =>
      def items = l.map(render(_, maxRows)).mkString("[", ",", "]")
      wholeOf(l) match {
        // each part is its own query: without the cache every item would
        // rerun the pair's kernel
        case Some(whole) =>
          whole.persist(StorageLevel.MEMORY_AND_DISK)
          try items finally whole.unpersist(blocking = false)
        case None => items
      }
    case m: Map[Any, Any] @unchecked =>
      // sorted keys: scala's immutable Map iterates in hash order for
      // >4 entries, which would make the JSON nondeterministic across
      // runs; sorting matches the Wire.labels convention
      m.toSeq.sortBy { case (k, _) => String.valueOf(k) }
        .map { case (k, v) =>
          "\"" + escape(String.valueOf(k)) + "\":" + render(v, maxRows)
        }.mkString("{", ",", "}")
    case d: java.lang.Double if d.isNaN || d.isInfinite =>
      "null" // RFC 8259 has no NaN/Infinity literal
    case null => "null"
    case o => o.toString // Long/Double/Boolean JSON literals
  }

  /** The frame `l` splits into when its items are all the parts of
    * one frame, each once (a pair word's result, [[GtsFrame.parts]]). */
  private def wholeOf(l: Vector[Any]): Option[DataFrame] = {
    val parts = l.collect { case GtsFrame(_, Some(p: GtsFrame.Part)) => p }
    parts.headOption.filter { h =>
      parts.size == l.size &&
        parts.forall(p => (p.whole eq h.whole) && p.key == h.key) &&
        parts.flatMap(_.values).sorted == h.all.toSeq.sorted
    }.map(_.whole)
  }

  /** RFC 8259 string escaping: backslash, quote, and all control chars
    * (named escapes for the common ones, \u00XX for the rest). */
  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }
}
