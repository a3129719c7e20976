package perfbench

import graft.json.JsonText

/** A small JSON writer for the harness's result files. */
object Json {
  def write(v: Any): String = { val sb = new java.lang.StringBuilder; put(sb, v); sb.toString }

  private def put(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(sb, x)
    case s: String => JsonText.writeString(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => put(sb, f.toDouble)
    case n: java.math.BigDecimal => sb.append(n.toPlainString)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        JsonText.writeString(sb, k.toString); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); put(sb, x) }
      sb.append(']')
    case a: Array[_] => put(sb, a.toSeq)
    case other => JsonText.writeString(sb, other.toString)
  }
}
