package perfbench

/** Minimal JSON rendering for the result file and the span dump. */
object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case other => quote(other.toString)
  }

  def obj(kvs: (String, Any)*): String = kvs.map { case (k, x) => quote(k) + ": " + value(x) }.mkString("{", ", ", "}")
}
