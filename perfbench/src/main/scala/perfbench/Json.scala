package perfbench

/** A small JSON writer whose output stays valid whatever a string
  * holds: every control character, quote and backslash is escaped, so
  * an exception message with newlines, tabs or NULs cannot break the
  * record. Non-finite doubles are written as null.
  */
object Json {
  def str(s: String): String = {
    if (s == null) return "null"
    val b = new StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 || c == 0x2028 || c == 0x2029 || Character.isSurrogate(c) =>
        b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  /** Renders nested Maps and Iterables of Strings and numbers; null
    * becomes JSON null.
    */
  def render(v: Any): String = v match {
    case null      => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case n: Int    => n.toString
    case n: Long   => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other          => str(other.toString)
  }
}
