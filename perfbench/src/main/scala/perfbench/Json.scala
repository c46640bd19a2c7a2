package perfbench

/** Minimal JSON encoder for the raw run record (maps, sequences,
  * strings, numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case s: String =>
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\t' => b ++= "\\t"
        case '\r' => b ++= "\\r"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => sys.error(s"no JSON form for ${other.getClass.getName}")
  }
}
