package perfbench

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans). Non-finite doubles become null.
  */
object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case a: Array[_] => write(a.toSeq)
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
