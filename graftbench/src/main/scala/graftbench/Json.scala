package graftbench

/** Minimal JSON writer for the benchmark's result and span files. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case raw: Raw => raw.json
    case it: Iterable[_] => it.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  /** Already-encoded JSON, embedded as is. */
  final case class Raw(json: String)

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
    sb += '"'
    sb.toString
  }
}
