package graft

/** Structured stderr lines: one JSON object per line, so a run's log
  * can be searched and parsed instead of read. */
private[graft] object Log {
  /** `v` as a JSON string literal. */
  def jsonString(v: String): String = "\"" + v.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  /** Reports a swallowed error that made an op fall back: where it
    * happened, the path it was working on and the exception. */
  def fallback(where: String, path: String, e: Throwable): Unit =
    System.err.println(s"""graft: {"fallback":${jsonString(where)},""" +
      s""""path":${jsonString(path)},"error":${jsonString(e.toString)}}""")
}
