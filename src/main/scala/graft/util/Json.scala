package graft.util

/** JSON string literals for the mains' reports. */
object Json {
  /** `s` quoted, with backslash, quote and ALL control chars (< 0x20)
    * escaped — a tab in builder-authored SQL, a quote in a path or a
    * control char in a data value would otherwise make the reader's
    * JSON parse fail. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
