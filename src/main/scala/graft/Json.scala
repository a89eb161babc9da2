package graft

/** String literals for the hand-written JSON lines the mains emit. */
object Json {

  /** `s` as a quoted JSON string, escaping the quote, the backslash and
    * ALL control chars (< 0x20) — exception messages and builder-authored
    * SQL routinely carry tabs/CRs, and one raw control char makes the
    * reader's json.load fail on the whole line. */
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
