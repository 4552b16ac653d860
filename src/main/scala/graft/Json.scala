package graft

/** The one JSON string writer for everything the library serializes by
  * hand: Verify's oracle_sql.json and every string Bench and StreamBench
  * put into their artifacts (query and row names, error texts, paths). */
private[graft] object Json {

  /** `s` as a quoted JSON string literal. Escapes backslash, quote and
    * ALL control chars (<0x20) — a tab or CR in hand-written SQL, or
    * a newline in an exception message, would otherwise break the
    * reader's parse. */
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
