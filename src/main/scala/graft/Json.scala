package graft

/** The one JSON string escaper for every hand-written JSON line
  * (`oracle_sql.json`, the checkpoint manifest and metrics logs). */
object Json {

  /** `s` as a quoted JSON string literal. Escapes backslash, quote, and
    * ALL control chars (<0x20) — a tab or CR in an oracle SQL string, or
    * a quote in a run id, would otherwise make the line unparseable. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
