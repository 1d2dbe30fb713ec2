package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The one JSON codec for every hand-written JSON line (`oracle_sql.json`,
  * the catalog's snapshot log, the checkpoint metrics log). */
object Json {
  val mapper = new ObjectMapper()

  /** `s` as a quoted JSON string literal: backslash, quote and ALL
    * control chars (<0x20) escaped — a tab or CR in an oracle SQL string,
    * or a quote in a run id, would otherwise make the line unparseable. */
  def quote(s: String): String = mapper.writeValueAsString(s)
}
