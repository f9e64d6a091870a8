package graft

/** Minimal JSON text helpers shared by the mains that print JSON for
  * external readers (Verify's oracle_sql.json, Bench's result line). */
object Json {
  /** Quoted JSON string: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR left raw makes a strict `json.load`
    * reject the whole document. */
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
