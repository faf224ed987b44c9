package graft

/** The one JSON string escaper for hand-built JSON: Verify's
  * `oracle_sql.json` and the router's structured logs.
  */
object Json {

  /** A quoted JSON string. Escapes backslash, quote and every control char
    * below 0x20: a tab or CR left raw in oracle SQL or exception text makes
    * the consumer's JSON parse fail.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
