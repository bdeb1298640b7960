package graft.util

/** The one JSON string literal writer for the hand-built JSON that
  * Bench, Verify and PlanDump emit. */
object Json {
  /** Quoted and escaped: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL or an error message would
    * otherwise make the reader's json.load fail. */
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
