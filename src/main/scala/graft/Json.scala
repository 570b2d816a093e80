package graft

object Json {

  /** A JSON string literal: quote, backslash and every control character
    * (< 0x20) escaped — a tab or CR in builder-authored SQL or an error
    * message would otherwise make a reader's `json.load` fail.
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
