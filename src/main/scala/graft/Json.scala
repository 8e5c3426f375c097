package graft

object Json {

  /** A JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in builder-authored SQL, or a quote
    * in a path or column name, would otherwise emit a document no JSON
    * reader parses (for oracle_sql.json, silently zeroing the driver's
    * correctness check). */
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
