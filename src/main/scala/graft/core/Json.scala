package graft.core

/** JSON string literals for the harness artifacts (`oracle_sql.json`,
  * `bench_local.json`): backslash, quote and every control character
  * (< 0x20) are escaped — a tab or CR in an oracle string would
  * otherwise make a JSON reader reject the whole file. */
object Json {
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
