package graft

/** The JSON writing graft's mains and run records share: string literals
  * and flat objects, nothing parsed.
  */
object Json {

  /** `s` as a JSON string literal. Quote, backslash and every control
    * character (< 0x20) are escaped: a raw tab or CR in oracle SQL or an
    * error message would make the reader's `json.load` fail.
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

  /** A JSON object of `fields`, whose values are already JSON. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
