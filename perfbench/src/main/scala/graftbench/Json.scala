package graftbench

/** Minimal JSON text for the result and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A finite double with all its digits; non-finite values are null. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
