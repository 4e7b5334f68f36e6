package graftbench

/** Just enough JSON output for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every digit (the shortest form that reads back as the same double);
    * NaN and infinities, which JSON lacks, become null. */
  def value(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def num(key: String, v: Double): String = s"${str(key)}:${value(v)}"

  def obj(fields: Iterable[String]): String = fields.mkString("{", ",", "}")

  def numObj(m: Iterable[(String, Double)]): String =
    obj(m.map { case (k, v) => num(k, v) })
}
