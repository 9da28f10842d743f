package perfbench

/** The few JSON shapes result.json needs. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")

  def obj(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
