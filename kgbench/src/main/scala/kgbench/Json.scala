package kgbench

/** The few JSON encodings the benchmark's result lines need. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A measured number; NaN and infinities (no measurement) become null. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
