package perfbench

/** A measured value with its unit and, for percentiles, the sample count. */
final case class Metric(value: Double, unit: String, samples: Int = 0)

object Report {

  /** Percentile of `xs` (p in [0, 1]), linear between closest ranks; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Minimal JSON: a non-empty Seq of (String, value) pairs is an object,
    * any other Seq an array.
    */
  def json(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case Metric(value, unit, samples) =>
      json(Seq("value" -> value, "unit" -> unit) ++
        (if (samples > 0) Seq("samples" -> samples) else Nil))
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
      case (_: String, _) => true
      case _ => false
    } => kv.map { case (k: String, x) => quote(k) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
