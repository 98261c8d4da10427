package graftbench

/** Minimal JSON writer for the benchmark's own result and trace files
  * (maps, sequences, strings, numbers, booleans). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def apply(v: Any): String = v match {
    case null                         => "null"
    case s: String                    => str(s)
    case b: Boolean                   => b.toString
    case i: Int                       => i.toString
    case l: Long                      => l.toString
    case d: Double                    => num(d)
    case f: Float                     => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_]                 => o.map(apply).getOrElse("null")
    case s: Iterable[_]               => s.map(apply).mkString("[", ",", "]")
    case a: Array[_]                  => a.map(apply).mkString("[", ",", "]")
    case other                        => str(other.toString)
  }
}
