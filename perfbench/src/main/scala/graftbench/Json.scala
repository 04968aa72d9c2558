package graftbench

/** Minimal JSON writer for the harness's result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => str(s)
    case b: Boolean                => b.toString
    case d: Double                 => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float                  => apply(f.toDouble)
    case i: Int                    => i.toString
    case l: Long                   => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]           => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_]              => o.map(apply).getOrElse("null")
    case other                     => str(other.toString)
  }

  def obj(fields: (String, Any)*): String = apply(scala.collection.immutable.ListMap(fields: _*))
}
