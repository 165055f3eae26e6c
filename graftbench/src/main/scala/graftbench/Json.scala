package graftbench

/** Minimal JSON rendering for the result line and the trace artifact. */
object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null                                   => "null"
    case s: String                              => str(s)
    case b: Boolean                             => b.toString
    case d: Double if d.isNaN || d.isInfinite   => "null"
    case d: Double                              => java.lang.Double.toString(d)
    case f: Float                               => render(f.toDouble)
    case n: Number                              => n.toString
    case o: Option[_]                           => o.map(render).getOrElse("null")
    case m: scala.collection.Map[_, _]          => m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]                         => s.map(render).mkString("[", ",", "]")
    case a: Array[_]                            => render(a.toSeq)
    case p: Product if p.productArity == 2      => render(Seq(p.productElement(0), p.productElement(1)))
    case other                                  => str(other.toString)
  }
}
