package perfbench

/** Minimal JSON writer for the run artifact. */
object Json {

  /** Already-rendered JSON, passed through untouched. */
  final case class Raw(json: String)

  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c            => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null                          => "null"
    case Raw(j)                        => j
    case s: String                     => str(s)
    case b: Boolean                    => b.toString
    case i: Int                        => i.toString
    case l: Long                       => l.toString
    case d: Double                     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case o: Option[_]                  => o.map(value).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_]                => s.map(value).mkString("[", ",", "]")
    case other                         => str(other.toString)
  }

  /** An object with its keys in the given order. */
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
