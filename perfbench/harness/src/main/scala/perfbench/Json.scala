package perfbench

/** Minimal JSON writer for results and traces (objects keep key order). */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields)
  }
  final case class Arr(items: Seq[Any])

  def obj(kv: (String, Any)*): Obj = Obj(kv)

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case Arr(xs) => xs.map(render).mkString("[", ",", "]")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
