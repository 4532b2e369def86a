package perfbench

import scala.collection.mutable

/** Minimal JSON writer for the run result (numbers, strings, arrays, objects). */
object Json {
  final class Obj {
    private val fields = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def render: String = fields.map { case (k, v) => quote(k) + ":" + Json.render(v) }
      .mkString("{", ",", "}")
  }
  final case class Arr(xs: Seq[Any])

  def render(v: Any): String = v match {
    case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int     => n.toString
    case n: Long    => n.toString
    case b: Boolean => b.toString
    case s: String  => quote(s)
    case o: Obj     => o.render
    case Arr(xs)    => xs.map(render).mkString("[", ",", "]")
    case other      => quote(String.valueOf(other))
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'            => "\\\""
    case '\\'           => "\\\\"
    case c if c < ' '   => f"\\u${c.toInt}%04x"
    case c              => c.toString
  } + "\""
}
