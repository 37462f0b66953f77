package graftbench

import java.util.Locale

/** A small JSON writer for the benchmark's records.
  *
  * Numbers never go through the default locale: `Double.toString` is
  * locale-independent by specification and keeps every digit, and the
  * human-readable helpers format with `Locale.ROOT`. A JVM whose
  * default locale writes comma decimals would otherwise turn `1.5`
  * into `1,5` and the record into invalid JSON. */
object Json {

  /** An ordered JSON object. */
  final case class Obj(fields: Seq[(String, Any)]) {
    def ++(more: Seq[(String, Any)]): Obj = Obj(fields ++ more)
  }

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null          => "null"
    case None          => "null"
    case Some(x)       => render(x)
    case s: String     => quote(s)
    case b: Boolean    => b.toString
    case i: Int        => i.toString
    case l: Long       => l.toString
    case d: Double     => num(d)
    case o: Obj        => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: Map[_, _]  => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }
                            .sortBy(_._1)))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other         => quote(other.toString)
  }

  /** Fixed-decimal text for logs, always with a `.` separator. */
  def fixed(d: Double, decimals: Int = 3): String =
    String.format(Locale.ROOT, s"%.${decimals}f", Double.box(d))
}
