package graftbench

import scala.collection.immutable.ListMap

/** Minimal JSON writer for the run record (maps keep insertion order). */
object Json {
  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  def render(v: Any): String = v match {
    case null | None         => "null"
    case Some(x)             => render(x)
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case i: Int              => i.toString
    case l: Long             => l.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_]        => render(xs.toSeq)
    case other               => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
