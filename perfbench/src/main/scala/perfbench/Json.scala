package perfbench

/** Minimal JSON for the run's result line and trace file. */
object Json {
  final case class Raw(text: String) { override def toString: String = text }

  def render(v: Any): String = v match {
    case null | None => "null"
    case r: Raw => r.text
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case xs: Iterable[_] => arr(xs.toSeq: _*).text
    case Some(x) => render(x)
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))

  def arr(xs: Any*): Raw = Raw(xs.map(render).mkString("[", ",", "]"))

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A JSON object's members as Scala values (nested objects as maps). */
  def parseObject(text: String): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(text).values.asInstanceOf[Map[String, Any]]
}
