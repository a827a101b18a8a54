package perfbench

/** Minimal JSON writer for the harness's output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) &&
        kv.forall(_.asInstanceOf[(_, _)]._1.isInstanceOf[String]) =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** An object whose keys keep the given order. */
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
