package perfbench

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  /** Already-serialized JSON, written as is. */
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${any(v)}" }.mkString("{", ", ", "}")

  def any(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => any(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(any).mkString("[", ", ", "]")
    case p: Product if p.productArity > 0 && !p.productPrefix.startsWith("Tuple") =>
      obj(p.productElementNames.zip(p.productIterator).toSeq)
    case p: Product => p.productIterator.map(any).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
