package perfbench

/** Minimal JSON encoder for the runner's result file: maps, sequences,
  * numbers, strings, booleans and null. Doubles keep all their digits;
  * non-finite doubles are written as null. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      xs.iterator.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(',')
        write(sb, x)
      }
      sb.append(']')
    case p: Product if p.productArity == 0 => quote(sb, p.toString)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
