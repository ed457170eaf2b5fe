package perfbench

/** Minimal JSON writer for the harness's result and span files: Scala maps,
  * sequences, options, numbers, strings and booleans.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"'          => sb.append("\\\"")
        case '\\'         => sb.append("\\\\")
        case '\n'         => sb.append("\\n")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c            => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None              => sb.append("null")
      case Some(y)                  => go(y)
      case b: Boolean               => sb.append(b)
      case d: Double if d.isNaN || d.isInfinite => sb.append("null")
      case d: Double                => sb.append(d)
      case f: Float                 => go(f.toDouble)
      case n: Int                   => sb.append(n)
      case n: Long                  => sb.append(n)
      case s: String                => str(s)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(y)
        }
        sb.append('}')
      case it: Iterable[_] =>
        sb.append('[')
        it.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case a: Array[_] => go(a.toSeq)
      case other       => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
