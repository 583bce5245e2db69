package perfbench

/** The benchmark's only JSON writer. Keys and strings are escaped, and a
  * non-finite number is refused with the path of the offending key: a
  * `NaN` or `Infinity` on the result line would make the whole line
  * unparseable, so it fails the run instead of being printed.
  */
object Json {

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Renders maps (any key order is kept for `Seq` of pairs), sequences,
    * strings, booleans, numbers and `None`/`null` as `null`.
    */
  def write(v: Any): String = render(v, "$")

  private def render(v: Any, path: String): String = v match {
    case null | None => "null"
    case Some(x) => render(x, path)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) throw new IllegalArgumentException(s"non-finite number $d at $path")
      // repr-style shortest round-trip digits, never a locale comma
      java.lang.Double.toString(d).replace("E", "e")
    case f: Float => render(f.toDouble, path)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }, path)
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) && kv.forall(_.asInstanceOf[(_, _)]._1.isInstanceOf[String]) =>
      obj(kv.map(_.asInstanceOf[(String, Any)]), path)
    case xs: Iterable[_] => xs.zipWithIndex.map { case (x, i) => render(x, s"$path[$i]") }.mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"unsupported JSON value ${other.getClass.getName} at $path")
  }

  private def obj(kvs: Seq[(String, Any)], path: String): String =
    kvs.map { case (k, x) => quote(k) + ":" + render(x, s"$path.$k") }.mkString("{", ",", "}")
}
