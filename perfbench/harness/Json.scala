package perfbench

/** Minimal JSON encoder for the harness's raw-measurement file. Values are
  * Scala maps, sequences, strings, numbers, booleans, options and null. */
object Json {
  def enc(v: Any): String = v match {
    case null            => "null"
    case s: String       => quote(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float        => enc(f.toDouble)
    case n: Int          => n.toString
    case n: Long         => n.toString
    case o: Option[_]    => o.fold("null")(enc)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_]  => s.map(enc).mkString("[", ",", "]")
    case a: Array[_]     => enc(a.toSeq)
    case x               => quote(x.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"'            => "\\\""
    case '\\'           => "\\\\"
    case '\n'           => "\\n"
    case c if c < ' '   => f"\\u${c.toInt}%04x"
    case c              => c.toString
  }.mkString("\"", "", "\"")
}
