package linkbench

/** Minimal JSON values for the result file. */
sealed trait Json { def render: String }

object Json {
  final case class Obj(fields: Seq[(String, Json)]) extends Json {
    def ++(o: Obj): Obj = Obj(fields ++ o.fields)
    def render: String = fields.map { case (k, v) => quote(k) + ":" + v.render }.mkString("{", ",", "}")
  }
  final case class Arr(items: Seq[Json]) extends Json {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }
  final case class Raw(render: String) extends Json

  def obj(fields: (String, Json)*): Obj = Obj(fields)
  def arr(items: Seq[Json]): Arr = Arr(items)
  def str(s: String): Json = Raw(quote(s))
  def bool(b: Boolean): Json = Raw(b.toString)
  def num(d: Double): Json =
    Raw(if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString)

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
