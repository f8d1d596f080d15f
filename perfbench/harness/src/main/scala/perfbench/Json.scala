package perfbench

import scala.collection.mutable

/** The little JSON the harness writes: ordered objects, arrays, strings,
  * numbers, booleans and null. */
object Json {
  final class Obj {
    private val fields = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = fields(k) = v
    def apply(k: String): Any = fields(k)
    def contains(k: String): Boolean = fields.contains(k)
    def render: String =
      fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  }

  object Obj {
    def apply(kvs: (String, Any)*): Obj = {
      val o = new Obj
      kvs.foreach { case (k, v) => o(k) = v }
      o
    }
  }

  final class Arr(init: Seq[Any] = Nil) {
    private val items = mutable.ArrayBuffer.from(init)
    def +=(v: Any): Unit = items += v
    def render: String = items.map(value).mkString("[", ",", "]")
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.render
    case a: Arr => a.render
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => str(other.toString)
  }
}
