package perfbench

import graft.JsonText.quote

/** Minimal JSON writer for the harness's result files (no JSON library is
  * on the program's classpath apart from Spark's shaded internals); strings
  * are escaped by the program's own [[graft.JsonText]]. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case RawJson(text) => text
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }
}
