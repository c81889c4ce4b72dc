package perfbench

import java.util.Locale

/** Minimal JSON writer for the harness's machine-readable output.
  *
  * Every number is formatted with `Locale.ROOT`: under a comma-decimal
  * default locale (de-DE) `"%f".format(x)` writes `1,5`, which is not
  * JSON. Values are nested Scala collections: `Map` (written in
  * iteration order — pass a `ListMap`/`LinkedHashMap` for a stable
  * order), `Seq`, `String`, `Boolean`, `Int`/`Long` and `Double`.
  */
object Report {

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, "%.6f", Double.box(d))

  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(v, sb)
    sb.toString
  }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("null")
    case s: String => quote(s, sb)
    case b: Boolean => sb.append(b)
    case i: Int => sb.append(String.format(Locale.ROOT, "%d", Int.box(i)))
    case l: Long => sb.append(String.format(Locale.ROOT, "%d", Long.box(l)))
    case d: Double => sb.append(num(d))
    case m: collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(k.toString, sb); sb.append(':'); emit(x, sb)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      var first = true
      s.foreach { x =>
        if (!first) sb.append(',')
        first = false
        emit(x, sb)
      }
      sb.append(']')
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
