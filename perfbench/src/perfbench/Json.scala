package perfbench

import org.apache.spark.sql.Row

/** Minimal JSON writer for the run record (maps, sequences, numbers,
  * strings, booleans, null). Result cells go through [[result]], which
  * writes decimals as numbers and dates as ISO text.
  */
object Json {
  def apply(v: Any): String = { val sb = new StringBuilder; write(sb, v); sb.toString }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) quote(sb, d.toString) else sb.append(d)
    case d: java.math.BigDecimal => sb.append(d.toPlainString)
    case n: Number => sb.append(n.toString)
    case d: java.sql.Date => quote(sb, d.toLocalDate.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** A collected result as `{"columns": [...], "rows": [[...], ...]}`. */
  def result(columns: Seq[String], rows: Seq[Row]): String =
    apply(Map("columns" -> columns, "rows" -> rows.map(_.toSeq)))
}
