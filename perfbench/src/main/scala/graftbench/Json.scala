package graftbench

/** Minimal JSON rendering for the harness's result files (maps, seqs,
  * strings, numbers, booleans; a Spark row renders as the list of its
  * values, each mapped by [[Json.cell]]). */
object Json {
  def render(v: Any): String = {
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
      if (d.isNaN || d.isInfinite) quote(sb, d.toString) else sb.append(d)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case n: Short => sb.append(n)
    case n: Byte => sb.append(n)
    case r: org.apache.spark.sql.Row => write(sb, cell(r))
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case a: Array[_] => write(sb, a.toSeq)
    case other => quote(sb, other.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** A Spark row value as a JSON-able value: decimals as doubles,
    * timestamps as microseconds since the epoch (UTC), arrays as lists. */
  def cell(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue
    case d: scala.math.BigDecimal => d.toDouble
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toString
    case s: scala.collection.Seq[_] => s.map(cell)
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell)
    case other => other
  }

  private def micros(t: java.time.Instant): Long =
    t.getEpochSecond * 1000000L + t.getNano / 1000
}
