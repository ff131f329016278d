package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Canonical forms of an operation's output: an order-independent digest
  * (compared call against call) and a JSON dump (checked outside the JVM). */
object Canon {
  private def str(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(str).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(str).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k) + "->" + str(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros().toPlainString
    case d: BigDecimal => d.bigDecimal.stripTrailingZeros().toPlainString
    case other => other.toString
  }

  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => str(r)).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) Json.quote(d.toString) else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) Json.quote(f.toString) else f.toDouble.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp => Json.quote(t.toLocalDateTime.toString)
    case t: java.time.LocalDateTime => Json.quote(t.toString)
    case t: java.time.Instant => Json.quote(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString)
    case d: java.sql.Date => Json.quote(d.toString)
    case r: Row => r.toSeq.map(json).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(json).mkString("[", ",", "]")
    case other => Json.quote(str(other))
  }

  /** {"columns": [...], "rows": [[...], ...]} */
  def dump(res: Main.Result): String = {
    val (cols, rows) = (res.columns, res.rows)
    val sb = new StringBuilder
    sb.append("{\"columns\":").append(cols.map(Json.quote).mkString("[", ",", "]")).append(",\"rows\":[")
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(r.toSeq.map(json).mkString("[", ",", "]"))
    }
    sb.append("]}")
    sb.toString
  }
}

/** Minimal JSON writer for the report (maps, sequences, numbers, strings). */
object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
