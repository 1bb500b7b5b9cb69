package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-sensitive digest of a query result, computed the same way as
  * `oracle.py` digests the DuckDB twin's result: columns sorted by name,
  * rows in result order, every value rendered canonically (doubles by
  * their IEEE bits, decimals with their scale, timestamps as epoch
  * microseconds, structs by field name, maps by key). */
object Digest {
  def apply(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("cols:", ",", "\n").getBytes("UTF-8"))
    rows.foreach { r =>
      val sb = new StringBuilder
      order.foreach { i => render(r.get(i), sb); sb.append('|') }
      sb.append('\n')
      md.update(sb.toString.getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def double(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN) sb.append("nan")
    else if (d.isInfinite) sb.append(if (d > 0) "inf" else "-inf")
    else {
      val v = if (d == 0.0) 0.0 else d // folds -0.0 into 0.0
      sb.append('f').append(f"${java.lang.Double.doubleToRawLongBits(v)}%016x")
    }

  private def render(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) 'T' else 'F')
    case x: Byte => sb.append('i').append(x.toLong)
    case x: Short => sb.append('i').append(x.toLong)
    case x: Int => sb.append('i').append(x.toLong)
    case x: Long => sb.append('i').append(x)
    case x: Float => double(x.toDouble, sb)
    case x: Double => double(x, sb)
    case x: java.math.BigDecimal =>
      sb.append('d').append(if (x.signum == 0) x.abs.toPlainString else x.toPlainString)
    case s: String => sb.append('s').append(s.length).append(':').append(s)
    case b: Array[Byte] => sb.append('b'); b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toEpochDay)
    case t: java.sql.Timestamp => micros(t.toInstant, sb)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case r: Row =>
      val names = if (r.schema != null) r.schema.fieldNames.toSeq
                  else r.toSeq.indices.map(_.toString)
      sb.append('{')
      names.zipWithIndex.sortBy(_._1).foreach { case (n, i) =>
        sb.append(n).append('='); render(r.get(i), sb); sb.append(',')
      }
      sb.append('}')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val kb = new StringBuilder; render(k, kb)
        val vb = new StringBuilder; render(x, vb)
        (kb.toString, vb.toString)
      }.sortBy(_._1)
      sb.append("M{")
      entries.foreach { case (k, x) => sb.append(k).append("=>").append(x).append(',') }
      sb.append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => render(x, sb); sb.append(',') }; sb.append(']')
    case other => sb.append('?').append(other.getClass.getName).append(':').append(other)
  }

  private def micros(i: java.time.Instant, sb: StringBuilder): Unit =
    sb.append('t').append(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong))
}
