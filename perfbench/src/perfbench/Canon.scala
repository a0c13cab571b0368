package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Result fingerprint shared with record_golden.py (`canon` there):
  * columns sorted by name, rows in result order, values normalized the
  * way scripts/oracle_check.py compares them. Doubles are compared by
  * their bits, which is what comparing Python `repr` strings amounts
  * to; timestamps are UTC wall-clock micros (Spark's TIMESTAMP reaches
  * the oracle compare as a naive value). */
object Canon {
  final case class Print(rows: Long, md5: String)

  def token(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "True" else "False"
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => "i" + n.toString
    case d: java.math.BigDecimal => "m" + d.toString
    case s: String => "s" + s
    case d: java.sql.Date => "D" + d.toLocalDate.toString
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(token).mkString("[", ",", "]")
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq)
        .getOrElse(r.toSeq.indices.map(_.toString))
      names.zip(r.toSeq).map { case (k, x) => s"$k=${token(x)}" }
        .mkString("{", ",", "}")
    case other => "?" + other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else "d" + java.lang.Long.toHexString(
      java.lang.Double.doubleToRawLongBits(d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  def of(schema: StructType, rows: Iterator[Row]): Print = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(schema.fieldNames.sorted.mkString("\u001f")
      .getBytes("UTF-8"))
    var n = 0L
    rows.foreach { r =>
      md.update("\u001e".getBytes("UTF-8"))
      md.update(order.map(i => token(r.get(i))).mkString("\u001f")
        .getBytes("UTF-8"))
      n += 1
    }
    Print(n, md.digest().map("%02x".format(_)).mkString)
  }
}
