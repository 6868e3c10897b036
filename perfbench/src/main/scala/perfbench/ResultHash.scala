package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a query result, computed the same way
  * by `tools/make_refs.py` over DuckDB rows: columns sorted by name, every
  * cell rendered canonically (numbers rounded to 6 decimals as in
  * tools/check_oracle.py, timestamps as epoch microseconds, NaN as null),
  * each row MD5-hashed, and the first 8 bytes of the row hashes summed
  * modulo 2^64. */
object ResultHash {

  final case class Fingerprint(columns: Seq[String], rows: Long, hash: String)

  def of(df: DataFrame): Fingerprint = {
    val names = df.columns.toIndexedSeq
    val order = names.indices.sortBy(names)
    var sum = 0L
    var n = 0L
    val md5 = MessageDigest.getInstance("MD5")
    df.collect().foreach { (r: Row) =>
      val s = order.map(i => cell(r.get(i))).mkString("\u001f")
      sum += ByteBuffer.wrap(md5.digest(s.getBytes("UTF-8"))).getLong(0)
      n += 1
    }
    Fingerprint(order.map(names), n, java.lang.Long.toUnsignedString(sum, 16))
  }

  private def num(b: JBigDecimal): String = {
    val r = b.setScale(6, RoundingMode.HALF_EVEN)
    if (r.signum == 0) "0.000000" else r.toPlainString
  }

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "N" else num(new JBigDecimal(d))
    case f: Float => if (f.isNaN || f.isInfinite) "N" else num(new JBigDecimal(f.toDouble))
    case x: Byte => num(JBigDecimal.valueOf(x.toLong))
    case x: Short => num(JBigDecimal.valueOf(x.toLong))
    case x: Int => num(JBigDecimal.valueOf(x.toLong))
    case x: Long => num(JBigDecimal.valueOf(x))
    case x: JBigDecimal => num(x)
    case x: scala.math.BigDecimal => num(x.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toString
    case d: java.time.LocalDate => "D" + d.toString
    case bs: Array[Byte] => bs.map("%02x".format(_)).mkString("B", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
}
