package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-sensitive md5 digest of a query result, in a canonical text form
  * that `perfbench/digest.py` reproduces from DuckDB rows byte for byte.
  *
  * Columns are taken in name order (the parity tool's convention), rows in
  * result order. Floats and decimals compare bit-exactly as doubles, -0.0
  * folded into 0.0 (DuckDB evaluates some oracle arithmetic in DECIMAL where
  * Spark uses DOUBLE; the parity tool's pandas frames compare them as doubles
  * too). Timestamps compare as epoch microseconds, dates as epoch days, and
  * integers of any width print alike.
  */
object Digest {
  def apply(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val md = MessageDigest.getInstance("MD5")
    md.update(order.map(names(_)).mkString("\u001f").getBytes(UTF_8))
    rows.foreach { r =>
      md.update("\u001e".getBytes(UTF_8))
      md.update(order.map(i => canon(r.get(i))).mkString("\u001f").getBytes(UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => s"i:$x"
    case x: Short => s"i:$x"
    case x: Int => s"i:$x"
    case x: Long => s"i:$x"
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case d: java.math.BigDecimal => dbl(d.doubleValue)
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D:" + d.toEpochDay
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=>" + canon(x) }
        .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => "?:" + other
  }

  private def dbl(x: Double): String =
    if (x.isNaN) "f:nan"
    else if (x == 0.0) "f:0"
    else "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(x))
}
