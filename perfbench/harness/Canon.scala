package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical, engine-neutral rendering of a collected result, mirrored
  * value for value by `oracle.py` over the DuckDB oracle's rows, so the two
  * digests are equal exactly when `dev/check_oracle.py` would pass the
  * query: columns in name order, rows in result order, integers as
  * integers, floating values as the bits of their float64 widening (NaN
  * and -0.0 folded), decimals normalized, timestamps as epoch
  * microseconds read as UTC, dates as their UTC midnight (pandas reads a
  * DATE column as datetimes), structs by field name. */
object Canon {

  def render(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b:1" else "b:0"
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case d: java.math.BigDecimal => "m:" + d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => "m:" + d.bigDecimal.stripTrailingZeros.toPlainString
    case s: String => "s:" + s
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t:" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => render(d.toLocalDate)
    case d: java.time.LocalDate => "t:" + d.toEpochDay * 86400000000L
    case b: Array[Byte] => "x:" + b.map("%02x".format(_)).mkString
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (n, i) => n + "=" + render(r.get(i)) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => "?" + x.getClass.getSimpleName + ":" + x
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "f:nan"
    else if (d == 0.0) "f:0"
    else "f:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  /** md5 over the canonical rows, plus the row count. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(schema.fieldNames.sorted.mkString(",").getBytes("UTF-8"))
    rows.foreach { r =>
      md.update('\n'.toByte)
      md.update(order.map(i => render(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
