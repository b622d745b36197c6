package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result, computed identically by
  * `oracle/make_digests.py` over DuckDB rows: columns in lower-cased
  * name order, one token per value, rows sorted, SHA-256 of the lines.
  * Floating-point values are compared by their IEEE-754 bits (the
  * repository's oracle gate is exact). */
object Digest {
  final case class Result(rows: Long, sha256: String)

  def of(df: DataFrame): Result = {
    val names = df.columns.toSeq
    val order = names.indices.sortBy(i => names(i).toLowerCase)
    val lines = df.collect().map(r => order.map(i => token(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    Result(lines.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def float(d: Double): String = {
    val c = if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    f"f:${java.lang.Double.doubleToLongBits(c)}%016x"
  }

  def token(v: Any): String = v match {
    case null => "N"
    case b: Boolean => s"b:$b"
    case x: Byte => s"i:$x"
    case x: Short => s"i:$x"
    case x: Int => s"i:$x"
    case x: Long => s"i:$x"
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: java.math.BigDecimal => float(x.doubleValue)
    case s: String => "s:" + s
    case t: java.sql.Timestamp => s"t:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case d: java.sql.Date => s"d:${d.toLocalDate.toEpochDay}"
    case b: Array[Byte] => "x:" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(token).mkString("r(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(token).mkString("a[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no digest token for ${other.getClass.getName}")
  }
}
