package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: the schema, the row
  * count and the sum (mod 2^64) of one 64-bit hash per row. Doubles
  * are written with 10 significant digits, so a last-bit difference in
  * a floating sum does not read as a wrong answer. */
object Digest {
  def of(schema: StructType, rows: Iterable[Row]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += hash64(canon(r)); n += 1 }
    f"$n:${hash64(schema.simpleString)}%016x:$sum%016x"
  }

  private def hash64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.9e", d: java.lang.Double)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
