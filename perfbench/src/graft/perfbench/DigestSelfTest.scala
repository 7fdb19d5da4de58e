package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Checks of the result digest, run by `perfbench/test_perfbench.py`:
  * row order does not change it; a changed, missing or duplicated row
  * does; a last-bit difference in a double does not. Exits non-zero on
  * the first failed check. */
object DigestSelfTest {
  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
      StructField("tags", ArrayType(StringType)), StructField("s", StringType)))
    val rows = (1 to 50).map(i => Row(i.toLong, i * 0.1, Seq(s"t$i", "x"), if (i % 7 == 0) null else s"r$i"))
    val base = Digest.of(schema, rows)
    def check(ok: Boolean, what: String): Unit = if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    check(Digest.of(schema, rows.reverse) == base, "reversed rows change the digest")
    check(Digest.of(schema, scala.util.Random.shuffle(rows)) == base, "shuffled rows change the digest")
    check(Digest.of(schema, rows.updated(3, Row(4L, 0.5, Seq("t4", "x"), "r4"))) != base, "a changed value keeps the digest")
    check(Digest.of(schema, rows.tail) != base, "a missing row keeps the digest")
    check(Digest.of(schema, rows :+ rows.head) != base, "a duplicated row keeps the digest")
    check(Digest.of(schema, rows.map(r => Row(r(0), Math.nextUp(r.getDouble(1)), r(2), r(3)))) == base,
      "a last-bit double difference changes the digest")
    check(Digest.of(StructType(schema.fields.reverse), rows) != base, "another schema keeps the digest")
    println("digest checks passed")
  }
}
