package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.NearDup
import graft.functions.HashExpressions
import graft.text.TextFunctions

/** The native md5-hash, word-shingle and MinHash kernels must equal
  * the Column shapes they replaced, value for value and type for
  * type. The replaced shapes live on here, in [[HashKernelSpec.Reference]],
  * as the reference. Every comparison runs twice: once with
  * whole-stage codegen and codegen-only expression factories (pins
  * `doGenCode`), once with both off (pins `eval`). The frames are
  * RDD-backed so no projection is folded into a local relation on the
  * driver. */
class HashKernelSpec extends AnyFunSuite {
  import HashKernelSpec.Reference
  lazy val spark = TestSpark.spark

  private val vocab = Seq("a", "b", "the", "fox", "ção", "é", "日本語",
    "naïve", "😀", "x-y", "über", "data")
  private val spaces = Seq(" ", "  ", "\t", "\n", " \t ")

  /** Random texts from a small vocabulary (so n-grams repeat) joined
    * by mixed whitespace, plus the edge cases. Fixed seed. */
  private lazy val texts: Seq[String] = {
    val doc = for {
      k <- Gen.choose(0, 14)
      ws <- Gen.listOfN(k, Gen.oneOf(vocab))
      seps <- Gen.listOfN(k, Gen.oneOf(spaces))
      lead <- Gen.oneOf("", " ", "\n")
    } yield lead + ws.zip(seps).map { case (w, s) => w + s }.mkString
    val random = Gen.listOfN(300, doc).pureApply(Gen.Parameters.default, Seed(701L))
    Seq(null, "", " ", "   \t\n ", "a", "a b", "a b c", "a b c d e",
      "a b a b a b a b", "the the the the the the the",
      "ção é 日本語 😀 naïve ção é 日本語 😀 naïve über") ++ random
  }

  /** Token arrays with NULL arrays and NULL elements. */
  private lazy val tokArrays: Seq[Seq[String]] = {
    val base = texts.filter(_ != null).take(120).map(_.trim.split("\\s+").toSeq)
    Seq(null, Seq.empty, Seq(null), Seq(null, null, null), Seq("a", null, "b"),
      Seq(null, "a", "a", null, "a", "a"), Seq("a", "b", null, null, "c", "d", "e")) ++
      base.zipWithIndex.map { case (t, i) =>
        if (i % 7 == 3 && t.nonEmpty) t.updated(t.size / 2, null) else t }
  }

  /** Hash arrays: empty, NULL, NULL elements, and 32-bit md5 values. */
  private lazy val hashArrays: Seq[Seq[java.lang.Long]] = {
    val r = new scala.util.Random(703L)
    Seq(null, Seq.empty, Seq(null), Seq[java.lang.Long](5L, null, 3L)) ++
      (1 to 150).map(_ => Seq.fill(r.nextInt(40) + 1)(
        (r.nextLong() & 0xffffffffL): java.lang.Long))
  }

  private def frame(rows: Seq[Any], t: DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.zipWithIndex.map { case (v, i) => Row(i, v) }, 3),
      StructType(Seq(StructField("id", IntegerType), StructField("v", t))))

  private def withMode[T](codegen: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    spark.conf.set(keys(1), codegen.toString)
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Each (new, old) column pair must agree on type, nullability and
    * every row's value, in both evaluation modes. The new columns run
    * in their own projection, so under codegen it is one whole-stage
    * stage that calls `kernel` unless a higher-order function wraps
    * it (`wholeStage = false`; the projection is then still compiled,
    * expression by expression). */
  private def assertSame(in: DataFrame, pairs: Seq[(String, Column, Column)],
      kernel: String, wholeStage: Boolean = true): Unit =
    for (codegen <- Seq(true, false)) withMode(codegen) {
      def run(cols: Seq[Column]) = {
        val df = in.select(col("id") +: cols: _*)
        (df, df.schema.fields.tail, df.collect().map(r => r.getInt(0) -> r).toMap)
      }
      val (nuDf, nuSchema, nuRows) = run(pairs.map { case (n, c, _) => c.as(n) })
      val (_, oldSchema, oldRows) = run(pairs.map { case (n, _, c) => c.as(n) })
      if (codegen && wholeStage) {
        val code = org.apache.spark.sql.execution.debug
          .codegenString(nuDf.queryExecution.executedPlan)
        assert(code.contains(s"graft.functions.HashExpressions.$kernel("),
          s"$kernel must be compiled into the whole-stage code")
      }
      assert(nuRows.keySet == oldRows.keySet && nuRows.size == in.count())
      pairs.zipWithIndex.foreach { case ((name, _, _), p) =>
        assert(nuSchema(p).dataType == oldSchema(p).dataType, s"$name type (codegen=$codegen)")
        assert(nuSchema(p).nullable == oldSchema(p).nullable,
          s"$name nullability (codegen=$codegen)")
        nuRows.foreach { case (id, r) =>
          assert(r.get(p + 1) == oldRows(id).get(p + 1), s"$name row $id (codegen=$codegen)")
        }
      }
    }

  test("md5Hash32 equals the 8-hex-digit positional parse at start 1 and 9") {
    val in = frame(texts, StringType)
    val pairs = for (start <- Seq(1, 9); (c, label) <- Seq(
        col("v") -> "text", TextFunctions.fingerprint(col("v")) -> "fp",
        concat_ws(":", col("id").cast("string"), col("v")) -> "key")) yield
      (s"md5_${label}_$start", NearDup.md5Hash32At(c, start), Reference.md5Hash32At(c, start))
    assertSame(in, pairs, "md5Hash32")
    // the 16-bit token hash is the 32-bit hash's top half
    assertSame(in, Seq(("md5_16",
      shiftright(NearDup.md5Hash32(col("v")), 16),
      Reference.md5Hash16(col("v")).cast("long"))), "md5Hash32")
  }

  test("word shingles of text equal the transform/concat_ws/filter shape") {
    val in = frame(texts, StringType)
    val toks = TextFunctions.wsTokens(col("v"))
    val pairs = Seq(1, 2, 3, 6).flatMap { n => Seq(
      (s"all_$n", TextFunctions.allShinglesOfToks(toks, n), Reference.allShinglesOfToks(toks, n)),
      (s"distinct_$n", TextFunctions.shinglesOfToks(toks, n), Reference.shinglesOfToks(toks, n)),
      (s"shingles_$n", TextFunctions.shingles(col("v"), n), Reference.shingles(col("v"), n)))
    }
    assertSame(in, pairs, "wordShingles")
    // the hash of every shingle, as the signature and winnowing paths use it
    assertSame(in, Seq(("hs", transform(TextFunctions.shingles(col("v"), 3),
        x => NearDup.md5Hash32(x)),
      transform(Reference.shingles(col("v"), 3), x => Reference.md5Hash32At(x, 1)))),
      "wordShingles", wholeStage = false)
  }

  test("word shingles skip NULL tokens and give [] for NULL or short arrays") {
    val in = frame(tokArrays, ArrayType(StringType, containsNull = true))
    val pairs = for (n <- Seq(1, 2, 3, 6); distinct <- Seq(false, true)) yield
      (s"toks_${n}_$distinct",
        if (distinct) TextFunctions.shinglesOfToks(col("v"), n)
        else TextFunctions.allShinglesOfToks(col("v"), n),
        if (distinct) Reference.shinglesOfToks(col("v"), n)
        else Reference.allShinglesOfToks(col("v"), n))
    assertSame(in, pairs, "wordShingles")
    val out = in.select(col("id"), TextFunctions.allShinglesOfToks(col("v"), 2)).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(out(0) == Nil && out(1) == Nil, "NULL and empty arrays give []")
    assert(out(4) == Seq("a", "b"), "a NULL token is skipped inside an n-gram")
    assert(out(3) == Seq("", ""), "an all-NULL n-gram is the empty string")
  }

  test("MinHashMins equals k array_min(transform(...)) folds, NULL slots for no hashes") {
    val params = NearDup.minhashParams(16)
    val in = frame(hashArrays, ArrayType(LongType, containsNull = true))
    val mins = HashExpressions.minhashMins(col("v"), params, NearDup.minhashPrime)
    val pairs = Reference.minhashSlots(col("v"), params, NearDup.minhashPrime)
      .zipWithIndex.map { case (old, j) => (s"h$j", mins(j), old) }
    assertSame(in, pairs, "minhashMins")
    val rows = in.select(col("id"), mins).collect().map(r => r.getInt(0) -> r).toMap
    assert(rows(0).isNullAt(1), "NULL hash array gives NULL")
    for (id <- Seq(1, 2))
      assert(rows(id).getSeq[java.lang.Long](1) == Seq.fill(16)(null),
        "an array with no hash gives 16 NULL slots")
  }

  test("MinHashMins rejects hashes outside the family's exact range") {
    val in = frame(Seq(Seq(Long.MaxValue / 2: java.lang.Long)),
      ArrayType(LongType, containsNull = true))
    val err = intercept[Exception] {
      in.select(HashExpressions.minhashMins(col("v"),
        NearDup.minhashParams(2), NearDup.minhashPrime)).collect()
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]))
  }
}

object HashKernelSpec {

  /** The Column shapes the native kernels replaced, kept verbatim. */
  object Reference {
    def md5Hash32At(c: Column, start: Int): Column = {
      val hex = substring(md5(c), start, 8)
      (0 until 8).map { i =>
        (instr(lit("0123456789abcdef"), substring(hex, i + 1, 1)) - 1)
          .cast("long") * lit(1L << (4 * (7 - i)))
      }.reduce(_ + _)
    }

    def md5Hash16(c: Column): Column = {
      val hex = substring(md5(c), 1, 4)
      (0 until 4).map { i =>
        (instr(lit("0123456789abcdef"), substring(hex, i + 1, 1)) - 1) *
          lit(1 << (4 * (3 - i)))
      }.reduce(_ + _)
    }

    def allShinglesOfToks(toks: Column, n: Int): Column =
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => when(i + (n - 1) < size(toks),
            concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))),
        c => c.isNotNull)

    def shinglesOfToks(toks: Column, n: Int): Column =
      array_distinct(allShinglesOfToks(toks, n))

    def shingles(text: Column, n: Int): Column = {
      val toks = TextFunctions.wsTokens(text)
      array_distinct(filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => when(i + (n - 1) < size(toks),
            concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*))),
        c => c.isNotNull))
    }

    def minhashSlots(hs: Column, params: Seq[(Long, Long)], prime: Long): Seq[Column] =
      params.map { case (a, b) =>
        array_min(transform(hs, h => (h * lit(a) + lit(b)) % lit(prime)))
      }
  }
}
