package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels behind the engine's md5-derived hashes,
  * word shingles and MinHash signatures.
  *
  * WHY custom expressions: the composable forms of these kernels are
  * higher-order functions, which Spark evaluates interpreted, with no
  * common-subexpression elimination inside a lambda (an md5 hex-digit
  * parse there ran the md5 once per digit). Each kernel here is one
  * loop in a static helper that both `eval` and the generated code
  * call, so the two paths cannot drift. Outputs are bit-identical to
  * the Column forms (HashKernelSpec keeps them as its reference), so
  * the DuckDB oracle mirrors are unchanged.
  */
object HashExpressions {

  /** MessageDigest is stateful and not thread-safe; one per task thread. */
  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** The 32-bit value of the 8 hex digits of md5(bytes) starting at
    * 1-based hex position `start` — read straight from the digest's
    * nibbles, no hex string. */
  def md5Hash32(bytes: Array[Byte], start: Int): Long = {
    val d = md5.get().digest(bytes)
    var v = 0L
    var k = start - 1
    val end = k + 8
    while (k < end) {
      val b = d(k >> 1)
      v = (v << 4) | ((if ((k & 1) == 0) b >> 4 else b) & 0xf)
      k += 1
    }
    v
  }

  private val space = UTF8String.fromString(" ")

  /** Word n-grams of a token array joined by one space; `distinct`
    * keeps each n-gram's first occurrence, in order. A null array or
    * one with fewer than n tokens gives an empty array; null tokens
    * are skipped inside an n-gram, as `concat_ws` skips them. */
  def wordShingles(toks: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val m = if (toks == null) 0 else toks.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val seen = if (distinct) new java.util.HashSet[UTF8String] else null
    val parts = new Array[UTF8String](n)
    var len = 0
    var i = 0
    while (i <= m - n) {
      var k = 0
      while (k < n) {
        parts(k) = if (toks.isNullAt(i + k)) null else toks.getUTF8String(i + k)
        k += 1
      }
      // concatWs always copies into a fresh buffer, so the n-gram
      // never aliases the (possibly reused) input row's memory
      val s = UTF8String.concatWs(space, parts: _*)
      if (seen == null || seen.add(s)) { out(len) = s; len += 1 }
      i += 1
    }
    new GenericArrayData(if (len == out.length) out else out.take(len))
  }

  /** The k MinHash slots `min_i((a_j·hs_i + b_j) mod p)` in one pass
    * over the hash array. Null elements are skipped; an array with no
    * non-null element gives k NULL slots. The products are exact: an
    * input outside the family's range is an ArithmeticException, not a
    * wrapped value. */
  def minhashMins(hs: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    val m = hs.numElements()
    var i = 0
    while (i < m) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        any = true
        var j = 0
        while (j < k) {
          val v = Math.addExact(Math.multiplyExact(h, a(j)), b(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](k))
  }

  /** Column API: 32-bit md5 hash at hex position `start`. */
  def md5Hash32(c: Column, start: Int): Column =
    GraftBridge.toColumn(Md5Hash32(GraftBridge.toExpression(c), start))

  /** Column API: word n-grams of a token-array column. */
  def wordShingles(toks: Column, n: Int, distinct: Boolean): Column =
    GraftBridge.toColumn(WordShingles(GraftBridge.toExpression(toks), n, distinct))

  /** Column API: the k MinHash slots of an `array<bigint>` column. */
  def minhashMins(hs: Column, params: Seq[(Long, Long)], prime: Long): Column =
    GraftBridge.toColumn(MinHashMins(GraftBridge.toExpression(hs), params, prime))

  /** A SQL argument that must be a constant. */
  private def constArg(e: Expression, what: String): Any = {
    require(e.foldable, s"$what must be a constant")
    e.eval()
  }

  /** SQL builders: `md5_hash32(x[, start])`, `word_shingles(toks, n[, distinct])`. */
  private[graft] def md5Hash32Sql(exprs: Seq[Expression]): Expression =
    Md5Hash32(exprs(0),
      if (exprs.size > 1) constArg(exprs(1), "start").asInstanceOf[Number].intValue else 1)
  private[graft] def wordShinglesSql(exprs: Seq[Expression]): Expression =
    WordShingles(exprs(0), constArg(exprs(1), "n").asInstanceOf[Number].intValue,
      exprs.size > 2 && constArg(exprs(2), "distinct").asInstanceOf[Boolean])

  /** Register `md5_hash32` and `word_shingles` for SQL-text use on a session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("md5_hash32", md5Hash32Sql, "scala_udf")
    reg.createOrReplaceTempFunction("word_shingles", wordShinglesSql, "scala_udf")
  }
}

/** `md5_hash32(s, start)`: the 8 hex digits of md5(s) from 1-based hex
  * position `start`, as a non-negative long — one digest per row. The
  * string is hashed as its UTF-8 bytes, as `md5` hashes it. */
case class Md5Hash32(child: Expression, start: Int) extends UnaryExpression {
  require(start >= 1 && start <= 25, s"md5_hash32 start must be in 1..25, got $start")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_hash32 expects string, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_hash32"

  override def nullSafeEval(input: Any): Any =
    HashExpressions.md5Hash32(input.asInstanceOf[UTF8String].getBytes, start)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashExpressions.md5Hash32($c.getBytes(), $start)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_shingles(toks, n, distinct)`: the n-grams of a string array,
  * joined by one space (see [[HashExpressions.wordShingles]]). Never
  * NULL: a NULL array gives an empty one. */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"word_shingles n must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "word_shingles"

  override def eval(input: InternalRow): Any =
    HashExpressions.wordShingles(
      child.eval(input).asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.functions.HashExpressions.wordShingles(
        ${c.isNull} ? null : ${c.value}, $n, $distinct);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The k MinHash slots of a hash array under the affine family
  * `(a_j·h + b_j) mod prime` (see [[HashExpressions.minhashMins]]).
  * NULL for a NULL array. */
case class MinHashMins(child: Expression, params: Seq[(Long, Long)], prime: Long)
    extends UnaryExpression {
  @transient private lazy val aArr = params.map(_._1).toArray
  @transient private lazy val bArr = params.map(_._2).toArray
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_mins expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_mins"

  override def nullSafeEval(input: Any): Any =
    HashExpressions.minhashMins(input.asInstanceOf[ArrayData], aArr, bArr, prime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("mhA", aArr, "long[]")
    val b = ctx.addReferenceObj("mhB", bArr, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashExpressions.minhashMins($c, $a, $b, ${prime}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
