package graft.profiling

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** Column profiling + star-schema induction — the reference's
  * `Algoritmo de Estruturação de Dados.py` operator family
  * (stats `:86-101`, key candidates `:138-165`, measures `:168-190`,
  * dimension attributes `:193-225`, PK ranking `:237-255`).
  *
  * One aggregate pass computes every column's stats (count, distinct,
  * nulls); classification is then pure arithmetic on that single row.
  * At 100 TB swap `countDistinct` for `approx_count_distinct` (the
  * `exact = false` flag) — HLL sketches keep the pass one-shuffle.
  */
object Profiler {

  final case class ColumnProfile(
      name: String, dtype: String, rows: Long, distinct: Long, nulls: Long) {
    def uniqueRatio: Double = if (rows == 0) 0 else distinct.toDouble / rows
    def nullRatio: Double = if (rows == 0) 0 else nulls.toDouble / rows
  }

  def profile(df: DataFrame, exact: Boolean = true): Seq[ColumnProfile] = {
    val cols = df.columns
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(
        (if (exact) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"__d_$c"),
        sum(col(c).isNull.cast("long")).as(s"__z_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getAs[Long]("__n")
    cols.toIndexedSeq.map { c =>
      ColumnProfile(c, df.schema(c).dataType.simpleString, n,
        row.getAs[Long](s"__d_$c"), row.getAs[Long](s"__z_$c"))
    }
  }

  /** Heuristic classification mirroring the reference
    * (`Algoritmo…Dados.py:129-255`): name-based id hints, unique-ratio
    * key candidates, numeric high-card measures, low-card dims. */
  def classify(df: DataFrame, p: ColumnProfile): String = {
    val dt = df.schema(p.name).dataType
    val looksId = p.name.toLowerCase.endsWith("key") ||
      p.name.toLowerCase.endsWith("id") || p.name.toLowerCase.startsWith("id")
    // floating-point columns are measures even when unique — the
    // reference's measure detector keys on dtype first (`:168-190`)
    val floating = dt == org.apache.spark.sql.types.DoubleType ||
      dt == org.apache.spark.sql.types.FloatType ||
      dt.isInstanceOf[org.apache.spark.sql.types.DecimalType]
    if (!floating && p.uniqueRatio > 0.95 && p.nullRatio < 0.01 &&
      (looksId || !dt.isInstanceOf[NumericType] || p.uniqueRatio == 1.0))
      "key_candidate"
    else if (looksId) "foreign_key"
    else if (dt.isInstanceOf[NumericType] && p.uniqueRatio > 0.2) "measure"
    else if (p.distinct <= math.max(50, p.rows / 100)) "dim_attribute"
    else if (dt == StringType) "text"
    else "other"
  }

  /** Induce a star split: dim tables for low-card attribute groups +
    * fact of keys/measures (the reference emits `fato_*`/`dim_*`,
    * `Algoritmo…Dados.py:570-724`). Returns (factCols, dimCols). */
  def induceStar(df: DataFrame): (Seq[String], Seq[String]) = {
    val profs = profile(df)
    val byClass = profs.map(p => p.name -> classify(df, p)).toMap
    val dims = profs.map(_.name).filter(c => byClass(c) == "dim_attribute")
    val facts = profs.map(_.name).filterNot(dims.contains)
    (facts, dims)
  }

  /** Extract a deduplicated dimension + fact-with-surrogate-key pair
    * for one dim column group. */
  def extractDim(df: DataFrame, dimCols: Seq[String], surrogate: String)
      : (DataFrame, DataFrame) = {
    val dim = df.select(dimCols.map(col): _*).distinct()
      .withColumn(surrogate, monotonically_increasing_id())
    val fact = df.join(dim, dimCols, "left")
      .drop(dimCols: _*)
    (dim, fact)
  }
}
