package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.CosineSimilarity

/** SparkSessionExtensions entry point: injects the engine's native
  * expressions into any session via config —
  * `spark.sql.extensions=graft.GraftExtensions` — so SQL-text users
  * (and Thrift/Connect clients on a real cluster) get `cosine_sim`,
  * `md5_hash32`, `word_shingles` and the other engine functions
  * without touching code — plus the TopKPerGroup planner strategy
  * (plans/TopKPerGroup: sort-free per-group top-k). No optimizer
  * rules: built-in Catalyst covers the reference's surface (SURVEY
  * §4); the custom pieces are an expression and a physical operator.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("repair_encoding"),
      new ExpressionInfo(
        classOf[graft.functions.RepairEncoding].getName, "repair_encoding"),
      (exprs: Seq[Expression]) => graft.functions.RepairEncoding(exprs(0))))
    ext.injectFunction((
      new FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(
        classOf[graft.functions.DeflateRatio].getName, "deflate_ratio"),
      (exprs: Seq[Expression]) => graft.functions.DeflateRatio(exprs(0))))
    ext.injectFunction((
      new FunctionIdentifier("md5_hash32"),
      new ExpressionInfo(classOf[graft.functions.Md5Hash32].getName, "md5_hash32"),
      graft.functions.HashExpressions.md5Hash32Sql _))
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(
        classOf[graft.functions.WordShingles].getName, "word_shingles"),
      graft.functions.HashExpressions.wordShinglesSql _))
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
