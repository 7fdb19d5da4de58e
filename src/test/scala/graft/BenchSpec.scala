package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must be named in Bench's "failed" list, never
  * read as a fast time. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("queries that throw while building or running are recorded as failed") {
    val selected = Seq[(String, (SparkSession, String) => DataFrame)](
      "ok" -> ((s, _) => s.range(10).toDF()),
      "boom_build" -> ((_, _) => throw new IllegalStateException("no plan")),
      "boom_run" -> ((s, _) =>
        s.range(10).filter(assert_true(col("id") < 5).isNull).toDF()))
    val failed = mutable.LinkedHashSet.empty[String]
    val raw = Bench.timedPasses(spark, TestSpark.sf, selected, 2, failed)
    assert(failed.toSeq == Seq("boom_build", "boom_run"))
    // every query keeps its per-pass time, so the map keeps its shape
    assert(raw.map(_._1) == selected.map(_._1) ++ selected.map(_._1))
    assert(Bench.failedJson(failed.toSeq) == "\"failed\":[\"boom_build\",\"boom_run\"]")
    assert(Bench.failedJson(Nil) == "\"failed\":[]")
  }
}
