package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session's generated-code cache holds a round's working set: a plan
  * that ran once is never compiled again while it stays in the session.
  * At Spark's default of 100 entries a second pass over more distinct
  * plans than that recompiled nearly every one of them. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("re-running 600 distinct plans compiles nothing; the cap is one " +
    "entry per MB of max heap") {
    // An integer literal is inlined into the generated code, so each
    // plan is its own generated class.
    val plans = (1 to 600).map(i =>
      spark.range(8).select((col("id") + lit(i)).as("x")))
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = compiles
    plans.foreach(_.collect())
    val second = compiles
    assert(second - first >= 600, "each plan should compile its own class")
    plans.foreach(_.collect())
    assert(compiles == second,
      s"${compiles - second} recompiles on the second run")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      (Runtime.getRuntime.maxMemory >> 20).toString)
  }
}
