package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SinkOps

/** The session's generated-code cache holds a round's working set: a plan
  * that ran once is never compiled again while it stays in the session.
  * At Spark's default of 100 entries a second pass over more distinct
  * plans than that recompiled nearly every one of them. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles paid by each of `n` runs of `body`. */
  private def compilesPerRun(n: Int)(body: => Unit): Seq[Long] =
    (1 to n).map { _ =>
      val before = compiles
      body
      compiles - before
    }

  test("re-running 600 distinct plans compiles nothing; the cap is one " +
    "entry per MB of max heap") {
    // An integer literal is inlined into the generated code, so each
    // plan is its own generated class.
    val plans = (1 to 600).map(i =>
      spark.range(8).select((col("id") + lit(i)).as("x")))
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

  // The cache hits only on byte-identical generated source. q260 and q261
  // plan the same pipelines at different stage ids from run to run (ids in
  // class names); q191's seed check once planned a codegen'd limit, whose
  // counter is named from a JVM-global id.
  for (q <- Seq("q260_fd_discovery", "q261_ind_discovery",
      "q191_personalized_pagerank"))
    test(s"$q: a re-run compiles nothing") {
      val runs = compilesPerRun(3) {
        SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect()
      }
      assert(runs.tail == Seq(0L, 0L), s"compiles per run: $runs")
    }

  test("applyCdc: a second apply of the same feed compiles nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_codegen")
    val path = s"$dir/snap"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload")
      .write.parquet(path)
    val feed = Seq((2L, "B", "upsert"), (4L, "d", "upsert"),
      (3L, null.asInstanceOf[String], "delete")).toDF("id", "payload", "op")
    val runs = compilesPerRun(2) {
      SinkOps.applyCdc(spark, feed, path, Seq("id"), "op")
    }
    assert(runs(1) == 0L, s"compiles per apply: $runs")
  }
}
