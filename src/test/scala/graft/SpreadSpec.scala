package graft

import org.scalatest.funsuite.AnyFunSuite

/** Both sides of [[SparkEntry.spread]]'s two guards: the partition count
  * (a frame that already splits across the cores is left alone) and the
  * plan-stats byte gate (a frame smaller than the gate is left alone). */
class SpreadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def cores = spark.sparkContext.defaultParallelism
  private def onePartition = spark.range(0, 1000, 1, 1).toDF("x")

  test("a 1-partition frame repartitions to defaultParallelism at gate 0") {
    assert(cores > 1, "the test session must have more than one core")
    val out = SparkEntry.spread(spark, onePartition, 0L)
    assert(out.rdd.getNumPartitions == cores)
    assert(out.collect().map(_.getLong(0)).sorted.sameElements(0L until 1000L))
  }

  test("a frame below the byte gate is returned unchanged") {
    val df = onePartition
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(SparkEntry.spread(spark, df, (size + 1).toLong) eq df)
  }

  test("a frame with at least as many partitions as cores is unchanged") {
    val df = spark.range(0, 1000, 1, cores).toDF("x")
    assert(SparkEntry.spread(spark, df, 0L) eq df)
  }
}
