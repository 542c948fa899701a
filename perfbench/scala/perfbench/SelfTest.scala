package perfbench

import org.apache.spark.sql.functions.{col, desc, lit, rand, when}

import graft.{Session, Tables}

/** The digest's own checks, run by `perfbench/tests/test_digest.py`: the
  * digest ignores row order and partitioning, and it changes when the rows
  * do. Exits non-zero on the first failed check. */
object SelfTest {
  def run(a: Main.Args): Int = {
    val spark = Session.local(a.cores)
    val df = Tables(spark, a.corpus, "lineitem")
    val base = Digest.of(df)
    val first = df.orderBy("l_orderkey", "l_linenumber").first()
    val isFirst = col("l_orderkey") === first.getAs[Long]("l_orderkey") &&
      col("l_linenumber") === first.getAs[Int]("l_linenumber")
    val checks = Seq(
      "shuffled rows" -> (Digest.of(df.orderBy(rand(7))) == base),
      "other partitioning" -> (Digest.of(df.repartition(7)
        .sortWithinPartitions(desc("l_orderkey"))) == base),
      "row dropped" -> (Digest.of(df.filter(col("l_linenumber") =!= 3)) != base),
      "one value changed" -> (Digest.of(df.withColumn("l_quantity",
        when(isFirst, col("l_quantity") + 1).otherwise(col("l_quantity"))))
        != base),
      "row count in digest" -> base.startsWith(s"${df.count()}:"),
      "null column" -> (Digest.of(df.withColumn("l_tax", lit(null))) != base))
    checks.foreach { case (name, ok) =>
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} digest: $name") }
    spark.stop()
    if (checks.forall(_._2)) 0 else 1
  }
}
