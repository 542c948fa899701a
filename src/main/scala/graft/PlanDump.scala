package graft

import java.nio.file.{Files, Paths}

/** Diagnostic: write `.explain("formatted")` output for named queries to
  * files — the optimization-round evidence trail (plans/rNN/<q>_before.txt
  * / _after.txt). Usage:
  *   sbt "runMain graft.PlanDump <outDir> <suffix> [query ...]"
  * Writes <outDir>/<query>_<suffix>.txt per query; with no query names
  * it dumps every query, so two checkouts' dumps diff for plan drift
  * (strip expression ids `#\d+` first). Uses the same session
  * bootstrap as Bench; constructs (does not execute) each query, so eager
  * localCheckpoint queries still run their prep actions.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <outDir> <suffix> [query ...]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    HarnessLock.acquireOrDie("plandump")
    val spark = Session.local()
    Files.createDirectories(outDir)
    try SparkEntry.warmSessionArtifacts(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[plandump] artifact warm failed: ${e.getMessage}") }
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan)
        println(s"[plandump] wrote ${n}_$suffix.txt " +
          s"(exchanges=${"Exchange".r.findAllIn(plan).size})")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
