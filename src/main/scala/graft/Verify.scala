package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Mutual exclusion with Bench and the sweep-running test suites
    // (VERDICT r14 #6): Verify sweeps AND rebuilds the /tmp export
    // dumps — a concurrent harness process reading or sweeping them
    // mid-run reproduces the q338 race.
    HarnessLock.acquireOrDie("verify")
    val spark = Session.local()
    // Verify owns the export-dump lifecycle (it rebuilds its corpus's
    // dumps below, and its oracle twins are the only readers): sweep
    // stale ones — tables too — before dumping. Bench deliberately
    // leaves exports alone (see Bench's sweep comment).
    try SparkEntry.dropStaleArtifacts(spark, Seq(sfDir))
    catch { case e: Throwable =>
      System.err.println(s"[verify] stale-artifact sweep failed: ${e.getMessage}") }
    new java.io.File(outDir).mkdirs()
    // VERIFY_ONLY=q63_inverted_index,q68_epoch_mix — subset filter for
    // targeted dev iteration (BENCH_ONLY's twin). The driver never sets
    // it, so graded runs always dump the full suite.
    // Blank VERIFY_ONLY = no filter (not "dump nothing") — Bench's
    // BENCH_ONLY discipline.
    val only = sys.env.get("VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val queries = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    val errors = Seq.newBuilder[(String, String)]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      // Release per-query caches (LSH candidate sets): each query is
      // written exactly once, so a retained entry is pure leak here.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The twins of the export-reading queries (q186/q197/q338) name
    // per-corpus /tmp paths: built for sfDir, the dumped SQL globs the
    // same files the queries just wrote.
    val json = graft.oracle.OracleSql(sfDir)
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Queries that failed to RUN are otherwise silently absent from the
    // correctness report (their parquet never lands — ADVICE r8); leave a
    // machine-readable record so a consumer can tell "broken" from
    // "never declared".
    val errJson = errors.result()
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    spark.stop()
  }
}
