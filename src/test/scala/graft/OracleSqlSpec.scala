package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.oracle.OracleSql

/** The DuckDB twins are a function of the corpus dir: the twins of the
  * export-reading queries glob that corpus's per-dir export paths, and
  * every other twin ignores the dir. */
class OracleSqlSpec extends AnyFunSuite {
  private val exportTwins = Map(
    "q186_ndjson_audit" -> SparkEntry.NdjsonFeedBase,
    "q197_compaction_plan" -> SparkEntry.PartFilesBase,
    "q338_schema_evolution_read" -> SparkEntry.EvoParquetBase)

  test("export twins name the export paths of the dir they are built " +
    "for, and differ between two dirs only there") {
    val (a, b) = ("/data/corpus_a", "/data/corpus_b")
    val (sa, sb) = (OracleSql(a), OracleSql(b))
    exportTwins.foreach { case (q, base) =>
      val (pa, pb) = (SparkEntry.exportDir(base, a),
        SparkEntry.exportDir(base, b))
      assert(pa != pb)
      assert(sa(q).contains(pa) && !sa(q).contains(pb), q)
      assert(sb(q).contains(pb) && !sb(q).contains(pa), q)
      assert(sa(q).replace(pa, pb) == sb(q), q)
    }
    assert(sa.keySet == sb.keySet)
    (sa.keySet -- exportTwins.keySet).foreach(q => assert(sa(q) == sb(q), q))
  }
}
