package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Visualization-prep operators (SURVEY.md §2.11, map-making/create-maps.py).
  * The engine's deliverable is the prepared DataFrame (name, text, bucket,
  * size) — rendering is out of scope (create-maps.py:20-48).
  */
object VizPrep {

  /** V2 (value semantics): bucket a measure through an inclusive-lower /
    * exclusive-upper `when` cascade, producing the "{lo} - {hi}" legend
    * labels of create-maps.py:37. Codegen'd CASE WHEN — scan-speed at 100 TB.
    */
  def bucketLabel(c: Column, limits: Seq[(Long, Long)]): Column = {
    val labeled: Seq[(Column, Column)] = limits.map { case (lo, hi) =>
      ((c >= lit(lo.toDouble)) && (c < lit(hi.toDouble)),
        lit(s"$lo - $hi"))
    }
    labeled.tail.foldLeft(when(labeled.head._1, labeled.head._2)) {
      case (acc, (cond, l)) => acc.when(cond, l)
    }.otherwise(lit("out of range"))
  }

  /** V1/C9: tooltip text derivation (create-maps.py:14). Only integer/string
    * casts — double→string formatting is engine-specific and never emitted.
    */
  def tooltip(name: Column, parts: (String, Column)*): Column =
    concat(name +: parts.flatMap { case (label, v) =>
      Seq(lit(s"<br>$label "), v.cast("bigint").cast("string"))
    }: _*)

  /** V3/C10: marker-size scaling (create-maps.py:31). floor() before the
    * integer cast: Spark truncates double→bigint, other engines round —
    * floor pins the semantics. */
  def markerSize(c: Column, scale: Double): Column =
    floor(c / lit(scale)).cast("bigint")
}
