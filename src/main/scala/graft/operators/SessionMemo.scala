package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** The session-artifact store: every "build once per (corpus, session),
  * read many times" value the engine keeps — checkpointed serving
  * frames, bucketed-table handles, table plans, driver-held centroids
  * and merge rules, memoized counts, export paths — lives here under
  * one key rule and one lifecycle.
  *
  * Key: `name:dir:applicationId`, formed here so no caller can leave
  * the session out (checkpoint blocks and table plans die with their
  * SparkContext; a session-free key could serve a stopped context's
  * blocks to a colliding later session). `name` must identify the
  * build — artifact plus any geometry/threshold it depends on.
  *
  * Tiers: [[SessionMemo.Corpus]] holds corpus-pure artifacts that live
  * for the whole session; [[SessionMemo.Round]] holds the per-round
  * sweeps a harness drops at round boundaries so repeat rounds start
  * cold. [[clear]] releases each `DataFrame` value's checkpoint blocks
  * ([[GraphOps.releaseCheckpoint]] — `Dataset.unpersist` is a no-op for
  * LogicalRDD-backed plans, and a no-op release for table handles and
  * plain scans); driver-held values are just dropped.
  *
  * Builds nest (the degree table reads the co-purchase table, which
  * reads the basket membership, which reads a table plan), so a build
  * never runs inside the map's own `computeIfAbsent` — that throws
  * "Recursive update" when two nested keys share a bin. Each key gets a
  * cell, and the build runs under that cell's lock: concurrent callers
  * of one key build once, and a build that throws leaves no entry. */
class SessionMemo {
  import SessionMemo._

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  def apply[A](tier: Tier, s: SparkSession, dir: String, name: String)
              (build: => A): A = {
    val key = s"$name:$dir:${s.sparkContext.applicationId}"
    @annotation.tailrec def get(): A = {
      val cell = cells.computeIfAbsent(key, _ => new Cell(tier, dir))
      val got = cell.synchronized {
        // A cell that left the map while this caller waited (cleared,
        // forgotten, or its build threw) is dead: retry on a fresh one.
        if (cell.value.isEmpty && (cells.get(key) eq cell))
          try cell.value = Some(build)
          catch { case e: Throwable => cells.remove(key, cell); throw e }
        cell.value
      }
      got match {
        case Some(v) => v.asInstanceOf[A]
        case None    => get()
      }
    }
    get()
  }

  /** Drop every entry of `tier`, releasing `DataFrame` values' blocks. */
  def clear(tier: Tier): Unit =
    cells.forEach { (key, cell) =>
      if (cell.tier == tier && cells.remove(key, cell))
        cell.value.foreach {
          case df: Dataset[_] => GraphOps.releaseCheckpoint(df)
          case _              => ()
        }
    }

  /** Drop the entries of every corpus dir not in `keep` WITHOUT
    * releasing their blocks — a concurrent caller may still hold the
    * frame. For sweeps that delete a dead corpus's tables and export
    * dirs: the next call for that dir rebuilds instead of returning a
    * dropped table or a deleted path. */
  def forgetDirs(keep: Seq[String]): Unit =
    cells.values.removeIf(cell => !keep.contains(cell.dir))

  /** Snapshot of the built entries of `tier`, key → value. */
  private[graft] def entries(tier: Tier): Map[String, Any] = {
    val out = Map.newBuilder[String, Any]
    cells.forEach { (key, cell) =>
      if (cell.tier == tier) cell.value.foreach(v => out += key -> v)
    }
    out.result()
  }
}

/** The engine's one session store. */
object SessionMemo extends SessionMemo {
  sealed trait Tier
  case object Corpus extends Tier
  case object Round extends Tier

  private final class Cell(val tier: Tier, val dir: String) {
    @volatile var value: Option[Any] = None
  }
}
