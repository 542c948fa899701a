package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, when}

import graft.operators.RelationalOps

/** Write path (SURVEY.md §2.1 S6/A2): parquet table loads with the
  * reference's `INSERT ... ON CONFLICT (keys) DO NOTHING` observable
  * semantics (crime_immigration_etl.py:315-331) — existing rows win, new
  * keys append, re-running the same load is a no-op.
  *
  * Scale posture: the conflict check is one left-anti join on the key
  * (shuffle on keys); the rewrite is a full-table write — the same cost
  * any non-transactional parquet upsert pays. At warehouse scale this maps
  * to partition-overwrite or a MERGE-capable format; semantics identical.
  */
object SinkOps {

  /** Idempotent conflict-skip load. Incoming rows are deduped first-wins
    * per key under `order` (deterministic A2), then rows whose key already
    * exists in the table are dropped, the union is written via a temp dir
    * and swapped in (a parquet path cannot be overwritten while read).
    *
    * Crash safety (ADVICE r2): before reading, an interrupted prior swap is
    * recovered — a parked `path__old` with NO live table is the sole
    * surviving copy and is restored (a parked copy alongside a live table
    * is the stale leftover of a COMPLETED swap and is deleted). The swap
    * itself renames the live table aside first and deletes it only after
    * staging renames into place, so a crash at any point leaves a
    * recoverable copy at `path` or `path__old` — never silent loss.
    * SINGLE-WRITER assumption: like any non-transactional file-table swap,
    * concurrent loads to the same path are not coordinated — at warehouse
    * scale this maps onto a MERGE-capable table format or a catalog-level
    * pointer flip. */
  def loadNoConflict(spark: SparkSession, df: DataFrame, path: String,
                     keys: Seq[String], order: Seq[Column]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedSwap(fs, path)
    val incoming = RelationalOps.dedupFirst(df, keys, order)
    val hadTarget = fs.exists(new Path(path))
    val combined = if (hadTarget) {
      val existing = spark.read.parquet(path)
      existing.unionByName(
        incoming.join(existing.select(keys.map(existing(_)): _*),
          keys, "left_anti"))
    } else incoming
    swapWrite(fs, combined, path, hadTarget)
  }

  /** CDC apply — the write half of the snapshot-diff story (q58 computes
    * a diff; this applies one): `changes` carries an `opCol` of "upsert"
    * (replace-or-insert the payload row) or "delete" (remove the key).
    * One left-anti join on the touched keys + a union, then the same
    * crash-safe swap as [[loadNoConflict]] — the non-transactional
    * parquet equivalent of `MERGE WHEN MATCHED UPDATE / DELETE / WHEN NOT
    * MATCHED INSERT`. Applying the same diff twice is a no-op (upserts
    * rewrite identical rows, deletes find nothing), so a crashed-and-
    * retried apply converges. Same SINGLE-WRITER caveat as the load.
    *
    * Precondition, checked: `changes` carries at most ONE row per key —
    * true of any snapshot diff (q58's shape) by construction. Two upserts
    * of one key would both land in the table and break its key; compact
    * multi-version change feeds with
    * [[graft.operators.RelationalOps.dedupFirst]] (latest version first)
    * before applying. A key with a NULL component is refused too: it
    * equals no stored key, so its delete would remove nothing and its
    * upsert would append a fresh copy on every apply. */
  def applyCdc(spark: SparkSession, changes: DataFrame, path: String,
               keys: Seq[String], opCol: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverInterruptedSwap(fs, path)
    require(fs.exists(new Path(path)), s"applyCdc: no snapshot at $path")
    // Pin the change feed before validating it (ADVICE r5): the check
    // below is a separate action, and without materialization a
    // non-deterministic feed (freshly sampled, or re-read from a mutating
    // source) could pass validation yet hand DIFFERENT rows to the write.
    // persist() makes both actions read one materialization (and saves
    // the second scan); released after the swap.
    val pinned = changes.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Fail FAST on ops outside {upsert, delete} (incl. NULL): without the
      // check a misspelled/differently-cased op would drop its key from the
      // snapshot (every touched key is anti-joined out) while re-inserting
      // nothing — silent data loss instead of an error. One aggregate per
      // key; the first offending key found names the error. head(1) plans
      // its limit at the root, outside whole-stage codegen: a codegen'd
      // limit names its counter from a JVM-global id, so every apply
      // would compile new code.
      val okOp = coalesce(pinned(opCol).isin("upsert", "delete"), lit(false))
      val nullKey = keys.map(col(_).isNull).reduce(_ || _)
      pinned.groupBy(keys.map(pinned(_)): _*)
        .agg(count(lit(1)).as("__rows"), count(when(!okOp, 1)).as("__bad"))
        .filter(col("__bad") > 0 || nullKey || col("__rows") > 1)
        .head(1).foreach { r =>
          val key = keys.map(k => s"$k=${r.getAs[Any](k)}").mkString(", ")
          require(r.getAs[Long]("__bad") == 0,
            s"applyCdc: $opCol contains values outside {upsert, delete} " +
              s"(key $key)")
          require(!keys.exists(k => r.isNullAt(r.fieldIndex(k))),
            s"applyCdc: key ($key) has a NULL component")
          throw new IllegalArgumentException(
            s"applyCdc: key ($key) appears ${r.getAs[Long]("__rows")} " +
              "times; compact the feed to one row per key")
        }
      val existing = spark.read.parquet(path)
      val touched = pinned.select(keys.map(pinned(_)): _*).distinct()
      val survivors = existing.join(touched, keys, "left_anti")
      val upserts = pinned.filter(pinned(opCol) === "upsert").drop(opCol)
      swapWrite(fs, survivors.unionByName(upserts), path, hadTarget = true)
    } finally pinned.unpersist(blocking = false)
  }

  /** Small-file compaction — the table-maintenance half of an
    * append-heavy sink: incremental loads and streaming micro-batches
    * leave a table as thousands of KB-sized parquet files, and at scale
    * the per-file open/footer/seek overhead (plus driver-side listing)
    * dominates scan cost long before IO does. Rewrites the table into
    * `ceil(bytes / targetBytes)` files via the same crash-safe
    * stage-and-swap as [[loadNoConflict]] (single-writer caveat
    * likewise). Row-level content is unchanged — compaction must be
    * read-invisible, the spec pins count+content equality.
    *
    * Returns (filesBefore, filesAfter). A no-op (already ≤ target
    * count) skips the rewrite entirely — safe to run on a schedule. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    recoverInterruptedSwap(fs, path)
    val dataFiles = fs.listStatus(new Path(path))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = dataFiles.length
    val bytes = dataFiles.map(_.getLen).sum
    val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (want >= before) (before, before)
    else {
      swapWrite(fs, spark.read.parquet(path).coalesce(want), path,
        hadTarget = true)
      val after = fs.listStatus(new Path(path))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      (before, after)
    }
  }

  /** Recover an interrupted prior swap so readers below always see the
    * true table state: a parked `path__old` with NO live table is the
    * sole surviving copy and is restored; alongside a live table it is
    * the stale leftover of a COMPLETED swap and is deleted. */
  private def recoverInterruptedSwap(fs: org.apache.hadoop.fs.FileSystem,
                                     path: String): Unit = {
    val target = new Path(path)
    val old = new Path(path + "__old")
    if (fs.exists(old)) {
      if (fs.exists(target)) fs.delete(old, true) // completed swap leftover
      else if (!fs.rename(old, target))
        throw new IllegalStateException(
          s"crash recovery: restore $old -> $target failed")
    }
  }

  /** Stage-then-swap write: stage to `path__staging`, park the live table
    * at `path__old`, rename staging into place, drop the parked copy — a
    * crash at any point leaves a recoverable copy at `path` or
    * `path__old`, never silent loss. */
  private def swapWrite(fs: org.apache.hadoop.fs.FileSystem, df: DataFrame,
                        path: String, hadTarget: Boolean): Unit = {
    val target = new Path(path)
    val tmp = new Path(path + "__staging")
    val old = new Path(path + "__old")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (hadTarget && !fs.rename(target, old))
      throw new IllegalStateException(s"rename $target -> $old failed")
    if (!fs.rename(tmp, target)) {
      // restore the old table before failing — never leave `path` empty
      if (hadTarget) fs.rename(old, target)
      throw new IllegalStateException(s"rename $tmp -> $target failed")
    }
    if (hadTarget) fs.delete(old, true)
  }
}
