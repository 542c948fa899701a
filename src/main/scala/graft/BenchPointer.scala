package graft

import java.nio.file.{Files, Path, StandardOpenOption}

/** Absolute-record pointer logic for the bench harness (VERDICT r15
  * #1). The 0.15 quiet gate stays the gold path, but by the end of r15
  * it had failed 18 consecutive full-surface attempts across three
  * sessions — a rule that never fires on this host — so the absolute
  * record gains a protocol-blessed loud-epoch path:
  *
  *  1. every full graded run appends a compact record to
  *     `BENCH_loud_history.jsonl` (commit, src-dirty flag, quiet flag,
  *     totals, noise, per-query maps);
  *  2. once the TRAILING history is >= [[DroughtThreshold]] consecutive
  *     loud attempts, the pointer refreshes from the newest <=
  *     [[MaxConstituents]] same-commit clean-src-tree runs in that
  *     tail, provided >= [[MinConstituents]] qualify — the
  *     median-of-runs (median-of-medians per query, min-of-mins floor),
  *     with provenance, rule, commit, and every constituent inlined;
  *  3. the displaced quiet-gate record is archived once to
  *     `BENCH_last_quiet.json`.
  *
  * Median-of-runs, not best-run: loud epochs are SIGNED (SCALE.md's
  * paired-protocol evidence), so a loud session's best run overstates
  * the tree the same way min-of-3 does within one. Same-commit +
  * clean-tree constituency: a session's spaced runs often straddle code
  * changes, and pooling across trees would launder a mid-session
  * optimization into the older code's record — the fallback only ever
  * certifies the final committed tree.
  *
  * All filesystem paths hang off an injectable base directory so the
  * spec can exercise the full arm/refresh/disarm protocol against a
  * temp dir instead of the live repo pointer files. */
object BenchPointer {
  /** Drought length that arms the fallback: the quiet gate has failed
    * this many consecutive full graded attempts (~ two sessions' worth;
    * the observed droughts were 10 and 18). */
  val DroughtThreshold = 6
  /** Pool at least this many same-measured-tree clean runs... */
  val MinConstituents = 3
  /** ...and at most this many (newest first), so the record tracks the
    * current tree's spaced runs, not a long-dead epoch. */
  val MaxConstituents = 4

  def historyPath(base: Path): Path = base.resolve("BENCH_loud_history.jsonl")

  /** (HEAD sha, measured-tree id, src-tree-dirty).
    *
    * The MEASURED-TREE id — the joined git object ids of `src/`,
    * `build.sbt`, and `project/` at HEAD — is the constituent-pool
    * identity, not the commit sha: a docs/records-only commit
    * mid-session changes HEAD without changing a byte the benchmark
    * measures, and keying on the sha would split an otherwise-valid
    * pool across it (observed immediately in r16: the round-record
    * commit landed between spaced full runs). The sha rides along for
    * human provenance in the written record.
    *
    * `dirty` looks only at the same measured paths; pointer and record
    * files churn during a bench session and must not make every
    * subsequent run ineligible. Unknown git state reads as dirty: a
    * run we can't attribute to a tree can never pool into an absolute
    * record. */
  def gitInfo(): (String, String, Boolean) =
    try {
      def run(cmd: String*): String = {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        p.waitFor()
        out
      }
      val sha = run("git", "rev-parse", "HEAD")
      val treeIds = run("git", "rev-parse",
        "HEAD:src", "HEAD:build.sbt", "HEAD:project")
        .linesIterator.toSeq
      val tree =
        if (treeIds.size == 3 && treeIds.forall(_.matches("[0-9a-f]{40}")))
          treeIds.mkString("+")
        else "unknown"
      val dirty = run("git", "status", "--porcelain", "--",
        "src", "build.sbt", "project").nonEmpty
      if (sha.matches("[0-9a-f]{40}")) (sha, tree, dirty)
      else ("unknown", "unknown", true)
    } catch { case _: Throwable => ("unknown", "unknown", true) }

  def appendHistory(base: Path, line: String): Unit =
    Files.writeString(historyPath(base), line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  // Minimal parsers for OUR OWN history lines (the repo carries no JSON
  // library): flat numeric/string/bool fields plus the two flat
  // {"name":num,...} query maps — nothing nested, so regex extraction
  // is exact, not approximate.
  private[graft] def jNum(l: String, k: String): Option[Double] =
    ("\"" + k + "\":(-?[0-9][0-9.eE+-]*)").r.findFirstMatchIn(l)
      .map(_.group(1).toDouble)
  private[graft] def jStr(l: String, k: String): Option[String] =
    ("\"" + k + "\":\"([^\"]*)\"").r.findFirstMatchIn(l).map(_.group(1))
  private[graft] def jBool(l: String, k: String): Option[Boolean] =
    ("\"" + k + "\":(true|false)").r.findFirstMatchIn(l)
      .map(_.group(1) == "true")
  private[graft] def jMap(l: String, k: String): Map[String, Double] =
    ("\"" + k + "\":\\{([^}]*)\\}").r.findFirstMatchIn(l)
      .map(_.group(1)).getOrElse("")
      .split(",").iterator.filter(_.contains(":")).map { kv =>
        val i = kv.lastIndexOf(':')
        kv.take(i).trim.stripPrefix("\"").stripSuffix("\"") ->
          kv.drop(i + 1).toDouble
      }.toMap

  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Evaluate the fallback after a LOUD full graded run: arm on the
    * drought, pool same-measured-tree clean constituents, refresh
    * `BENCH_last.json` under `base` when enough qualify. Returns the
    * record written, or None with the (logged) reason it did not fire.
    * A quiet entry anywhere in the tail disarms — the gold path already
    * refreshed the pointer. History lines written before the tree-id
    * field existed fall back to their commit sha for identity. */
  def maybeRefreshFromLoudEpoch(base: Path, tree: String, commit: String,
                                n: Int): Option[String] = {
    val hp = historyPath(base)
    if (!Files.exists(hp) || tree == "unknown") return None
    val lines = scala.jdk.CollectionConverters
      .ListHasAsScala(Files.readAllLines(hp)).asScala.toSeq
      .filter(_.nonEmpty)
    val drought = lines.reverse.takeWhile(l =>
      !jBool(l, "quiet").getOrElse(false))
    if (drought.size < DroughtThreshold) return None
    val eligible = drought.filter { l =>
      val id = jStr(l, "tree")
      (id.contains(tree) ||
        (id.isEmpty && commit != "unknown" &&
          jStr(l, "commit").contains(commit))) &&
        !jBool(l, "dirty").getOrElse(true) &&
        jNum(l, "n_queries").contains(n.toDouble) &&
        jNum(l, "cpus").contains(32.0)
    }.take(MaxConstituents) // newest first (drought is reversed)
    if (eligible.size < MinConstituents) return None
    // Archive the displaced quiet-gate record exactly once.
    val last = base.resolve("BENCH_last.json")
    val archive = base.resolve("BENCH_last_quiet.json")
    if (Files.exists(last)) {
      val prev = Files.readString(last)
      if (!prev.contains("\"provenance\"") && !Files.exists(archive))
        Files.writeString(archive, prev)
    }
    val totals = eligible.flatMap(jNum(_, "value"))
    val totalMins = eligible.flatMap(jNum(_, "total_min"))
    val noises = eligible.flatMap(jNum(_, "noise_rel_spread"))
    val qMaps = eligible.map(jMap(_, "queries"))
    val qMinMaps = eligible.map(jMap(_, "queries_min"))
    val names = qMaps.head.keySet.filter(k => qMaps.forall(_.contains(k)))
      .toSeq.sorted
    val qs = names.map(q => "\"" + q + "\":" + med(qMaps.map(_(q))))
      .mkString("{", ",", "}")
    val qsMin = names.map(q =>
        "\"" + q + "\":" + qMinMaps.flatMap(_.get(q)).min)
      .mkString("{", ",", "}")
    val cons = eligible.map { l =>
      s"""{"ts":${jNum(l, "ts").getOrElse(0.0).toLong},"value":${jNum(l, "value").getOrElse(-1.0)},"total_min":${jNum(l, "total_min").getOrElse(-1.0)},"noise_rel_spread":${jNum(l, "noise_rel_spread").getOrElse(-1.0)}}"""
    }.mkString("[", ",", "]")
    val rec =
      s"""{"metric":"total","value":${med(totals)},"unit":"sec","n_queries":$n,"sec_per_query":${med(totals) / n},"total_min":${totalMins.min},"noise_rel_spread":${med(noises)},"cpus":32,"provenance":"loud_epoch_median","rule":"drought>=$DroughtThreshold loud full runs; median of ${eligible.size} same-measured-tree clean runs","commit":"$commit","tree":"$tree","constituents":$cons,"queries":$qs,"queries_min":$qsMin,"sf":"/root/testdata/sf0.1"}"""
    Files.writeString(last, rec + "\n")
    Some(rec)
  }
}
