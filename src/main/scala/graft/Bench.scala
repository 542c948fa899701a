package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Benchmark main — times every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Measurement rules (VERDICT r1 "what's wrong" #1-3):
  *  - materialize with a hash-aggregate over ALL output columns, not
  *    `.count()` — count lets Catalyst prune the very projections being
  *    timed (r1's q13 "ran" in 0.2s because the window was elided);
  *  - one untimed warmup pass absorbs JVM/codegen warmup (r1 charged ~4s
  *    of it to whichever query ran first): its generated classes stay in
  *    the session's heap-sized codegen cache (`Session.builder`), so a
  *    timed round compiles only code that differs from run to run —
  *    stderr reports each round's compiles and the rows that paid them;
  *  - the JSON line goes to BENCH_OUT (or stdout marker-prefixed) so the
  *    driver can parse it out of sbt log noise.
  */
object Bench {
  /** Forces computation of every output column: xxhash64 across the row,
    * folded with bit_xor (overflow-free under ANSI, unlike sum). Nothing
    * upstream can be pruned because every column feeds the hash; the result
    * is one Long on the driver. */
  private def materialize(df: DataFrame): Unit = {
    val cols = df.columns.map(c => col(c).cast("string"))
    df.select(xxhash64(cols: _*).as("h")).agg(bit_xor(col("h"))).collect()
  }

  /** Times one row; a row that throws is logged and contributes no time. */
  private def timeRow(nm: String)(body: => Unit): (String, Option[Double]) = {
    val t0 = System.nanoTime()
    try {
      body
      nm -> Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $nm failed: ${e.getMessage}")
      nm -> None
    }
  }

  /** Generated classes compiled so far in this JVM (each a codegen-cache
    * miss through Janino) and their total compile time in ms. */
  private def codegenSoFar(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1000000)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // BENCH_ONLY=q06_json_coerce,q25_minhash_lsh — subset filter for
    // targeted perf work; the driver never sets it, so graded runs always
    // time the full suite.
    // An empty/blank BENCH_ONLY means "no filter", not "zero queries" —
    // an accidentally empty export would otherwise produce an empty
    // graded run (and, combined with the full-run-only BENCH_last
    // guard, silently no refreshed pointer).
    val only = sys.env.get("BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // Parallelism guard (VERDICT r14 #5 + ADVICE r14): SPARK_GRAFT_CPUS
    // must PARSE — a typo'd value formerly rode into the JSON unquoted
    // (invalid file) and an equivalent-but-unequal spelling ("032") ran
    // graded but skipped the pointer. And a FULL-surface run on the
    // graded corpus refuses to start when the env is unset entirely:
    // Session.local's 4-core default produced half a session of
    // plausible-looking but non-comparable numbers in r14 before anyone
    // noticed. Subset/off-corpus probes still run at the default (with
    // a banner), since those are explicitly non-graded.
    val cpusEnv = sys.env.get("SPARK_GRAFT_CPUS")
    val cpus: Int = cpusEnv.map(_.trim) match {
      case Some(v) => v.toIntOption.getOrElse {
        System.err.println(
          s"[bench] SPARK_GRAFT_CPUS='$v' is not an integer — refusing " +
            "to run at an ambiguous parallelism")
        sys.exit(2)
      }
      case None =>
        if (only.isEmpty && sfDir == "/root/testdata/sf0.1") {
          System.err.println(
            "[bench] SPARK_GRAFT_CPUS is UNSET for a full-surface run " +
              "on the graded corpus — this is how r14 burned half a " +
              "session timing local[4]. Export SPARK_GRAFT_CPUS=32 " +
              "(the graded parallelism) and re-run.")
          sys.exit(2)
        }
        System.err.println(
          "[bench] SPARK_GRAFT_CPUS unset — running a NON-GRADED probe " +
            "at the local[4] default; numbers are not comparable to the " +
            "graded local[32] history")
        4
    }
    // Mutual exclusion with Verify and the sweep-running test suites
    // (VERDICT r14 #6): a concurrent JVM sweeping /tmp exports or the
    // warehouse mid-run corrupts whichever process loses the race.
    HarnessLock.acquireOrDie("bench")
    // The PARSED Int, not the raw env string (ADVICE r15): one value
    // feeds the master URL, the pointer gate, and the recorded JSON.
    val spark = Session.local(cpus)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Warehouse hygiene: evict per-corpus serving TABLES left behind by
    // OTHER corpus dirs (each bench run serves exactly one). Export
    // dumps are excluded — they are oracle-shared state a concurrent or
    // subsequent Verify+compare for another corpus still reads; Verify
    // sweeps them on its own runs.
    try SparkEntry.dropStaleArtifacts(spark, Seq(sfDir),
      includeExports = false)
    catch { case e: Throwable =>
      System.err.println(s"[bench] stale-artifact sweep failed: ${e.getMessage}") }
    // Warm the session serving ARTIFACTS (bucketed co-purchase + tf
    // tables) ONCE per JVM: they are corpus prep shared by whole
    // families, corpus-pure and round-invariant — the former per-round
    // re-warm re-wrote identical tables every round (ADVICE r11). Round
    // resets clear only the checkpoint sweeps; the artifact memos
    // survive. Since r18 (VERDICT r17 #1) full-surface runs TIME each
    // warm build as its own "artifact:warm:*" row, summed into the
    // total like every other row, so zero derived-table build cost sits
    // outside the timed rows; the builds still run once per JVM (a
    // repeat call is a memo hit — re-timing it would read ~0). Subset
    // (BENCH_ONLY) probes keep the untimed warm: they are non-graded
    // targeted timings and the warm rows would pollute paired subsets.
    val warmTimed: Seq[(String, Option[Double])] =
      if (only.isEmpty) {
        // One trivial untimed action first: query rows get JVM/codegen
        // warmup absorbed by the untimed warmup pass (the r1 rule); the
        // artifact:warm rows run before that pass, so without this the
        // alphabetically-first build would carry scheduler/classloading
        // startup that is not build cost. The 2 KB region scan warms
        // the scheduler + parquet reader path, none of the builds' work.
        try materialize(Tables(spark, sfDir, "region"))
        catch { case _: Throwable => () }
        SparkEntry.warmArtifactBuilders(sfDir).map { case (nm, build) =>
          timeRow(nm)(build(spark))
        }
      } else {
        try SparkEntry.warmSessionArtifacts(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] artifact warm failed: ${e.getMessage}") }
        Seq.empty
      }
    // Warmup: run everything once untimed (codegen + classloading + IO
    // cache). The classes it compiles stay cached for the timed rounds.
    names.foreach { n =>
      try materialize(SparkEntry.queries(n)(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $n failed: ${e.getMessage}") }
    }
    spark.catalog.clearCache()
    SparkEntry.clearSessionSweeps()
    // Repeat-measured timing: this host shares cores with co-tenants
    // (observed 8x swings on identical runs; r2's q09 graded 9.0s vs
    // 0.66s quiet). Each query is timed in N INTERLEAVED rounds — the
    // whole query list runs N times, not each query N times
    // back-to-back — because contention bursts are time-local:
    // back-to-back repeats share the same burst, spaced repeats don't.
    // The JSON reports per-query MEDIAN (primary) and min, plus a
    // suite-level relative-spread figure, so a consumer can tell a plan
    // regression from measurement noise (VERDICT r11 #1). A run that
    // throws contributes NO time — a query with zero successful runs is
    // reported only under "failures" so the driver can tell a broken
    // query from a fast one.
    val repeats = sys.env.getOrElse("BENCH_REPEATS", "3").toInt max 1
    // Artifact attribution (VERDICT r16 #2): on full-surface runs each
    // round PRE-BUILDS the per-round session sweeps, timed as their own
    // "artifact:*" rows in the queries map — the per-round rebuild is
    // still paid (and counted in the total) every round, but its cost no
    // longer lands on whichever consumer runs first alphabetically
    // (q102 carried the near-dup pair sweep, q262 the vote table), so
    // the per-query medians read true post-build query cost. Subset
    // (BENCH_ONLY) probes skip the pre-build: they are non-graded and
    // pre-building every sweep would charge unrelated work to a
    // targeted timing.
    val artBuilders =
      if (only.isEmpty) SparkEntry.roundSweepBuilders(sfDir) else Seq.empty
    val timed = (1 to repeats).flatMap { round =>
      // Cache lifecycle (ADVICE/VERDICT r3): drop persisted intermediates
      // (LSH candidate sets) AND the session pair sweep BETWEEN rounds.
      // Within a round, queries that share machinery (q25/q35/q61/q66
      // via the near-dup sweep, q39 via plan-keyed cache reuse) reuse
      // one candidate build — exactly what a production session sweeping
      // the suite would see — but a repeat round starts cold instead of
      // silently timing last round's warm checkpoint, and nothing
      // survives the run.
      spark.catalog.clearCache()
      SparkEntry.clearSessionSweeps()
      // Codegen accounting: a steady round compiles (almost) nothing, so
      // every compile is named with the row that paid it, costliest first.
      val (k0, ms0) = codegenSoFar()
      val compiled = Seq.newBuilder[(String, Long, Long)]
      def row(nm: String)(body: => Unit): (String, Option[Double]) = {
        val (kb, msb) = codegenSoFar()
        val r = timeRow(nm)(body)
        val (ka, msa) = codegenSoFar()
        if (ka > kb) compiled += ((nm, ka - kb, msa - msb))
        r
      }
      val rows =
        artBuilders.map { case (nm, build) => row(nm)(build(spark)) } ++
          names.map(n =>
            row(n)(materialize(SparkEntry.queries(n)(spark, sfDir))))
      val (k1, ms1) = codegenSoFar()
      val who = compiled.result().sortBy { case (nm, k, ms) => (-ms, -k, nm) }
        .map { case (nm, k, ms) => s"$nm($k, $ms ms)" }
      System.err.println(s"[bench] round $round codegen: ${k1 - k0} " +
        s"compiles, ${ms1 - ms0} ms" +
        (if (who.isEmpty) "" else who.mkString("; in ", " ", "")))
      rows
    }
    spark.catalog.clearCache()
    SparkEntry.clearSessionSweeps()
    val byName =
      (warmTimed ++ timed).groupBy(_._1).view.mapValues(_.flatMap(_._2))
    // Per-query stats over the N interleaved rounds (VERDICT r11 #1: a
    // single timed round made round-over-round diffs noise-bound —
    // 1.5-1.65x swings on untouched queries). MEDIAN is the primary
    // figure ("queries", and what "value" sums): robust to one
    // contention burst in either direction, where min understates real
    // cost and mean chases outliers. Min rides along ("queries_min") as
    // the quiet-host floor, and "noise" is the median across queries of
    // each query's relative spread (max-min)/median — a round whose
    // noise exceeds a few percent cannot support per-query conclusions.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val stats: Seq[(String, Option[(Double, Double, Double)])] =
      (warmTimed.map(_._1) ++ artBuilders.map(_._1) ++ names).map { n =>
        val ts = byName.getOrElse(n, Seq.empty)
        n -> (if (ts.isEmpty) None
              else Some((median(ts), ts.min, ts.max)))
      }
    // Failed queries (no successful run) are reported ONLY under
    // "failures" — a -1.0 sentinel in the queries map reads as a timing to
    // naive per-query consumers diffing rounds (ADVICE r8).
    val ok = stats.collect { case (k, Some(v)) => (k, v) }
    val qs = ok.map { case (k, (med, _, _)) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val qsMin = ok.map { case (k, (_, mn, _)) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val failed = stats.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = ok.map(_._2._1).sum
    val totalMin = ok.map(_._2._2).sum
    val noise =
      if (ok.isEmpty) -1.0
      else median(ok.map { case (_, (med, mn, mx)) =>
        if (med > 0) (mx - mn) / med else 0.0 })
    // n_queries/sec_per_query: the suite GROWS between rounds (18 queries
    // in r1, 52 by r4) — raw totals are not comparable across rounds
    // without the count.
    val n = ok.size
    val perQ = if (n > 0) total / n else -1.0
    // cpus (the parsed Int from the guard above) rides along so a
    // consumer can tell runs at different parallelism apart — a local[4]
    // run's totals are not comparable to the driver's graded local[32]
    // history (r14: a builder session ran the whole suite without
    // SPARK_GRAFT_CPUS and the 4-core numbers looked plausible enough to
    // almost enter the record).
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$n,"sec_per_query":$perQ,"repeats":$repeats,"total_min":$totalMin,"noise_rel_spread":$noise,"cpus":$cpus,"queries":$qs,"queries_min":$qsMin,"failures":$failed,"sf":"$sfDir"}"""
    // File sink for the driver (stdout is interleaved with sbt/log noise).
    sys.env.get("BENCH_OUT").orElse(Some("BENCH.json")).foreach { p =>
      Files.writeString(Paths.get(p), json + "\n")
    }
    println(json)
    System.out.flush()
    spark.stop()
    // Re-emit AFTER shutdown so the JSON is the LAST stdout line: the
    // driver's tail capture was slicing the (pre-stop) line mid-way once
    // Spark's shutdown logging landed after it (`parsed` null in 4 of 5
    // rounds — VERDICT r5 #8; still null in r6, so also mirror to stderr
    // and repo-local BENCH_last.json — whichever stream/path the driver
    // snapshots, one of them carries an unsliced copy).
    println(json)
    System.out.flush()
    System.err.println(json)
    System.err.flush()
    // Only a FULL-surface run may update the repo-local last pointer: a
    // BENCH_ONLY subset would shadow the last complete run with a
    // 3-query total and mislead round-over-round diffs (ADVICE r8).
    // And only a QUIET one on the GOLD path (VERDICT r12 #3): SCALE.md's
    // trust protocol treats per-query deltas as plan signal only when
    // noise_rel_spread <= 0.15, so a louder full run must not shadow the
    // last quiet pointer — it lands in BENCH_last_loud.json instead
    // (recorded, never diffed query-by-query).
    // ...and only on the GRADED corpus: a full-surface probe run at
    // another SF (the sf1 scale corpus) reports numbers that are not
    // comparable to the pointer's history and must not shadow it.
    // ...and only at the GRADED parallelism (r14): the driver runs
    // local[32] (BENCH_r13.json records cpus: 32); a run at another
    // core count — e.g. Session.local's 4-core default when
    // SPARK_GRAFT_CPUS is unset — reports totals on a different
    // machine shape and must not touch either pointer file.
    //
    // LOUD-EPOCH FALLBACK (VERDICT r15 #1): 18 consecutive full-surface
    // runs across three sessions exceeded the 0.15 quiet gate — "wait
    // for a quiet epoch" stopped being a rule that ever fires on this
    // host, leaving the absolute record four rounds stale while the
    // paired A/B protocol carried every relative claim. The quiet gate
    // stays the gold path, but every full graded run now also appends a
    // compact record to BENCH_loud_history.jsonl, and once the trailing
    // drought reaches >= 6 consecutive loud attempts, the pointer
    // refreshes from the MEDIAN of the most recent >= 3 same-commit
    // clean-tree runs (median-of-medians per query; the honest
    // loud-epoch absolute, provenance recorded in the JSON). The
    // displaced quiet-gate record is archived once to
    // BENCH_last_quiet.json. See SCALE.md "Loud-epoch absolute record".
    if (only.isEmpty && sfDir == "/root/testdata/sf0.1" && cpus == 32) {
      val quiet = noise >= 0.0 && noise <= 0.15
      val (commit, tree, dirty) = BenchPointer.gitInfo()
      val histLine =
        s"""{"ts":${System.currentTimeMillis()},"commit":"$commit","tree":"$tree","dirty":$dirty,"quiet":$quiet,"value":$total,"total_min":$totalMin,"noise_rel_spread":$noise,"n_queries":$n,"cpus":$cpus,"queries":$qs,"queries_min":$qsMin}"""
      val base = Paths.get(".")
      try BenchPointer.appendHistory(base, histLine)
      catch { case _: Throwable => () }
      if (quiet) {
        try Files.writeString(Paths.get("BENCH_last.json"), json + "\n")
        catch { case _: Throwable => () }
      } else {
        try Files.writeString(Paths.get("BENCH_last_loud.json"), json + "\n")
        catch { case _: Throwable => () }
        try BenchPointer.maybeRefreshFromLoudEpoch(base, tree, commit, n)
          .foreach { rec =>
            System.err.println(
              "[bench] loud-epoch fallback refreshed BENCH_last.json " +
                s"(commit $commit): $rec")
          }
        catch { case e: Throwable =>
          System.err.println(
            s"[bench] loud-epoch pointer fallback failed: ${e.getMessage}") }
      }
    }
  }
}
