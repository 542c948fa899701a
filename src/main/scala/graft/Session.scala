package graft

import org.apache.spark.sql.SparkSession

/** Shared session bootstrap: local[cpus] for the harness, but every knob is
  * the one you'd set on a real cluster (AQE, skew handling, shuffle
  * partitions sized to parallelism instead of the 200 default).
  */
object Session {
  def builder(master: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Guide §6 (r18): the default 4 MB open-cost FLOORS the scan split
      // size, so a single small parquet file scans ceil(size/4MB)-wide
      // no matter how many cores sit idle (the 11 MB lineitem file ran
      // every consumer's scan stage 3-wide on 32 cores — the dominant
      // stage of the whole relational family). With a lower open cost
      // the existing minPartitionNum default (= defaultParallelism,
      // scale-adaptive) governs: small files split to core width. At
      // cluster scale this knob only affects small-file packing — big
      // files split at maxPartitionBytes regardless — and 256 KB is a
      // sane packing charge on any non-pathological store.
      .config("spark.sql.files.openCostInBytes", "262144")
      // Guide §3.1/§9 (r17): let the planner pick shuffled-hash join
      // when its size conditions hold instead of always preferring
      // sort-merge — SHJ skips both sides' sorts and its build side is
      // still size-bounded by the planner's canBuildLocalHashMap check
      // (per-partition build < threshold), so the choice scales: on a
      // cluster the same conditions gate it, and sort-merge remains the
      // fallback for oversized builds. AQE's local-map threshold lets
      // runtime sizes rescue a planned SMJ the same way.
      // ESTIMATE-DEPENDENCE caveat (ADVICE r17): SHJ's build side cannot
      // spill, and the planner's size gate runs on ESTIMATES — a corpus
      // or scale change that badly misestimates a skewed build side
      // risks executor OOM where SMJ would have spilled. Any corpus/
      // scale change should re-check the hot joins' build sides against
      // this flag (the r17 A/B list in OPTIMIZATION_r17.md §11).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "128m")
      // Guide §4 (r18): InferFiltersFromGenerate synthesizes a
      // `size(arr) > 0 && isnotnull(arr)` filter under every explode().
      // When the array is COMPUTED (tokens/shingles — most explodes in
      // this engine), the filter re-evaluates the full array expression
      // once per row just to test emptiness (the Generate recomputes it
      // to emit rows: 2x the map CPU of every shingle explode), and
      // predicate pushdown drags that evaluation below any repartition
      // onto the raw scan — the docterms2/3 builds paid a 3.5-4 s
      // SERIAL shingle pass on the one-row-group documents scan before
      // their spread exchange (plan-verified; stage vanished with the
      // rule). Explodes of STORED arrays lose only a rarely-selective
      // isnotnull pushdown; explode itself still drops empty/null rows,
      // so results are identical by construction at any scale.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // Explicit, not inherited: every sum/multiply in the engine runs
      // under ANSI overflow semantics (Spark 4's default, pinned here so
      // a default change or ambient conf can never silently turn the
      // LongSumAuditSpec boundedness arguments into wraparounds —
      // VERDICT r12 #5's runtime net).
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // events.ts is TIMESTAMP(NANOS); Spark can only read it as bigint.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Generated-code cache sized to the session's working set: one
      // entry per MB of max heap (~3,000 in a 3 GB JVM, 7-8k in an 8 GB
      // one). Spark's default of 100 is below one round's distinct
      // generated classes, so every re-run of a plan recompiled through
      // Janino and re-JITted: Bench's warm-up pass alone holds 4,601
      // units, and at sf0.01 a timed round compiled ~7,000 at the
      // default against 107-169 uncapped (rounds 177-216 s -> 85-97 s);
      // a perfbench pass 2 recompiled ~350 of its first pass's units.
      // A resident entry costs ~105 KB of heap (post-GC heap 413 ->
      // 927 MB for ~4.9k units), so the worst case stays near 10% of the
      // heap. Guava splits maximumSize across 4 segments, hence the
      // headroom over the working set. A static conf: CodeGenerator reads
      // it once, when the first session initializes the class.
      .config("spark.sql.codegen.cache.maxEntries",
        (Runtime.getRuntime.maxMemory >> 20).toString)
      // The cache above hits only on byte-identical source, and by default
      // whole-stage codegen names each class after its stage id, which
      // under AQE differs between runs of one plan, so one pipeline planned
      // at another id compiled again: perfbench's etl_load first pass
      // compiled 345-347 classes with ids in the name and 228 without
      // (Janino time -34%), llm_session's 288 and 252, and etl_load's
      // retained heap fell ~3 MB. Engine probes keep the other per-run
      // name out of the source: they never plan a codegen'd limit
      // (BaseLimitExec numbers its counter from a JVM-global id).
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** The parsed-Int form (ADVICE r15): callers that validate
    * SPARK_GRAFT_CPUS themselves (Bench's graded-run guard) thread the
    * SAME Int here, so the recorded cpus, the pointer gate, and the
    * actual parallelism cannot diverge — formerly the raw env string
    * was re-read and interpolated into the master URL, so a value like
    * `' 32'` passed the integer guard and then died in Spark's
    * master-URL parse with an unrelated error. */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS") match {
      case Some(v) => v.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS='$v' is not an integer — refusing to " +
            "start a session at an ambiguous parallelism"))
      case None => 4
    }
    local(cpus)
  }
}
