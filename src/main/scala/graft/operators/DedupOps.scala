package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact (content
  * hash), near-dup via MinHash + banded LSH, and SimHash. Zero UDFs — every
  * hash is an md5-prefix expression (see [[TextOps.hash32]]) so the DuckDB
  * oracle twins bit-for-bit.
  *
  * Scale posture (the part that matters at 100 TB):
  *  - exact dedup = one hash + one shuffle on the hash key;
  *  - near-dup NEVER goes all-pairs: candidates come from a self-join on
  *    (band, bandHash) — cost O(sum of bucket sizes squared), which for
  *    non-degenerate data is ~linear; the expensive Jaccard verify runs
  *    only on candidates;
  *  - minhash signatures are K min-aggregates computed in ONE shuffle
  *    (groupBy doc), not K passes; band hashes are projections on top;
  *  - simhash is two map-side-combinable shuffles (doc×bit, then doc).
  */
object DedupOps {

  /** Signature width: K hashes in B bands of R rows (K = B*R). Tuned on the
    * corpus: 4 bands × 3 rows gives 100% recall at Jaccard ≥ 0.8 with ~2×
    * candidate over-generation (48 candidates / 25 true pairs at sf0.01).
    * Constants delegate to the native kernel's canonical definitions —
    * one source of truth for Scala, codegen, and the oracle SQL. */
  val K: Int = graft.functions.MinHashSig.K
  val Bands = 4
  val RowsPerBand = 3

  /** Permutation k: h_k(x) = (a_k * x + b_k) mod P, a_k odd. */
  def aCoef(k: Int): Long = graft.functions.MinHashSig.aCoef(k)
  def bCoef(k: Int): Long = graft.functions.MinHashSig.bCoef(k)

  def minhashExpr(h: Column, k: Int): Column =
    min((lit(aCoef(k)) * h + lit(bCoef(k))) % lit(TextOps.HashPrime))

  /** A2-style exact dedup report: one row per distinct content hash with
    * the surviving (minimum) id and the duplicate count. */
  def exactDedupSummary(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), md5(col(text)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(id)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature as a SHUFFLE-FREE map-side expression via
    * the native [[graft.functions.MinHashSig]] kernel: each shingle hashed
    * once, all K minima in one pass. (Evolution: r2 first exploded +
    * groupBy'd — 60× row amplification plus a shuffle; then K interpreted
    * array_min/transform folds; the native kernel removes the per-element
    * lambda interpretation too.) Docs with no shingles are dropped (same
    * as the group-by formulation). Output: id, mh0..mh{K-1}. */
  def minhashSignatures(df: DataFrame, id: String, shingleSet: Column): DataFrame =
    df.filter(size(shingleSet) > 0)
      .select(col(id), call_function("minhash_sig", shingleSet).as("__sig"))
      .select(col(id) +: (0 until K).map(k =>
        element_at(col("__sig"), k + 1).as(s"mh$k")): _*)

  /** Banded LSH keys: md5 over the comma-joined rows of each band. One row
    * per (id, band). `stack` unpivots the B band columns without a shuffle. */
  def lshBands(sigs: DataFrame, id: String): DataFrame = {
    val bandCols: Seq[Column] = (0 until Bands).flatMap { b =>
      val rows = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(k => col(s"mh$k").cast("string"))
      Seq(lit(b), md5(concat_ws(",", rows: _*)))
    }
    sigs.select(col(id),
      stack(Seq(lit(Bands)) ++ bandCols: _*).as(Seq("band", "band_hash")))
  }

  /** Fused-kernel pair for [[nearDupPairsTracked]]: `sig` replaces the
    * composable shingle→minhash pipeline on the full-corpus scan, and
    * `hashedSet` replaces the shingle→hash32→distinct build on candidate
    * docs with a SORTED set whose pairwise intersection merges in O(n+m)
    * ([[graft.functions.SortedIntersectCount]]) instead of hashing. Both
    * are spec-pinned bit-identical to the composable forms. */
  final case class NearDupKernels(sig: Column, hashedSet: Column)

  /** Char-n-gram kernel pair (fused [[graft.functions.NGramMinHashSig]] /
    * [[graft.functions.NGramHashSet]] over the raw text). */
  def charKernels(text: Column, n: Int): NearDupKernels = NearDupKernels(
    call_function("char_minhash_sig", text, lit(n)),
    call_function("char_shingle_hashset", text, lit(n)))

  /** Word-n-gram kernel pair (single-space tokenization). */
  def wordKernels(text: Column, n: Int): NearDupKernels = NearDupKernels(
    call_function("word_minhash_sig", text, lit(n)),
    call_function("word_shingle_hashset", text, lit(n)))

  /** Near-dup pairs: LSH candidates (same band hash in any band), verified
    * with exact Jaccard over the shingle sets, thresholded. `shingles` is
    * the shingle EXPRESSION over `docs`' columns — passed as an
    * expression (not a precomputed column) so the verify stage can apply
    * it after its candidate semi-join instead of paying two more
    * whole-corpus evaluations. Multiplicity is fine (prefer the cheaper
    * `*ShinglesMulti` forms): the signature stage is duplicate-invariant
    * (min over duplicates == min over distinct) and the verify stage
    * dedupes after hashing, so distinct-form and multi-form inputs give
    * identical pairs — the multi form just skips a per-row hash-set
    * build on the full-corpus scan.
    *
    * Cache lifecycle: the returned plan holds a persisted candidate set
    * (see [[nearDupPairsTracked]]) that lives until the session ends or
    * the caller releases it. One-shot consumers should prefer
    * [[withNearDupPairs]], which unpersists deterministically; long-lived
    * sessions sweeping many corpora with THIS entry point should
    * `spark.catalog.clearCache()` between sweeps (ADVICE r3). */
  def nearDupPairs(docs: DataFrame, id: String, shingles: Column,
                   threshold: Double,
                   kernels: Option[NearDupKernels] = None): DataFrame =
    nearDupPairsTracked(docs, id, shingles, threshold, kernels)._1

  /** Loan-pattern wrapper owning the candidate-cache lifecycle: hands the
    * verified-pairs plan to `use`, then unpersists the candidate set in a
    * finally — no CacheManager entry survives the call. `use` must fully
    * consume the plan (any action); a DataFrame leaked out of `use` and
    * executed later recomputes candidates uncached (correct, just slower). */
  def withNearDupPairs[T](docs: DataFrame, id: String, shingles: Column,
                          threshold: Double,
                          kernels: Option[NearDupKernels] = None)
                         (use: DataFrame => T): T = {
    val (pairs, cached) =
      nearDupPairsTracked(docs, id, shingles, threshold, kernels)
    try use(pairs)
    finally cached.foreach(_.unpersist(blocking = false))
  }

  /** [[nearDupPairs]] plus the persisted intermediate handles for lifecycle
    * control: (verified pairs, cached plans to unpersist when done).
    *
    * `kernels`: optional fused-kernel pair (see [[NearDupKernels]],
    * built by [[charKernels]]/[[wordKernels]]) replacing the interpreted
    * higher-order shingle pipelines on both the signature scan and the
    * candidate-doc verify build. Results are bit-identical either way;
    * the generic path stays for arbitrary shingle expressions. */
  def nearDupPairsTracked(docs: DataFrame, id: String, shingles: Column,
                          threshold: Double,
                          kernels: Option[NearDupKernels] = None)
  : (DataFrame, Seq[DataFrame]) = {
    val sigs = kernels match {
      case Some(kn) =>
        docs.select(col(id), kn.sig.as("__sig"))
          .filter(col("__sig").isNotNull)
          .select(col(id) +: (0 until K).map(k =>
            element_at(col("__sig"), k + 1).as(s"mh$k")): _*)
      case None => minhashSignatures(
        docs.select(col(id), shingles.as("__shingles")), id, col("__shingles"))
    }
    // Persist the band keys: B rows of (id, band, band_hash) per doc — the
    // smallest representation of the whole signature pipeline. The
    // candidate self-join references it twice, and without materialization
    // each side recomputes every shingle + K minhashes over the full
    // corpus (ReusedExchange does NOT cover it: the two sides carry
    // different aliases under one join, so their canonicalized subtrees
    // differ). Measured r4 (sf0.1 char-8-grams): cold q39 13.9s with only
    // the candidate set persisted -> ~6s persisting bands too.
    val bands = lshBands(sigs, id)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = bands.select(col(id).as("id_a"),
      col("band"), col("band_hash"))
    val right = bands.select(col(id).as("id_b"),
      col("band").as("band_r"), col("band_hash").as("band_hash_r"))
    // The candidate set is referenced three times below (pair join + the
    // candidate-doc semi-join); it is tiny relative to the corpus (pairs
    // sharing a band), so persist it — replicated-recoverable
    // (re-derivable from lineage on executor loss), lazily materialized
    // (no job at query-construction time), spills if ever not tiny.
    // ADVICE r2: the previous eager localCheckpoint() stored it
    // non-replicated AND un-re-derivable. Lifecycle (ADVICE r3): released
    // by [[withNearDupPairs]] or by the caller via the
    // [[nearDupPairsTracked]] handles; the CacheManager keys entries by
    // canonicalized plan, so repeated invocations over the same
    // (docs, shingles) reuse one entry rather than piling up.
    val candidates = left.join(right,
        col("band") === col("band_r") &&
          col("band_hash") === col("band_hash_r") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Verify only candidate docs: ONE semi-join of the raw docs against
    // the union of both pair sides, with the expensive shingle expression
    // projected above it — so shingles are re-evaluated once per candidate
    // doc, not once per side (docs on both ends of pairs were previously
    // computed twice) and never for the non-candidate corpus. Persisted:
    // the pair join below references it twice (a-side and b-side).
    //
    // The verify measures Jaccard over the 32-bit HASHED shingle sets, not
    // the raw strings. Each candidate doc's array crosses the pair join
    // once per pair it appears in (hot docs: ~90× at sf0.1), so element
    // width multiplies straight into shuffle volume — 8-byte longs vs
    // ~24-byte UTF8 shingles is a 3× cut — and per-pair set intersection
    // hashes longs instead of strings. hash32 collisions shift a Jaccard
    // value with probability ~|set|²/2³³ (~1e-4 for 1k-shingle docs) and
    // deterministically: the oracle computes the identical md5-prefix
    // hashes, so results stay bit-exact cross-engine. Union size is
    // derived as |A|+|B|-|A∩B| rather than building a second hash set.
    // Measured r4 (sf0.1, q39): verify stage 6.5s -> see BENCH_r04.
    val setExpr = kernels match {
      case Some(kn) => kn.hashedSet // fused: SORTED distinct hash array
      case None => array_distinct(transform(shingles, s => TextOps.hash32(s)))
    }
    val candDocs = docs.join(
        candidates.select(explode(array(col("id_a"), col("id_b")))
          .as("__cid")).distinct(),
        col(id) === col("__cid"), "left_semi")
      .select(col(id).as("__cid"), setExpr.as("__sl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(name: String): DataFrame =
      candDocs.select(col("__cid").as(name), col("__sl").as(s"__s_$name"))
    // The fused sets are sorted, so the per-pair intersection is a linear
    // merge (no hash table per pair); the generic path hashes via
    // array_intersect. Identical counts either way (both are set
    // intersections of the same distinct hash sets).
    def interOf(a: Column, b: Column): Column = kernels match {
      case Some(_) => call_function("sorted_intersect_count", a, b)
      case None => size(array_intersect(a, b))
    }
    val pairs = candidates
      .join(side("id_a"), "id_a")
      .join(side("id_b"), "id_b")
      .withColumn("__inter", interOf(col("__s_id_a"), col("__s_id_b")))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__s_id_a")) + size(col("__s_id_b")) - col("__inter"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (pairs, Seq(bands, candidates, candDocs))
  }

  /** L49 exact substring-level dedup: cross-document REPEATED SPANS — the
    * dedup flavor document-level hashing (exact or near) cannot see: two
    * otherwise-different documents sharing a boilerplate paragraph, a
    * license header, a template block. The suffix-array formulation
    * (dedupe every repeated substring, Lee et al. ACL '22) is inherently
    * sequential; the Spark-native approximation fingerprints every
    * `width`-token window (stride 1) and keeps windows whose 32-bit hash
    * ≡ 0 (mod `modulus`) — Manber's content-defined "0 mod p" selection,
    * so a span shared at ARBITRARY offsets selects identically in every
    * document containing it (a strided sample misses repeats whose
    * offsets disagree mod the stride). A repeated span of w windows is
    * detected unless all w selections miss: P(miss) = (1-1/m)^w — under
    * 2% for a 16-window (31-token) span at m=4.
    *
    * Output: one row per repeated fingerprint — span_hash, n_docs
    * (distinct documents containing it), n_occurrences (total, counting
    * within-doc repeats), first_doc (min id, the canonical holder).
    * Span TEXT is deliberately not carried: at corpus scale the report
    * stays hash-sized; extracting exemplar text is a candidate-only
    * rejoin against the few flagged documents.
    *
    * Scale: the fused [[graft.functions.WindowHashSelect]] kernel hashes
    * windows in one pass over the corpus scan (no shingle arrays, no
    * interpreted lambda), explode amplifies by ~n_tokens/modulus (not
    * n_tokens), and the aggregate is ONE shuffle whose countDistinct
    * Spark plans as two partial-aggregable exchanges on (span_hash[,id])
    * — combinable all the way, no hot keys beyond genuinely
    * corpus-frequent spans. */
  def repeatedSpans(docs: DataFrame, id: String, text: Column,
                    width: Int, modulus: Int): DataFrame =
    docs
      .select(col(id).as("__rs_id"),
        explode(call_function("word_window_select", text,
          lit(width), lit(modulus))).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(
        countDistinct(col("__rs_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("__rs_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** SimHash bits to use (60 usable bits from a 15-hex-digit md5 prefix). */
  val SimhashBits = 60

  /** Per-doc 60-bit SimHash: each token occurrence votes ±1 on every bit of
    * its 60-bit hash; bit set iff the vote sum is positive. Shuffle-free
    * AND codegen'd: token hashes computed once per row, bit votes in the
    * native [[graft.functions.SimHash60]] expression — map-only at scale
    * (the r2 first cut exploded tokens × bits through two shuffles; the
    * second cut folded 60 interpreted lambdas per row).
    * Docs with no tokens are dropped (same as the group-by formulation). */
  def simhash(df: DataFrame, id: String, words: Column): DataFrame =
    df.filter(size(words) > 0)
      .select(col(id),
        call_function("simhash60", transform(words, w => TextOps.hash60(w)))
          .as("simhash"))

  /** Incremental near-dup verdict: admit or reject an INCOMING batch
    * against an EXISTING corpus without ever enumerating
    * existing×existing candidates — the production corpus-refresh shape
    * (daily crawl deltas against a 100 TB history). The band self-join a
    * full-corpus dedup runs is quadratic in same-bucket occupancy;
    * here the probe side of every candidate join is the DELTA's bands
    * only, so work scales with |delta| (and at scale the existing side's
    * bands are the PRE-STORED band index — bucketed by (band, hash) —
    * rather than recomputed, which this operator models by building them
    * in one pass).
    *
    * Verdict semantics (greedy-by-id, the q35 pair rule, not transitive
    * clustering): an incoming doc is rejected if it near-dups ANY
    * existing doc, or an incoming doc with a smaller id (first-wins
    * within the batch, so one batch admits exactly one member of each
    * new dup family). No cascade: a doc rejected by an existing dup
    * still rejects its own larger-id batch dups — deterministic and
    * definitional, matching the oracle twin.
    *
    * Output: one row per incoming doc — keep flag, rejector count, and
    * the smallest rejecting id (null when kept). Docs too short to
    * shingle have no signature, match nothing, and are kept.
    *
    * Cache lifecycle (same contract as [[nearDupPairs]]): the returned
    * plan holds three persisted intermediates (delta bands, candidates,
    * candidate-doc hash sets), released by `spark.catalog.clearCache()`
    * (the CacheManager keys them by canonicalized plan, so
    * re-invocations reuse rather than pile up). */
  def incrementalVerdict(existing: DataFrame, incoming: DataFrame,
                         id: String, kernels: NearDupKernels,
                         threshold: Double): DataFrame = {
    def sigsOf(d: DataFrame): DataFrame =
      d.select(col(id), kernels.sig.as("__sig"))
        .filter(col("__sig").isNotNull)
        .select(col(id) +: (0 until K).map(k =>
          element_at(col("__sig"), k + 1).as(s"mh$k")): _*)
    val bIn = lshBands(sigsOf(incoming), id)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bEx = lshBands(sigsOf(existing), id)
    val probe = bIn.select(col(id).as("in_id"), col("band"),
      col("band_hash"))
    def candidatesAgainst(other: DataFrame, keep: Column): DataFrame =
      probe.join(other
          .select(col(id).as("other_id"), col("band").as("__b"),
            col("band_hash").as("__h")),
        col("band") === col("__b") && col("band_hash") === col("__h") &&
          keep)
        .select(col("in_id"), col("other_id")).distinct()
    val cand = candidatesAgainst(bEx, lit(true))
      .withColumn("other_existing", lit(true))
      .unionByName(
        // within-batch: only the SMALLER id can reject, so enumerate
        // (larger, smaller) directly — each unordered pair once
        candidatesAgainst(bIn, col("other_id") < col("in_id"))
          .withColumn("other_existing", lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docsAll = existing.unionByName(incoming)
    val candDocs = docsAll.join(
        cand.select(explode(array(col("in_id"), col("other_id")))
          .as("__cid")).distinct(),
        col(id) === col("__cid"), "left_semi")
      .select(col(id).as("__cid"), kernels.hashedSet.as("__sl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inter = call_function("sorted_intersect_count",
      col("__s_in"), col("__s_ot"))
    val rejectors = cand
      .join(candDocs.select(col("__cid").as("in_id"),
        col("__sl").as("__s_in")), "in_id")
      .join(candDocs.select(col("__cid").as("other_id"),
        col("__sl").as("__s_ot")), "other_id")
      .withColumn("__i", inter)
      .withColumn("__j", col("__i").cast("double") /
        (size(col("__s_in")) + size(col("__s_ot")) - col("__i"))
          .cast("double"))
      .filter(col("__j") >= threshold)
      .select(col("in_id"), col("other_id"))
    incoming.select(col(id))
      .join(rejectors, col(id) === col("in_id"), "left")
      .groupBy(col(id))
      .agg(max(when(col("in_id").isNull, 1).otherwise(0)).as("keep"),
        count(col("other_id")).as("n_dups"),
        min(col("other_id")).as("blame_id"))
  }

  /** Blocked fuzzy candidate generation for entity resolution: join
    * probe strings (misspelled, OCR'd, externally keyed) against a clean
    * catalog on a shared PREFIX block, then keep pairs within `maxDist`
    * edit distance. The prefix equi-join is what makes this a
    * hash-partitionable plan — the naive all-pairs levenshtein is a
    * cartesian product no cluster survives; blocking bounds candidates
    * to same-prefix groups at the standard blocking-recall trade (a typo
    * INSIDE the prefix escapes the block — widen recall by unioning a
    * second blocking key, e.g. suffix or phonetic, each pass staying an
    * equi-join).
    *
    * The distance call uses Spark's bounded levenshtein (early exit past
    * `maxDist` — the common far-apart pair costs O(name·maxDist), not
    * O(name²)). Compose with [[RelationalOps.dedupFirst]] on
    * (distance, catalog key) for deterministic best-match resolution.
    * Both sides' columns pass through; name them disjointly.
    *
    * Two result-invisible refinements keep the quadratic work bounded:
    *
    *  1. **Distance-on-distinct**: distances are computed over the
    *     DISTINCT name domains and fanned back to rows by equi-join.
    *     Real entity corpora repeat names heavily (the part catalog:
    *     64 distinct names across 20k rows — recomputing each pair per
    *     row duplication was 6× the total query cost); the distinct
    *     build is a combinable aggregate and the fan-back joins are
    *     broadcast-sized (candidate name pairs ≪ rows).
    *  2. **Length banding**: `|len(a) − len(b)| > maxDist` already
    *     implies `lev > maxDist`, so co-bucketing by
    *     `floor(len / 2·maxDist)` (catalog names explode to the ≤ 2
    *     buckets their ±maxDist window touches; each probe name maps to
    *     ONE bucket, so no pair meets twice) only shrinks the blocks
    *     the comparison runs inside. */
  def fuzzyCandidates(probes: DataFrame, probeName: Column,
                      catalog: DataFrame, catName: Column,
                      prefixLen: Int, maxDist: Int): DataFrame = {
    require(prefixLen > 0, s"need prefixLen > 0, got $prefixLen")
    fuzzyCandidatesBlocked(probes, probeName, catalog, catName,
      Seq(n => substring(n, 1, prefixLen)), maxDist)
  }

  /** Multi-blocker form: each blocking function is one equi-join pass
    * over the distinct name domains, and the union of passes feeds a
    * single distance evaluation (names deduped across passes first, so
    * a pair caught by several blockers costs one levenshtein). This is
    * the documented recall-widening path — a typo INSIDE one blocking
    * key escapes that block but a second key (suffix, phonetic,
    * token-sorted) recovers it, every pass staying an equi-join. */
  def fuzzyCandidatesBlocked(probes: DataFrame, probeName: Column,
                             catalog: DataFrame, catName: Column,
                             blockers: Seq[Column => Column],
                             maxDist: Int): DataFrame = {
    require(blockers.nonEmpty && maxDist >= 0,
      s"need >=1 blocker and maxDist >= 0, got ${blockers.length}/$maxDist")
    val bw = math.max(2 * maxDist, 1)
    val pn = probes.select(probeName.as("__pn")).distinct()
    val cn = catalog.select(catName.as("__cn")).distinct()
    val candNames = blockers.map { bk =>
      pn.withColumn("__blk", bk(col("__pn")))
        .withColumn("__lb", floor(length(col("__pn")) / lit(bw)))
        .join(cn.withColumn("__blk", bk(col("__cn")))
          .withColumn("__lb", explode(sequence(
            floor((length(col("__cn")) - lit(maxDist)) / lit(bw)),
            floor((length(col("__cn")) + lit(maxDist)) / lit(bw))))),
          Seq("__blk", "__lb"))
        .select(col("__pn"), col("__cn"))
    }.reduce(_ union _).distinct()
    val cand = candNames
      .withColumn("edit_dist",
        levenshtein(col("__pn"), col("__cn"), maxDist))
      .filter(col("edit_dist") >= 0) // bounded form: -1 past maxDist
      .select(col("__pn"), col("__cn"), col("edit_dist"))
    probes.join(cand, probeName === col("__pn"))
      .join(catalog, col("__cn") === catName)
      .drop("__pn", "__cn")
  }

  /** Containment near-dup pairs — the ASYMMETRIC twin of
    * [[nearDupPairs]]: containment c = |A∩B| / min(|A|,|B|) finds a
    * small document embedded in a larger one (boilerplate wrapping,
    * quotation, page-plus-chrome re-crawls), which symmetric Jaccard
    * misses by construction (A ⊂ B with |A| ≪ |B| has J = |A|/|B| → 0
    * but c = 1). The standard sub-document leak the Jaccard dedup pass
    * leaves behind.
    *
    * Candidates still come from banded minhash equi-joins — never
    * all-pairs — but on a WIDER geometry than the Jaccard pass:
    * `rowsPerBand` = 2 (default) gives K/2 bands hit with probability
    * 1−(1−J²)^(K/2), tuned low because contained pairs live at lower
    * Jaccard than near-dups (J = c·min/max under containment c). The
    * recall/candidate-volume trade is the dial: r=1 maximizes recall at
    * J→0 but buckets every pair sharing ONE corpus-common minimum
    * shingle (candidate blowup on low-entropy corpora); r=3 reuses the
    * Jaccard geometry and only sees high-J containment. At true 100 TB
    * sub-document scale the sharper tool is a pre-stored band INDEX
    * (L64's shape) probed by the suspect small docs only.
    *
    * Verify is exact on the sorted hashed shingle sets (one O(n+m)
    * merge per candidate pair); output is ORIENTED: (contained_id,
    * container_id) by set size, ties by id — deterministic under any
    * partitioning. Same cache lifecycle notes as [[nearDupPairs]]:
    * the three persisted intermediates (bands, candidates, candidate
    * docs) stay with the CacheManager (keyed by canonicalized plan, so
    * re-invocations reuse rather than pile up) until
    * `spark.catalog.clearCache()`. */
  def containmentPairs(docs: DataFrame, id: String,
                       kernels: NearDupKernels, threshold: Double,
                       rowsPerBand: Int = 2): DataFrame = {
    require(K % rowsPerBand == 0 && rowsPerBand >= 1,
      s"rowsPerBand $rowsPerBand must divide K=$K")
    val nb = K / rowsPerBand
    val sigs = docs.select(col(id), kernels.sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(id) +: (0 until K).map(k =>
        element_at(col("__sig"), k + 1).as(s"mh$k")): _*)
    val bandCols: Seq[Column] = (0 until nb).flatMap { b =>
      val rows = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => col(s"mh$k").cast("string"))
      Seq(lit(b), md5(concat_ws(",", rows: _*)))
    }
    val bands = sigs.select(col(id),
        stack(Seq(lit(nb)) ++ bandCols: _*).as(Seq("band", "band_hash")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = bands.select(col(id).as("id_a"),
        col("band"), col("band_hash"))
      .join(bands.select(col(id).as("id_b"), col("band").as("band_r"),
          col("band_hash").as("band_hash_r")),
        col("band") === col("band_r") &&
          col("band_hash") === col("band_hash_r") &&
          col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candDocs = docs.join(
        candidates.select(explode(array(col("id_a"), col("id_b")))
          .as("__cid")).distinct(),
        col(id) === col("__cid"), "left_semi")
      .select(col(id).as("__cid"), kernels.hashedSet.as("__sl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(name: String): DataFrame =
      candDocs.select(col("__cid").as(name), col("__sl").as(s"__s_$name"))
    val verified = candidates
      .join(side("id_a"), "id_a")
      .join(side("id_b"), "id_b")
      .withColumn("__inter", call_function("sorted_intersect_count",
        col("__s_id_a"), col("__s_id_b")))
      .withColumn("__la", size(col("__s_id_a")))
      .withColumn("__lb", size(col("__s_id_b")))
      .withColumn("containment", col("__inter").cast("double") /
        least(col("__la"), col("__lb")).cast("double"))
      .filter(col("containment") >= threshold)
    // Orientation: the smaller set is the contained side; exact size
    // ties keep the candidate order (id_a < id_b) — a total order.
    val aContained = col("__la") < col("__lb") || (col("__la") === col("__lb"))
    verified.select(
      when(aContained, col("id_a")).otherwise(col("id_b"))
        .as("contained_id"),
      when(aContained, col("id_b")).otherwise(col("id_a"))
        .as("container_id"),
      col("containment"),
      least(col("__la"), col("__lb")).as("size_contained"),
      greatest(col("__la"), col("__lb")).as("size_container"))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo, "The merge/purge
    * problem for large databases", SIGMOD 1995) — the third classic
    * candidate-generation family next to LSH banding (hash-bucket
    * blocking) and [[fuzzyCandidatesBlocked]] (key blocking): sort the
    * records inside each block by a fuzzy key and pair every record with
    * its next `window` neighbors in that order. Records that exact
    * blocking keys would split (an off-by-one length, a near-boundary
    * value) land ADJACENT in the sort and still pair.
    *
    * Shape: `window` is a slide, not a join — after ONE window sort per
    * block (hash-partitioned on `block`; no global order, no single
    * partition), each row emits its pairs map-side via lead(id, k) for
    * k = 1..window, so candidate count is exactly rows·window with zero
    * self-join fan-out. At 100 TB the sort is the same exchange any
    * per-block window op pays; `window` bounds memory at O(window) per
    * row. The returned `gap` (neighbor distance in sort order) lets the
    * verify stage weight near neighbors above far ones.
    *
    * Output: (block, id_a, id_b, gap) with id_a the sort-order
    * predecessor; ties in `sortKey` are totalized by id so the pairing
    * is deterministic under any partitioning. */
  def sortedNeighborhood(df: DataFrame, block: Column, id: Column,
                         sortKey: Seq[Column], window: Int): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    val keys = sortKey.zipWithIndex.map { case (c, i) => c.as(s"__s$i") }
    val base = df.select(block.as("__blk") +: id.as("__a") +: keys: _*)
    // asc_nulls_last pins where null keys sort: Spark's asc default is
    // NULLS FIRST, DuckDB/ANSI's is NULLS LAST — an unpinned nullable key
    // would give the two engines different neighbor orders (ADVICE r7).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__blk"))
      .orderBy(sortKey.indices.map(i => col(s"__s$i").asc_nulls_last) :+
        col("__a").asc: _*)
    // Leads materialize in their own projection — a generator (explode)
    // cannot host window expressions.
    val leads = base.select(col("__blk") +: col("__a") +:
      (1 to window).map(k =>
        struct(lead(col("__a"), k).over(w).as("b"), lit(k).as("gap"))
          .as(s"__l$k")): _*)
    leads
      .select(col("__blk"), col("__a"),
        explode(array((1 to window).map(k => col(s"__l$k")): _*)).as("__p"))
      .filter(col("__p.b").isNotNull)
      .select(col("__blk").as("block"), col("__a").as("id_a"),
        col("__p.b").as("id_b"), col("__p.gap").as("gap"))
  }

  /** [[simhash]] over single-space-tokenized text via the fused
    * [[graft.functions.TokenHash60Array]] kernel — no interpreted
    * per-token lambda on the corpus scan; spec-pinned equal to the
    * composable form. (split always yields ≥1 token, so the empty-array
    * filter of the generic path is vacuous here.) */
  def simhashText(df: DataFrame, id: String, text: Column): DataFrame =
    df.select(col(id),
      call_function("simhash60", call_function("token_hash60_array", text))
        .as("simhash"))

  /** Golden-record survivorship: collapse each near-dup cluster to its
    * BEST member under an explicit quality rule, instead of the arbitrary
    * min-id canonical (q66's cluster curation keeps min-id — right for
    * "drop the copies", wrong for "keep the best copy"; a crawl's longest
    * capture of a page usually dominates its truncated re-crawls).
    *
    * `labels` is a (node, label) cluster assignment ([[graft.operators
    * .GraphOps.connectedComponents]] output); rows absent from it are
    * singleton clusters of themselves. The survivor is argmax by
    * (`quality`, then SMALLEST id — a total order, so the pick is
    * deterministic under exact quality ties regardless of partitioning).
    *
    * One left join (cluster labels are the pair-graph's nodes — orders of
    * magnitude smaller than the corpus) + ONE combinable aggregate on the
    * cluster key: max_by over a (quality, −id) struct needs no window
    * sort and partial-aggregates map-side. Output: one row per cluster
    * with the survivor, member count, and how much the rule changed vs
    * min-id (kept_longer) — the survivorship audit trail. */
  def survivorship(df: DataFrame, id: Column, quality: Column,
                   labels: DataFrame, node: String,
                   label: String): DataFrame = {
    val lab = labels.select(col(node).as("__node"),
      col(label).as("__label"))
    df.select(id.as("__id"), quality.as("__q"))
      .join(lab, col("__id") === col("__node"), "left")
      .withColumn("cluster_id", coalesce(col("__label"), col("__id")))
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("__q").as("q"), (-col("__id")).as("nid")))
          .as("__best"),
        count(lit(1)).as("n_members"),
        min(col("__id")).as("__minid"))
      .select(col("cluster_id"),
        (-col("__best.nid")).as("survivor_id"),
        col("__best.q").as("survivor_quality"),
        col("n_members"),
        (col("__best.nid") =!= -col("__minid")).as("kept_longer"))
  }

  /** Per-document duplicated-span share — the "fraction of a document
    * that is cross-corpus boilerplate" quality signal (the duplicate-line
    * fraction rule of the Gopher / RefinedWeb curation stacks, realized
    * over content-defined token windows because web "lines" are a
    * formatting accident): for each document, the share of its sampled
    * `width`-token window fingerprints that also appear in at least one
    * OTHER document. [[repeatedSpans]] reports the corpus's repeated
    * spans; this is the per-document consumption of the same evidence —
    * the column a curation filter thresholds ("drop documents more than
    * half made of boilerplate").
    *
    * Fingerprints come from the same fused [[graft.functions
    * .WindowHashSelect]] kernel ("0 mod `modulus`" content-defined
    * selection, Manber USENIX '94), so a span repeats-detects at
    * arbitrary offsets and the corpus expands by ~n_tokens/modulus once.
    * Within-doc repeats of a span count toward the doc's span mass but do
    * NOT make it "duplicated" — duplication means ≥ 2 DISTINCT docs, the
    * [[repeatedSpans]] rule.
    *
    * Shape: ONE corpus expansion → combinable (span_hash, doc) count →
    * window count over span_hash (distinct-doc count without a
    * countDistinct Expand — the table is already (hash, doc)-deduped) →
    * per-doc fold. Shuffles: (hash,doc) agg, hash window, doc agg — all
    * combinable or bounded; nothing all-pairs, nothing driver-side.
    * Docs shorter than `width` tokens (or whose windows all miss the
    * "0 mod modulus" sample) have no evidence rows and are ABSENT from
    * the output — a caller treating absence as share-0 should left-join
    * from the corpus.
    *
    * Output: one row per evidenced doc — n_spans (sampled window
    * occurrences), n_dup_spans (occurrences of cross-doc-repeated
    * fingerprints), dup_share (ONE exact int/int double division). */
  def dupSpanShare(docs: DataFrame, id: String, text: Column,
                   width: Int, modulus: Int,
                   carry: Seq[String] = Nil): DataFrame = {
    // `carry`: columns functionally dependent on `id` (a doc's source,
    // lang, …) threaded through the aggregation keys so a census
    // consumer needs no corpus-sized rejoin to recover them.
    val carryCols = carry.map(col)
    val spans = docs
      .select(col(id).as("__ds_id") +: carryCols :+
        explode(call_function("word_window_select", text,
          lit(width), lit(modulus))).as("span_hash"): _*)
    val perHashDoc = spans
      .groupBy(col("span_hash") +: col("__ds_id") +: carryCols: _*)
      .agg(count(lit(1)).as("__n_occ"))
    val wh = org.apache.spark.sql.expressions.Window
      .partitionBy(col("span_hash"))
    perHashDoc
      .withColumn("__nd", count(lit(1)).over(wh))
      .groupBy(col("__ds_id") +: carryCols: _*)
      .agg(
        sum(col("__n_occ")).as("n_spans"),
        sum(when(col("__nd") >= 2, col("__n_occ")).otherwise(lit(0L)))
          .as("n_dup_spans"))
      .withColumn("dup_share",
        col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
      .withColumnRenamed("__ds_id", id)
  }

  /** Exact duplicated-span REMOVAL (Lee et al. 2022, arXiv:2107.06499,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * `width`-token window that appears in ≥ 2 distinct documents is
    * removed from every document EXCEPT the window's first (min-id) doc —
    * the rewrite that [[dupSpanShare]] only censuses. Keep-first needs no
    * transitive reasoning: a window's fate is (n_docs ≥ 2, doc ≠
    * first_doc), decided by one span-hash aggregate.
    *
    * Shape: span hashes are a map-side transform at EVERY position
    * (modulus 1 — removal needs full coverage, unlike the census's
    * sampled windows); one (hash) aggregate finds duplicated windows and
    * their first doc; the ×width position explode runs ONLY on duplicated
    * span occurrences (the small side); reassembly is one per-doc
    * aggregate folding (pos, token, removed?) structs back into cleaned
    * text. Tokens/counts exact longs; a fully-covered doc keeps its row
    * with cleaned_text = ''. Docs shorter than `width` pass through
    * untouched. */
  def dupSpanRemove(docs: DataFrame, id: String, text: Column,
                    width: Int): DataFrame = {
    val toks = docs.select(col(id).as("__id"),
      TextOps.tokens(text).as("__ts"))
    // Span hashes via the fused word_window_select kernel with
    // modulus=1 (r17): ALL width-token window hashes stream out of one
    // byte walk in POSITION ORDER (the kernel's order/multiplicity
    // contract), so posexplode's index IS the 1-based window start —
    // no width-token string materialized per window just to hash it.
    // Spec-pinned equal to transform(wordShinglesMulti, hash32); short
    // docs: kernel null ⇒ posexplode drops, like the old empty array.
    val spans = docs.select(col(id).as("__id"),
        posexplode(call_function("word_window_select", text, lit(width),
          lit(1))).as(Seq("__p0", "__sh")))
      .select(col("__id"), (col("__p0") + 1).as("__p"), col("__sh"))
    val stats = spans.groupBy(col("__sh"))
      .agg(countDistinct(col("__id")).as("__nd"),
        min(col("__id")).as("__fd"))
      .filter(col("__nd") >= 2)
    val rmPos = spans.join(stats, Seq("__sh"))
      .filter(col("__id") =!= col("__fd"))
      .select(col("__id"),
        explode(sequence(col("__p"), col("__p") + (width - 1))).as("__pos"))
      .distinct()
    val tokPos = toks.select(col("__id"),
      posexplode(col("__ts")).as(Seq("__pos0", "__tok")))
      .select(col("__id"), (col("__pos0") + 1).as("__pos"), col("__tok"))
    tokPos.join(rmPos.withColumn("__rm", lit(1)), Seq("__id", "__pos"),
        "left")
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__rm").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", transform(
          filter(array_sort(collect_list(struct(col("__pos"), col("__tok"),
            col("__rm")))), x => x.getField("__rm").isNull),
          x => x.getField("__tok"))).as("cleaned_text"))
      .withColumnRenamed("__id", id)
  }

  /** Exact-COMPLETE similarity self-join via document-frequency-ordered
    * prefix filtering (the SSJoin / All-Pairs / PPJoin family —
    * Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): every pair with Jaccard ≥ tNum/tDen over the kernel's
    * shingle hash sets is RETURNED, with a proof-backed guarantee —
    * unlike the banded-LSH generator ([[nearDupPairs]]), whose recall is
    * probabilistic in (bands, rows). LSH is the cheap screen; this is
    * the candidate family a compliance-grade dedup (or the recall audit
    * of the LSH tuning) runs.
    *
    * Filter: order every doc's shingles by a single global total order —
    * ascending document frequency, ties by hash — and keep each doc's
    * first |S| − ⌈t·|S|⌉ + 1 (its RAREST shingles). Two docs with
    * J ≥ t must share a shingle inside both prefixes (else their
    * intersection fits in one doc's suffix of size ⌈t·|S|⌉ − 1 <
    * t·|S| ≤ |A∩B|), so the prefix self-join loses nothing; df-ordering
    * makes the joined postings the SHORTEST ones (rare shingles), which
    * is what bounds candidate fan-out at scale.
    *
    * The threshold is a RATIONAL tNum/tDen: prefix lengths are exact
    * integer arithmetic and the verify keeps `tDen·inter ≥
    * tNum·(|A|+|B|−inter)` — an integer comparison, no float boundary.
    *
    * Shape: corpus → sorted hash sets (fused kernel, once, persisted —
    * reused by the explode and both verify sides); explode + df join
    * (combinable shuffle on hash); per-doc rank window (one doc
    * exchange); prefix self-join on hash (persisted posting prefix);
    * candidate-distinct; O(n+m) merge-verify per candidate. The three
    * persisted intermediates (sets, prefix, candidates) stay with the
    * CacheManager until `spark.catalog.clearCache()`. */
  def prefixFilterPairs(docs: DataFrame, id: String,
                        kernels: NearDupKernels,
                        tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold $tNum/$tDen must be a fraction in (0, 1]")
    val sets = docs
      .select(col(id).as("__pf_id"), kernels.hashedSet.as("__pf_set"))
      .filter(size(col("__pf_set")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = sets.select(col("__pf_id"),
      size(col("__pf_set")).as("__pf_sz"),
      explode(col("__pf_set")).as("__pf_h"))
    // Document frequency per shingle hash: sets are distinct per doc, so
    // count(*) IS the df. One combinable shuffle, vocabulary-sized.
    val dfTbl = tok.groupBy(col("__pf_h"))
      .agg(count(lit(1)).as("__pf_df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pf_id"))
      .orderBy(col("__pf_df").asc, col("__pf_h").asc)
    // prefix length |S| − ⌈t·|S|⌉ + 1, exact: ⌈a/b⌉ = (a − a mod b)/b + sign
    // fix via (a+b−1); floorDiv over positives via pmod keeps it integer.
    val ceilNum = lit(tNum.toLong) * col("__pf_sz") + lit((tDen - 1).toLong)
    val prefLen = col("__pf_sz") -
      (ceilNum - pmod(ceilNum, lit(tDen.toLong))) / lit(tDen.toLong) +
      lit(1)
    val prefix = tok.join(dfTbl, "__pf_h")
      .withColumn("__pf_rk", row_number().over(wDoc))
      .filter(col("__pf_rk") <= prefLen)
      .select(col("__pf_h"), col("__pf_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = prefix.select(col("__pf_h"), col("__pf_id").as("id_a"))
      .join(prefix.select(col("__pf_h").as("__pf_h_r"),
          col("__pf_id").as("id_b")),
        col("__pf_h") === col("__pf_h_r") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(name: String): DataFrame =
      sets.select(col("__pf_id").as(name), col("__pf_set").as(s"__s_$name"))
    candidates
      .join(side("id_a"), "id_a")
      .join(side("id_b"), "id_b")
      .withColumn("__inter", call_function("sorted_intersect_count",
        col("__s_id_a"), col("__s_id_b")))
      .filter(lit(tDen.toLong) * col("__inter") >= lit(tNum.toLong) *
        (size(col("__s_id_a")) + size(col("__s_id_b")) - col("__inter")))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__s_id_a")) + size(col("__s_id_b")) - col("__inter"))
          .cast("double"))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
