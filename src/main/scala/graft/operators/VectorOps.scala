package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity for the training-data pipeline: exact cosine via
  * higher-order functions (zero UDFs), brute-force top-k as the baseline,
  * and random-hyperplane LSH bucketing as the scale path.
  *
  * Cross-engine float discipline: elements are float32 on disk; every
  * product casts BOTH operands to double first (float*float would round to
  * float32 and diverge from the oracle), and the fold is a sequential
  * left-to-right `aggregate` starting at 0.0 — the same IEEE operation
  * order DuckDB's `list_reduce` uses, so cosines are bit-identical.
  *
  * Scale posture: brute-force top-k broadcasts the (small) query side and
  * streams the corpus once — O(Q×N) but no shuffle of the big side; the
  * LSH path buckets both sides first so the join is a hash join on
  * `bucket` with candidate sets ~N/2^planes per bucket. At 100 TB the
  * bucketed path is the only viable one; both are provided so the bucketed
  * result can be recall-checked against the exact one on samples.
  */
object VectorOps {

  private def d(c: Column): Column = c.cast("double")

  /** Sequential dot product — the native codegen'd expression
    * ([[graft.functions.DotProductF32]], resolved through the function
    * registry that [[graft.GraftExtensions]] installs); bit-identical to
    * the interpreted higher-order form [[dotHof]] it replaced on the hot
    * paths (same multiply/add sequence). */
  def dot(a: Column, b: Column): Column = call_function("dot_f32", a, b)

  /** The composable higher-order form (interpreted — no codegen for
    * lambda functions): kept as the reference implementation; specs pin
    * dot == dotHof bit-for-bit. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, computed exactly as `dot/(sqrt*sqrt)` in that
    * operation order (the oracle mirrors it literally). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine with norms precomputed once per ROW instead of once per PAIR —
    * one fold per pair instead of three (the r2 bench cut q29 from 7.9s).
    * Bit-identical to [[cosine]]: same IEEE ops on the same values, just
    * factored out of the pair loop, so oracles need no change. */
  def cosineWithNorms(a: Column, b: Column,
                      normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * an LCG step mapped to [-500, 500). Pure integer arithmetic — the
    * oracle regenerates identical planes from the same formula. */
  def planeWeight(plane: Column, dim: Column): Column =
    ((lit(1103515245L) * (plane * lit(64) + dim) + lit(12345L)) % lit(1000L)
      - lit(500L)).cast("double")

  /** Deterministic md5-derived projection weight for (plane, dim), a
    * whole number in [-500, 500). NOT the [[planeWeight]] LCG: that
    * sequence is an arithmetic progression mod 1000, so distinct planes
    * are SHIFTS of one periodic sequence — fine when only the sign
    * survives (LSH buckets), but a VALUE projection built from it is
    * effectively low-rank and ranks neighbors no better than chance
    * (measured: recall@3 0.02). md5 decorrelates every (plane, dim)
    * cell; the weights are compile-time constants embedded as literals
    * in both the Column expression and the oracle SQL, so cross-engine
    * parity needs no shared formula at all. */
  def rpWeight(plane: Int, dim: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$plane:$dim".getBytes("UTF-8"))
    val v = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    v % 1000L - 500L
  }

  /** Johnson–Lindenstrauss random projection: the 64-dim float vector
    * compressed to `outDims` double coordinates, coordinate p = v·w_p
    * over the md5-decorrelated [[rpWeight]] matrix. JL says pairwise
    * distances/angles survive to within ε with outDims =
    * O(log n / ε²) — the compression an LSH bucket throws away,
    * recovered as a rankable score. Pure map-side expression, computed
    * ONCE per vector at ingest in production (the projection is the
    * point: downstream scans read 16 doubles, not 64 floats +
    * re-projection). Each coordinate folds left in a fixed order, so
    * the oracle replays it bit-for-bit. */
  def randomProject(v: Column, outDims: Int): Column =
    array((0 until outDims).map { p =>
      val w = array((1 to 64).map(j => lit(rpWeight(p, j).toDouble)): _*)
      aggregate(zip_with(v, w, (x, wj) => d(x) * wj),
        lit(0.0), (acc, x) => acc + x)
    }: _*)

  /** Sequential dot over DOUBLE arrays (projected space) — native
    * codegen'd ([[graft.functions.DotProductF64]]); bit-identical to the
    * interpreted [[dotDHof]] reference (spec-pinned). */
  def dotD(a: Column, b: Column): Column = call_function("dot_f64", a, b)

  /** The composable higher-order form — the reference implementation
    * [[dotD]]'s kernel is pinned against. */
  def dotDHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x)

  /** Sign bit of v·w_plane for one hyperplane (1 if positive else 0). */
  private def planeBit(v: Column, plane: Int): Column = {
    val proj = aggregate(
      zip_with(v, sequence(lit(1), lit(64)),
        (x, j) => d(x) * planeWeight(lit(plane), j)),
      lit(0.0), (acc, x) => acc + x)
    when(proj > 0, lit(1L << plane)).otherwise(lit(0L))
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits packed into a
    * long. Similar vectors (cosine ≈ 1) agree on most signs and land in
    * the same bucket with high probability. Computed by the native
    * [[graft.functions.LshBucketF32]] kernel — the assignment pass runs
    * over EVERY corpus vector, and the composable per-plane fold
    * ([[lshBucketHof]]) is an interpreted lambda per plane per row;
    * specs pin the two bit-identical (including the non-64-dim and
    * null-element bucket-0 degenerate cases). */
  def lshBucket(v: Column, planes: Int): Column =
    call_function("lsh_bucket_f32", v, lit(planes))

  /** The composable higher-order form — kept as the reference
    * implementation the native kernel is pinned against. */
  def lshBucketHof(v: Column, planes: Int): Column =
    (0 until planes).map(p => planeBit(v, p)).reduce(_ + _)

  /** INTEGER-EXACT corpus-sized plane count for the near-dup queries
    * (q29/q133): the smallest p in [4, 21] with targetCell·2^p ≥ n, so
    * expected cell density stays ≤ targetCell and Σ|cell|² pair work
    * stays ~n·targetCell (linear) instead of n²/2^p (quadratic under a
    * FIXED grid — the r12 sf1 probe measured 20-26× wall on 10× data).
    * Deliberately not a float ceil(log2(n / targetCell)): the oracle twin
    * replays this as a generate_series min over the same inequality,
    * and integer compare can never round differently across engines.
    * Floor 4 keeps the verified small-SF geometry (500 vectors → p=4 =
    * the historical AnnPlanes); cap 21 is 2M cells (the 10^10-vector
    * point under the same rule). */
  def sizedPlanes(n: Long, targetCell: Long = 32L): Int =
    (4 to 21).find(p => targetCell * (1L << p) >= n).getOrElse(21)

  /** Squared euclidean distance via dots, in a FIXED operation order the
    * oracle mirrors literally: (a·a - 2*a·b) + b·b. */
  def dist2(a: Column, b: Column): Column =
    (dot(a, a) - lit(2.0) * dot(a, b)) + dot(b, b)

  /** IVF-flat cell assignment: nearest centroid per vector (argmin dist2,
    * centroid id tie-break). Centroids are broadcast; assignment is the
    * standard O(N·K) map-side pass. (Centroid TRAINING is out of scope —
    * callers provide centroids; the q34 query seeds them deterministically
    * from the corpus in lieu of k-means, which keeps the oracle exact.) */
  def ivfAssign(vectors: DataFrame, id: String, vec: String,
                centroids: DataFrame, cid: String, cvec: String): DataFrame = {
    val scored = vectors.crossJoin(broadcast(centroids))
      .withColumn("__d2", dist2(col(vec), col(cvec)))
    // Argmin as a COMBINABLE aggregate, not a window: min(struct(d2,
    // cid, vec)) — cid is unique per centroid, so the lexicographic
    // comparison settles at (d2, cid) and never reaches vec; identical
    // result to a (d2, cid)-ordered row_number pick. Partial aggregation
    // collapses the K candidate rows per vector map-side (the crossJoin
    // keeps them in one partition), so the exchange moves one pre-reduced
    // row per vector — a window would shuffle AND sort all N·K rows.
    scored.groupBy(col(id))
      .agg(min(struct(col("__d2"), col(cid), col(vec))).as("__m"))
      .select(col(id), col("__m").getField(vec).as(vec),
        col("__m").getField(cid).as("cell_id"))
  }

  /** One distributed Lloyd (k-means) iteration: assign every vector to
    * its nearest centroid ([[ivfAssign]] — broadcast O(N·K) map pass),
    * then recompute each centroid as the element-wise mean of its cell.
    * The recompute shuffles one row per (cell, dim) after partial
    * aggregation — never the vectors themselves — so an iteration over
    * 10^10 vectors moves K×dims doubles through the final stage. Chain
    * calls for more iterations; centroids whose cell emptied disappear
    * (standard Lloyd degeneracy — callers reseed if K must hold).
    * This is the training loop the IVF path (q34) intentionally leaves
    * out of the ORACLE set (an iterative fixpoint has no clean SQL
    * twin); the mechanics are spec-verified instead (LlmOpsSpec). */
  def kmeansStep(vectors: DataFrame, id: String, vec: String,
                 centroids: DataFrame, cid: String, cvec: String)
  : DataFrame =
    ivfAssign(vectors, id, vec, centroids, cid, cvec)
      .select(col("cell_id"), posexplode(col(vec)).as(Seq("dim", "x")))
      .groupBy(col("cell_id"), col("dim"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("cell_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
        .as("__pairs"))
      .select(col("cell_id").as(cid),
        transform(col("__pairs"), p => p.getField("m").cast("float"))
          .as(cvec))

  /** A fixed number of chained Lloyd iterations ([[kmeansStep]]) — the
    * IVF TRAINING loop, run at query-construction time like GraphOps'
    * fixpoint loop. A FIXED iteration count (not a convergence test)
    * keeps the whole computation a deterministic function of the seed, so
    * a SQL oracle can replay it CTE-for-CTE. The returned centroids are
    * localCheckpoint'ed (eagerly): K rows of K×dims floats — without the
    * truncation every downstream consumer (assignment, query probes)
    * would re-run all `iters` corpus passes from lineage. At real scale,
    * train on a SAMPLE (hashSample) and persist the centroids — the loop
    * shape is identical. */
  def kmeansTrain(vectors: DataFrame, id: String, vec: String,
                  centroids: DataFrame, cid: String, cvec: String,
                  iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val trained = (1 to iters).foldLeft(centroids)((c, _) =>
      kmeansStep(vectors, id, vec, c, cid, cvec))
    if (iters == 0) trained else trained.localCheckpoint(true)
  }

  // ------------------------------------------------- driver-held centroids

  /** A trained centroid set held on the DRIVER: (cell id, centroid
    * vector) pairs. K×dims floats are driver-sized BY DESIGN — a FAISS
    * index holds its centroid table in RAM, and Spark MLlib's own KMeans
    * collects centers to the driver every Lloyd iteration. Holding them
    * locally turns cell assignment into a pure map-side EXPRESSION
    * (zero joins, zero exchanges, whole-stage codegen) instead of a
    * broadcast crossJoin + argmin aggregate; the DataFrame loop
    * ([[kmeansStep]]/[[kmeansTrain]]/[[ivfAssign]]) remains the variant
    * for centroid tables too big for one machine (e.g. 2^20 cells ×
    * 1024 dims), where assignment must stay a distributed join. */
  type LocalCentroids = Seq[(Long, Array[Float])]

  /** The centroid table as ONE array-of-structs literal. Constant-folded
    * to a single `Literal`, so the generated code references an opaque
    * constant object — the code SHAPE is identical for every centroid
    * value set, and the codegen cache hits across Lloyd iterations and
    * re-built queries. (The first cut inlined each centroid as its own
    * literal: every iteration produced byte-different generated source,
    * and Janino recompilation — ~0.5 s per stage — dominated training
    * on a 491-row sample.) */
  private def centroidsLit(cents: LocalCentroids): Column = {
    require(cents.nonEmpty, "need at least one centroid")
    array(cents.map { case (cid, cv) =>
      struct(lit(cid).as("cid"), typedlit(cv.toSeq).as("cv")) }: _*)
  }

  /** Per-centroid (d2, cid) scores as an array — [[dist2]]'s fixed op
    * order with the interpreted fold ([[dotHof]], spec-pinned
    * bit-identical to the native kernel) for the centroid-side dots the
    * lambda needs. */
  private def scoredArray(vec: Column, cents: LocalCentroids): Column =
    transform(centroidsLit(cents), c => {
      val cv = c.getField("cv")
      struct(((dot(vec, vec) - lit(2.0) * dotHof(vec, cv))
        + dotHof(cv, cv)).as("d2"), c.getField("cid").as("cid"))
    })

  /** Nearest-cell id for `vec` under driver-held centroids — the same
    * argmin-by-(dist2, cid) the DataFrame path and the oracle compute
    * (`array_min` over (d2, cid) structs is the lexicographic min, so
    * ties break on cid identically). Map-side, zero joins. */
  def nearestCellExpr(vec: Column, cents: LocalCentroids): Column =
    array_min(scoredArray(vec, cents)).getField("cid")

  /** cid → centroid-VECTOR lookup map (array-valued) — the coarse-cell
    * table IVFPQ reads map-side to form residuals (v − centroid[cell])
    * without a join. K×dims floats as one constant-folded literal, the
    * [[centroidsLit]] codegen-cache discipline. */
  def centroidVecMapExpr(cents: LocalCentroids): Column =
    map_from_entries(array(cents.map { case (cid, cv) =>
      struct(lit(cid), typedlit(cv.toSeq)) }: _*))

  /** Elementwise single-precision residual v − c — float subtract, the
    * exact op the oracle's FLOAT[] comprehension performs, so residuals
    * are bit-identical cross-engine before any codebook math sees them. */
  def residualExpr(vec: Column, cent: Column): Column =
    zip_with(vec, cent, (a, b) => a - b)

  /** Driver-side nearest-centroid id for one vector, replaying
    * [[kmeansTrainArrays]]' assignment exactly (same (vv − 2·v·c) + c·c
    * double-fold sequence, same (d2, cid) tie-break) — IVFPQ's residual
    * TRAINING assigns its sample on the driver with this, so the
    * residuals it trains on equal the ones the distributed encode (and
    * the oracle's argmin CTE) produce. */
  def nearestCidLocal(v: Array[Float], cents: LocalCentroids): Long = {
    def dotDD(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val vv = dotDD(v, v)
    var best = Double.MaxValue; var bestCid = Long.MaxValue
    cents.foreach { case (cid, cv) =>
      val d2 = (vv - 2.0 * dotDD(v, cv)) + dotDD(cv, cv)
      if (d2 < best || (d2 == best && cid < bestCid)) {
        best = d2; bestCid = cid
      }
    }
    bestCid
  }

  /** cid → dist² lookup map for `vec` against driver-held centroids —
    * the per-query DISTANCE TABLE of PQ/ADC scoring (Jégou et al. 2011):
    * built once per query row as a map-side expression, then each
    * candidate's quantized distance is m map lookups + an add chain, no
    * float vector math per pair. Same [[dist2]] op order as
    * [[nearestCellExpr]], so the table entries are bit-identical to the
    * oracle's join-computed distances. */
  def distMapExpr(vec: Column, cents: LocalCentroids): Column =
    map_from_entries(transform(scoredArray(vec, cents),
      s => struct(s.getField("cid"), s.getField("d2"))))

  /** The `probes` nearest cell ids for a QUERY vector, as an array —
    * `array_sort` over (d2, cid) structs replays the oracle's
    * row_number-over-(d2, cid) probe selection. Map-side; explode the
    * result to fan a query out to its probe cells. */
  def probeCellsExpr(vec: Column, cents: LocalCentroids,
                     probes: Int): Column = {
    require(probes > 0, "probes must be > 0")
    transform(slice(array_sort(scoredArray(vec, cents)), 1, probes),
      s => s.getField("cid"))
  }

  /** The in-process Lloyd core: `iters` passes over an already-collected
    * training sample. This is NOT a driver loop over corpus data — the
    * sample is driver-bounded BY CONSTRUCTION (FAISS trains its coarse
    * quantizer on ≤ ~256·K vectors regardless of corpus size, and MLlib
    * KMeans collects the centers to the driver every iteration); ONE
    * collect job fetches it, then the K·sample·dims flop loop is
    * microseconds next to any Spark job's scheduling latency.
    *
    * Bit-compatibility: per-vector assignment replays [[dist2]]'s exact
    * IEEE sequence ((a·a − 2·a·b) + b·b, dots as left-to-right
    * double-promoted folds) with the (d2, cid) tie-break; per-cell means
    * are double sum / count rounded to float — the FLOAT cast absorbs
    * summation-order noise exactly as the SQL oracle's replay relies on
    * (spec pins in-process == distributed [[kmeansTrain]]). Cells that
    * empty disappear; the result is cid-sorted. */
  def kmeansTrainArrays(data: Seq[Array[Float]], seed: LocalCentroids,
                        iters: Int): LocalCentroids = {
    require(iters >= 0, "iters must be >= 0")
    def dotDD(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    (1 to iters).foldLeft(seed) { (cents, _) =>
      val selfDots = data.map(v => dotDD(v, v))
      val centDots = cents.map { case (_, cv) => dotDD(cv, cv) }
      val sums = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Array[Double], Long)]
      data.zip(selfDots).foreach { case (v, vv) =>
        var best = Double.MaxValue; var bestCid = Long.MaxValue
        cents.indices.foreach { k =>
          val (cid, cv) = cents(k)
          val d2 = (vv - 2.0 * dotDD(v, cv)) + centDots(k)
          if (d2 < best || (d2 == best && cid < bestCid)) {
            best = d2; bestCid = cid
          }
        }
        val (acc, n) = sums.getOrElseUpdate(bestCid,
          (new Array[Double](v.length), 0L))
        var j = 0
        while (j < v.length) { acc(j) += v(j).toDouble; j += 1 }
        sums(bestCid) = (acc, n + 1)
      }
      sums.toSeq.map { case (cid, (acc, n)) =>
        (cid, acc.map(s => (s / n.toDouble).toFloat))
      }.sortBy(_._1)
    }
  }

  /** Symmetric int8 scalar quantization (native [[graft.functions.I8Quantize]]
    * kernel): per-vector scale = max|x|/127, codes truncated toward zero —
    * the 4× memory/bandwidth cut a 100 TB embedding store serves from
    * (quantize once at ingest, score with [[i8Dot]], exact-rerank the
    * short list). */
  def i8Quantize(v: Column): Column = call_function("i8_quantize", v)

  /** Exact integer dot over int8 code vectors — 64 integer multiply-adds,
    * no FP, tie-stable (native [[graft.functions.I8Dot]] kernel). */
  def i8Dot(a: Column, b: Column): Column = call_function("i8_dot", a, b)

  /** Int8-quantized brute-force top-k by QUANTIZED COSINE: the
    * [[cosineTopK]] shape on 4×-smaller vectors with an integer scoring
    * loop. Ranking by cosine (dot over code norms, norms computed once
    * per row) rather than raw dot keeps the metric identical to the
    * float path, so recall against it (q49) measures PURE quantization
    * loss — raw dot would conflate it with the dot-vs-cosine mismatch on
    * non-unit corpora. All three dots are exact longs; the one double
    * division sequence is mirrored by the oracle bit-for-bit. */
  def i8TopK(queries: DataFrame, corpus: DataFrame, id: String,
             vec: String, k: Int): DataFrame = {
    // Zero-code vectors have no direction — excluded outright (also keeps
    // the engines aligned: 0/0 is NaN in Spark but NULL in DuckDB).
    val q = queries.select(col(id).as("query_id"),
        i8Quantize(col(vec)).as("__qc"))
      .withColumn("__qn", i8Dot(col("__qc"), col("__qc")))
      .filter(col("__qn") > 0)
    val c = corpus.select(col(id).as("neighbor_id"),
        i8Quantize(col(vec)).as("__cc"))
      .withColumn("__cn", i8Dot(col("__cc"), col("__cc")))
      .filter(col("__cn") > 0)
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", i8Dot(col("__qc"), col("__cc")))
      .withColumn("cosine_i8", col("qdot").cast("double") /
        sqrt(col("__qn").cast("double") * col("__cn").cast("double")))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cosine_i8").desc, col("neighbor_id")), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("qdot"), col("cosine_i8"))
  }

  /** Brute-force cosine top-k: every query row against the whole corpus,
    * ranked per query with a deterministic tie-break. Query side should be
    * small (it is broadcast). */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, id: String,
                 vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
      norm(col(vec)).as("__qn"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"),
      norm(col(vec)).as("__cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id")), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Reciprocal-rank fusion (Cormack & Clarke SIGIR '09) of two or more
    * retrieval rankings: score(q, d) = Σ_lists 1/(rrfK + rank_list(d)),
    * missing-from-list contributes 0 — the standard ensemble for hybrid
    * retrieval (LSH + quantized, dense + BM25). Rank-based fusion needs
    * NO score calibration between lists (cosine and int-dot never share
    * a scale), and the fused order is deterministic: each term is one
    * exact int→double division, terms add in the caller's fixed list
    * order, ties break by neighbor id.
    *
    * Input frames carry (query_id, neighbor_id, rank). Shape: the lists
    * full-outer-join on (query_id, neighbor_id) — list sizes are
    * per-query top-k tables (bounded, never corpus-sized), so the join
    * and the final per-query top-k are cheap regardless of corpus
    * scale; the expensive part stays inside the per-list retrieval
    * plans, which keep their own scale postures. `n_sources` reports
    * how many lists agreed on each survivor (the fusion diagnostic). */
  def rrfFuse(rankings: Seq[DataFrame], rrfK: Int, k: Int): DataFrame = {
    require(rankings.size >= 2, s"need >= 2 rankings, got ${rankings.size}")
    require(rrfK >= 1, s"rrfK $rrfK must be >= 1")
    val terms = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("neighbor_id"),
        (lit(1.0) / (lit(rrfK) + col("rank")).cast("double"))
          .as(s"__t$i"))
    }
    val joined = terms.reduce((a, b) =>
      a.join(b, Seq("query_id", "neighbor_id"), "full_outer"))
    val score = terms.indices
      .map(i => coalesce(col(s"__t$i"), lit(0.0)))
      .reduce(_ + _)
    val nSrc = terms.indices
      .map(i => when(col(s"__t$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    val sc = joined.select(col("query_id"), col("neighbor_id"),
      score.as("rrf_score"), nSrc.as("n_sources"))
    RelationalOps.topKPerGroup(sc, Seq("query_id"),
        Seq(col("rrf_score").desc, col("neighbor_id")), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("rrf_score"), col("n_sources"))
  }

  /** Semantic deduplication prune list (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into cells, compare
    * pairs ONLY within a cell, and prune every vector that has a
    * more-senior (smaller-id) cell-mate with cosine ≥ `theta`. The
    * keep-earliest rule needs no transitive closure — a vector's fate
    * depends only on the existence of one smaller-id near-neighbor, so
    * one bucketed self-join + one aggregate decides every row (vs the
    * near-dup clustering path, L40b, which pays a CC fixpoint for
    * cluster-aware curation).
    *
    * Cells here are deterministic sign-LSH buckets ([[lshBucket]]) rather
    * than the paper's trained k-means cells, so the cell assignment is a
    * pure expression the oracle replays exactly; the trained-cell variant
    * is [[ivfAssign]] composed the same way. Scale: pair work is
    * Σ_cells |cell|² — bounded by sizing buckets via [[sizedPlanes]]
    * (a bounded expected cell size at any corpus size), the paper's own
    * recipe; the corpus never pairs across cells. Returns ONLY pruned vectors:
    * (id, bucket, witness_id = smallest qualifying senior, n_dups =
    * qualifying seniors, max_cosine). Counts are exact longs; cosines are
    * compare/max only (no float summation). */
  def semDedupPrune(vectors: DataFrame, id: String, vec: String,
                    planes: Int, theta: Double): DataFrame = {
    val e = vectors.select(col(id), col(vec),
      lshBucket(col(vec), planes).as("bucket"), norm(col(vec)).as("__n"))
    val a = e.select(col(id).as("vec_id"), col(vec).as("__va"),
      col("bucket"), col("__n").as("__na"))
    val b = e.select(col(id).as("__w"), col(vec).as("__vb"),
      col("bucket").as("__bb"), col("__n").as("__nb"))
    a.join(b, col("bucket") === col("__bb") && col("__w") < col("vec_id"))
      .withColumn("__cos", cosineWithNorms(col("__va"), col("__vb"),
        col("__na"), col("__nb")))
      .filter(col("__cos") >= lit(theta))
      .groupBy(col("vec_id"), col("bucket"))
      .agg(min(col("__w")).as("witness_id"),
        count(lit(1)).as("n_dups"),
        max(col("__cos")).as("max_cosine"))
  }

  /** Hard-negative mining for contrastive training (Xiong et al. 2021,
    * ANCE, arXiv:2007.00808 shape): for each query vector, the top-`k`
    * most-similar corpus vectors whose `label` DIFFERS from the query's —
    * the near-miss negatives that make embedding training informative.
    * Candidate generation is radius-1 multi-probe sign-LSH (the q53
    * dial): the corpus is bucketed ONCE, each query probes its own
    * bucket plus every 1-bit flip, and only candidates are scored — the
    * production ANN shape, not a brute-force pair scan. The label
    * inequality rides the bucket join (no post-filter pass). Ties break
    * by neighbor id; cosines are compare-only doubles. */
  def hardNegativeTopK(queries: DataFrame, corpus: DataFrame, id: String,
                       vec: String, label: String, planes: Int,
                       k: Int): DataFrame = {
    val masks = (0 to planes).map(i =>
      if (i == 0) 0L else 1L << (i - 1)).map(lit)
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"),
      lshBucket(col(vec), planes).as("__bc"), norm(col(vec)).as("__cn"),
      col(label).as("neg_label"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("__qv"),
        explode(transform(array(masks: _*), m =>
          lshBucket(col(vec), planes).bitwiseXOR(m))).as("__probe"),
        norm(col(vec)).as("__qn"), col(label).as("__ql"))
    val scored = q.join(c, col("__probe") === col("__bc") &&
        col("__ql") =!= col("neg_label"))
      .withColumn("cosine", cosineWithNorms(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    RelationalOps.topKPerGroup(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id")), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("rank"), col("cosine"))
  }
}
