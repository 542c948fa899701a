package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps => D, RelationalOps => R,
  SampleOps => Sam, SessionMemo, TextOps => T, VectorOps => Vec}
import graft.operators.SessionMemo.Round

/** Unit tests for the LLM-training-data-pipeline operators: text analysis,
  * exact/near dedup (MinHash-LSH, SimHash), embedding similarity. */
class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------------------------------------------------------- text

  test("hash32 is the md5-prefix hash the DuckDB oracle computes") {
    // duckdb: CAST(('0x' || substr(md5('abc'),1,8)) AS BIGINT) = 2416005272
    val h = Seq("abc").toDF("s").select(T.hash32(col("s"))).head.getLong(0)
    assert(h == 2416005272L)
  }

  test("wordShingles: trigrams, distinct, short-doc guard") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(T.wordShingles(T.tokens(col("text")), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq.empty) // size<n must NOT produce sequence(0,-1)
  }

  test("jaccard is exact |intersect|/|union| on distinct sets") {
    val df = Seq((Seq("x", "y", "z"), Seq("y", "z", "w"))).toDF("a", "b")
      .select(T.jaccard(col("a"), col("b")))
    assert(df.head.getDouble(0) == 0.5)
  }

  test("collocationLift: exact lift ratios, deterministic tie order, " +
    "single-token docs contribute nothing") {
    val docs = Seq("x y", "x y", "p q", "p z", "x q", "solo")
      .toDF("text")
    val out = T.collocationLift(docs, col("text"), minCount = 1, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // N=5 bigrams; cx: x=3, p=2; cy: y=2, q=2, z=1
    assert(out(("x", "y")) == ((2L, (2.0 * 5.0) / (3.0 * 2.0))))
    assert(out(("p", "z")) == ((1L, (1.0 * 5.0) / (2.0 * 1.0))))
    assert(out(("x", "q")) == ((1L, (1.0 * 5.0) / (3.0 * 2.0))))
    assert(out.size == 4) // "solo" has no bigram
  }

  test("rollingFingerprint covers every window and handles short text") {
    val long = Seq("abcdefghij").toDF("t") // 3 windows of width 8
      .select(T.rollingFingerprint(col("t"), 8)).head.getLong(0)
    val manual = Seq("abcdefgh", "bcdefghi", "cdefghij").toDF("s")
      .select(T.hash32(col("s")).as("h")).agg(min("h")).head.getLong(0)
    assert(long == manual)
    val short = Seq("abc").toDF("t")
      .select(T.rollingFingerprint(col("t"), 8)).head.getLong(0)
    val whole = Seq("abc").toDF("s").select(T.hash32(col("s"))).head.getLong(0)
    assert(short == whole)
  }

  // --------------------------------------------------------------- dedup

  test("exactDedupSummary counts copies and keeps min id") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("id", "text")
    val out = D.exactDedupSummary(df, "id", "text")
      .orderBy("keeper_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds a near-dup pair without all-pairs comparison") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    val distinct = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinct))
      .toDF("doc_id", "text")
    val pairs = D.nearDupPairs(docs, "doc_id",
      T.wordShingles(T.tokens(col("text")), 3), 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getDouble(2) > 0.8 && pairs.head.getDouble(2) < 1.0)
  }

  test("bpeMerges replays the classic BPE example: count-weighted argmax " +
    "with (cnt, l, r) tie-break, greedy within-word application") {
    // Sennrich et al.'s vocab {low:5, lower:2, newest:6, widest:3}:
    // es(9) -> est(9) -> lo(7) -> low(7), with es beating st on the
    // l-asc tie and lo beating ow the same way.
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val out = T.bpeMerges(Seq(text).toDF("text"), col("text"), rounds = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L),
      (4, "lo", "w", "low", 7L)))
    // overlapping runs merge greedily left-to-right: aaa -> (aa)(a)
    val o2 = T.bpeMerges(Seq("aaa aaa").toDF("text"), col("text"), 2)
      .collect().map(r => (r.getString(3), r.getLong(4))).toSeq
    assert(o2 == Seq(("aa", 4L), ("aaa", 2L)))
  }

  test("bpeMerges scans the corpus exactly once across rounds " +
    "(per-round localCheckpoint pin)") {
    // An accumulator in the corpus lineage counts real materializations:
    // without the symbol-table checkpoint each round's argmax would replay
    // the corpus (acc == rounds); with it only round 1 touches the source.
    val acc = spark.sparkContext.longAccumulator("bpe_corpus_scans")
    val base = Seq.fill(4)("low lower newest widest").toDF("text")
      .repartition(1)
    val docs = spark.createDataFrame(
      base.rdd.mapPartitions { it => acc.add(1); it }, base.schema)
    val out = T.bpeMerges(docs, col("text"), rounds = 3).collect()
    assert(out.length == 3)
    assert(acc.value == 1L,
      s"corpus materialized ${acc.value} times; the merge loop must run " +
        "on the checkpointed symbol table, not replay the corpus per round")
  }

  test("ngramNextTokens: exact conditional counts, top-k tie by token, " +
    "short docs contribute nothing, rare contexts pruned") {
    val docs = Seq("a b c", "a b d", "a b c", "b c d e", "x y", "q")
      .toDF("text")
    val out = T.ngramNextTokens(docs, col("text"), n = 3,
        minContext = 3L, k = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // only "a b" is seen >= 3 times; "b c"/"c d" (once) pruned
    assert(out.keySet == Set(("a b", "c"), ("a b", "d")))
    assert(out(("a b", "c")) == ((2L, 3L, 2.0 / 3.0)))
    assert(out(("a b", "d")) == ((1L, 3L, 1.0 / 3.0)))
    // tie at equal counts: token order decides the kept continuation
    val tied = Seq("t t a", "t t b").toDF("text")
    val top = T.ngramNextTokens(tied, col("text"), n = 3,
      minContext = 2L, k = 1).collect()
    assert(top.length == 1 && top.head.getString(1) == "a")
  }

  test("containmentPairs finds a small doc embedded in a large one that " +
    "the Jaccard pass cannot even candidate, oriented smaller-inside-larger") {
    // 30 words inside 80: containment = 1.0 but J ~ 0.36 — the 4x3
    // Jaccard banding produces NO candidate for this pair (verified
    // against the fixed hash constants), while the wider 6x2 containment
    // banding collides on one band. The contained doc gets the LARGER id
    // so the output orientation must come from set size, not id order.
    val contained = (1 to 30).map(i => s"w$i").mkString(" ")
    val container = (1 to 80).map(i => s"w$i").mkString(" ")
    val other = (200 to 240).map(i => s"v$i").mkString(" ")
    val docs = Seq((2L, container), (9L, contained), (5L, other))
      .toDF("doc_id", "text")
    assert(D.nearDupPairs(docs, "doc_id",
      T.wordShingles(T.tokens(col("text")), 3), 0.0).count() == 0L,
      "symmetric banding must miss the sub-document at ANY threshold")
    val out = D.containmentPairs(docs, "doc_id",
      D.wordKernels(col("text"), 3), 0.6).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 9L && r.getLong(1) == 2L,
      s"orientation must be (contained=9, container=2), got $r")
    assert(r.getDouble(2) == 1.0, "full containment")
    assert(r.getInt(3) < r.getInt(4))
    spark.catalog.clearCache()
  }

  test("withContainmentPairs releases all three caches (bands, candidates, " +
    "candidate docs); containmentPairs keeps them (ADVICE r7/r8)") {
    val contained = (1 to 30).map(i => s"w$i").mkString(" ")
    val container = (1 to 80).map(i => s"w$i").mkString(" ")
    val docs = Seq((2L, container), (9L, contained),
      (5L, (200 to 240).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    spark.catalog.clearCache()
    SparkEntry.clearSessionSweeps()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = D.withContainmentPairs(docs, "doc_id",
      D.wordKernels(col("text"), 3), 0.6)(_.count())
    assert(n == 1L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"withContainmentPairs must leave no new cache entries: $leaked")
    D.containmentPairs(docs, "doc_id", D.wordKernels(col("text"), 3), 0.6)
      .count()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    spark.catalog.clearCache()
  }

  test("withNearDupPairs releases the candidate cache; nearDupPairs keeps it") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " zz"), (3L, "a b c"))
      .toDF("doc_id", "text")
    spark.catalog.clearCache() // isolate from other suites' state
    // ...including SparkEntry session sweeps, whose localCheckpoint
    // blocks survive clearCache by design and would fail the
    // no-persistent-RDDs assertion below.
    SparkEntry.clearSessionSweeps()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = D.withNearDupPairs(docs, "doc_id",
      T.wordShingles(T.tokens(col("text")), 3), 0.8)(_.count())
    assert(n == 1L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"withNearDupPairs must leave no new cache entries: $leaked")
    // The raw entry point persists (documented session-cache semantics) —
    // callers own release via clearCache or the tracked handle.
    D.nearDupPairs(docs, "doc_id",
      T.wordShingles(T.tokens(col("text")), 3), 0.8).count()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    spark.catalog.clearCache()
  }

  test("NearDupSweep: one checkpointed build feeds multiple consumers, " +
    "clear() forces a rebuild (VERDICT r5 #3)") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " zz"), (3L, "a b c"))
      .toDF("doc_id", "text")
    def shingles = T.wordShingles(T.tokens(col("text")), 3)
    // the session form: a Round-tier store entry over a loaned,
    // checkpointed build (a private store: clearing it touches no other
    // suite's artifacts)
    val sweep = new SessionMemo
    def build = D.withNearDupPairs(docs, "doc_id", shingles, 0.8)(
      _.localCheckpoint(true))
    val p1 = sweep(Round, spark, "docs", "k1")(build)
    // the returned plan is the MATERIALIZED checkpoint — no corpus scan,
    // no shingle pipeline left in it
    assert(p1.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.nonEmpty,
      "sweep pairs must be checkpoint-backed")
    // second consumer: memo hit hands back the SAME build (object
    // identity — the store ran the loan exactly once)
    val p2 = sweep(Round, spark, "docs", "k1")(build)
    assert(p2 eq p1, "second consumer must reuse the first build")
    // both consumers read the one materialization, and it is correct:
    // losers view + cluster view of the same pair set
    assert(p1.select(col("id_b")).distinct().count() == 1L)
    assert(p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
    // the checkpoint is NOT a CacheManager entry: clearCache (run by any
    // unrelated job between consumers) must not invalidate the sweep
    spark.catalog.clearCache()
    assert(p1.count() == 1L, "sweep must survive catalog.clearCache()")
    // clear() releases and empties: the next call is a fresh build
    sweep.clear(Round)
    assert(sweep.entries(Round).size == 0)
    val p3 = sweep(Round, spark, "docs", "k1")(build)
    assert(!(p3 eq p1) && p3.count() == 1L)
    sweep.clear(Round)
  }

  test("identical docs share a simhash; unrelated docs differ") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here")).toDF("doc_id", "text")
    val out = D.simhash(df, "doc_id", T.tokens(col("text")))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(out(0) == out(1))
    assert(out(0) != out(2))
  }

  test("native minhash_sig kernel equals the composable md5+affine form") {
    val docs = Seq((1L, (1 to 25).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        T.wordShingles(T.tokens(col("text")), 3).as("sh"))
    val native = D.minhashSignatures(docs, "doc_id", col("sh")).head
    val reference = docs.select(col("doc_id") +: (0 until D.K).map { k =>
      array_min(transform(transform(col("sh"), s => T.hash32(s)),
        h => (lit(D.aCoef(k)) * h + lit(D.bCoef(k))) % lit(T.HashPrime)))
        .as(s"mh$k")
    }: _*).head
    assert(native == reference)
  }

  test("minhash signature: more shared shingles => more equal components") {
    val a = (1 to 30).map(i => s"t$i").mkString(" ")
    val b = (1 to 28).map(i => s"t$i").mkString(" ") + " x y"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      .select(col("doc_id"),
        T.wordShingles(T.tokens(col("text")), 3).as("sh"))
    val sigs = D.minhashSignatures(docs, "doc_id", col("sh"))
      .orderBy("doc_id").collect()
    val equal = (0 until D.K).count(k =>
      sigs(0).getLong(k + 1) == sigs(1).getLong(k + 1))
    assert(equal >= D.K / 2) // ~90% shingle overlap => most minhashes agree
  }

  // ------------------------------------------------------------- vectors

  test("cosine: identical => 1.0, orthogonal => 0.0") {
    val df = Seq((Seq(1f, 0f, 2f), Seq(1f, 0f, 2f), Seq(0f, 3f, 0f)))
      .toDF("a", "b", "c")
    val Row(same: Double, orth: Double) =
      df.select(Vec.cosine(col("a"), col("b")),
        Vec.cosine(col("a"), col("c"))).head
    assert(math.abs(same - 1.0) < 1e-12)
    assert(orth == 0.0)
  }

  test("cosineTopK ranks by similarity with deterministic ties") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 1f)), (3L, Seq(1f, 0.01f))).toDF("vec_id", "embedding")
    val out = Vec.cosineTopK(vecs.filter(col("vec_id") === 0), vecs,
      "vec_id", "embedding", 2).orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 1L)) // closest first
    assert(out.map(_.getInt(2)).toSeq == Seq(1, 2))
  }

  test("lshBucket: same vector => same bucket; buckets within range") {
    val vecs = Seq((0L, (1 to 64).map(_.toFloat)),
      (1L, (1 to 64).map(_.toFloat)),
      (2L, (1 to 64).map(i => (65 - i).toFloat))).toDF("vec_id", "embedding")
    val out = vecs.select(Vec.lshBucket(col("embedding"), 4).as("b"))
      .collect().map(_.getLong(0))
    assert(out(0) == out(1))
    assert(out.forall(b => b >= 0 && b < 16))
  }

  test("ivfAssign puts every vector in its nearest centroid's cell") {
    val vecs = Seq((0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(1f, 0f)), (3L, Seq(9f, 9f))).toDF("vec_id", "embedding")
    val cent = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val cells = Vec.ivfAssign(vecs, "vec_id", "embedding", cent, "cid", "cv")
      .select("vec_id", "cell_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(cells.toSeq == Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 1L)))
  }

  test("native lsh_bucket_f32 matches the composable per-plane fold " +
    "bit-for-bit, including degenerate inputs") {
    val vecs = ((0 until 30).map { i =>
      (i.toLong, (1 to 64).map(j =>
        ((i * 37 + j * 11) % 17 - 8).toFloat / 3f))
    } :+ (97L, Seq(1f, 2f, 3f)) // wrong dim: both forms -> bucket 0
      :+ (98L, null.asInstanceOf[Seq[Float]]) // NULL vector: both -> 0
      ).toDF("vec_id", "embedding")
    for (planes <- Seq(4, 6)) {
      val rows = vecs.select(
          Vec.lshBucket(col("embedding"), planes).as("native"),
          Vec.lshBucketHof(col("embedding"), planes).as("hof"),
          col("vec_id"))
        .collect()
      rows.foreach { r =>
        assert(!r.isNullAt(0), s"native bucket null at planes=$planes " +
          s"vec_id=${r.getLong(2)} — lsh_bucket_f32 is non-nullable")
        assert(r.getLong(0) == r.getLong(1),
          s"bucket diverged at planes=$planes vec_id=${r.getLong(2)}")
      }
      // NULL vector pools into bucket 0, same as the oracle CASE form.
      assert(rows.find(_.getLong(2) == 98L).get.getLong(0) == 0L)
    }
  }

  test("i8 quantization: codes match the composable trunc form, dot is " +
    "exact, degenerate inputs follow the dot_f32 conventions") {
    val vecs = ((0 until 20).map { i =>
      (i.toLong, (1 to 64).map(j =>
        ((i * 53 + j * 17) % 255 - 127).toFloat / 11f))
    } :+ (97L, Seq.fill(64)(0f)) // all-zero vector -> all-zero codes
      ).toDF("vec_id", "v")
    // composable twin of the kernel: amax fold + per-element trunc
    val amax = array_max(transform(col("v"),
      x => abs(x.cast("double"))))
    val hofCodes = transform(col("v"), x =>
      when(amax === 0d, lit(0L))
        .otherwise((x.cast("double") * 127.0 / amax).cast("long")))
    val rows = vecs.select(col("vec_id"),
        Vec.i8Quantize(col("v")).as("k"), hofCodes.as("h"))
      .collect()
    rows.foreach { r =>
      val k = r.getSeq[Byte](1).map(_.toLong)
      val h = r.getSeq[Long](2)
      assert(k == h, s"codes diverged for vec_id=${r.getLong(0)}")
      assert(k.forall(c => c >= -127 && c <= 127))
    }
    // integer dot is the exact sum of code products
    val d = vecs.filter(col("vec_id") < 2).orderBy("vec_id")
      .select(Vec.i8Quantize(col("v")).as("c")).collect()
      .map(_.getSeq[Byte](0))
    val expect = d(0).zip(d(1)).map { case (a, b) => a.toLong * b }.sum
    val two = vecs.filter(col("vec_id") < 2).orderBy("vec_id")
      .select(col("v")).collect().map(_.getSeq[Float](0).toSeq)
    val kernelDot = Seq((two(0), two(1))).toDF("a", "b")
      .select(Vec.i8Dot(Vec.i8Quantize(col("a")), Vec.i8Quantize(col("b"))))
      .head.getLong(0)
    assert(kernelDot == expect)
    // null element -> null codes; length-mismatch dot -> null
    val badQ = Seq(Tuple1(Seq(Some(1f), None, Some(2f)))).toDF("v")
      .select(Vec.i8Quantize(col("v"))).head
    assert(badQ.isNullAt(0))
    // non-finite elements -> null codes (never a throw or a zero-code)
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity)) {
      val r = Seq(Tuple1(Seq(1f, bad, 2f))).toDF("v")
        .select(Vec.i8Quantize(col("v"))).head
      assert(r.isNullAt(0), s"expected null codes for $bad")
    }
    val badD = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
      .select(Vec.i8Dot(Vec.i8Quantize(col("a")), Vec.i8Quantize(col("b"))))
      .head
    assert(badD.isNullAt(0))
    // quantized cosine tracks float cosine within the int8 noise floor
    val pair = two
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    def cosI(a: Seq[Byte], b: Seq[Byte]): Double = {
      val dd = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dd / math.sqrt(a.map(x => x.toDouble * x).sum *
        b.map(x => x.toDouble * x).sum)
    }
    assert(math.abs(cos(pair(0), pair(1)) - cosI(d(0), d(1))) < 0.02)
  }

  test("ANN geometry is a parameter: a 6-plane LSH build works and stays " +
    "within its 64-bucket range") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, (1 to 64).map(j => ((i * 31 + j * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
    val out = vecs.select(Vec.lshBucket(col("embedding"), 6).as("b"))
      .collect().map(_.getLong(0))
    assert(out.forall(b => b >= 0 && b < 64))
    // More planes can only split buckets, never merge them: vectors in
    // different 4-plane buckets stay apart at 6 planes (the 4-plane id is
    // the low 4 bits of the 6-plane id — same plane formula, packed low).
    val both = vecs.select(Vec.lshBucket(col("embedding"), 4).as("b4"),
      Vec.lshBucket(col("embedding"), 6).as("b6")).collect()
    assert(both.forall(r => (r.getLong(1) & 15L) == r.getLong(0)))
  }

  test("geometry defaults follow the corpus-size math") {
    // planes: N/2^p ≈ targetBucket, monotone in N, floor of 1.
    assert(Vec.planesForCorpus(500, 32) == 4)
    assert(Vec.planesForCorpus(1L << 30, 4096) == 18)
    assert(Vec.planesForCorpus(10, 4096) == 1)
    assert(Vec.planesForCorpus(2000, 4096) == 1)
    // cells: N/targetCell, clamped to [1, 2^20] (broadcastable centroids).
    assert(Vec.cellsForCorpus(500, 64) == 7)
    assert(Vec.cellsForCorpus(1L << 40, 4096) == (1 << 20))
    assert(Vec.cellsForCorpus(100, 4096) == 1)
  }

  test("deflate_ratio discriminates repetitive from high-entropy text") {
    val repetitive = ("the same line again " * 50).trim
    val prose = "a reasonably varied sentence with many different words " +
      "that do not repeat themselves in any obvious periodic fashion here"
    val randomish = (1 to 120).map(i =>
      ((i * 2654435761L) % 93 + 33).toChar).mkString
    val rows = Seq((1L, repetitive), (2L, prose), (3L, randomish), (4L, ""))
      .toDF("id", "text")
      .select(col("id"),
        call_function("deflate_ratio", col("text")).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(rows(1L) < 0.1, s"repetitive text must compress hard: ${rows(1L)}")
    assert(rows(2L) > rows(1L) * 3, "prose must compress far less")
    assert(rows(3L) > rows(2L), "random-ish text must compress least")
    assert(rows(4L) == 1.0) // empty: nothing to judge
    assert(rows.values.forall(r => r > 0.0 && r < 1.5))
  }

  test("kmeansStep moves centroids to their cell means and converges on " +
    "separated clusters") {
    // Two tight clusters near (0,0) and (10,10); initial centroids are
    // deliberately off-center but on the right sides.
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(10f, 10f)), (4L, Seq(11f, 10f)), (5L, Seq(10f, 11f)))
      .toDF("vec_id", "embedding")
    val init = Seq((0L, Seq(2f, 2f)), (1L, Seq(8f, 8f)))
      .toDF("cid", "cv")
    val step1 = Vec.kmeansStep(vecs, "vec_id", "embedding", init, "cid", "cv")
    val c1 = step1.as[(Long, Seq[Float])].collect().toMap
    // exact cell means: (1/3, 1/3) and (31/3, 31/3)
    assert(c1(0L) == Seq(1f / 3, 1f / 3))
    assert(c1(1L) == Seq(31f / 3, 31f / 3))
    // fixpoint: another step from the means changes nothing
    val step2 = Vec.kmeansStep(vecs, "vec_id", "embedding", step1, "cid", "cv")
    assert(step2.as[(Long, Seq[Float])].collect().toMap == c1)
    // kmeansTrain = the same steps chained (iters=2 ≡ step∘step), and
    // iters=0 hands back the seed untouched — the q34 measured path runs
    // THIS loop, not a parallel implementation
    val trained = Vec.kmeansTrain(vecs, "vec_id", "embedding", init,
      "cid", "cv", 2)
    assert(trained.as[(Long, Seq[Float])].collect().toMap == c1)
    val untrained = Vec.kmeansTrain(vecs, "vec_id", "embedding", init,
      "cid", "cv", 0)
    assert(untrained.as[(Long, Seq[Float])].collect().toMap ==
      init.as[(Long, Seq[Float])].collect().toMap)
  }

  test("driver-held centroids: kmeansTrainLocal equals the distributed " +
    "kmeansTrain; nearestCellExpr/probeCellsExpr replay ivfAssign and " +
    "the (d2, cid) probe order") {
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(10f, 10f)), (4L, Seq(11f, 10f)), (5L, Seq(10f, 11f)))
      .toDF("vec_id", "embedding")
    val init = Seq((0L, Seq(2f, 2f)), (1L, Seq(8f, 8f))).toDF("cid", "cv")
    val initLocal: Vec.LocalCentroids =
      Seq((0L, Array(2f, 2f)), (1L, Array(8f, 8f)))
    // training parity: same Lloyd math, float cast absorbs sum order
    val dist = Vec.kmeansTrain(vecs, "vec_id", "embedding", init,
      "cid", "cv", 2).as[(Long, Seq[Float])].collect().toMap
    val local = Vec.kmeansTrainLocal(vecs, "embedding", initLocal, 2, 2)
    assert(local.map { case (c, v) => c -> v.toSeq }.toMap == dist)
    assert(local.map(_._1) == local.map(_._1).sorted,
      "local centroids must come back cid-sorted")
    // iters=0 hands back the seed untouched
    assert(Vec.kmeansTrainLocal(vecs, "embedding", initLocal, 0, 2)
      .eq(initLocal))
    // assignment parity with the DataFrame path on the TRAINED set
    val localDf = local.map { case (c, v) => (c, v.toSeq) }.toDF("cid", "cv")
    val viaJoin = Vec.ivfAssign(vecs, "vec_id", "embedding",
        localDf, "cid", "cv")
      .select(col("vec_id"), col("cell_id"))
      .as[(Long, Long)].collect().toMap
    val viaExpr = vecs.select(col("vec_id"),
        Vec.nearestCellExpr(col("embedding"), local))
      .as[(Long, Long)].collect().toMap
    assert(viaExpr == viaJoin)
    // probe order: ascending (d2, cid), cid breaking exact ties
    val tied: Vec.LocalCentroids =
      Seq((7L, Array(0f, 0f)), (2L, Array(0f, 0f)), (5L, Array(3f, 4f)))
    val probes = Seq(Tuple1(Seq(0f, 0f))).toDF("embedding")
      .select(Vec.probeCellsExpr(col("embedding"), tied, 3))
      .head.getSeq[Long](0)
    assert(probes == Seq(2L, 7L, 5L))
    assert(Seq(Tuple1(Seq(0f, 0f))).toDF("embedding")
      .select(Vec.probeCellsExpr(col("embedding"), tied, 2))
      .head.getSeq[Long](0) == Seq(2L, 7L))
  }

  test("LocalCentroidSweep: one training run per (key, session), clear() " +
    "forces a retrain") {
    val vecs = Seq((0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(10f, 10f)), (3L, Seq(11f, 10f))).toDF("vec_id", "embedding")
    val initLocal: Vec.LocalCentroids =
      Seq((0L, Array(2f, 2f)), (1L, Array(8f, 8f)))
    // driver-held centroid sets share the store with the frames
    val sweep = new SessionMemo
    var trainings = 0
    def train = {
      trainings += 1
      Vec.kmeansTrainLocal(vecs, "embedding", initLocal, 2, 2)
    }
    val c1 = sweep(Round, spark, "vecs", "k1")(train)
    val c2 = sweep(Round, spark, "vecs", "k1")(train)
    assert((c2 eq c1) && trainings == 1,
      "second consumer must reuse the first training run")
    sweep.clear(Round)
    assert(sweep.entries(Round).size == 0)
    val c3 = sweep(Round, spark, "vecs", "k1")(train)
    assert(trainings == 2 && c3.map { case (c, v) => c -> v.toSeq } ==
      c1.map { case (c, v) => c -> v.toSeq })
  }

  test("CheckpointMemo: one training run per (key, session), clear() " +
    "forces a retrain (VERDICT r6 #1)") {
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
      (3L, Seq(10f, 10f)), (4L, Seq(11f, 10f)), (5L, Seq(10f, 11f)))
      .toDF("vec_id", "embedding")
    val init = Seq((0L, Seq(2f, 2f)), (1L, Seq(8f, 8f))).toDF("cid", "cv")
    val sweep = new SessionMemo
    var trainings = 0
    def train = {
      trainings += 1
      Vec.kmeansTrain(vecs, "vec_id", "embedding", init, "cid", "cv", 2)
    }
    val c1 = sweep(Round, spark, "vecs", "k1")(train)
    // the returned plan is the MATERIALIZED checkpoint kmeansTrain took —
    // a memo hit replays zero Lloyd passes
    assert(c1.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }.nonEmpty,
      "sweep centroids must be checkpoint-backed")
    // second consumer (q49's ivf row after q34): same build, no retrain
    val c2 = sweep(Round, spark, "vecs", "k1")(train)
    assert((c2 eq c1) && trainings == 1,
      "second consumer must reuse the first training run")
    assert(c1.as[(Long, Seq[Float])].collect().toMap ==
      Map(0L -> Seq(1f / 3, 1f / 3), 1L -> Seq(31f / 3, 31f / 3)))
    // not a CacheManager entry: an unrelated clearCache can't drop it
    spark.catalog.clearCache()
    assert(c1.count() == 2L, "sweep must survive catalog.clearCache()")
    // clear() releases and empties: next call retrains
    sweep.clear(Round)
    assert(sweep.entries(Round).size == 0)
    val c3 = sweep(Round, spark, "vecs", "k1")(train)
    assert(!(c3 eq c1) && trainings == 2 && c3.count() == 2L)
    sweep.clear(Round)
  }

  test("saltedJoin produces exactly the plain join's rows under skew") {
    val large = (1 to 500).map(i => (if (i <= 450) "hot" else s"k$i", i))
      .toDF("k", "v")
    val small = Seq(("hot", 1.0), ("k451", 2.0), ("other", 9.9))
      .toDF("k", "w")
    val plain = large.join(small, Seq("k")).select("k", "v", "w")
      .as[(String, Int, Double)].collect().sortBy(r => (r._1, r._2))
    val salted = R.saltedJoin(large, small, Seq("k"), 8)
      .select("k", "v", "w")
      .as[(String, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(salted.toSeq == plain.toSeq && plain.length == 451)
  }

  test("fused char/word minhash kernels match the composable pipeline " +
    "bit-for-bit on adversarial inputs") {
    val texts = Seq("", "a", "abcdefg", "exactly8", "nine char",
      "a  b c ", " lead", "trail ", "a b", "a b c", "a b c d",
      "héllo wörld ünïcode sträng ここで 테스트 emoji🙂 mixed",
      (1 to 50).map(i => s"w${i % 7}").mkString(" "),
      "x" * 300 + " " + "y" * 300)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val rows = df.select(
        call_function("char_minhash_sig", col("text"), lit(8)).as("fc"),
        call_function("minhash_sig",
          T.charShinglesMulti(col("text"), 8)).as("cc"),
        call_function("word_minhash_sig", col("text"), lit(3)).as("fw"),
        call_function("minhash_sig",
          T.wordShinglesMulti(T.tokens(col("text")), 3)).as("cw"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      def sig(i: Int): Option[Seq[Long]] =
        if (r.isNullAt(i)) None else Some(r.getSeq[Long](i))
      assert(sig(0) == sig(1), s"char kernel diverged on: '$t'")
      assert(sig(2) == sig(3), s"word kernel diverged on: '$t'")
    }
    // hash-SET kernels: sorted distinct == array_sort(array_distinct(
    // transform(shingles, hash32))) as sequences, and the sorted merge
    // count == size(array_intersect) pairwise against a fixed doc
    val hs = df.select(
        call_function("char_shingle_hashset", col("text"), lit(8)).as("fh"),
        array_sort(array_distinct(transform(
          T.charShinglesMulti(col("text"), 8), s => T.hash32(s)))).as("ch"),
        call_function("word_shingle_hashset", col("text"), lit(3)).as("fw"),
        array_sort(array_distinct(transform(
          T.wordShinglesMulti(T.tokens(col("text")), 3),
          s => T.hash32(s)))).as("cw"))
      .collect()
    hs.zip(texts).foreach { case (r, t) =>
      def arr(i: Int): Option[Seq[Long]] =
        if (r.isNullAt(i)) None else Some(r.getSeq[Long](i))
      assert(arr(0) == arr(1), s"char hashset diverged on: '$t'")
      // composable word form yields an EMPTY set where the kernel yields
      // null (dropped doc) — both mean "no shingles"; normalize
      assert(arr(2).getOrElse(Nil) == arr(3).getOrElse(Nil),
        s"word hashset diverged on: '$t'")
    }
    val pairCheck = df.as[(Long, String)].collect().map(_._2)
    val ref = pairCheck.head
    val pc = df.select(
        call_function("sorted_intersect_count",
          call_function("char_shingle_hashset", col("text"), lit(8)),
          call_function("char_shingle_hashset", lit(ref), lit(8))).as("f"),
        size(array_intersect(
          array_distinct(transform(T.charShinglesMulti(col("text"), 8),
            s => T.hash32(s))),
          array_distinct(transform(T.charShinglesMulti(lit(ref), 8),
            s => T.hash32(s))))).as("c"))
      .collect()
    pc.foreach(r => assert(r.getInt(0) == r.getInt(1),
      "sorted merge count diverged from array_intersect"))
    // window-min kernels == composable fingerprints
    val fp = df.select(
        call_function("char_min_hash32", col("text"), lit(8)).as("fr"),
        T.rollingFingerprint(col("text"), 8).as("cr"),
        call_function("word_min_hash32", col("text"), lit(1)).as("fm"),
        T.minTokenHash(T.tokens(col("text"))).as("cm"))
      .collect()
    fp.zip(texts).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1), s"rolling fp diverged on: '$t'")
      assert(r.getLong(2) == r.getLong(3), s"token minhash diverged on: '$t'")
    }
  }

  test("tokenChunks: overlap, tail chunk, and single-token edge") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "solo")).toDF("id", "text")
    val out = df.select(col("id"),
        T.tokenChunks(T.tokens(col("text")), 4, 3).as("c"))
      .as[(Long, Seq[String])].collect().toMap
    // size 4 stride 3 over 10 tokens: starts 1,4,7,10
    assert(out(1L) == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10",
      "t10"))
    assert(out(2L) == Seq("solo"))
  }

  test("hashSample is deterministic under repartitioning and splits " +
    "disjointly by bucket range") {
    import graft.operators.{SampleOps => Sam}
    val df = (1L to 2000L).toDF("id")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Sam.hashSample(d, col("id"), 3000, 10000, "seed").select("id")
        .as[Long].collect().toSet
    val a = ids(df)
    assert(ids(df.repartition(13)) == a, "partitioning must not change it")
    // ~30% within binomial slack
    assert(a.size > 480 && a.size < 720)
    // bucket ranges [0,1500) and [1500,3000) partition the 30% sample
    val lo = df.filter(Sam.sampleBucket(col("id"), "seed", 10000) < 1500)
      .select("id").as[Long].collect().toSet
    val hi = df.filter(Sam.sampleBucket(col("id"), "seed", 10000)
        .between(1500, 2999)).select("id").as[Long].collect().toSet
    assert((lo & hi).isEmpty && (lo | hi) == a)
  }

  test("stratifiedSample applies per-stratum rates; missing strata drop") {
    import graft.operators.{SampleOps => Sam}
    val df = (1L to 3000L).map(i => (i, if (i <= 1000) "big"
      else if (i <= 2000) "keep" else "other")).toDF("id", "s")
    val out = Sam.stratifiedSample(df, col("s"), col("id"),
        Map("big" -> 1000, "keep" -> 10000), 10000, "z")
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(out("keep") == 1000L)         // rate 1.0 keeps the stratum whole
    assert(out("big") > 50 && out("big") < 150) // ~10%
    assert(!out.contains("other"))       // unmapped stratum dropped
  }

  test("count-min sketch: never underestimates, exact when collision-free," +
    " and two halves' sketches MERGE by adding counters") {
    import graft.operators.{SketchOps => Sk}
    val words = (1 to 300).flatMap(i => Seq.fill(i % 7 + 1)(s"w$i"))
    val df = words.toDF("w")
    val sk = Sk.cmsBuild(df, col("w"), 3, 256)
    val exact = df.groupBy("w").count()
    val est = Sk.cmsQuery(sk, exact.select("w"), "w", 3, 256)
      .join(exact, "w")
      .select(col("w"), col("cms_estimate"), col("count"))
      .as[(String, Long, Long)].collect()
    assert(est.length == 300)
    est.foreach { case (w, cms, ex) =>
      assert(cms >= ex, s"$w underestimated: $cms < $ex") }
    // mergeability — THE property that makes a sketch a sketch: counters
    // from disjoint halves ADD to the whole corpus's counters exactly
    val half1 = Sk.cmsBuild(df.filter(length(col("w")) <= 2), col("w"), 3, 256)
    val half2 = Sk.cmsBuild(df.filter(length(col("w")) > 2), col("w"), 3, 256)
    val merged = half1.union(half2)
      .groupBy("row_id", "bucket").agg(sum(col("c")).as("c"))
      .as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    val whole = sk.as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    assert(merged == whole)
  }

  test("weightedSample keeps rows in proportion to their integer weight") {
    import graft.operators.{SampleOps => Sam}
    val df = (1L to 4000L).map(i => (i, if (i <= 2000) 100 else 400))
      .toDF("id", "w")
    val kept = Sam.weightedSample(df, col("id"), col("w"), 1000, "ws")
      .groupBy("w").count().as[(Int, Long)].collect().toMap
    // weight 400/1000 keeps ~4x the share of weight 100/1000
    assert(kept(100) > 120 && kept(100) < 280, s"w=100: ${kept(100)}")
    assert(kept(400) > 640 && kept(400) < 960, s"w=400: ${kept(400)}")
    // extremes: weight 0 drops everything, weight = denom keeps everything
    assert(Sam.weightedSample(df, col("id"), lit(0), 1000, "ws").count() == 0)
    assert(Sam.weightedSample(df, col("id"), lit(1000), 1000, "ws")
      .count() == 4000)
    // partition-independence
    val a = Sam.weightedSample(df, col("id"), col("w"), 1000, "ws")
      .select("id").as[Long].collect().toSet
    val b = Sam.weightedSample(df.repartition(11), col("id"), col("w"),
      1000, "ws").select("id").as[Long].collect().toSet
    assert(a == b)
  }

  test("epochMix emits floor copies plus a deterministic fractional extra") {
    import graft.operators.{SampleOps => Sam}
    val df = (1L to 1000L).toDF("id")
    // 2.5 epochs: every row at least twice, ~half a third time
    val out = Sam.epochMix(df, col("id"), lit(2500), "e1")
    val perRow = out.groupBy("id").count().as[(Long, Long)].collect()
    assert(perRow.length == 1000) // no row lost
    assert(perRow.forall { case (_, n) => n == 2 || n == 3 })
    val total = perRow.map(_._2).sum
    assert(total > 2350 && total < 2650, s"total=$total") // ~2500
    // copy_idx enumerates the copies 0..n-1
    val idx = out.filter(col("id") === perRow.head._1)
      .select("copy_idx").as[Int].collect().sorted
    assert(idx.toSeq == (0 until idx.length))
    // integer weight 1000 = exactly one copy each; <= 0 = dropped
    assert(Sam.epochMix(df, col("id"), lit(1000), "e1").count() == 1000)
    assert(Sam.epochMix(df, col("id"), lit(0), "e1").count() == 0)
    assert(Sam.epochMix(df, col("id"), lit(-700), "e1").count() == 0)
    // a NULL weight drops the row — it must NOT trip the maxEpochs guard
    assert(Sam.epochMix(df, col("id"),
      lit(null).cast("long"), "e1").count() == 0)
    // deterministic across partitionings
    val a = Sam.epochMix(df, col("id"), lit(1500), "e1")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    val b = Sam.epochMix(df.repartition(9), col("id"), lit(1500), "e1")
      .groupBy("id").count().as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("epochMix fails loudly past maxEpochs instead of exploding arrays") {
    import graft.operators.{SampleOps => Sam}
    val df = (1L to 10L).toDF("id")
    // a weight column accidentally carrying raw token counts: 10^6
    // "milli-epochs" = 1000 copies/row — must raise, not materialize
    val e = intercept[Exception] {
      Sam.epochMix(df, col("id"), lit(1000000), "e1").count()
    }
    def msgs(t: Throwable): List[String] = if (t == null) Nil
      else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxEpochs")),
      s"unexpected error chain: ${msgs(e)}")
    // the bound is a dial: raising it admits the same weight
    assert(Sam.epochMix(df, col("id"), lit(70000), "e1",
      maxEpochs = 80).count() == 700)
    // weights at the default bound still pass (64 epochs exactly)
    assert(Sam.epochMix(df, col("id"), lit(64000), "e1").count() == 640)
  }

  test("q68's hash-derived demo weights are total over arbitrary source " +
    "ids (VERDICT r5: no substring parse)") {
    import graft.operators.{SampleOps => Sam, TextOps => T}
    // source ids that would break a src<digits> substring parse
    val df = Seq((1L, "weird-id"), (2L, "cc/2024-18"), (3L, ""),
      (4L, "src12")).toDF("doc_id", "source")
    val wm = pmod(T.hash32(col("source")), lit(4)) * lit(900) + lit(300)
    val out = Sam.epochMix(df.withColumn("weight_milli", wm),
      col("doc_id"), col("weight_milli"), "em")
    // total over every id: no cast failure, no dropped rows (every weight
    // is in {300, 1200, 2100, 3000} > 0 so each doc keeps >= 0 copies and
    // the job completes; exact copy counts are the hash's business)
    val kept = out.groupBy("doc_id").count().collect()
    assert(out.count() >= 0 && kept.forall(_.getLong(1) <= 4))
  }

  test("rebalanceEqual flattens the stratum mix to the smallest stratum") {
    import graft.operators.{SampleOps => Sam}
    // strata of 2000 / 500 / 100 docs: rebalance targets ~100 each
    val df = (1L to 2600L).map(i => (i, if (i <= 2000) "web"
      else if (i <= 2500) "books" else "code")).toDF("id", "src")
    val out = Sam.rebalanceEqual(df, "src", col("id"))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(out("code") == 100L) // the smallest stratum survives whole
    // larger strata land near the target within hash-Bernoulli slack
    assert(out("web") > 60 && out("web") < 140, s"web=${out("web")}")
    assert(out("books") > 60 && out("books") < 140, s"books=${out("books")}")
    // deterministic: same decision under a different partitioning
    val again = Sam.rebalanceEqual(df.repartition(7), "src", col("id"))
      .select("id").as[Long].collect().toSet
    val first = Sam.rebalanceEqual(df, "src", col("id"))
      .select("id").as[Long].collect().toSet
    assert(again == first)
  }

  test("nfc_normalize composes decomposed sequences, is identity on " +
    "ASCII and already-composed text, and propagates null") {
    import graft.operators.{TextOps => T}
    val decomposed = "café"   // e + COMBINING ACUTE
    val composed = "café"      // é precomposed
    val rows = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"),
        (4L, null.asInstanceOf[String]))
      .toDF("id", "s")
      .select(col("id"), T.nfcNormalize(col("s")).as("n"))
      .collect().sortBy(_.getLong(0))
    assert(rows(0).getString(1) == composed) // NFC composes
    assert(rows(1).getString(1) == composed) // already-NFC: unchanged
    assert(rows(2).getString(1) == "plain ascii")
    assert(rows(3).isNullAt(1))
    // hash equality after normalization — the reason the op exists
    val hashes = Seq(decomposed, composed).toDF("s")
      .select(T.hash32(T.nfcNormalize(col("s")))).as[Long].collect()
    assert(hashes(0) == hashes(1))
  }

  test("saltedJoin spreads the hot key across reducers; plain join " +
    "concentrates it") {
    // Pin the physical shape: no broadcast (the skew scenario is "dim too
    // big to broadcast") and no AQE (its coalescing/skew-split would make
    // partition counts nondeterministic for the assertion).
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val large = (1 to 2000).map(i => (if (i <= 1000) "hot" else s"k$i", i))
        .toDF("k", "v")
      val small = ((1 to 2000).map(i => (s"k$i", i * 1.0)) :+ ("hot" -> 0.5))
        .toDF("k", "w")
      def hotPartitions(joined: org.apache.spark.sql.DataFrame): Long =
        joined.filter(col("k") === "hot")
          .select(spark_partition_id().as("pid"))
          .distinct().count()
      assert(hotPartitions(large.join(small, Seq("k"))) == 1L,
        "plain join must put every hot-key row in ONE reducer")
      assert(hotPartitions(R.saltedJoin(large, small, Seq("k"), 8)) > 1L,
        "salted join must spread the hot key over multiple reducers")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ------------------------------------------------------- F8 / top-k

  test("positionalSlice returns rows (lo, hi] of the total order") {
    val df = (1 to 10).map(i => (i, s"r$i")).toDF("k", "s")
    val out = R.positionalSlice(df, Seq(col("k")), 3, 6)
      .select("k").as[Int].collect().sorted
    assert(out.toSeq == Seq(4, 5, 6))
  }

  test("topKPerGroup keeps k rows per group, deterministic tie-break") {
    val df = Seq(("g1", 3), ("g1", 1), ("g1", 2), ("g2", 9)).toDF("g", "v")
    val out = R.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 2, "rk")
      .orderBy("g", "rk").as[(String, Int, Int)].collect()
    assert(out.toSeq == Seq(("g1", 3, 1), ("g1", 2, 2), ("g2", 9, 1)))
  }

  // ----------------------------------------- L52 bottom-k sampling

  test("bottomKSample: exactly k per stratum, partition-independent, " +
    "mergeable across shards, null ids dropped") {
    import graft.operators.{SampleOps => Sam}
    val df = ((1 to 200).map(i =>
      (s"s${i % 3}", Some(i.toLong): Option[Long])) :+
      (("s0", None: Option[Long])))
      .toDF("lang", "doc_id")
    val base = Sam.bottomKSample(df, col("lang"), col("doc_id"), 4, 8, "t")
      .as[(String, Long, Long)].collect().toSet
    // exactly k per stratum
    assert(base.groupBy(_._1).forall(_._2.size == 4))
    // partition independence: repartitioned input gives the identical set
    val rep = Sam.bottomKSample(df.repartition(7), col("lang"),
      col("doc_id"), 4, 8, "t").as[(String, Long, Long)].collect().toSet
    assert(rep == base)
    // mergeability: bottom-k of (bottom-k(shard1) U bottom-k(shard2))
    // equals bottom-k of the whole
    val sh1 = df.filter(col("doc_id") <= 100)
    val sh2 = df.filter(col("doc_id") > 100)
    val merged = Sam.bottomKSample(
      Sam.bottomKSample(sh1, col("lang"), col("doc_id"), 4, 8, "t")
        .unionByName(
          Sam.bottomKSample(sh2, col("lang"), col("doc_id"), 4, 8, "t"))
        .select(col("stratum").as("lang"), col("sample_id").as("doc_id")),
      col("lang"), col("doc_id"), 4, 8, "t")
      .as[(String, Long, Long)].collect().toSet
    assert(merged == base)
  }

  // ----------------------------------------- L49 substring-level dedup

  test("word_window_select kernel equals the composable filtered-hash " +
    "form (order + multiplicity) on adversarial inputs") {
    val texts = Seq("", "a", "a b", "a b c", "a b c d e",
      "a  b c ", " lead tok", "trail tok ",
      "héllo wörld ünïcode sträng ここで 테스트 emoji🙂 mixed tokens here",
      (1 to 80).map(i => s"w${i % 5}").mkString(" "), // forced dup windows
      (1 to 40).map(i => s"u$i").mkString(" "))
    val rows = texts.toDF("text").select(
        call_function("word_window_select", col("text"), lit(3), lit(4))
          .as("k"),
        filter(transform(T.wordShinglesMulti(T.tokens(col("text")), 3),
          s => T.hash32(s)), h => h % lit(4) === lit(0)).as("c"))
      .collect()
    rows.zip(texts).foreach { case (r, t) =>
      def arr(i: Int): Seq[Long] =
        if (r.isNullAt(i)) Nil else r.getSeq[Long](i)
      // kernel null (doc dropped) where composable gives the empty array
      assert(arr(0) == arr(1), s"window-select diverged on: '$t'")
    }
  }

  test("repeatedSpans flags a span shared at DIFFERENT offsets, counts " +
    "within-doc repeats, and ignores sub-width docs") {
    val shared = (1 to 6).map(i => s"s$i").mkString(" ") // 6-token span
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),         // span at offset 4
      (2L, s"$shared b1 b2 b3 b4 b5 b6 b7"),   // span at offset 1
      (3L, s"c1 $shared c2 c3 $shared c4"),    // twice in one doc
      (4L, "too short"),                       // < width tokens: dropped
      (5L, (1 to 12).map(i => s"q$i").mkString(" "))) // no shared span
      .toDF("doc_id", "text")
    // width 6, modulus 1 (keep all windows) so detection is exact here
    val out = D.repeatedSpans(docs, "doc_id", col("text"), 6, 1)
      .orderBy(col("n_docs").desc, col("span_hash"))
      .as[(Long, Long, Long, Long)].collect()
    // exactly ONE fingerprint repeats across docs — the shared span:
    // 3 docs, 4 occurrences (doc 3 holds it twice), first doc 1
    assert(out.length == 1)
    assert(out.head._2 == 3L && out.head._3 == 4L && out.head._4 == 1L)
  }

  test("incrementalVerdict: greedy-by-id — existing rejects, batch first-wins, " +
    "no cascade, unmatched kept") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words that share nothing at all here ok"
    // existing: doc 5 = txt; incoming: 11 = txt (dup of 5), 12 = txt
    // (dup of 5 AND 11), 20 = other (unique), 21 = other (dup of 20 only)
    val existing = Seq((5L, txt)).toDF("doc_id", "text")
    val incoming = Seq((11L, txt), (12L, txt), (20L, other), (21L, other))
      .toDF("doc_id", "text")
    val out = D.incrementalVerdict(existing, incoming, "doc_id",
        D.wordKernels(col("text"), 3), 0.8)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(out(11L) == ((0, 1L, Some(5L))))      // rejected by existing
    // rejected by BOTH existing 5 and batch-mate 11 (11 itself rejected:
    // no cascade), blame = min id
    assert(out(12L) == ((0, 2L, Some(5L))))
    assert(out(20L) == ((1, 0L, None)))          // novel: kept
    assert(out(21L) == ((0, 1L, Some(20L))))     // batch first-wins
    spark.catalog.clearCache()
  }

  test("bm25TopK: exact fixed-point scores; tf and length normalization " +
    "rank as BM25 says; non-matching docs absent") {
    // corpus: N=4, dl = 3,3,3,1 -> sumdl=10, avgdl=2.5; df(x)=3
    val docs = Seq((1L, "x x y"), (2L, "x y y"), (3L, "z z z"), (4L, "x"))
      .toDF("doc_id", "text")
    val q = Seq(("qa", "x")).toDF("query_id", "term")
    val out = T.bm25TopK(docs, "doc_id", col("text"), q, k = 10)
      .collect().map(r => r.getLong(1) -> (r.getInt(2), r.getLong(3)))
      .toMap
    // the operator's exact double pipeline, replayed here op-for-op
    def fp(tf: Long, dl: Long): Long = {
      val avgdl = 10.0.toDouble / 4.0
      val idf = ((4L - 3L).toDouble + 0.5) / (3L.toDouble + 0.5)
      val satu = (tf.toDouble * (1.2 + 1.0)) /
        (tf.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.toDouble / avgdl)))
      math.floor((idf * satu) * 1e6).toLong
    }
    assert(out(1L)._2 == fp(2L, 3L))
    assert(out(2L)._2 == fp(1L, 3L))
    assert(out(4L)._2 == fp(1L, 1L))
    assert(!out.contains(3L))                  // no query term -> absent
    assert(out(1L)._2 > out(2L)._2)            // higher tf wins at same dl
    assert(out(4L)._2 > out(2L)._2)            // shorter doc wins at same tf
    // ranks follow (score desc, doc_id): the dl-1 doc's length norm
    // (satu 1.325·idf) edges out the tf-2 dl-3 doc (1.302·idf)
    assert(out(4L)._1 == 1 && out(1L)._1 == 2 && out(2L)._1 == 3)
  }

  test("bpeSubtokens: ordered merges apply greedily within words; " +
    "overlapping runs merge left-to-right non-overlapping") {
    val words = Seq("low", "lower", "slow", "aaa", "b").toDF("w")
    val out = T.bpeSubtokens(words, col("w"),
        Seq(("l", "o"), ("lo", "w"), ("a", "a")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("low") == 1L)    // l o w -> lo w -> low
    assert(out("lower") == 3L)  // l o w e r -> lo w e r -> low e r
    assert(out("slow") == 2L)   // s l o w -> s lo w -> s low
    assert(out("aaa") == 2L)    // a a a -> aa a (greedy, non-overlapping)
    assert(out("b") == 1L)      // untouched singleton
  }

  test("bpeSubtokens composes with bpeMerges: rules learned there " +
    "segment the training corpus consistently") {
    val docs = Seq("low low lower", "low slow").toDF("text")
    val merges = T.bpeMerges(docs, col("text"), rounds = 2)
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = docs.select(explode(T.tokens(col("text"))).as("w"))
      .distinct()
    val out = T.bpeSubtokens(vocab, col("w"), merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // merge 1: (l,o) cnt 4; merge 2: (lo,w) cnt 4 -> "low" is one symbol
    assert(out("low") == 1L)
    assert(out("lower") == 3L)
    assert(out("slow") == 2L)
  }

  test("lmNoveltyStats: exact predicted share per group; LM misses and " +
    "short docs count nothing") {
    val docs = Seq(
      ("s1", "a b c d"),   // trigrams: (a b,c) hit, (b c,d) miss
      ("s2", "a b c"),     // (a b,c) hit
      ("s2", "x y"),       // too short: 0 trigrams
      ("s3", "q q q")      // (q q,q) miss
    ).toDF("src", "text")
    val lm = Seq(("a b", "c"), ("b c", "z")).toDF("context", "next_token")
    val out = T.lmNoveltyStats(docs, col("src"), col("text"), lm, n = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("s1") == ((2L, 1L, 0.5)))
    assert(out("s2") == ((1L, 1L, 1.0)))
    assert(out("s3") == ((1L, 0L, 0.0)))
  }

  test("randomProject: deterministic md5 weights, exact left fold, " +
    "planes decorrelated; dotD matches a hand fold") {
    val v = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val df = Seq(Tuple1(v.toSeq)).toDF("e")
      .select(Vec.randomProject(col("e"), 2).as("rp"))
    val rp = df.head.getSeq[Double](0)
    // coordinate p: only dim 1 contributes -> 1.0 * rpWeight(p, 1)
    assert(rp == Seq(Vec.rpWeight(0, 1).toDouble,
      Vec.rpWeight(1, 1).toDouble))
    // the weight matrix must not be the low-rank LCG progression: rows
    // of the old generator were shifts of one periodic sequence, which
    // made the projection rank-deficient (measured recall@3 0.02). Pin
    // pairwise-distinct deltas between the first two planes.
    val deltas = (1 to 8).map(j => Vec.rpWeight(0, j) - Vec.rpWeight(1, j))
    assert(deltas.distinct.size > 1, s"planes are shifts: $deltas")
    val dd = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(Vec.dotD(col("a"), col("b"))).head.getDouble(0)
    assert(dd == 1.0 * 3.0 + 2.0 * 4.0)
  }

  test("lmSelfNoveltyStats equals the ngramNextTokens + lmNoveltyStats " +
    "composition (one corpus expansion instead of two)") {
    val docs = Seq(("s1", "a b c d a b c"), ("s1", "a b c"),
      ("s2", "a b d x y z"), ("s2", "q q q q q q q q"))
      .toDF("src", "text")
    val lm = T.ngramNextTokens(docs, col("text"), 3, 2L, 2)
      .select(col("context"), col("next_token"))
    val composed = T.lmNoveltyStats(docs, col("src"), col("text"), lm, 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val fused = T.lmSelfNoveltyStats(docs, col("src"), col("text"),
        3, 2L, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(fused == composed)
  }

  test("rrfFuse: exact 1/(k+rank) sums, fixed term order, missing list " +
    "contributes 0, n_sources reports agreement") {
    val l1 = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF(
      "query_id", "neighbor_id", "rank")
    val l2 = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF(
      "query_id", "neighbor_id", "rank")
    val out = Vec.rrfFuse(Seq(l1, l2), rrfK = 60, k = 3)
      .collect().map(r => r.getLong(1) ->
        (r.getInt(2), r.getDouble(3), r.getInt(4))).toMap
    val t1 = 1.0 / 61.0; val t2 = 1.0 / 62.0
    assert(out(11L) == ((1, t2 + t1, 2))) // both lists -> top
    assert(out(10L) == ((2, t1, 1)))
    assert(out(12L) == ((3, t2, 1)))
    assertThrows[IllegalArgumentException](
      Vec.rrfFuse(Seq(l1), rrfK = 60, k = 3))
  }

  test("dupSpanShare: cross-doc spans count, within-doc repeats don't, " +
    "short docs are absent, carry threads through") {
    val docs = Seq(
      (1L, "s1", "a b c d e"), // windows: [a b c d], [b c d e]
      (2L, "s1", "a b c d x"), // shares [a b c d] with doc 1
      (3L, "s2", "p q r s"),   // one unique window
      (4L, "s2", "a a a a a"), // same fingerprint twice, ONE doc only
      (5L, "s2", "x y")        // too short to window -> absent
    ).toDF("doc_id", "src", "text")
    val out = D.dupSpanShare(docs, "doc_id", col("text"),
        width = 4, modulus = 1, carry = Seq("src"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == (("s1", 2L, 1L, 0.5)))
    assert(out(2L) == (("s1", 2L, 1L, 0.5)))
    assert(out(3L) == (("s2", 1L, 0L, 0.0)))
    // within-doc repetition is span MASS but not cross-doc duplication
    assert(out(4L) == (("s2", 2L, 0L, 0.0)))
    assert(!out.contains(5L))
  }

  test("prefixFilterPairs equals the brute-force exact similarity join " +
    "on random corpora (completeness AND precision)") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 40).map(i => s"t$i")
    // planted families: each base doc spawns a mutated sibling (one word
    // appended / one word changed), so qualifying pairs exist at J >= 1/2
    // alongside random background docs that don't
    val docs = (0 until 15).flatMap { f =>
      val n = 5 + rnd.nextInt(10)
      val base = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val mutated =
        if (rnd.nextBoolean()) base :+ vocab(rnd.nextInt(vocab.size))
        else base.updated(rnd.nextInt(n), vocab(rnd.nextInt(vocab.size)))
      val noise = Seq.fill(4 + rnd.nextInt(8))(
        vocab(rnd.nextInt(vocab.size)))
      Seq((f * 3L, base.mkString(" ")), (f * 3L + 1, mutated.mkString(" ")),
        (f * 3L + 2, noise.mkString(" ")))
    }.toDF("doc_id", "text")
    val kn = D.wordKernels(col("text"), 3)
    // independent reference: collect the kernel's hashed shingle sets and
    // do the quadratic join in plain Scala with the integer threshold
    val sets = docs.select(col("doc_id"), kn.hashedSet.as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .filter(_._2.nonEmpty).toMap
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size
      if 2L * inter >= (sa.size + sb.size - inter)
    } yield (a, b) -> inter.toDouble / (sa.size + sb.size - inter)).toMap
    val got = D.withPrefixFilterPairs(docs, "doc_id", kn, 1, 2) { pairs =>
      pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    assert(got == expected)
    assert(expected.nonEmpty) // the corpus actually exercises the join
  }

  test("withPrefixFilterPairs releases its three caches (sets, prefix, " +
    "candidates); prefixFilterPairs keeps them") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val kn = D.wordKernels(col("text"), 3)
    spark.catalog.clearCache()
    SparkEntry.clearSessionSweeps()
    // Diff against a snapshot, not global emptiness: localCheckpoint
    // RDDs from EARLIER suites linger in getPersistentRDDs until the
    // ContextCleaner GCs them, and a global assertion flakes on suite
    // order (seen r9: a TextOps checkpoint from a prior test).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = D.withPrefixFilterPairs(docs, "doc_id", kn, 1, 2)(_.count())
    assert(n == 1L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"withPrefixFilterPairs must leave no new cache entries: $leaked")
    D.prefixFilterPairs(docs, "doc_id", kn, 1, 2).count()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    spark.catalog.clearCache()
  }

  // ------------------------------------------------- semdedup / negatives

  test("semDedupPrune: keep-earliest within cell, cross-cell pairs never " +
    "compared, thresholds respected") {
    // v1 ≈ v2 ≈ v3 (same direction, same LSH cell), v4 orthogonal-ish.
    def vec(seed: Double): Array[Float] =
      Array.tabulate(64)(i => (math.sin(i + 1) + seed).toFloat)
    val rows = Seq((1L, vec(0.0)), (2L, vec(0.001)), (3L, vec(0.002)),
      (4L, Array.tabulate(64)(i => (math.cos(3 * i + 7)).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Vec.semDedupPrune(df, "vec_id", "embedding",
        planes = 4, theta = 0.99)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // 1 survives (no smaller id); 2 pruned by witness 1; 3 pruned with
    // witness 1 and both 1,2 as qualifying seniors.
    assert(!out.contains(1L) && !out.contains(4L))
    assert(out(2L) == ((1L, 1L)))
    assert(out(3L) == ((1L, 2L)))
  }

  test("sizedPlanes: the q29/q133 sizing contract — smallest p in [4,21] " +
    "with 32*2^p >= n, so per-cell density (and the in-cell pair work " +
    "sum |cell|^2) is bounded by the rule, never by a fixed grid") {
    // historical small-SF geometry preserved: <= 512 vectors -> p=4,
    // the pre-r13 AnnPlanes value, so the verified outputs can't move
    assert(Vec.sizedPlanes(1L) == 4 && Vec.sizedPlanes(500L) == 4)
    assert(Vec.sizedPlanes(512L) == 4 && Vec.sizedPlanes(513L) == 5)
    assert(Vec.sizedPlanes(2000L) == 6)   // sf0.1
    assert(Vec.sizedPlanes(20000L) == 10) // sf1 probe
    // the cap: 2M cells at >= 32*2^21 vectors (the 10^10-vector point)
    assert(Vec.sizedPlanes(32L * (1L << 21)) == 21)
    assert(Vec.sizedPlanes(Long.MaxValue) == 21)
    // density bound + minimality over a sweep below the cap: expected
    // cell size <= 32 AND p is the SMALLEST such plane count (cells are
    // never over-split either) — retuning the rule to a constant would
    // fail the bound, retuning it oversized would fail minimality
    for (n <- Seq(1L, 33L, 512L, 513L, 4096L, 65537L, 1000000L,
        32L * (1L << 21))) {
      val p = Vec.sizedPlanes(n)
      assert(32L * (1L << p) >= n, s"density bound broken at n=$n")
      assert(p == 4 || 32L * (1L << (p - 1)) < n, s"not minimal at n=$n")
    }
  }

  test("hardNegativeTopK never returns the query's own label and ranks " +
    "by cosine desc") {
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (math.sin(i * 0.1 + seed * 0.01) + 1.0).toFloat)
    // All vectors share a direction-ish region so LSH buckets collide.
    val rows = (0L until 30L).map(i => (i, vec(i.toInt), (i % 3).toInt))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Vec.hardNegativeTopK(df.filter(col("vec_id") < 3), df,
      "vec_id", "embedding", "label", planes = 2, k = 3).collect()
    val lbl = rows.map(r => r._1 -> r._3).toMap
    out.foreach { r =>
      assert(lbl(r.getLong(0)) != r.getInt(2),
        s"query ${r.getLong(0)} got same-label negative ${r.getLong(1)}")
    }
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(3)).map(_.getDouble(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
      assert(rs.length <= 3)
    }
  }

  // -------------------------------------------------- lexical diversity

  test("lexicalDiversity: exact counts on a known corpus") {
    val docs = Seq(("s1", "a a b"), ("s1", "a c"), ("s2", "x x x x"))
      .toDF("source", "text")
    val out = T.lexicalDiversity(docs, col("source"), col("text"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1") // tokens: a a b a c → n=5, types {a:3,b:1,c:1}
    assert(s1.getLong(1) == 2L && s1.getLong(2) == 5L &&
      s1.getLong(3) == 3L && s1.getLong(4) == 2L && s1.getLong(5) == 3L)
    assert(s1.getDouble(6) == 3.0 / 5.0) // ttr
    assert(s1.getDouble(7) == 2.0 / 3.0) // hapax share
    assert(s1.getDouble(8) == 3.0 / 5.0) // top share
    val s2 = out("s2") // one type, 4 tokens, no hapax
    assert(s2.getLong(2) == 4L && s2.getLong(3) == 1L &&
      s2.getLong(4) == 0L && s2.getDouble(8) == 1.0)
  }

  // ------------------------------------------------------ dsir / ilog2

  test("ilog2 is exact floor(log2) including powers of two") {
    val xs = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, (1L << 40) - 1,
      1L << 40)
    val got = xs.toDF("x").select(T.ilog2(col("x"))).collect()
      .map(_.getInt(0))
    val want = xs.map(x => 63 - java.lang.Long.numberOfLeadingZeros(x))
    assert(got.toSeq == want)
  }

  test("dsirScore ranks target-vocabulary docs above off-target docs") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "alpha beta gamma gamma beta", true),
      (3L, "zeta eta theta iota kappa", false),
      (4L, "alpha beta gamma beta alpha", false), // target-looking raw doc
      (5L, "zeta eta theta zeta eta", false))
      .toDF("doc_id", "text", "tgt")
    val out = T.dsirScore(docs, col("doc_id"), col("text"), col("tgt"),
        buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // Doc 4 shares the target vocabulary → scores above the zeta docs.
    assert(out(4L) > out(3L) && out(4L) > out(5L))
    assert(out(1L) > out(3L))
    assert(out.size == 5)
  }

  // ------------------------------------------------- dup-span removal

  test("dupSpanRemove cuts duplicated windows from every doc but the " +
    "first, keeps short docs whole, reassembles in order") {
    val shared = (1 to 16).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, s"$shared tail1 tail2"),          // first doc with the span
      (20L, s"lead1 $shared tail3"),          // later doc → span removed
      (30L, "short doc"),                     // < width → untouched
      (40L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16 u17"))
      .toDF("doc_id", "text")
    val out = D.dupSpanRemove(docs, "doc_id", col("text"), width = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(10L) == ((18L, 0L, s"$shared tail1 tail2")))
    // doc 20: positions 2..17 removed (16 tokens), lead1 + tail3 remain
    assert(out(20L) == ((18L, 16L, "lead1 tail3")))
    assert(out(30L) == ((2L, 0L, "short doc")))
    assert(out(40L)._2 == 0L) // unique windows → nothing removed
    assert(out.size == 4)
  }

  // ------------------------------------------------------ phrase search

  test("phraseSearch matches adjacent in-order terms only, counts " +
    "occurrences, repeated-word phrases need true adjacency") {
    val docs = Seq(
      (1L, "a b c a b c"),   // "a b" twice, "b c a" once (pos 2)
      (2L, "b a c b"),       // "a b" never adjacent-in-order
      (3L, "x x y"))         // "x x" once
      .toDF("doc_id", "text")
    val phrases = Seq((1L, "a b"), (2L, "b c a"), (3L, "x x"))
      .toDF("phrase_id", "phrase")
    val out = T.phraseSearch(docs, "doc_id", col("text"), phrases)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out((1L, 1L)) == 2L)
    assert(out((2L, 1L)) == 1L)
    assert(out((3L, 3L)) == 1L)
    assert(!out.contains((1L, 2L))) // doc 2 has no "a b"
    assert(out.size == 3)
  }

  // ------------------------------------------- cross-source contamination

  test("crossSourceOverlap counts shared distinct shingles with " +
    "src_a < src_b, never self-pairs") {
    val docs = Seq(
      ("s1", "a b c d e"), ("s2", "a b c x y"), ("s3", "p q r s t"))
      .toDF("source", "text")
    val out = T.crossSourceOverlap(docs, col("source"), col("text"), n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // s1: {abc,bcd,cde}, s2: {abc,bcx,cxy} → share {abc}
    assert(out(("s1", "s2")) == ((1L, 3L, 3L, 1.0 / 5.0)))
    assert(!out.contains(("s2", "s1")) && !out.contains(("s1", "s1")))
    assert(!out.exists(_._1._2 == "s3")) // s3 shares nothing → absent
  }

  // -------------------------------------------------- temperature mixing

  test("temperatureMixSqrt: sqrt weights, shares sum to ~1, allocation " +
    "proportional to sqrt not to raw size") {
    val docs = Seq.fill(90)(("big", 100L)) ++ Seq.fill(10)(("small", 25L))
    val df = docs.toDF("src", "n")
    val out = Sam.temperatureMixSqrt(df, col("src"), col("n"),
        budget = 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5))).toMap
    val (bd, bt, bw, bs, ba) = out("big")
    val (sd, st, sw, ss, sa) = out("small")
    assert(bd == 90L && bt == 9000L && sd == 10L && st == 250L)
    assert(bw == math.sqrt(9000.0) && sw == math.sqrt(250.0))
    assert(math.abs(bs + ss - 1.0) < 1e-12)
    // raw ratio is 36:1 but sqrt ratio is 6:1 — temperature flattens
    assert(ba < 36 * sa && ba > 5 * sa)
  }

  // ---------------------------------------------------------- zipf slope

  test("zipfSlope: exact quantized OLS on a constructed rank-frequency " +
    "table; degenerate single-bucket group yields null") {
    // freqs 8,4,2,1 → ranks 1..4: pts (x=ilog2 r, y=ilog2 f) =
    // (0,3),(1,2),(1,1),(2,0)
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++
      Seq("d")).mkString(" ")
    val docs = Seq(("g", text), ("one", "x y")).toDF("src", "text")
    val out = T.zipfSlope(docs, col("src"), col("text"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    // n=4, sx=4, sy=6, sxy=0*3+1*2+1*1+2*0=3, sxx=0+1+1+4=6
    // slope = (4*3-4*6)/(4*6-16) = -12/8 = -1.5
    assert(g.getLong(1) == 4L)
    assert(g.getDouble(2) == -1.5)
    assert(g.getDouble(3) == (6.0 - (-1.5) * 4.0) / 4.0) // intercept = 3
    // "one": tokens x,y each freq 1 → ranks 1,2 → x∈{0,1}, y=0 — den>0
    // (x varies) so slope 0; make a REAL degenerate: single token.
    val deg = T.zipfSlope(Seq(("d", "solo")).toDF("s", "t"), col("s"),
      col("t")).collect()
    assert(deg.head.isNullAt(2) && deg.head.isNullAt(3))
  }

  // --------------------------------------- histogram quantile calibration

  test("histQuantileCalibration: exact side matches quantile_cont " +
    "semantics; fine-grained histogram nails integer grids") {
    import graft.operators.{SketchOps => Sk}
    // 1..101 in one group: p50=51, p90=91, p99≈100.9 (interpolated).
    val df = (1 to 101).map(v => ("g", v.toDouble)).toDF("k", "v")
    val out = Sk.histQuantileCalibration(df, col("k"), col("v"),
        buckets = 1000, qs = Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(1) -> r).toMap
    assert(out(0.5).getDouble(4) == 51.0)
    assert(out(0.9).getDouble(4) == 91.0)
    assert(math.abs(out(0.99).getDouble(4) - 100.0) <= 1.0)
    // With 1000 bins over 100 distinct values the estimate lands within
    // one bin width of the exact quantile.
    out.values.foreach(r => assert(r.getDouble(5) < 1.0,
      s"abs_err ${r.getDouble(5)} too large"))
    // Degenerate group (hi == lo) stays finite.
    val one = Sk.histQuantileCalibration(
      Seq(("g", 5.0), ("g", 5.0)).toDF("k", "v"), col("k"), col("v"),
      buckets = 8, qs = Seq(0.5)).collect()
    assert(one.length == 1 && one.head.getDouble(3) == 5.0 &&
      one.head.getDouble(4) == 5.0)
  }

  test("boilerplateCensus: a bigram shared by every doc is boilerplate " +
    "at any threshold; unique bigrams are not; deciles are exact " +
    "integer division") {
    // 4 docs, each starts with the template 'copy right' and continues
    // uniquely → every doc: 1 boilerplate bigram of its distinct set.
    val docs = Seq(
      (1L, "copy right alpha beta"),   // grams: copy-right, right-alpha, alpha-beta → 1/3 → decile 3
      (2L, "copy right gamma delta"),  // 1/3 → 3
      (3L, "copy right epsilon"),      // copy-right, right-epsilon → 1/2 → 5
      (4L, "copy right"))              // 1/1 → 10
      .toDF("doc_id", "text")
    val out = T.boilerplateCensus(docs, col("doc_id"),
        T.tokens(col("text")), n = 2, minDocPct = 90)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    // 'copy right' df=4 of 4 docs → 100% ≥ 90% → boilerplate; all other
    // bigrams df=1 (25% < 90%).
    assert(out(3) == ((2L, 6L, 2L)), s"deciles: $out")
    assert(out(5) == ((1L, 2L, 1L)))
    assert(out(10) == ((1L, 1L, 1L)))
    assert(out.keySet == Set(3, 5, 10))
    // Threshold scales with the corpus: at 100% the shared bigram is
    // still in every doc; doubling the corpus with docs lacking it
    // drops it below any >50% bar.
    val out2 = T.boilerplateCensus(
      docs.union(Seq((5L, "x y"), (6L, "y z"), (7L, "z w"),
        (8L, "w x")).toDF("doc_id", "text")),
      col("doc_id"), T.tokens(col("text")), n = 2, minDocPct = 90)
      .collect().map(r => r.getInt(0)).toSet
    assert(out2 == Set(0), s"no gram survives 90% of 8 docs: $out2")
  }
}
