package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CleanseOps => C, RelationalOps => R, TextOps => T}

/** Property-based invariants (SURVEY §5): rate-derivation bounds, dedup
  * idempotence, join-key containment, rounding stability, Jaccard axioms.
  * ScalaCheck generators with FIXED seeds (deterministic runs, no
  * scalatestplus bridge on the classpath); samples stay small — each
  * property materializes Spark jobs. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic mini-forAll: n seeded samples from a generator. */
  private def forAll[A](gen: Gen[A], n: Int = 5)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 5)
                           (f: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(42L + i)),
        gb.pureApply(Gen.Parameters.default, Seed(1042L + i)))
    }

  private val rows = Gen.listOfN(20,
    Gen.zip(Gen.choose(1, 5), Gen.choose(1, 100), Gen.choose(0.0, 1e6)))

  test("per-100k rate is non-negative and null only on zero denominator") {
    forAll(rows) { data =>
      val df = data.toDF("k", "den", "num")
        .select(C.per100k(col("num"), col("den")).as("r"),
          C.per100k(col("num"), lit(0)).as("r0"))
      val out = df.collect()
      assert(out.forall(r => r.getDouble(0) >= 0.0))
      assert(out.forall(_.isNullAt(1))) // try_divide: div-by-0 -> null
    }
  }

  test("dedupFirst is idempotent and keeps one row per key") {
    forAll(rows) { data =>
      val df = data.toDF("k", "v", "x")
      val once = R.dedupFirst(df, Seq("k"), Seq(col("v"), col("x")))
      val twice = R.dedupFirst(once, Seq("k"), Seq(col("v"), col("x")))
      val keys = df.select("k").distinct().count()
      assert(once.count() == keys)
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
    }
  }

  test("inner join output keys are contained in both inputs") {
    forAll2(rows, rows) { (l, r) =>
      val left = l.toDF("k", "v", "x")
      val right = r.map(t => (t._1, t._2)).toDF("k", "w")
      val joined = left.join(right, Seq("k"))
      val lk = left.select("k").as[Int].collect().toSet
      val rk = right.select("k").as[Int].collect().toSet
      val jk = joined.select("k").as[Int].collect().toSet
      assert(jk.subsetOf(lk) && jk.subsetOf(rk))
    }
  }

  test("half-even rounding is idempotent and within half-step of input") {
    forAll(Gen.listOfN(30, Gen.choose(-1e6, 1e6))) { xs =>
      val df = xs.toDF("x").select(col("x"),
        C.roundHalfEven(col("x"), 2).as("r"),
        C.roundHalfEven(C.roundHalfEven(col("x"), 2), 2).as("rr"))
      df.collect().foreach { row =>
        val (x, r, rr) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
        assert(r == rr)                       // idempotent
        assert(math.abs(x - r) <= 0.005 + 1e-9) // within half a cent
      }
    }
  }

  test("unionAll preserves total row count") {
    forAll2(rows, rows) { (a, b) =>
      val (da, db) = (a.toDF("k", "v", "x"), b.toDF("k", "v", "x"))
      assert(R.unionAll(Seq(da, db)).count() == da.count() + db.count())
    }
  }

  test("fused text kernels equal their composable forms on random strings") {
    // Random strings over a charset that stresses every edge the kernels
    // own: multi-byte UTF-8 (code-point walk), runs of spaces (empty
    // tokens / trailing empties), and short texts (fallback windows).
    val charGen: Gen[String] = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString), 3 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "ü", "こ", "中", "🙂"))
    val textGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, charGen).map(_.mkString))
    forAll(Gen.listOfN(25, textGen), n = 4) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val rows = df.select(
          call_function("char_minhash_sig", col("text"), lit(4)).as("a1"),
          call_function("minhash_sig",
            T.charShinglesMulti(col("text"), 4)).as("b1"),
          call_function("word_minhash_sig", col("text"), lit(2)).as("a2"),
          call_function("minhash_sig",
            T.wordShinglesMulti(T.tokens(col("text")), 2)).as("b2"),
          call_function("char_shingle_hashset", col("text"), lit(4)).as("a3"),
          array_sort(array_distinct(transform(
            T.charShinglesMulti(col("text"), 4),
            s => T.hash32(s)))).as("b3"),
          call_function("char_min_hash32", col("text"), lit(4)).as("a4"),
          T.rollingFingerprint(col("text"), 4).as("b4"),
          call_function("word_min_hash32", col("text"), lit(1)).as("a5"),
          T.minTokenHash(T.tokens(col("text"))).as("b5"),
          call_function("token_hash60_array", col("text")).as("a6"),
          transform(T.tokens(col("text")), w => T.hash60(w)).as("b6"))
        .collect()
      rows.zip(texts).foreach { case (r, t) =>
        def v(i: Int): Any = if (r.isNullAt(i)) null else r.get(i)
        Seq((0, 1, "char sig"), (2, 3, "word sig"), (4, 5, "char set"),
          (6, 7, "rolling fp"), (8, 9, "token minhash"),
          (10, 11, "token hash60")).foreach {
          case (a, b, what) =>
            assert(v(a) == v(b), s"$what diverged on '$t'")
        }
      }
    }
  }

  test("asofBackward equals the naive join-then-max reference on random data") {
    import graft.operators.{TimeOps => Ti}
    // left: (key, ts, id)  right: (key, ts, id) — heavy ts collisions on
    // purpose (choose(0,8)) so the tie-break path is exercised; ts = 0
    // encodes a NULL timestamp (ADVICE r3: nulls must behave like DuckDB
    // ASOF — never match, never be matched).
    val side = Gen.listOfN(25,
      Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 8L), Gen.choose(1, 1000)))
    forAll2(side, side, n = 4) { (l, r) =>
      val left = l.zipWithIndex
        .map { case ((k, ts, _), i) => (k, ts, i.toLong) }
        .toDF("k", "lus", "lid")
        .withColumn("lts",
          when(col("lus") > 0, timestamp_micros(col("lus"))))
      val right = r.map { case (k, ts, v) => (k, ts, v.toLong) }
        .distinct  // unique (k, ts, rid) triples
        .toDF("k", "rus", "rid")
        .withColumn("rts",
          when(col("rus") > 0, timestamp_micros(col("rus"))))
      def run(f: (org.apache.spark.sql.DataFrame, String,
        org.apache.spark.sql.DataFrame, String, Seq[String], Seq[String],
        Seq[org.apache.spark.sql.Column]) => org.apache.spark.sql.DataFrame) =
        f(left, "lts", right, "rts", Seq("k"), Seq("rid"), Seq(col("rid")))
          .select(col("lid"), col("rid"))
          .collect().map(x => x.getLong(0) ->
            (if (x.isNullAt(1)) -1L else x.getLong(1))).toMap
      // Null ts (encoded 0) on the right can never match; on the left it
      // always misses.
      val rightRows = r.map { case (k, ts, v) => (k, ts, v.toLong) }
        .distinct.filter(_._2 > 0)
      // Naive references: all pairs, filter by direction, keep the
      // extreme ts (ties by max rid — the 'last under rightOrder' rule).
      def naive(dir: (Long, Long) => Boolean, back: Boolean) =
        l.zipWithIndex.map { case ((k, lts, _), i) =>
          val cands =
            if (lts == 0) Nil
            else rightRows.filter(c => c._1 == k && dir(c._2, lts))
          i.toLong -> (if (cands.isEmpty) -1L
            else if (back) cands.maxBy(c => (c._2, c._3))._3
            else { val m = cands.map(_._2).min
                   cands.filter(_._2 == m).maxBy(_._3)._3 })
        }.toMap
      assert(run(Ti.asofBackward) == naive(_ <= _, back = true))
      assert(run(Ti.asofForward) == naive(_ >= _, back = false))
    }
  }

  test("localClusteringCensus equals the brute-force per-node triangle " +
    "count on random graphs (pins the edge-iterator rewrite)") {
    import graft.operators.GraphOps
    val gEdges = for {
      n <- Gen.choose(4, 18)
      m <- Gen.choose(3, 50)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(1, n); b <- Gen.choose(1, n)
      } yield (a.toLong, b.toLong))
    } yield es
    forAll(gEdges, n = 5) { es =>
      val g = GraphFixture(es)
      val out = GraphOps.localClusteringCensusPrepared(g.oriented,
          g.orientedAdj, g.deg, g.nEdges)
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(out == g.censusReference,
        s"census mismatch on ${g.canon}: $out vs ${g.censusReference}")
    }
  }

  test("nfc_normalize: identity on ASCII, idempotent, and agrees with " +
    "the JDK reference on random unicode") {
    import java.text.Normalizer
    val uniChar = Gen.oneOf(
      Gen.alphaNumChar,
      Gen.oneOf('é', 'e', '́', 'ü', 'u', '̈', 'ñ', 'n',
        '̃', 'ß', '中', '文', ' '))
    val uniStr = Gen.listOfN(24, uniChar).map(_.mkString)
    forAll(uniStr, n = 10) { s =>
      val Seq(once, twice, refEq) = Seq(s).toDF("s")
        .select(T.nfcNormalize(col("s")).as("n1"))
        .select(col("n1"), T.nfcNormalize(col("n1")).as("n2"))
        .select(col("n1"), col("n2"),
          (col("n1") === lit(Normalizer.normalize(s, Normalizer.Form.NFC)))
            .as("ref"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
        .flatMap(t => Seq(t._1, t._2, t._3.toString)).toSeq
      assert(once == twice, s"not idempotent on ${s.toList}")
      assert(refEq == "true", s"diverged from JDK reference on ${s.toList}")
    }
    // pure-ASCII strings pass through the fast path unchanged
    forAll(Gen.listOfN(32, Gen.asciiPrintableChar).map(_.mkString)) { s =>
      val out = Seq(s).toDF("s").select(T.nfcNormalize(col("s")))
        .head.getString(0)
      assert(out == s)
    }
  }

  test("redact_count: struct(n, s) equals the composed " +
    "matchCount+redact pair on random text, null-safe, and the token " +
    "is inserted verbatim (no $-group expansion)") {
    val word = Gen.oneOf("contact", "a1b2", "x@y.z", "user9@mail.com",
      "ref", "42", "007", "$1", "", "no-pii-here",
      // r17 fast-scanner adversaries: failed-@ resume points, missing /
      // doubled dots, uppercase/digit suffix stops, adjacent runs,
      // non-ASCII bytes, and boundary-hugging matches — each shape the
      // hand-rolled byte scanners must resolve exactly like find()
      "ab@cd@ef.gh", "a@b1.c", "ab@cd.", "a@@b.c", "A@b.c", "a@b..c",
      "9a@b.c9", "a@b.cDEF", "@x.y", "a@.y", "über42@straße.de",
      "x7@@y.z", "1@2.3", "a@b.c@d.e", "..@..")
    val txt = Gen.listOfN(8, word).map(_.mkString(" "))
    for (pat <- Seq(T.EmailPattern, T.NumberPattern)) {
      forAll(txt, n = 30) { s =>
        val r = Seq(s).toDF("t")
          .select(T.redactCount(col("t"), pat, "<X>").as("rc"),
            T.matchCount(col("t"), pat).as("n"),
            T.redact(col("t"), pat, "<X>").as("s2"))
          .head
        assert(r.getStruct(0).getInt(0) == r.getInt(1),
          s"count diverged from matchCount on '$s' / $pat")
        assert(r.getStruct(0).getString(1) == r.getString(2),
          s"redaction diverged from regexp_replace on '$s' / $pat")
        // regexp_replace REJECTS $ in the replacement (group expansion);
        // the fused KERNEL is verbatim by contract — check against the
        // quoted-splice Scala reference. The Column API refuses such
        // tokens outright (ADVICE r13: a redact→redactCount swap with a
        // '$' token would silently change output), so the kernel pin
        // goes through call_function directly.
        val dollar = Seq(s).toDF("t")
          .select(call_function("redact_count", col("t"), lit(pat),
            lit("<$X>"))).head
        val verbatim = pat.r.replaceAllIn(s,
          scala.util.matching.Regex.quoteReplacement("<$X>"))
        assert(dollar.getStruct(0).getString(1) == verbatim,
          s"verbatim-token contract broken on '$s' / $pat")
        // ...and the Column API guards the divergence at construction
        intercept[IllegalArgumentException] {
          T.redactCount(col("t"), pat, "<$X>")
        }
        intercept[IllegalArgumentException] {
          T.redactCount(col("t"), pat, "a\\b")
        }
      }
    }
    // null text propagates (struct is null, not struct of nulls)
    val nr = Seq(Option.empty[String]).toDF("t")
      .select(T.redactCount(col("t"), T.EmailPattern, "<E>"))
      .head
    assert(nr.isNullAt(0))
  }

  test("token_census: struct(nt, nd, ns) equals the composed " +
    "split/array_distinct/filter triple on random text with empty, " +
    "repeated, and unicode tokens") {
    val word = Gen.oneOf("the", "a", "b", "the", "", "日本語", "x y".take(1),
      "longtokenlongtoken", "a")
    // join with SINGLE spaces but inject doubles/trailing via the empty
    // word — split-regex-" " semantics keep those empties as tokens
    val txt = Gen.listOfN(12, word).map(_.mkString(" "))
    forAll(txt, n = 10) { s =>
      val r = Seq(s, s + " ", " " + s, "").toDF("t")
        .select(T.tokenCensus(col("t"), Seq("the", "a")).as("c"),
          size(T.tokens(col("t"))).as("nt"),
          size(array_distinct(T.tokens(col("t")))).as("nd"),
          T.stopwordCount(T.tokens(col("t")), Seq("the", "a")).as("ns"))
        .collect()
      r.foreach { row =>
        val c = row.getStruct(0)
        assert(c.getInt(0) == row.getInt(1), s"nt diverged on '$s'")
        assert(c.getInt(1) == row.getInt(2), s"nd diverged on '$s'")
        assert(c.getInt(2) == row.getInt(3), s"ns diverged on '$s'")
      }
    }
    // null text → null struct (not a struct of nulls)
    val nr = Seq(Option.empty[String]).toDF("t")
      .select(T.tokenCensus(col("t"), Seq("the"))).head
    assert(nr.isNullAt(0))
  }

  test("token_census: a pathological >2^21-token document computes " +
    "exactly and the thread's scratch keeps working afterwards " +
    "(ADVICE r14 shrink path)") {
    import org.apache.spark.unsafe.types.UTF8String
    val F = graft.functions.TokenCensus
    val stops = Array("the".getBytes("UTF-8"))
    // 2.2M tokens → capacity crosses the 4M-slot shrink threshold; half
    // the tokens repeat so nd is a real distinct count, not nt.
    val n = 2200000
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(if (i % 2 == 0) "t" + (i / 2) else "the")
      i += 1
    }
    val big = F.compute(UTF8String.fromString(sb.toString), stops)
    assert(big.getInt(0) == n, "nt on the giant document")
    assert(big.getInt(1) == n / 2 + 1, "nd: n/2 distinct evens + 'the'")
    assert(big.getInt(2) == n / 2, "ns: every odd token is the stopword")
    // The same thread computes a normal document correctly after the
    // post-row scratch reset (a broken reset would mis-probe here).
    val small = F.compute(UTF8String.fromString("a b a the"), stops)
    assert(small.getInt(0) == 4 && small.getInt(1) == 3 &&
      small.getInt(2) == 1)
  }

  test("scd2 equals a driver-side reference on random keyed state streams") {
    val rnd = new scala.util.Random(31)
    for (_ <- 0 until 3) {
      val evs = (1L to 8L).flatMap { k =>
        // distinct random times per key so (ts) alone totally orders
        rnd.shuffle((1 to 60).toList).take(rnd.nextInt(12) + 1)
          .map(t => (k, t.toLong * 1000000L,
            ("ABC" (rnd.nextInt(3))).toString))
      }
      // reference: sort per key, collapse runs, range-assign
      val expect = evs.groupBy(_._1).toSeq.flatMap { case (k, es) =>
        val sorted = es.sortBy(_._2)
        val collapsed = sorted.foldLeft(List.empty[(String, Long)]) {
          case (acc, (_, us, st)) =>
            if (acc.headOption.exists(_._1 == st)) acc
            else (st, us) :: acc
        }.reverse
        collapsed.zipWithIndex.map { case ((st, from), i) =>
          val to = collapsed.lift(i + 1).map(_._2)
          (k, st, from, to.getOrElse(-1L), if (to.isEmpty) 1 else 0)
        }
      }.toSet
      val df = evs.toDF("k", "us", "st")
        .withColumn("ts", timestamp_micros(col("us")))
      val got = graft.operators.TimeOps.scd2(df, Seq("k"), col("st"), "ts",
          Seq(col("us")))
        .select(col("k"), col("state"), col("valid_from_us"),
          coalesce(col("valid_to_us"), lit(-1L)), col("is_current"))
        .as[(Long, String, Long, Long, Int)].collect().toSet
      assert(got == expect)
    }
  }

  test("cohortRetention totals equal a driver-side reference on random events") {
    val rnd = new scala.util.Random(77)
    val evs = (1L to 25L).flatMap { u =>
      (0 until rnd.nextInt(6) + 1).map(_ => (u, rnd.nextInt(10)))
    }
    val expect = {
      val firstDay = evs.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      evs.map { case (u, d) => (firstDay(u), d - firstDay(u), u) }
        .distinct.groupBy(t => (t._1, t._2)).view
        .mapValues(_.size.toLong).toMap
    }
    val df = evs.toDF("user_id", "d")
      .withColumn("ts", timestamp_micros(col("d").cast("long") * 86400000000L))
    val got = graft.operators.AnalyticsOps
      .cohortRetention(df, col("user_id"), col("ts"))
      .collect().map { r =>
        val day = java.time.LocalDate.parse(r.getString(0)).toEpochDay.toInt
        (day, r.getInt(1)) -> r.getLong(2)
      }.toMap
    assert(got == expect)
    // every cohort's day-0 retention is exactly 1.0 by construction
    val day0 = graft.operators.AnalyticsOps
      .cohortRetention(df, col("user_id"), col("ts"))
      .filter(col("days_since") === 0).select(col("retention"))
      .as[Double].collect()
    assert(day0.nonEmpty && day0.forall(_ == 1.0))
  }

  test("rankSumTest U equals brute-force pair counting on random " +
    "tied-value samples") {
    val samples = Gen.listOfN(30,
      Gen.zip(Gen.oneOf("a", "b", "x"), Gen.choose(0, 8)))
    forAll(samples, n = 6) { data =>
      val as = data.collect { case ("a", v) => v }
      val bs = data.collect { case ("b", v) => v }
      if (as.nonEmpty && bs.nonEmpty) {
        // U1 = #(a beats b) + half the cross-group ties, exactly
        val wins = (for (x <- as; y <- bs) yield
          if (x > y) 2 else if (x == y) 1 else 0).sum
        val df = data.map { case (s, v) => (s, v.toDouble) }.toDF("s", "v")
        val r = graft.operators.AnalyticsOps
          .rankSumTest(df, col("s"), col("v"), "a", "b").head
        assert(r.getLong(0) == as.size && r.getLong(1) == bs.size)
        assert(r.getDouble(2) == wins.toDouble / 2.0,
          s"U1 mismatch: got ${r.getDouble(2)}, brute $wins/2")
      }
    }
  }

  test("gapFill + ewmaSmooth equal a driver-side reference on random " +
    "sparse series") {
    val series = Gen.listOfN(12,
      Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(0, 20), Gen.choose(1, 9)))
    forAll(series, n = 6) { raw =>
      // one observation per (group, day): sum duplicate days like the op
      val obs = raw.groupBy(d => (d._1, d._2)).view
        .mapValues(_.map(_._3.toLong).sum).toMap
      val df = raw.map { case (g, d, v) =>
        (g, java.time.LocalDate.ofEpochDay(d.toLong).toString, v.toLong) }
        .toDF("g", "d", "v").withColumn("d", to_date(col("d")))
      val filled = graft.operators.TimeOps
        .gapFill(df, col("g"), col("d"), col("v"))
      val got = graft.operators.TimeOps
        .ewmaSmooth(filled, col("__g"), col("__day"), col("n"), 40)
        .select(col("__g"), col("__day").cast("string"), col("n"),
          col("carried"), col("ewma"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      // driver reference: explicit spine walk + LOCF + halving fold
      obs.keys.groupBy(_._1).foreach { case (g, ks) =>
        val days = ks.map(_._2)
        var carried = 0L; var ewma = 0.0
        val window = scala.collection.mutable.Queue.empty[Long]
        for (d <- days.min to days.max) {
          val n = obs.getOrElse((g, d), 0L)
          if (obs.contains((g, d))) carried = n
          window.enqueue(n)
          while (window.size > 40) window.dequeue()
          ewma = window.foldLeft(0.0)((acc, x) => (acc + x) / 2.0)
          val key = (g, java.time.LocalDate.ofEpochDay(d.toLong).toString)
          assert(got(key) == ((n, carried, ewma)), s"$key")
        }
      }
    }
  }

  test("discreteQuantiles equals the sorted-list ceil-rank element on " +
    "random multisets, for every requested fraction") {
    import graft.operators.AnalyticsOps
    val gen = Gen.listOfN(40, Gen.chooseNum(-50L, 50L))
    val qs = Seq(("p10", 1, 10), ("p25", 1, 4), ("p50", 1, 2),
      ("p75", 3, 4), ("p99", 99, 100))
    forAll(gen, n = 4) { vals =>
      val out = AnalyticsOps.discreteQuantiles(
        vals.map(Tuple1(_)).toDF("v"), col("v"), qs).head
      val sorted = vals.sorted
      qs.zipWithIndex.foreach { case ((name, num, den), i) =>
        val k = (sorted.size.toLong * num + den - 1) / den // ceil rank
        val expect = sorted((math.max(k, 1L) - 1L).toInt)
        assert(out.getLong(i) == expect,
          s"$name over $sorted: got ${out.getLong(i)}, want $expect")
      }
    }
  }

  test("giniCoefficient equals the brute-force sorted-rank formula on " +
    "random nonnegative multisets") {
    import graft.operators.AnalyticsOps
    val gen = Gen.listOfN(30, Gen.chooseNum(0L, 100L))
      .suchThat(_.sum > 0)
    forAll(gen, n = 4) { vals =>
      val g = AnalyticsOps.giniCoefficient(
        vals.map(Tuple1(_)).toDF("v"), col("v")).head.getDouble(2)
      val sorted = vals.sorted
      val n = sorted.size
      val s = sorted.sum
      val num = sorted.zipWithIndex
        .map { case (x, i) => (2L * (i + 1) - n - 1).toDouble * x }.sum
      val expect = num / (n.toDouble * s.toDouble)
      assert(math.abs(g - expect) < 1e-12,
        s"gini over $sorted: got $g, want $expect")
    }
  }

  test("shapeMoments matches a driver-side moment computation on random " +
    "integer samples and is invariant under constant shift") {
    import graft.operators.AnalyticsOps
    val gen = Gen.listOfN(25, Gen.chooseNum(0L, 1000L))
      .suchThat(v => v.distinct.size > 1)
    forAll(gen, n = 3) { vals =>
      val df = (vals.map(("a", _)) ++ vals.map(v => ("b", v + 777L)))
        .toDF("g", "x")
      val out = AnalyticsOps.shapeMoments(df, col("g"), col("x"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
        .toMap
      val n = vals.size.toDouble
      val mean = vals.sum.toDouble / n
      val m2 = vals.map(v => math.pow(v - mean, 2)).sum / n
      val m3 = vals.map(v => math.pow(v - mean, 3)).sum / n
      val m4 = vals.map(v => math.pow(v - mean, 4)).sum / n
      val (gm, gm2, gskew, gkurt) = out("a")
      assert(math.abs(gm - mean) < 1e-9 && math.abs(gm2 - m2) < 1e-6)
      assert(math.abs(gskew - m3 / (m2 * math.sqrt(m2))) < 1e-9)
      assert(math.abs(gkurt - (m4 / (m2 * m2) - 3.0)) < 1e-9)
      val (bm, bm2, bskew, bkurt) = out("b")
      assert(math.abs(bm - (mean + 777.0)) < 1e-9)
      assert(math.abs(bm2 - gm2) < 1e-6 && math.abs(bskew - gskew) < 1e-9 &&
        math.abs(bkurt - gkurt) < 1e-9,
        "shift invariance on random data")
    }
  }

  test("skylineMinMax equals brute-force dominance filtering on random " +
    "points (duplicates and axis ties included)") {
    // Narrow ranges force collisions on each axis AND full duplicates —
    // the tie semantics (mutually non-dominating rows all kept) is the
    // part a hand example misses.
    val pts = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 12L), Gen.choose(0, 12)))
    forAll(pts, n = 5) { data =>
      val df = data.zipWithIndex
        .map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
      val got = R.skylineMinMax(df, col("x"), col("y"))
        .as[(Long, Long, Int)].collect().toSet
      val expect = data.zipWithIndex.collect {
        case ((x, y), i) if !data.exists { case (qx, qy) =>
          qx <= x && qy >= y && (qx < x || qy > y) } =>
          (i.toLong, x, y)
      }.toSet
      assert(got == expect, s"skyline diverged from brute force on $data")
      spark.catalog.clearCache()
    }
  }

  test("skylineMinMax rejects a non-integral minimize axis") {
    val df = Seq((1.5, 2)).toDF("x", "y")
    intercept[IllegalArgumentException] {
      R.skylineMinMax(df, col("x"), col("y"))
    }
  }

  test("greedyCoverageSelect equals a driver-side greedy reference " +
    "(0-gain units kept, early stop past the unit count)") {
    import graft.operators.SampleOps
    val pairs = Gen.listOfN(60,
      Gen.zip(Gen.choose(1, 6).map(u => s"u$u"), Gen.choose(1, 25)))
    forAll(pairs, n = 3) { data =>
      val df = data.toDF("u", "it")
      val got = SampleOps
        .greedyCoverageSelect(df, col("u"), col("it"), 3)
        .as[(Int, String, Long, Long)].collect().toSeq
      // Driver-side greedy: max new items, tie → lexicographic min unit.
      val byUnit = data.distinct.groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      var covered = Set.empty[Int]
      var selected = Set.empty[String]
      val expect = (1 to 3).flatMap { r =>
        val cands = byUnit.keySet.diff(selected).toSeq
          .map(u => (u, (byUnit(u) -- covered).size.toLong))
        if (cands.isEmpty) None else {
          val (u, g) = cands.minBy { case (u, g) => (-g, u) }
          selected += u; covered ++= byUnit(u)
          Some((r, u, g, covered.size.toLong))
        }
      }
      assert(got == expect, s"greedy diverged on $data")
      spark.catalog.clearCache()
    }
    // More rounds than units: stops after exhausting the units.
    val tiny = Seq(("a", 1), ("b", 1), ("b", 2)).toDF("u", "it")
    val rows = SampleOps.greedyCoverageSelect(tiny, col("u"), col("it"), 10)
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(rows == Seq((1, "b", 2L, 2L), (2, "a", 0L, 2L)),
      s"early stop fixture, got $rows")
  }
}
