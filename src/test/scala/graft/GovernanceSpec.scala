package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, QualityOps, SampleOps}

/** Pins the data-governance edge semantics the oracle queries can't
  * isolate: null-FK vacuous validity, three-valued-logic expectation
  * violations, zero-violation report rows, cluster-co-assigned splits,
  * and survivorship tie-breaking. */
class GovernanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("fkOrphans: null FK is vacuously valid, real orphans surface") {
    val child = Seq((1L, Some(10L)), (2L, Some(99L)), (3L, None))
      .toDF("id", "fk")
    val parent = Seq(10L, 20L).toDF("pk")
    val bad = QualityOps.fkOrphans(child, col("fk"), parent, col("pk"))
      .select(col("id")).as[Long].collect().toSet
    assert(bad == Set(2L), "only the dangling non-null FK is an orphan")
  }

  test("pseudonymize: same (salt, id) -> same token across tables so FK " +
    "joins survive; salt rotation unlinks; width respected") {
    val a = Seq(1L, 2L, 3L).toDF("id")
      .select(col("id"), QualityOps.pseudonymize(col("id"), "s1").as("tk"))
    val b = Seq(2L, 3L, 4L).toDF("fk")
      .select(col("fk"), QualityOps.pseudonymize(col("fk"), "s1").as("tk"))
    // tokenized join reproduces the cleartext join exactly
    val joined = a.join(b, "tk").select(col("id"), col("fk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(joined == Set((2L, 2L), (3L, 3L)))
    // rotating the salt unlinks every token
    val rot = Seq(1L, 2L, 3L).toDF("id")
      .select(QualityOps.pseudonymize(col("id"), "s2").as("tk"))
    assert(a.select(col("tk")).join(rot, "tk").count() == 0L)
    val tok = a.select(col("tk")).head.getString(0)
    assert(tok.length == 16 && tok.matches("[0-9a-f]{16}"))
  }

  test("kAnonymity: violating classes surface with size; report counts " +
    "achieved k, violators, and rows at risk") {
    // classes: (a,1)x5 (a,2)x2 (b,1)x1 — k=3: two violators, 3 rows at risk
    val df = (Seq.fill(5)(("a", 1)) ++ Seq.fill(2)(("a", 2)) ++ Seq(("b", 1)))
      .toDF("seg", "nat")
    val bad = QualityOps.kAnonymityViolations(df,
        Seq(col("seg"), col("nat")), 3)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(bad == Map(("a", 2) -> 2L, ("b", 1) -> 1L))
    // the census figures fold from the violating classes: achieved k =
    // smallest class, two violators, 3 rows at risk
    assert(bad.values.min == 1L, "achieved k = smallest class")
    assert(bad.size == 2 && bad.values.sum == 3L)
    // at k=1 nothing violates: k-anonymity holds vacuously
    assert(QualityOps.kAnonymityViolations(df,
      Seq(col("seg"), col("nat")), 1).collect().isEmpty)
  }

  test("lDiversity: a k-anonymous block with one shared sensitive value " +
    "lands in the l=1 census row (homogeneity exposure)") {
    // block (a,1): 4 rows, sensitive {10} only — k-anonymous at 4, l=1
    // block (a,2): 3 rows, sensitive {10,20}  — l=2
    // block (b,1): 2 rows, sensitive {10,30}  — l=2
    val df = (Seq.fill(4)(("a", 1, 10L)) ++
      Seq(("a", 2, 10L), ("a", 2, 20L), ("a", 2, 10L),
        ("b", 1, 10L), ("b", 1, 30L))).toDF("seg", "nat", "sv")
    val out = QualityOps.lDiversityCensus(df,
        Seq(col("seg"), col("nat")), col("sv"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map(1L -> (1L, 4L), 2L -> (2L, 5L)),
      s"census rows (l -> (n_blocks, n_rows)) wrong: $out")
  }

  test("dupKeys: one row per duplicated key with multiplicity") {
    val df = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 1), ("b", 2), ("c", 1))
      .toDF("k", "sub")
    val out = QualityOps.dupKeys(df, Seq("k", "sub"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(out == Map(("b", 1) -> 2L))
  }

  test("expectViolations: a null predicate value IS a violation " +
    "(three-valued logic must not let null rows pass an audit)") {
    val df = Seq(Some(5.0), Some(-1.0), None).toDF("price")
    val bad = QualityOps.expectViolations(df, col("price") >= 0.0)
    assert(bad.count() == 2, "negative AND null both violate")
  }

  test("auditReport: healthy checks report 0, order is by check name") {
    val df = Seq(1, 2, 3).toDF("x")
    val rep = QualityOps.auditReport(Seq(
        "b_neg" -> df.filter(col("x") < 0),
        "a_big" -> df.filter(col("x") > 2)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rep.toSeq == Seq(("a_big", 1L), ("b_neg", 0L)))
  }

  test("leakageSplit: every cluster member lands in the SAME split; " +
    "unclustered rows are their own group") {
    val docs = (1L to 40L).toDF("doc_id")
    // two clusters: {1,2,3} labeled 1, {10,11} labeled 10
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("node", "label")
    val out = SampleOps.leakageSplit(docs, col("doc_id"), labels,
        "node", "label", salt = "t")
      .select(col("doc_id"), col("split_group"), col("split"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(Set(out(1L), out(2L), out(3L)).size == 1,
      "cluster {1,2,3} must share (group, split)")
    assert(Set(out(10L), out(11L)).size == 1)
    assert(out(20L)._1 == 20L, "unclustered row groups as itself")
    val splits = out.values.map(_._2).toSet
    assert(splits.subsetOf(Set("train", "validation", "test")))
    // deterministic: a re-run assigns identically
    val again = SampleOps.leakageSplit(docs, col("doc_id"), labels,
        "node", "label", salt = "t")
      .select(col("doc_id"), col("split_group"), col("split"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(again == out)
    // a different salt decorrelates (40 ids: some row must move)
    val moved = SampleOps.leakageSplit(docs, col("doc_id"), labels,
        "node", "label", salt = "other")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(moved.exists { case (id, s) => out(id)._2 != s })
  }

  test("percentileFilter: ties share a fate, single-row stratum is kept " +
    "at pct 0.0, boundary is inclusive") {
    // stratum s: scores 1,2,3,3,5 — percent_rank = 0, .25, .5, .5, 1
    val df = Seq(("s", 1L, 1), ("s", 2L, 2), ("s", 3L, 3), ("s", 3L, 4),
        ("s", 5L, 5), ("solo", 9L, 6))
      .toDF("src", "score", "id")
    def kept(p: Double) = SampleOps
      .percentileFilter(df, col("src"), col("score"), p)
      .select(col("id")).as[Int].collect().toSet
    assert(kept(0.5) == Set(3, 4, 5),
      "tied 3s share a fate; a single-row stratum ranks 0.0 (both " +
        "engines' convention) so any p > 0 drops it")
    assert(kept(0.0) == Set(1, 2, 3, 4, 5, 6), "0.0 keeps everything")
    assert(kept(1.0) == Set(5), "1.0 keeps only each stratum's max")
    assertThrows[IllegalArgumentException](
      SampleOps.percentileFilter(df, col("src"), col("score"), 1.5))
  }

  test("survivorship: max quality wins, exact ties break to smallest id, " +
    "singletons survive as themselves") {
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 7L))
      .toDF("doc_id", "quality")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("node", "label")
    val out = DedupOps.survivorship(docs, col("doc_id"), col("quality"),
        labels, "node", "label")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    // quality tie 9 at ids 2,3 -> smaller id 2; beat min-id canonical 1
    assert(out(1L) == ((2L, 9L, 3L, true)))
    assert(out(4L) == ((4L, 7L, 1L, false)))
  }

  test("temporalSplitLabel: boundary rows — test start inclusive, " +
    "embargo start inclusive, just-before goes to train") {
    val df = Seq(99L, 100L, 149L, 150L, 151L).toDF("us")
    val out = df.select(col("us"),
        SampleOps.temporalSplitLabel(col("us"), lit(150L), 50L)
          .as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(99L) == "train")    // < start - embargo
    assert(out(100L) == "embargo") // == start - embargo (inclusive)
    assert(out(149L) == "embargo")
    assert(out(150L) == "test")    // == start (inclusive)
    assert(out(151L) == "test")
  }

  test("temporalSplitCensus: per-split counts; an actor active in train " +
    "AND test leaks; null actors count as events only") {
    val ev = Seq(
      (Some(1L), 10L), (Some(1L), 160L),  // actor 1: train + test -> leak
      (Some(2L), 20L), (Some(2L), 120L),  // actor 2: train + embargo
      (Some(3L), 155L),                   // actor 3: test only
      (None, 30L), (None, 170L)           // null actor: events only
    ).toDF("a", "us")
    val out = SampleOps.temporalSplitCensus(ev, col("us"), col("a"),
        lit(150L), embargoMicros = 50L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("train") == ((3L, 2L, 1L)))
    assert(out("embargo") == ((1L, 1L, 1L)))
    assert(out("test") == ((3L, 2L, 1L)))
    assertThrows[IllegalArgumentException](
      SampleOps.temporalSplitLabel(col("us"), lit(150L), -1L))
  }

  test("curationWaterfall: each stage counts only prior survivors; " +
    "removal attribution follows the order") {
    // 10 rows: 2 fail A; of the 8 left, 3 fail B.
    val df = (1 to 10).map(i => (i, i > 2, i <= 5 || i > 8))
      .toDF("id", "a", "b")
    val out = QualityOps.curationWaterfall(df,
        Seq("ruleA" -> col("a"), "ruleB" -> col("b")))
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out(1) == (("ruleA", 10L, 8L, 2L, 0.8)))
    // survivors of A: ids 3..10; B keeps 3,4,5,9,10 → 5
    assert(out(2) == (("ruleB", 8L, 5L, 3L, 5.0 / 8.0)))
    // ORDER matters: swapped stages attribute removals differently
    val sw = QualityOps.curationWaterfall(df,
        Seq("ruleB" -> col("b"), "ruleA" -> col("a")))
      .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(sw(1) == 3L && sw(2) == 2L)
  }

  test("majorityVote: plurality, smallest-label tie-break, abstains " +
    "don't count, all-abstain is null") {
    val df = Seq(
      ("p", "x", "x", "y"),    // x wins 2-1
      ("t", "x", "y", null),   // 1-1 tie → smallest label wins → x
      ("a", null, null, null), // all abstain → null
      ("o", null, "z", null))  // single vote wins
      .toDF("id", "v1", "v2", "v3")
    val out = df.select(col("id"),
        QualityOps.majorityVote(Seq(col("v1"), col("v2"), col("v3")))
          .as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("p") == "x")
    assert(out("t") == "x")
    assert(out("a") == null)
    assert(out("o") == "z")
  }
}
