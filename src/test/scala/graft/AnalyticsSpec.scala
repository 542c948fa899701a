package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AnalyticsOps

/** Pins the behavioral-analytics edge semantics the oracle query can't
  * isolate: cohort day-0 self-retention, strict (not at-or-after) funnel
  * ordering, and the out-of-order actor who never converts. */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ev(rows: (Long, Long, String)*) =
    rows.toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us") * 86400000000L))

  test("cohortRetention: day-0 row counts every cohort member at retention 1.0") {
    val e = ev((1L, 0L, "x"), (1L, 2L, "x"), (2L, 0L, "x"), (3L, 1L, "x"))
    val out = AnalyticsOps.cohortRetention(e, col("user_id"), col("ts"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // users 1,2 share cohort day 0; user 3 is its own cohort of 1
    assert(out(("1970-01-01", 0)) == ((2L, 2L, 1.0)))
    assert(out(("1970-01-01", 2)) == ((1L, 2L, 0.5)))
    assert(out(("1970-01-02", 0)) == ((1L, 1L, 1.0)))
    // no row for an offset with zero actives
    assert(!out.contains(("1970-01-01", 1)))
  }

  test("cohortRetention: repeat visits on one day count the actor once") {
    val e = ev((1L, 0L, "x"), (1L, 1L, "x"), (1L, 1L, "x"))
    val day1 = AnalyticsOps.cohortRetention(e, col("user_id"), col("ts"))
      .filter(col("days_since") === 1).head
    assert(day1.getLong(2) == 1L)
  }

  test("funnel: strict ordering — same-timestamp step-2 does not convert") {
    val e = Seq((1L, 10L, "a"), (1L, 10L, "b"),  // b ties a: no conversion
                (2L, 10L, "a"), (2L, 11L, "b"))  // b after a: converts
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = AnalyticsOps.funnel(e, col("user_id"), col("ts"), Seq(
        "a" -> (col("event_type") === "a"),
        "b" -> (col("event_type") === "b")))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out(1) == 2L && out(2) == 1L)
  }

  test("funnel: checkpointFrontiers materializes frontiers — step counts " +
    "replay no step joins, results identical (VERDICT r6 #5)") {
    val e = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 30L, "c"),
                (2L, 10L, "a"), (2L, 15L, "b"), (3L, 5L, "a"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val steps = Seq(
      "a" -> (col("event_type") === "a"),
      "b" -> (col("event_type") === "b"),
      "c" -> (col("event_type") === "c"))
    val plain = AnalyticsOps.funnel(e, col("user_id"), col("ts"), steps)
    val ckpt = AnalyticsOps.funnel(e, col("user_id"), col("ts"), steps,
      checkpointFrontiers = true)
    assert(ckpt.orderBy("step").collect().toSeq ==
      plain.orderBy("step").collect().toSeq)
    // Frontier reuse: every step-building join is absorbed into a
    // materialized checkpoint, so the returned plan's ONLY join is the
    // 1-row entry crossJoin, and each frontier reads as a LogicalRDD
    // (k step counts + the entry denominator = k+1 checkpoint reads).
    val joins = ckpt.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1, s"expected only the entry crossJoin:\n$joins")
    val rdds = ckpt.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r }
    assert(rdds.size == steps.size + 1,
      s"expected ${steps.size + 1} checkpointed frontier reads, " +
        s"got ${rdds.size}")
    // The plain path keeps the O(k^2)/2 lineage: strictly more joins.
    val plainJoins = plain.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(plainJoins.size > 1)
  }

  test("transitionMatrix: tiebreak totalizes same-timestamp order; " +
    "single-event actors and actor boundaries contribute no pair") {
    val e = Seq(
      (1L, 10L, 1L, "a"), (1L, 10L, 2L, "b"), (1L, 20L, 3L, "a"), // a→b→a
      (2L, 5L, 4L, "c"),                    // single event: no pair
      (3L, 30L, 5L, "b"))                   // no cross-actor a→b pair
      .toDF("user_id", "us", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = AnalyticsOps.transitionMatrix(e, col("user_id"), col("ts"),
        col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out == Map(
      ("a", "b") -> ((1L, 1L, 1.0)),   // out-degree of a is 1
      ("b", "a") -> ((1L, 1L, 1.0))))
  }

  test("audienceOverlap: repeat events count an actor once; each " +
    "unordered pair emits once with derived-union jaccard") {
    val e = Seq((1L, "x"), (1L, "x"), (1L, "y"), (2L, "x"), (3L, "y"),
        (3L, "z"))
      .toDF("user_id", "event_type")
    val out = AnalyticsOps.audienceOverlap(e, col("user_id"),
        col("event_type"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // x={1,2}, y={1,3}, z={3}; pairs with non-empty intersection only
    assert(out == Map(
      ("x", "y") -> ((2L, 2L, 1L, 1.0 / 3.0)),
      ("y", "z") -> ((2L, 1L, 1L, 0.5))))
  }

  test("quantileBins: remainder rows land in the leading bins and ties " +
    "split deterministically by the tiebreak") {
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 1.0), (5L, 9.0))
      .toDF("event_id", "value").withColumn("g", lit("only"))
    val out = AnalyticsOps.quantileBins(df, col("g"), col("value"),
        col("event_id"), nBins = 3)
      .collect().map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toMap
    // order: 1.0, 5.0(id1), 5.0(id2), 5.0(id3), 9.0 → bins 2,2,1
    assert(out == Map(
      1 -> ((2L, 1.0, 5.0)), 2 -> ((2L, 5.0, 5.0)), 3 -> ((1L, 9.0, 9.0))))
  }

  test("seasonalDeviation: a uniform weekday series has ratio 1.0; a " +
    "spiked day deviates against ITS weekday only") {
    // Mondays 2024-01-01/08 with 2 and 6 events; Tuesday 2024-01-02 with 3
    def day(d: String, n: Int, off: Int) = (1 to n).map(i =>
      (off * 100 + i.toLong, s"$d 00:0$i:00"))
    val e = (day("2024-01-01", 2, 1) ++ day("2024-01-08", 6, 2) ++
        day("2024-01-02", 3, 3))
      .toDF("event_id", "s")
      .select(col("event_id"), to_timestamp(col("s")).as("ts"),
        lit("t").as("et"))
    val out = AnalyticsOps.seasonalDeviation(e, col("ts"), col("et"))
      .collect().map(r => r.getString(1) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(out("2024-01-02") == ((3L, 3L, 1L, 1.0)))      // its own baseline
    assert(out("2024-01-01") == ((2L, 8L, 2L, 0.5)))      // 2*2/8
    assert(out("2024-01-08") == ((6L, 8L, 2L, 1.5)))      // 6*2/8
  }

  test("funnel: out-of-order actor (step2 before step1) never converts") {
    val e = Seq((1L, 20L, "a"), (1L, 10L, "b"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = AnalyticsOps.funnel(e, col("user_id"), col("ts"), Seq(
        "a" -> (col("event_type") === "a"),
        "b" -> (col("event_type") === "b")))
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(1) == ((1L, 1.0)) && out(2) == ((0L, 0.0)))
  }

  test("funnel: later step picks EARLIEST qualifying event, then gates step 3") {
    // user 1: a@10, b@5 (too early), b@20, c@15 (before b@20 -> no step 3)
    val e = Seq((1L, 10L, "a"), (1L, 5L, "b"), (1L, 20L, "b"), (1L, 15L, "c"))
      .toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = AnalyticsOps.funnel(e, col("user_id"), col("ts"), Seq(
        "a" -> (col("event_type") === "a"),
        "b" -> (col("event_type") === "b"),
        "c" -> (col("event_type") === "c")))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out(1) == 1L && out(2) == 1L && out(3) == 0L)
  }

  test("robustOutliers: outliers cannot drag the median threshold; nulls dropped") {
    // integer metric (callers quantize): 9 values at 100 +- 10 (tenths),
    // one wild outlier at 10000, one null
    val vals = Seq(90L, 95L, 100L, 100L, 100L, 105L, 105L, 110L, 110L,
      10000L).map(v => ("a", Option(v))) :+ (("a", None: Option[Long]))
    val df = vals.toDF("g", "v")
    val r = AnalyticsOps.robustOutliers(df, col("g"), col("v")).head
    assert(r.getAs[Long]("n_total") == 10L)    // null dropped
    assert(r.getAs[Double]("med") == 102.5)    // outlier-immune (interpolated)
    // deviations: [2.5×5, 7.5×3, 12.5, 9897.5] -> median dev = (5+15)/2/2
    assert(r.getAs[Double]("mad") == 5.0)
    assert(r.getAs[Long]("n_outliers") == 1L)  // only the 10000
  }

  test("robustOutliers: constant group has mad 0 and every deviation flags") {
    val df = Seq(("c", 5L), ("c", 5L), ("c", 7L)).toDF("g", "v")
    val r = AnalyticsOps.robustOutliers(df, col("g"), col("v")).head
    // med=5, deviations (0,0,2), mad=0 -> any nonzero deviation is an outlier
    assert(r.getAs[Double]("mad") == 0.0 && r.getAs[Long]("n_outliers") == 1L)
  }

  test("groupedQuantilesCont matches quantile_cont semantics: exact at " +
    "integer positions, interpolated between ranks, n=1 group total") {
    // sorted [10, 20, 30, 40, 100]: p50 h=2 -> 30 exact;
    // p90 h=3.6 -> 40 + 0.6*60 = 76; p99 h=3.96 -> 40 + 0.96*60 = 97.6
    val df = (Seq(10L, 20L, 30L, 40L, 100L).map(("a", _)) :+ ("b", 7L))
      .toDF("g", "v")
    val out = AnalyticsOps.groupedQuantilesCont(df, col("g"), col("v"),
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n") == 5L)
    assert(a.getAs[Double]("p50") == 30.0)
    assert(a.getAs[Double]("p90") == 40.0 + 0.6 * 60.0)
    assert(a.getAs[Double]("p99") == 40.0 + 0.96 * 60.0)
    // single-row group: every quantile is the value itself
    val b = out("b")
    assert(b.getAs[Long]("n") == 1L && b.getAs[Double]("p50") == 7.0 &&
      b.getAs[Double]("p99") == 7.0)
    // ties collapse into histogram cells but ranks still interpolate:
    // [1,1,1,3]: p50 h=1.5 -> 1; p90 h=2.7 -> 1 + 0.7*2 = 2.4
    val ties = AnalyticsOps.groupedQuantilesCont(
      Seq(("t", 1L), ("t", 1L), ("t", 1L), ("t", 3L)).toDF("g", "v"),
      col("g"), col("v"), Seq(("p50", 1, 2), ("p90", 9, 10))).head
    assert(ties.getAs[Double]("p50") == 1.0)
    assert(ties.getAs[Double]("p90") == 1.0 + 0.7 * 2.0)
  }

  test("trend: recovers an exact line and drops degenerate-x groups") {
    val pts = Seq(("up", 0L, 3L), ("up", 1L, 5L), ("up", 2L, 7L),
        ("flat", 4L, 9L), ("flat", 4L, 11L))  // single x value: dropped
      .toDF("g", "x", "y")
    val out = AnalyticsOps.trend(pts, col("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(out("up") == ((2.0, 3.0)))  // y = 2x + 3, exactly
    assert(!out.contains("flat"))
  }

  test("driftTvd: identical slices -> 0, disjoint slices -> 1, one-sided group dropped") {
    val rows = Seq(
      // g "same": identical histograms in both slices
      ("same", false, 10.0), ("same", false, 60.0),
      ("same", true, 10.0), ("same", true, 60.0),
      // g "flip": all mass in different bins per slice
      ("flip", false, 10.0), ("flip", false, 10.0),
      ("flip", true, 60.0),
      // g "solo": only slice A
      ("solo", false, 10.0))
    val df = rows.toDF("g", "in_b", "v")
    val out = AnalyticsOps.driftTvd(df, col("g"), col("in_b"), col("v"),
        lo = 0.0, binWidth = 50.0, nBins = 10)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("tvd"), r.getAs[Double]("linf"))).toMap
    assert(out("same") == ((0.0, 0.0)))
    assert(out("flip") == ((1.0, 1.0)))
    assert(!out.contains("solo"))
  }

  test("driftTvd: null values are dropped, not counted into the top bin") {
    // least/greatest SKIP nulls, so an unguarded clamp would route a
    // null value to bin nBins-1 and fake "mass moved to the top bin"
    val rows = Seq(("g", false, Some(10.0)), ("g", false, None),
      ("g", true, Some(10.0)), ("g", true, None), ("g", true, None))
    val r = AnalyticsOps.driftTvd(rows.toDF("g", "in_b", "v"),
      col("g"), col("in_b"), col("v"), lo = 0.0, binWidth = 50.0,
      nBins = 10).head
    // only the two non-null 10.0s count: identical one-bin histograms
    assert(r.getAs[Long]("na") == 1L && r.getAs[Long]("nb") == 1L &&
      r.getAs[Double]("tvd") == 0.0)
  }

  test("driftTvd: out-of-range values clamp into the edge bins") {
    val df = Seq(("g", false, -5.0), ("g", true, 999.0))
      .toDF("g", "in_b", "v")
    val r = AnalyticsOps.driftTvd(df, col("g"), col("in_b"), col("v"),
      lo = 0.0, binWidth = 50.0, nBins = 10).head
    // bin 0 vs bin 9: fully disjoint
    assert(r.getAs[Double]("tvd") == 1.0 && r.getAs[Long]("n_bins") == 2L)
  }

  test("profile: nulls counted, exact distinct, non-numeric min/max -> null") {
    val df = Seq((Some(3), "a"), (Some(1), "b"), (None, "a"))
      .toDF("num", "tag")
    val out = AnalyticsOps.profile(df, Seq("num", "tag"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)))).toMap
    assert(out("num") == ((3L, 1L, 2L, Some(1.0), Some(3.0))))
    assert(out("tag") == ((3L, 0L, 2L, None, None)))
  }

  test("funnel matches a brute-force per-user chain on random event sets") {
    val rnd = new scala.util.Random(99)
    val evs = (1L to 30L).flatMap { u =>
      (0 until rnd.nextInt(8)).map(_ =>
        (u, rnd.nextInt(100).toLong, "s" + (1 + rnd.nextInt(3))))
    }
    // brute force: t1 = min s1; t_k = min s_k strictly after t_{k-1}
    def reach(times: Map[String, Seq[Long]]): Int = {
      var frontier = Long.MinValue; var r = 0
      for (k <- 1 to 3) {
        val c = times.getOrElse("s" + k, Nil)
          .filter(t => if (k == 1) true else t > frontier)
        if (c.nonEmpty && r == k - 1) { frontier = c.min; r = k }
      }
      r
    }
    val expect = (1 to 3).map { k =>
      k -> evs.groupBy(_._1).values.count { es =>
        reach(es.groupBy(_._3).map { case (s, xs) =>
          s -> xs.map(_._2) }) >= k
      }.toLong
    }.toMap
    val df = evs.toDF("user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = AnalyticsOps.funnel(df, col("user_id"), col("ts"),
        (1 to 3).map(k => s"s$k" -> (col("event_type") === s"s$k")))
      .select(col("step"), col("n_actors")).as[(Int, Long)].collect().toMap
    assert(got == expect, s"got $got expected $expect")
  }

  test("rollingActives: WAU carries trailing activity; edge windows dropped") {
    // user 1 active day 0; user 2 active days 0 and 2; corpus ends day 2
    val e = ev((1L, 0L, "x"), (2L, 0L, "x"), (2L, 2L, "x"))
    val out = AnalyticsOps.rollingActives(e, col("user_id"), col("ts"), 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // day 0: dau 2, wau 2; day 1: dau 0, wau 2 (both still in window);
    // day 2: dau 1, wau 2 (user 1's day-0 activity still counts, w=3)
    assert(out("1970-01-01") == ((2L, 2L, 1.0)))
    assert(out("1970-01-02") == ((0L, 2L, 0.0)))
    assert(out("1970-01-03") == ((1L, 2L, 0.5)))
    // days 3-4 (windows past the corpus edge) are NOT emitted
    assert(out.size == 3)
  }

  test("contingency: independent table -> residual 0; dependent cell flags") {
    // perfectly independent 2x2 (margins 2/2, N=4): every e == o
    val indep = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("r", "c")
    val r0 = AnalyticsOps.contingency(indep, col("r"), col("c"))
      .select(col("residual")).as[Double].collect()
    assert(r0.forall(_ == 0.0))
    // all mass on the diagonal: off-diagonal cells are absent (observed
    // cells only), diagonal cells over-represented
    val dep = Seq(("a", "x"), ("a", "x"), ("b", "y"), ("b", "y"))
      .toDF("r", "c")
    val rows = AnalyticsOps.contingency(dep, col("r"), col("c"))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(rows(("a", "x")) == ((2L, 1.0, 1.0)))  // o=2, e=1, resid=+1
    assert(rows.size == 2)
  }

  test("cusum: exact running deviation from the group mean, ends at zero") {
    val pts = Seq(("g", 1, 1L), ("g", 2, 3L), ("g", 3, 2L)).toDF("g", "x", "y")
    val out = AnalyticsOps.cusum(pts, col("g"), col("x"), col("y"))
      .orderBy(col("x")).select(col("cusum")).as[Double].collect().toSeq
    // mean = 2: deviations -1, +1, 0 -> cusum -1, 0, 0 (always ends at 0)
    assert(out == Seq(-1.0, 0.0, 0.0))
  }

  test("weightedMedian: heavy row pulls the median; zero/null weights drop") {
    val d = Seq(("g", 1L, 1L, 1L), ("g", 2L, 1L, 2L), ("g", 10L, 10L, 3L),
        ("h", 5L, 0L, 4L), ("h", 7L, 3L, 5L))
      .toDF("grp", "v", "w", "id")
    val out = AnalyticsOps.weightedMedian(d, col("grp"), col("v"),
        col("w"), col("id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // g: total 12, cum 1,2,12 -> first 2*cum>=12 is v=10 (plain median: 2)
    assert(out("g") == ((10L, 12L)))
    // h: the zero-weight row contributes nothing
    assert(out("h") == ((7L, 3L)))
  }

  test("churnCensus: a gap past the top edge lands in the TOP bucket") {
    // regression: the edge fold must keep the largest edge outermost —
    // a descending fold sent every gap >= smallest edge to that bucket
    val e = ev((1L, 10L, "x"), (2L, 9L, "x"), (3L, 5L, "x"),
      (3L, 2L, "x"))  // gaps vs max day 10: 0, 1, 5
    val out = AnalyticsOps.churnCensus(e, col("user_id"), col("ts"),
        edges = Seq(1, 2))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2),
        r.getInt(3))).toMap
    assert(out(0) == ((1L, 0, 0)))
    assert(out(1) == ((1L, 1, 1)))
    assert(out(2) == ((1L, 5, 5)))  // gap 5 >= 2 -> bucket 2, not 1
  }

  test("rankSumTest: tie-averaged ranks, exact U, tie-corrected z " +
    "against a hand-computed example") {
    // a: 1,2,2,5  b: 2,3,4 — the three 2s tie across groups
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 5.0),
        ("b", 2.0), ("b", 3.0), ("b", 4.0), ("zzz", 99.0))
      .toDF("grp", "v") // the extra group must be excluded by the filter
    val r = AnalyticsOps.rankSumTest(df, col("grp"), col("v"), "a", "b")
      .head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    // ranks(a) = 1, 3, 3, 7 (tie avg of ranks {2,3,4} = 3) -> R1 = 14,
    // U1 = 14 - 4*5/2 = 4
    assert(r.getDouble(2) == 4.0)
    // mu = 6; tcorr = t^3-t = 24; sigma^2 = 1*(8 - 24/42) = 52/7
    val z = (4.0 - 6.0) / math.sqrt(
      4.0 * 3.0 / 12.0 * (8.0 - 24.0 / (7.0 * 6.0)))
    assert(r.getDouble(3) == z)
  }

  test("correlation: perfect lines hit ±1 (to the sqrt ulp), degenerate " +
    "variance is null not NaN, nulls dropped") {
    val df = Seq(
        ("up", 1L, 2L), ("up", 2L, 4L), ("up", 3L, 6L),
        ("down", 1L, 6L), ("down", 2L, 4L), ("down", 3L, 2L),
        ("flat", 1L, 5L), ("flat", 2L, 5L), ("flat", 3L, 5L))
      .toDF("g", "x", "y")
      .unionByName(Seq(("up", Option.empty[Long], Option(9L)))
        .toDF("g", "x", "y"))
    val out = AnalyticsOps.correlation(df, col("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(out("up")._1 == 3L, "null x row must be dropped")
    assert(math.abs(out("up")._2.get - 1.0) < 1e-12)
    assert(math.abs(out("down")._2.get + 1.0) < 1e-12)
    assert(out("flat")._2.isEmpty, "zero variance -> null, never NaN")
    // exact assembly: r equals the same fixed op sequence on the exact
    // integer sufficient stats (num=12, dx=6, dy=24 for the up line)
    assert(out("up")._2.get == 12.0 / (math.sqrt(6.0) * math.sqrt(24.0)))
  }

  test("rulesFromCooccurrence: hand-checked support/confidence/lift, " +
    "both directions of each counted pair") {
    // baskets: 1:{a,b,c} 2:{a,b} 3:{a,c} 4:{b} — c(a,b)=2 c(a,c)=2
    // c(b,c)=1, which a minCount of 2 left out of the pair table
    val pairs = Seq(("a", "b", 2L), ("a", "c", 2L)).toDF("__a", "__c", "__cab")
    val n = Seq(4L).toDF("__n")
    val ic = Seq(("a", 3L), ("b", 3L), ("c", 2L)).toDF("__i", "__ci")
    val out = AnalyticsOps.rulesFromCooccurrence(pairs, n, ic)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("a", "b"), ("b", "a"), ("a", "c"),
      ("c", "a")))
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("n_pair") == 2L && ab.getAs[Long]("n_ante") == 3L)
    assert(ab.getAs[Double]("support") == 2.0 / 4.0)
    assert(ab.getAs[Double]("confidence") == 2.0 / 3.0)
    assert(ab.getAs[Double]("lift") == (2.0 * 4.0) / (3.0 * 3.0))
    // reverse direction shares n_pair and lift, swaps the denominator
    val ba = out(("b", "a"))
    assert(ba.getAs[Double]("confidence") == 2.0 / 3.0 &&
      ba.getAs[Double]("lift") == ab.getAs[Double]("lift"))
    val ca = out(("c", "a"))
    assert(ca.getAs[Long]("n_ante") == 2L &&
      ca.getAs[Double]("confidence") == 1.0 &&
      ca.getAs[Double]("lift") == (2.0 * 4.0) / (2.0 * 3.0))
  }

  test("ksTest: exact integer D numerator, identical samples give D=0, " +
    "off-sample rows ignored") {
    // g: a={1,2} b={2,3} -> step CDF gaps 1/2, 1/2, 0 -> D = 2/4
    // h: a={5} b={5} -> identical -> D = 0
    val df = Seq(("g", "a", 1L), ("g", "a", 2L), ("g", "b", 2L),
        ("g", "b", 3L), ("h", "a", 5L), ("h", "b", 5L),
        ("g", "other", 99L)) // not in either sample: must not count
      .toDF("grp0", "s", "v")
    val out = AnalyticsOps.ksTest(df, col("grp0"), col("s"), col("v"),
        "a", "b")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getDouble(4))).toMap
    assert(out("g") == (((2L, 2L, 2L), 0.5)))
    assert(out("h") == (((1L, 1L, 0L), 0.0)))
  }

  test("lastTouchAttribution: latest touch wins, lookback expires, " +
    "no-touch conversions land unattributed, same-tick resolves by tie") {
    val rows = Seq(
      (1L, 10L, 1L, "click", 0.0), (1L, 50L, 2L, "purchase", 10.0),
      (2L, 10L, 3L, "view", 0.0), (2L, 500L, 4L, "purchase", 5.0),
      (3L, 20L, 5L, "purchase", 2.0),
      (4L, 10L, 6L, "click", 0.0), (4L, 20L, 7L, "view", 0.0),
      (4L, 60L, 8L, "purchase", 1.0),
      (5L, 30L, 9L, "click", 0.0), (5L, 30L, 10L, "purchase", 4.0))
      .toDF("u", "us", "eid", "et", "v")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = AnalyticsOps.lastTouchAttribution(rows, col("u"), col("ts"),
        col("eid"), when(col("et").isin("click", "view"), col("et")),
        col("et") === "purchase", col("v"), lookbackMicros = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(out("click") == ((2L, 14.0)), "u1 in-window + u5 same-tick tie")
    assert(out("view") == ((1L, 1.0)), "u4: LATEST touch, not first")
    assert(out("unattributed") == ((2L, 7.0)),
      "u2 expired lookback + u3 no touch")
    assert(out.size == 3)
  }

  test("lastTouchAttribution enforces touch/conversion disjointness: " +
    "a conversion row matching the touch predicate cannot credit itself") {
    // Overlapping caller predicates: "purchase" is both a channel and the
    // conversion marker. The scan nulls the touch channel on conversion
    // rows, so u1's purchase attributes to the preceding click, and u2's
    // bare purchase stays unattributed instead of crediting "purchase".
    val rows = Seq(
      (1L, 10L, 1L, "click", 0.0), (1L, 50L, 2L, "purchase", 10.0),
      (2L, 20L, 3L, "purchase", 5.0))
      .toDF("u", "us", "eid", "et", "v")
      .withColumn("ts", timestamp_micros(col("us")))
    val out = AnalyticsOps.lastTouchAttribution(rows, col("u"), col("ts"),
        col("eid"), col("et"), // every row "is a touch", incl. conversions
        col("et") === "purchase", col("v"), lookbackMicros = 100L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(out("click") == ((1L, 10.0)))
    assert(out("unattributed") == ((1L, 5.0)))
    assert(!out.contains("purchase"),
      "conversion rows must never win attribution as their own touch")
  }

  test("kaplanMeier: censored exits shrink the risk set without reducing " +
    "survival; factors fold in duration order; at-risk counts exact") {
    // horizon = 100, censorTicks = 10: A (0..100) and C (20..95) are
    // censored (last seen within 10 of horizon), B (0..50), D (10..40),
    // E (0..0) churned. Durations: 1,31,51 churn; 81,101 censor.
    val e = Seq(("A", 0), ("A", 100), ("B", 0), ("B", 50), ("C", 20),
        ("C", 95), ("D", 10), ("D", 40), ("E", 0))
      .toDF("u", "tk")
    val out = AnalyticsOps.kaplanMeier(e, col("u"), col("tk"), 10)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getDouble(4))).toMap
    // the same IEEE op sequence the operator folds: 1.0 * Π (1 - d/n)
    val s1 = 1.0 * (1.0 - 1.0 / 5.0)
    val s31 = s1 * (1.0 - 1.0 / 4.0)
    val s51 = s31 * (1.0 - 1.0 / 3.0)
    assert(out(1) == (((5L, 1L, 0L), s1)))
    assert(out(31) == (((4L, 1L, 0L), s31)))
    assert(out(51) == (((3L, 1L, 0L), s51)))
    // censored rows: risk set keeps shrinking, survival does NOT drop
    assert(out(81) == (((2L, 0L, 1L), s51 * (1.0 - 0.0 / 2.0))))
    assert(out(101) == (((1L, 0L, 1L), s51 * (1.0 - 0.0 / 2.0) *
      (1.0 - 0.0 / 1.0))))
    assert(out.size == 5)
  }

  test("standardize: exact stats, deterministic z census, constant " +
    "group reports null scale fields") {
    // g: 0,10 (mean 5, sample sd sqrt(50)); h constant; one null dropped
    val df = Seq(("g", Some(0L)), ("g", Some(10L)), ("h", Some(4L)),
        ("h", Some(4L)), ("g", Option.empty[Long]))
      .toDF("grp0", "v")
    val out = AnalyticsOps.standardize(df, col("grp0"), col("v"))
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    val g = out("g")
    assert(g.getAs[Long]("n") == 2L)
    assert(g.getAs[Double]("mean") == 5.0)
    assert(g.getAs[Double]("sd") == math.sqrt(50.0))
    // z = ±5/sqrt(50): the same fixed op sequence as the operator
    assert(g.getAs[Double]("max_z") == (10.0 - 5.0) / math.sqrt(50.0))
    assert(g.getAs[Double]("min_z") == (0.0 - 5.0) / math.sqrt(50.0))
    assert(g.getAs[Long]("n_gt2") == 0L && g.getAs[Long]("n_gt3") == 0L)
    val h = out("h")
    assert(h.getAs[Long]("n") == 2L && h.getAs[Double]("mean") == 4.0)
    assert(h.getAs[Double]("sd") == 0.0, "constant group: sd 0")
    assert(h.isNullAt(h.fieldIndex("min_z")) &&
      h.isNullAt(h.fieldIndex("max_z")), "sd=0 -> null z, never Inf/NaN")
    assert(h.getAs[Long]("n_gt2") == 0L)
  }

  test("standardize survives |x| ~ 3e9 where an int64 x*x accumulator " +
    "would overflow (decimal sufficient statistics, ADVICE r7)") {
    // 3e9^2 = 9e18 > Long.MaxValue (~9.22e18): a single int64 product is
    // already past the edge once summed with anything; ANSI mode would
    // throw mid-aggregate. Decimal(38,0) stats stay exact.
    val a = 3000000000L
    val b = -2999999999L
    val df = Seq(("g", a), ("g", b)).toDF("grp0", "v")
    val out = AnalyticsOps.standardize(df, col("grp0"), col("v")).head
    val mean = (a + b).toDouble / 2.0
    assert(out.getAs[Long]("n") == 2L)
    assert(out.getAs[Double]("mean") == mean)
    // sample variance via the exact decimal assembly: (n*Sxx - Sx^2)/(n*(n-1))
    val sxx = BigDecimal(a) * BigDecimal(a) + BigDecimal(b) * BigDecimal(b)
    val sx = BigDecimal(a) + BigDecimal(b)
    val sd = math.sqrt(
      ((BigDecimal(2) * sxx - sx * sx).toDouble) / 2.0)
    assert(out.getAs[Double]("sd") == sd)
  }

  test("correlation survives |x| ~ 3e9 products (decimal sufficient " +
    "statistics)") {
    val df = Seq(("g", 3000000000L, -3000000000L),
      ("g", -2999999999L, 2999999999L), ("g", 1000000000L, -1000000001L))
      .toDF("grp0", "x", "y")
    val r = AnalyticsOps.correlation(df, col("grp0"), col("x"), col("y"))
      .head.getAs[Double]("r")
    assert(r < -0.999 && r >= -1.0, s"near-perfect negative corr, got $r")
  }

  test("tukeyFences: exact interpolated quartiles, boxplot fences flag " +
    "the outlier, degenerate IQR reports null counts") {
    val df = (Seq(1L, 2L, 3L, 4L, 100L).map(("g", _)) ++
      Seq(("flat", 7L), ("flat", 7L), ("flat", 7L))).toDF("t", "v")
    val out = AnalyticsOps.tukeyFences(df, col("t"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    // sorted [1,2,3,4,100]: q1@pos1=2, med@pos2=3, q3@pos3=4, iqr=2
    assert(g.getAs[Double]("q1") == 2.0 && g.getAs[Double]("med") == 3.0
      && g.getAs[Double]("q3") == 4.0 && g.getAs[Double]("iqr") == 2.0)
    // fences: inner (-1, 7), outer (-4, 10) -> 100 is outside both
    assert(g.getAs[Long]("n_outside_inner") == 1L)
    assert(g.getAs[Long]("n_outside_outer") == 1L)
    val flat = out("flat")
    assert(flat.getAs[Double]("iqr") == 0.0)
    assert(flat.isNullAt(flat.fieldIndex("n_outside_inner")))
    assert(flat.isNullAt(flat.fieldIndex("n_outside_outer")))
  }

  test("cohenKappa: textbook 2x2 table gives kappa 0.4; perfect " +
    "agreement 1.0; constant-and-equal labelers give null") {
    // (a,a)=20 (a,b)=5 (b,a)=10 (b,b)=15: n=50, agree=35, po=0.7
    // rows a=25,b=25; cols a=30,b=20; pe_num=25*30+25*20=1250, pe=0.5
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val out = AnalyticsOps.cohenKappa(rows.toDF("x", "y"),
      col("x"), col("y")).head
    assert(out.getAs[Long]("n_items") == 50L)
    assert(out.getAs[Long]("n_agree") == 35L)
    assert(out.getAs[Double]("po") == 0.7)
    assert(out.getAs[Long]("pe_num") == 1250L)
    assert(out.getAs[Double]("pe") == 0.5)
    // exact: (50*35 - 1250)/(2500 - 1250) = 500/1250 = 0.4
    assert(out.getAs[Double]("kappa") == 0.4)
    val perfect = AnalyticsOps.cohenKappa(
      Seq(("a", "a"), ("b", "b")).toDF("x", "y"), col("x"), col("y")).head
    assert(perfect.getAs[Double]("kappa") == 1.0)
    val degen = AnalyticsOps.cohenKappa(
      Seq(("a", "a"), ("a", "a")).toDF("x", "y"), col("x"), col("y")).head
    assert(degen.isNullAt(degen.fieldIndex("kappa")))
  }

  test("cohenKappa: labels on one side only contribute marginals, not " +
    "expected agreement") {
    // B predicts 'c' which A never uses: pe sums only shared labels
    val out = AnalyticsOps.cohenKappa(
      Seq(("a", "a"), ("a", "c"), ("b", "b"), ("b", "c")).toDF("x", "y"),
      col("x"), col("y")).head
    // n=4 agree=2; rows a=2,b=2; cols a=1,b=1,c=2; pe_num=2*1+2*1=4
    assert(out.getAs[Long]("pe_num") == 4L)
    // kappa = (4*2 - 4)/(16 - 4) = 4/12
    assert(out.getAs[Double]("kappa") == 4.0 / 12.0)
  }

  test("funnelWithin: deadline cuts late transitions; greedy earliest-" +
    "first contract means a later qualifying step-1 does NOT rescue") {
    import org.apache.spark.sql.functions.timestamp_micros
    def ev(u: Long, t: Long, e: String) = (u, t, e)
    val rows = Seq(
      // u1 converts inside the window (s1@0, s2@50)
      ev(1, 0, "s1"), ev(1, 50, "s2"),
      // u2's only s2 is past the window
      ev(2, 0, "s1"), ev(2, 200, "s2"),
      // u3: earliest s1@0 has no s2 in window; later s1@150 would have
      // (s2@170) — greedy walks from the EARLIEST frontier, so no convert
      ev(3, 0, "s1"), ev(3, 150, "s1"), ev(3, 170, "s2"))
      .toDF("u", "us", "e")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("e"))
    val out = AnalyticsOps.funnelWithin(rows, col("u"), col("ts"),
        Seq("s1" -> (col("e") === "s1"), "s2" -> (col("e") === "s2")),
        maxGapUs = 100L)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out(1) == 3L && out(2) == 1L) // only u1 converts
    // sanity: the undeadlined funnel converts u2 and u3 as well
    val loose = AnalyticsOps.funnel(rows, col("u"), col("ts"),
        Seq("s1" -> (col("e") === "s1"), "s2" -> (col("e") === "s2")))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(loose(2) == 3L)
    assertThrows[IllegalArgumentException](
      AnalyticsOps.funnelWithin(rows, col("u"), col("ts"),
        Seq("s1" -> (col("e") === "s1")), maxGapUs = 0L))
  }

  test("linearAttribution: equal credit inside the window, touch at " +
    "conversion instant excluded, no-touch converts unattributed, " +
    "3-way split drops the remainder deterministically") {
    import org.apache.spark.sql.functions.timestamp_micros
    val rows = Seq(
      (1L, 10L, 101L, "A", false), (1L, 20L, 102L, "B", false),
      (1L, 30L, 103L, "X", true),            // A, B share 50/50
      (2L, 10L, 201L, "A", false),
      (2L, 500L, 202L, "X", true),           // touch outside 100-window
      (3L, 40L, 301L, "X", true),            // no touches at all
      (4L, 5L, 401L, "A", false), (4L, 6L, 402L, "A", false),
      (4L, 7L, 403L, "B", false),
      (4L, 50L, 404L, "X", true),            // 3 touches → 1/3 each
      (5L, 60L, 501L, "A", false),
      (5L, 60L, 502L, "X", true))            // same-instant touch excluded
      .toDF("u", "us", "eid", "ch", "conv")
      .select(col("u"), timestamp_micros(col("us")).as("ts"), col("eid"),
        col("ch"), col("conv"))
    val out = AnalyticsOps.linearAttribution(rows, col("u"), col("ts"),
        col("eid"), col("ch"), col("conv"),
        lookbackMicros = 100L, binWidthUs = 50L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val third = (1000000000000L / 3L).toDouble / 1e12
    // A: u1 half + u4 two thirds; B: u1 half + u4 one third
    assert(out("A") == ((2L, 3L, 0.5 + 2 * third)))
    assert(out("B") == ((2L, 2L, 0.5 + third)))
    // u2 (outside window), u3 (no touch), u5 (same-instant) unattributed
    assert(out("unattributed") == ((3L, 0L, 3.0)))
    assert(!out.contains("X"))
  }

  test("wilsonBounds: textbook value at 8/10, never leaves [0,1] at " +
    "the extremes, degenerate n=1 stays finite") {
    val df = Seq((8L, 10L), (0L, 5L), (5L, 5L), (1L, 1L))
      .toDF("s", "n")
    val (lo, hi) = AnalyticsOps.wilsonBounds(col("s"), col("n"), 1.96)
    val out = df.select(col("s"), col("n"), lo.as("lo"), hi.as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val (l8, h8) = out((8L, 10L))
    assert(math.abs(l8 - 0.4901) < 0.001 && math.abs(h8 - 0.9433) < 0.001,
      s"8/10 Wilson should be ~[0.490, 0.943], got [$l8, $h8]")
    out.values.foreach { case (l, h) =>
      assert(l >= 0.0 && h <= 1.0 && l <= h, s"bounds escaped: [$l, $h]")
    }
    val (l0, h0) = out((0L, 5L))
    assert(l0 == 0.0 && h0 > 0.0 && h0 < 0.6)
    val (l5, h5) = out((5L, 5L))
    assert(h5 == 1.0 && l5 < 1.0 && l5 > 0.4)
  }

  test("hashBootstrap: exact integer resamples, partition-invariant, " +
    "band brackets the point estimate for ordinary data") {
    val df = (1 to 300).map(i => ("g", i.toLong, i % 7 + 1L))
      .toDF("k", "id", "v")
    val a = AnalyticsOps.hashBootstrap(df, col("k"), col("id"), col("v"),
      b = 16).head
    val b = AnalyticsOps.hashBootstrap(df.repartition(13), col("k"),
      col("id"), col("v"), b = 16).head
    assert(a == b, "resample metrics must not depend on partitioning")
    val total = (1 to 300).map(i => i % 7 + 1L).sum.toDouble
    assert(a.getLong(1) == 16L)
    val (p05, p50, p95) = (a.getDouble(2), a.getDouble(3), a.getDouble(4))
    assert(p05 <= p50 && p50 <= p95)
    // mean multiplicity 1 → the band straddles the point estimate
    assert(p05 < total && total < p95,
      s"band [$p05, $p95] misses the point estimate $total")
  }

  test("concentrationCensus: hand-computed HHI, effective units, and " +
    "top share; a monopoly group reads hhi=1") {
    val df = Seq(("en", "a"), ("en", "a"), ("en", "a"), ("en", "b"),
      ("fr", "x")).toDF("lang", "src")
    val out = AnalyticsOps.concentrationCensus(df, col("lang"), col("src"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    // en: shares 3/4 and 1/4 → HHI = 9/16 + 1/16 = 0.625
    val (u, n, hhi, eff, top) = out("en")
    assert(u == 2 && n == 4)
    assert(hhi == 0.625 && eff == 1.6 && top == 0.75)
    val (_, _, hhiF, effF, topF) = out("fr")
    assert(hhiF == 1.0 && effF == 1.0 && topF == 1.0)
  }

  test("fleissKappa reproduces the Fleiss (1971) worked example " +
    "(14 raters, 5 categories, 10 items, kappa ~ 0.210)") {
    // Fleiss 1971, Table 1 — the de-facto cross-implementation fixture.
    val table = Seq(
      Seq(0, 0, 0, 0, 14), Seq(0, 2, 6, 4, 2), Seq(0, 0, 3, 5, 6),
      Seq(0, 3, 9, 2, 0), Seq(2, 2, 8, 1, 1), Seq(7, 7, 0, 0, 0),
      Seq(3, 2, 6, 3, 0), Seq(2, 5, 3, 2, 2), Seq(6, 5, 2, 1, 0),
      Seq(0, 2, 2, 3, 7))
    // Expand each item's count row into 14 per-rater label columns.
    val cats = Seq("c1", "c2", "c3", "c4", "c5")
    val rows = table.map { counts =>
      val labels = counts.zipWithIndex.flatMap { case (c, i) =>
        Seq.fill(c)(cats(i)) }
      (labels(0), labels(1), labels(2), labels(3), labels(4), labels(5),
        labels(6), labels(7), labels(8), labels(9), labels(10),
        labels(11), labels(12), labels(13))
    }
    val df = rows.toDF((1 to 14).map(i => s"r$i"): _*)
    val out = AnalyticsOps.fleissKappa(df,
      (1 to 14).map(i => col(s"r$i")), cats).head
    assert(out.getLong(0) == 10L && out.getInt(1) == 14)
    assert(math.abs(out.getDouble(2) - 0.378) < 0.001, s"p_bar ${out}")
    assert(math.abs(out.getDouble(3) - 0.213) < 0.001, s"p_e ${out}")
    assert(math.abs(out.getDouble(4) - 0.2099) < 0.001, s"kappa ${out}")
  }

  test("fleissKappa: null labels form the abstain category and keep " +
    "the panel complete; perfect agreement reads kappa 1") {
    val perfect = Seq(("g", "g"), ("b", "b"), (null, null))
      .toDF("l1", "l2")
    val k = AnalyticsOps.fleissKappa(perfect, Seq(col("l1"), col("l2")),
      Seq("g", "b")).head.getDouble(4)
    assert(k == 1.0, s"perfect agreement must be exactly 1, got $k")
  }

  test("discreteQuantiles: exact ceil-rank order statistics over a " +
    "value histogram, duplicates weighted, one row out") {
    val df = ((1 to 10) ++ Seq(5, 5)).map(v => Tuple1(v.toLong))
      .toDF("v") // 12 rows; value 5 has multiplicity 3
    val out = AnalyticsOps.discreteQuantiles(df, col("v"),
      Seq(("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10), ("max", 1, 1)))
      .head
    // N=12: p25 → cum ≥ 3 → v=3; p50 → cum ≥ 6 → v=5 (cum at 5 is 7);
    // p90 → cum ≥ 10.8 i.e. cum*10 ≥ 108 → v=9; max → v=10.
    assert(out.getLong(0) == 3L && out.getLong(1) == 5L &&
      out.getLong(2) == 9L && out.getLong(3) == 10L, s"got $out")
  }

  test("rfmSegments: codes stay in 1..4, the heaviest spender lands " +
    "m_code 4, cents mass is conserved") {
    val rows = (1 to 40).flatMap { u =>
      // actor u has u events of value u at day u (recency spread)
      (1 to u).map(i => (u.toLong, u.toLong * 86400000000L + i, u * 1.0))
    }
    val df = rows.toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        col("value"))
    val out = AnalyticsOps.rfmSegments(df, col("user_id"), col("ts"),
      col("value")).collect()
    assert(out.map(_.getLong(3)).sum == 40L, "all actors censused")
    val totalCents = rows.map(r => math.floor(r._3 * 100).toLong).sum
    assert(out.map(_.getLong(4)).sum == totalCents, "cents conserved")
    out.foreach { r =>
      for (i <- 0 to 2)
        assert(r.getInt(i) >= 1 && r.getInt(i) <= 4, s"code range: $r")
    }
    // actor 40: most events (40×40.0) → heaviest m and f, most recent
    val heavy = out.filter(r => r.getInt(1) == 4 && r.getInt(2) == 4)
    assert(heavy.nonEmpty, "a (f=4, m=4) cell must exist")
  }

  test("shapeMoments: symmetric data reads skew 0 and the uniform " +
    "kurtosis; the integer shift leaves the statistics invariant") {
    val base = Seq(1L, 2L, 3L, 4L, 5L)
    val df = (base.map(("a", _)) ++ base.map(v => ("b", v + 1000000L)))
      .toDF("g", "x")
    val out = AnalyticsOps.shapeMoments(df, col("g"), col("x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val (n, mean, m2, skew, kurt) = out("a")
    assert(n == 5 && mean == 3.0 && m2 == 2.0)
    assert(skew == 0.0, s"symmetric data must read 0 skew, got $skew")
    // m4 = (16+1+0+1+16)/5 = 6.8; kurtosis = 6.8/4 - 3 = -1.3
    assert(math.abs(kurt - (-1.3)) < 1e-12, s"kurtosis $kurt")
    val (_, meanB, m2B, skewB, kurtB) = out("b")
    assert(meanB == 1000003.0 && m2B == 2.0 && skewB == 0.0 &&
      math.abs(kurtB - (-1.3)) < 1e-12,
      "shift invariance: location must not change shape statistics")
    // A constant group has m2 = 0 exactly; skew/kurtosis must read null,
    // never an engine-divergent 0/0 NaN (ADVICE r9).
    val const = AnalyticsOps.shapeMoments(
      Seq(("c", 7L), ("c", 7L), ("c", 7L)).toDF("g", "x"),
      col("g"), col("x")).head
    assert(const.getDouble(3) == 0.0 && const.isNullAt(4) &&
      const.isNullAt(5), s"constant group must read null shape, got $const")
  }

  test("absorptionProbability: hand-computed two-state chain, absorbing " +
    "state pinned at 1, scaled-integer rounds exact") {
    // A→P, A→B, B→P, B→A (one each): p1(A)=p1(B)=S/2; p2 = 3S/4.
    val rows = Seq(
      (1L, 0L, "A"), (1L, 1L, "P"),
      (2L, 0L, "A"), (2L, 1L, "B"),
      (3L, 0L, "B"), (3L, 1L, "P"),
      (4L, 0L, "B"), (4L, 1L, "A"))
      .toDF("u", "us", "st")
      .select(col("u"), col("us"), timestamp_micros(col("us")).as("ts"),
        col("st"))
    def run(steps: Int) = AnalyticsOps.absorptionProbability(rows,
        col("u"), col("ts"), col("st"), col("us"), "P", steps)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run(1) == Map("A" -> 500000000L, "B" -> 500000000L,
      "P" -> 1000000000L))
    assert(run(2) == Map("A" -> 750000000L, "B" -> 750000000L,
      "P" -> 1000000000L))
  }

  test("absorptionProbability: driver-fold path equals the distributed " +
    "rounds on a multi-state chain (r17 guard equivalence)") {
    // 6 states incl. absorbing, uneven fan-out, 5 steps — enough rounds
    // that a floor-division divergence between the BigInt fold and the
    // decimal `div` chain would compound and show.
    val rng = new scala.util.Random(7)
    val states = Vector("P", "a", "b", "c", "d", "e")
    val rows = (1L to 40L).flatMap { u =>
      (0L to 6L).map(i => (u, i, states(rng.nextInt(states.size))))
    }.toDF("u", "us", "st")
      .select(col("u"), col("us"), timestamp_micros(col("us")).as("ts"),
        col("st"))
    def run(fold: Int) = AnalyticsOps.absorptionProbability(rows,
        col("u"), col("ts"), col("st"), col("us"), "P", steps = 5,
        driverFoldMaxStates = fold)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2))).toSet
    assert(run(64) == run(0),
      "driver-folded rounds must be value-identical to the distributed path")
  }

  test("giniCoefficient: perfect equality reads 0, hand-computed " +
    "inequality matches the sorted-rank identity, monopoly approaches " +
    "(n-1)/n") {
    def gini(vals: Seq[Long]): (Long, Long, Double) = {
      val r = AnalyticsOps.giniCoefficient(
        vals.map(Tuple1(_)).toDF("v"), col("v")).head
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    assert(gini(Seq(5L, 5L, 5L)) == ((3L, 15L, 0.0)))
    // [1,1,2]: Σ(2i−N−1)x = −2+0+4 = 2; G = 2/(3·4)
    val (_, _, g) = gini(Seq(1L, 2L, 1L))
    assert(g == 2.0 / 12.0, s"got $g")
    // one unit holds everything: G = (n−1)/n with zeros present
    val (_, _, gm) = gini(Seq(0L, 0L, 0L, 100L))
    assert(gm == 0.75, s"monopoly of 4 must read 3/4, got $gm")
  }

  test("winsorizedMean: discrete-rank bounds clamp the tails; nulls " +
    "drop; an all-equal group is its own mean") {
    // 20 values 1..20 → loRank=(19*5)div 100+1=1 → lo=1;
    // hiRank=(19*95) div 100+1=19 → hi=19; clamped sum = 209.
    val df = ((1 to 20).map(i => ("a", i.toDouble, i.toLong)) ++
      Seq(("b", 7.0, 1L), ("b", 7.0, 2L)))
      .toDF("g", "v", "id")
      .union(Seq(("a", null.asInstanceOf[java.lang.Double], 98L))
        .toDF("g", "v", "id"))
    val out = AnalyticsOps.winsorizedMean(df, col("g"), col("v"),
        Seq(col("id")), 5, 95)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val (n, lo, hi, m) = out("a")
    assert(n == 20 && lo == 1.0 && hi == 19.0)
    assert(m == 209.0 / 20.0, s"clamped mean, got $m")
    assert(out("b") == ((2L, 7.0, 7.0, 7.0)))
  }
}
