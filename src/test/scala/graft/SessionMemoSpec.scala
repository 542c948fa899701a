package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SessionMemo
import graft.operators.SessionMemo.{Corpus, Round}

/** The session-artifact store: nested builds, failed builds, concurrent
  * callers, and the two tiers' lifecycles over every registered
  * artifact builder. */
class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Artifact names (the key minus its `:dir:applicationId` suffix) of
    * one tier's entries for `dir`. */
  private def names(memo: SessionMemo, tier: SessionMemo.Tier,
                    dir: String): Set[String] = {
    val suffix = s":$dir:${spark.sparkContext.applicationId}"
    memo.entries(tier).keySet.filter(_.endsWith(suffix))
      .map(_.stripSuffix(suffix))
  }

  test("a build that reads other keys of the same store returns") {
    val memo = new SessionMemo
    // 200 nested pairs: folded into one map's computeIfAbsent, a share
    // of these would throw "Recursive update" when both keys land in
    // one bin.
    val got = (0 until 200).map { i =>
      memo(Corpus, spark, "d", s"outer$i")(
        memo(Corpus, spark, "d", s"inner$i")(i) + 1)
    }
    assert(got == (1 to 200))
    // a four-deep chain across both tiers, like degree table →
    // co-purchase table → basket membership → table plan
    def level(n: Int): Int =
      if (n == 0) memo(Corpus, spark, "d", "leaf")(0)
      else memo(if (n % 2 == 0) Corpus else Round, spark, "d", s"l$n")(
        level(n - 1) + 1)
    assert(level(4) == 4)
    assert(names(memo, Corpus, "d") ==
      (0 until 200).flatMap(i => Seq(s"outer$i", s"inner$i")).toSet ++
        Set("leaf", "l2", "l4"))
    assert(names(memo, Round, "d") == Set("l1", "l3"))
  }

  test("a build that throws leaves no entry, and the next call builds") {
    val memo = new SessionMemo
    val e = intercept[IllegalStateException] {
      memo(Corpus, spark, "d", "outer")(
        memo(Corpus, spark, "d", "inner")(
          throw new IllegalStateException("build failed")): Int)
    }
    assert(e.getMessage == "build failed")
    assert(memo.entries(Corpus).isEmpty,
      s"failed builds left entries: ${memo.entries(Corpus).keySet}")
    var builds = 0
    def ok = { builds += 1; 7 }
    assert(memo(Corpus, spark, "d", "inner")(ok) == 7)
    assert(memo(Corpus, spark, "d", "inner")(ok) == 7 && builds == 1)
  }

  test("two threads asking for one key build once") {
    val memo = new SessionMemo
    val builds = new AtomicInteger
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def build = {
      builds.incrementAndGet()
      started.countDown()
      release.await()
      new Object
    }
    val out = new Array[AnyRef](2)
    val first = new Thread(() => out(0) = memo(Round, spark, "d", "k")(build))
    first.start()
    started.await()
    val second = new Thread(() => out(1) = memo(Round, spark, "d", "k")(build))
    second.start()
    // the second caller must be waiting on the key's cell before the
    // first build finishes
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (second.getState != Thread.State.BLOCKED &&
      System.nanoTime() < deadline) Thread.sleep(5)
    assert(second.getState == Thread.State.BLOCKED)
    release.countDown()
    first.join(); second.join()
    assert(builds.get == 1 && (out(0) ne null) && (out(1) eq out(0)))
  }

  test("forgetDirs drops dead corpora's entries without releasing them") {
    val memo = new SessionMemo
    val frame = memo(Corpus, spark, "dead", "frame")(
      (1 to 10).toDF("x").localCheckpoint(true))
    memo(Round, spark, "dead", "n")(1L)
    memo(Corpus, spark, "live", "n")(2L)
    memo.forgetDirs(Seq("live"))
    assert(names(memo, Corpus, "dead").isEmpty &&
      names(memo, Round, "dead").isEmpty)
    assert(names(memo, Corpus, "live") == Set("n"))
    // a caller still holding the frame keeps reading its blocks
    assert(frame.count() == 10L)
    var builds = 0
    memo(Corpus, spark, "dead", "frame") { builds += 1; frame }
    assert(builds == 1, "a forgotten entry must rebuild")
  }

  test("every warm and round artifact is released by its tier's clear " +
    "(sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.clearSessionSweeps()
    SparkEntry.clearSessionArtifacts()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.warmArtifactBuilders(dir).foreach { case (_, b) => b(spark) }
    assert(names(SessionMemo, Round, dir).isEmpty,
      "warm builders must not populate the Round tier")
    SparkEntry.roundSweepBuilders(dir).foreach { case (_, b) => b(spark) }
    // which tier each artifact lives in
    assert(names(SessionMemo, Round, dir) == Set("worddup3:0.0", "wordcc",
      "evalvotes", "itemknn", "ivf:8:2", "pq:4:16:2", "ivfpq:8:4:16:2",
      "bpe:6"))
    assert(Set("basket", "copurchase_sym", "degrees", "symframe", "nnodes",
      "nsym", "symadj", "oriented", "orientedadj", "holdoutpairs",
      "holdoutparts", "deltaedges", "nholdout", "ndeltaedges", "custpart",
      "baseknn", "docterms1", "docterms2", "docterms3", "lineitem",
      "orders", "documents", "embeddings")
      .subsetOf(names(SessionMemo, Corpus, dir)))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // the checkpoint RDDs a tier's values pin
    def pinned(values: Iterable[Any]): Set[Int] = values.flatMap {
      case d: Dataset[_] => d.queryExecution.analyzed.collect {
        case r: LogicalRDD => r.rdd.id }
      case _ => Nil
    }.toSet
    // Strong references to every value either tier held, until the end:
    // a value a clear failed to release stays reachable, so its blocks
    // stay listed below.
    val round = SessionMemo.entries(Round)
    val corpus = SessionMemo.entries(Corpus)
    val roundPins = pinned(round.values)
    val corpusPins = pinned(corpus.values)
    assert(roundPins.nonEmpty && roundPins.subsetOf(persisted))
    assert(corpusPins.nonEmpty && corpusPins.subsetOf(persisted))
    // the round clear empties only the Round tier and releases its blocks...
    SparkEntry.clearSessionSweeps()
    assert(SessionMemo.entries(Round).isEmpty)
    assert((roundPins & persisted).isEmpty)
    // ...and every Corpus value is still a hit, by object identity
    SparkEntry.warmArtifactBuilders(dir).foreach { case (_, b) => b(spark) }
    val after = SessionMemo.entries(Corpus)
    assert(after.keySet == corpus.keySet)
    corpus.foreach { case (k, v) =>
      assert(after(k).asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef],
        s"$k was rebuilt after clearSessionSweeps")
    }
    assert(corpusPins.subsetOf(persisted))
    // the corpus clear empties the Corpus tier and releases its blocks
    SparkEntry.clearSessionArtifacts()
    assert(SessionMemo.entries(Corpus).isEmpty)
    assert((corpusPins & persisted).isEmpty)
    // Nothing else stays pinned either — no build leaves intermediate
    // checkpoints behind: the persistent-RDD set is back to its
    // pre-build state.
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"blocks still pinned after both clears: $leaked")
    assert(round.nonEmpty && corpus.nonEmpty)
  }
}
