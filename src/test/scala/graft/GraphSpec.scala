package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps => G, SessionMemo}
import graft.operators.SessionMemo.Round

/** Graph operators against driver-side references: connected components
  * vs union-find, the triangle and clustering censuses vs brute force,
  * and the artifact-backed cores (PageRank, personalized PageRank, BFS
  * layers, k-core, label propagation, assortativity) on [[GraphFixture]]
  * artifacts vs scaled-integer / layer / synchronous-round references and
  * hand-computed fixtures. */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Union-find reference (path compression, driver-side, test-only). */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min-id labels: union-by-min keeps the root the component minimum
    nodes.map(x => x -> find(x)).toMap
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 40
      val edges = (0 until 50).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expect = ufComponents(edges)
      val got = G.connectedComponents(
          edges.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"trial $trial diverged")
      spark.catalog.clearCache()
    }
    // a node whose only edge is a self-loop labels itself
    val loop = G.connectedComponents(Seq((1L, 2L), (7L, 7L)).toDF("a", "b"),
        "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(loop == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    spark.catalog.clearCache()
  }

  test("a long chain converges (diameter-bound rounds) and one cluster " +
    "forms") {
    // 0-1-2-...-19: worst-case diameter for propagation
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = G.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect()
    assert(labels.length == 20 && labels.forall(_._2 == 0L))
    spark.catalog.clearCache()
  }

  test("maxIter too small throws instead of returning a partial clustering") {
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      G.connectedComponents(edges, "a", "b", maxIter = 2)
    }
    spark.catalog.clearCache()
  }

  test("dupClusters rolls up deterministic member lists sorted numerically") {
    // components {1,2,10} and {3,4}; 10 must sort AFTER 2 (numeric, not
    // lexicographic — the oracle's ORDER BY node)
    val edges = Seq((1L, 2L), (2L, 10L), (3L, 4L)).toDF("a", "b")
    val rows = G.dupClustersFromLabels(G.connectedComponents(edges, "a", "b"))
      .orderBy("cluster_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(rows == Seq((1L, 3L, "1,2,10"), (3L, 2L, "3,4")))
    spark.catalog.clearCache()
  }

  test("triangleStats: triangle + chain, duplicate/reversed/self edges collapse") {
    // triangle {1,2,3} (3 wedges, 1 triangle) + chain 4-5-6 (1 wedge),
    // fed with a reversed duplicate, an exact duplicate, and a self-loop
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 2L), (1L, 2L),
        (4L, 5L), (5L, 6L), (6L, 6L))
      .toDF("a", "b")
    val r = G.triangleStats(pairs, "a", "b").head
    assert(r.getAs[Long]("n_nodes") == 6L)
    assert(r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Long]("n_wedges") == 4L)
    assert(r.getAs[Long]("n_triangles") == 1L)
    assert(r.getAs[Double]("clustering") == 0.75)
  }

  test("triangleStats: wedge-free graph reports clustering 0 without dividing") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val r = G.triangleStats(pairs, "a", "b").head
    assert(r.getAs[Long]("n_wedges") == 0L &&
      r.getAs[Double]("clustering") == 0.0)
  }

  test("triangleStats matches brute-force enumeration on random graphs") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 0 until 3) {
      val n = 25
      val raw = (0 until 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val edges = raw.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val adj = edges.toSet
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val triBrute = (for {
        i <- nodes; j <- nodes if j > i && adj((i, j))
        k <- nodes if k > j && adj((j, k)) && adj((i, k))
      } yield 1).size
      val degs = edges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map(_._2.size.toLong)
      val wedgeBrute = degs.map(d => d * (d - 1) / 2).sum
      val r = G.triangleStats(raw.toDF("a", "b"), "a", "b").head
      assert(r.getAs[Long]("n_triangles") == triBrute.toLong,
        s"trial $trial triangles")
      assert(r.getAs[Long]("n_wedges") == wedgeBrute, s"trial $trial wedges")
    }
  }

  /** Driver-side reference of the exact scaled-integer (personalized)
    * PageRank iteration: same floor divisions in the same places, so
    * equality is exact. Plain PageRank is every node a seed. */
  private def prReference(canon: Seq[(Long, Long, Long)], iters: Int,
                          scale: Long,
                          isSeed: Long => Boolean = _ => true)
  : Map[Long, Long] = {
    val sym = canon.map(e => (e._1, e._2)) ++ canon.map(e => (e._2, e._1))
    val deg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    def tele(n: Long) = if (isSeed(n)) (15L * scale) / 100L else 0L
    var rank = deg.map { case (n, _) => n -> (if (isSeed(n)) scale else 0L) }
    for (_ <- 1 to iters) {
      val mass = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / deg(u) }.sum
      }
      rank = rank.map { case (n, _) => n -> (tele(n) + (85L * mass(n)) / 100L) }
    }
    rank
  }

  /** Driver-side BFS layer census from the min-id seed: dist → n_nodes
    * per non-empty layer 0..rounds, plus -1 → unreached if any remain. */
  private def bfsReference(canon: Seq[(Long, Long, Long)],
                           rounds: Int): Map[Int, Long] = {
    val nbrs = (canon ++ canon.map(e => (e._2, e._1, e._3)))
      .groupMap(_._1)(_._2)
    var dist = Map(nbrs.keys.min -> 0)
    var frontier = dist.keySet
    for (d <- 1 to rounds) {
      frontier = frontier.flatMap(nbrs).diff(dist.keySet)
      dist ++= frontier.map(_ -> d)
    }
    val layers = dist.groupMapReduce(_._2)(_ => 1L)(_ + _)
    val unreached = (nbrs.size - dist.size).toLong
    if (unreached > 0) layers + (-1 -> unreached) else layers
  }

  /** Driver-side synchronous weighted label propagation: every round each
    * node adopts the label with the largest total incident weight among
    * its neighbors, ties to the smallest label. */
  private def lpaReference(canon: Seq[(Long, Long, Long)],
                           iters: Int): Map[Long, Long] = {
    val byNode = (canon ++ canon.map(e => (e._2, e._1, e._3))).groupBy(_._1)
    var lbl = byNode.map { case (n, _) => n -> n }
    for (_ <- 1 to iters)
      lbl = byNode.map { case (u, es) =>
        u -> es.groupMapReduce(e => lbl(e._2))(_._3)(_ + _)
          .maxBy { case (l, s) => (s, -l) }._1
      }
    lbl
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("rank")).toMap

  private def layers(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
    df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  private def census(g: GraphFixture): Map[Int, (Long, Long, Long)] =
    G.localClusteringCensusPrepared(g.oriented, g.orientedAdj, g.deg,
        g.nEdges)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("pageRank matches the scaled-integer reference exactly on random " +
    "graphs, and the hub of a star outranks its leaves") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 20
      val g = GraphFixture((0 until 40).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)))
      val expect = prReference(g.canon, iters = 3, scale = 1000000L)
      val got = ranks(G.pageRankAdjPrepared(g.adj, g.outdeg, g.nNodes,
        iters = 3, scale = 1000000L))
      assert(got == expect, s"trial $trial")
    }
    // star 0-{1..8}: the hub collects 8 leaves' full rank each round
    val star = GraphFixture((1L to 8L).map(l => (0L, l)))
    val rs = ranks(G.pageRankAdjPrepared(star.adj, star.outdeg, star.nNodes))
    assert((1L to 8L).forall(l => rs(0L) > rs(l)))
    // leaves are isomorphic -> exactly equal ranks (a float PageRank
    // only gets this approximately; the integer one is exact)
    assert((2L to 8L).forall(l => rs(l) == rs(1L)))
  }

  test("pageRank conserves total mass up to floor losses and rejects an " +
    "overflow-capable scale") {
    val g = GraphFixture(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))
    val scale = 1000000000L
    val rs = ranks(G.pageRankAdjPrepared(g.adj, g.outdeg, g.nNodes,
      iters = 3, scale = scale))
    val total = rs.values.sum
    val nodes = rs.size.toLong
    // each round loses < 1 unit per (edge-direction div) + per-node div:
    // bound generously at nodes+2·edges units per iteration
    val maxLoss = 3L * (nodes + 2L * 5L)
    assert(total <= nodes * scale && total >= nodes * scale - maxLoss,
      s"mass $total vs ${nodes * scale}")
    intercept[IllegalArgumentException] {
      G.pageRankAdjPrepared(g.adj, g.outdeg, g.nNodes,
        iters = 1, scale = Long.MaxValue / 100L)
    }
  }

  test("personalizedPageRankSym: hand-computed two-node chain — teleport " +
    "lands only on seeds; empty seed set is rejected") {
    val g = GraphFixture(Seq((1L, 2L)))
    // scale 100, seed {1}: r0=(100,0); r1=(15,85); r2=(15+72, 0+12)
    val out = ranks(G.personalizedPageRankAdjPrepared(g.adj, g.outdeg,
      g.nNodes, n => n === 1L, iters = 2, scale = 100L))
    assert(out == Map(1L -> 87L, 2L -> 12L), s"got $out")
    intercept[IllegalArgumentException] {
      G.personalizedPageRankAdjPrepared(g.adj, g.outdeg, g.nNodes,
        _ => lit(false), iters = 1, scale = 100L)
    }
  }

  test("bfsLayersSym: layers from the min-id seed, bounded horizon, " +
    "unreached remainder censused as dist -1") {
    // Path 1-2-3-4-5 plus a disconnected pair 10-11.
    val g = GraphFixture(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L)))
    val out = layers(G.bfsLayersAdjPrepared(g.adj, g.nodes, g.nNodes, 2))
    // seed 1; dist 0:{1}, 1:{2}, 2:{3}; unreached {4,5,10,11}
    assert(out == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, -1 -> 4L), s"got $out")
    // full reach: horizon covers the path; only the pair stays out
    val full = layers(G.bfsLayersAdjPrepared(g.adj, g.nodes, g.nNodes, 5))
    assert(full == Map(0 -> 1L, 1 -> 1L, 2 -> 1L, 3 -> 1L, 4 -> 1L,
      -1 -> 2L), s"got $full")
  }

  test("CheckpointMemo: one components run per (key, session); " +
    "dupClustersFromLabels equals dupClusters on the shared labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val sweep = new SessionMemo
    var runs = 0
    def compute = { runs += 1; G.connectedComponents(edges, "a", "b") }
    val l1 = sweep(Round, spark, "edges", "k")(compute)
    val l2 = sweep(Round, spark, "edges", "k")(compute)
    assert((l2 eq l1) && runs == 1,
      "second consumer must reuse the first components run")
    def clusters(labels: org.apache.spark.sql.DataFrame) =
      G.dupClustersFromLabels(labels)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
    val viaShared = clusters(l1)
    // a fresh, unshared components run rolls up identically
    assert(viaShared == clusters(G.connectedComponents(edges, "a", "b")))
    assert(viaShared == Map(1L -> ((3L, "1,2,3")), 10L -> ((2L, "10,11"))))
    sweep.clear(Round)
    assert(sweep.entries(Round).size == 0)
  }

  test("kCorePeel: pendant peels, the clique core survives with its " +
    "degrees; extra rounds are a no-op once stable") {
    // 4-clique {1,2,3,4} plus pendant 5-1. Degrees [4,3,3,3,1];
    // quantile_cont(0.25) lands on 3 → k=3: node 5 peels round 1, the
    // clique is stable (node 1 drops to degree 3 — still >= k).
    val g = GraphFixture(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (1L, 5L)))
    def run(r: Int) = G.kCorePeelPrepared(g.sym, "node", "peer", g.deg,
        g.nNodes, rounds = r, q = 0.25)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    val out = run(2)
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out.values.forall(_ == ((3L, 3L))), s"got $out")
    assert(run(3) == out, "stable core must not change with more rounds")
  }

  test("localClusteringCensus: triangle corners credit all three " +
    "nodes; degree-1 nodes census as bucket -1; buckets are exact " +
    "integer division") {
    // Triangle {1,2,3} with pendant 4-1: node 1 has deg 3 + 1 triangle
    // → 2·1·10 div (3·2) = 3; nodes 2,3 have deg 2 + 1 triangle → 10;
    // node 4 deg 1 → -1. The duplicate reversed edge collapses in the
    // canonical artifact build.
    val out = census(GraphFixture(Seq((1L, 2L), (2L, 1L), (2L, 3L),
      (1L, 3L), (4L, 1L))))
    assert(out == Map(
      -1 -> ((1L, 1L, 0L)),
      3  -> ((1L, 3L, 1L)),
      10 -> ((2L, 4L, 2L))), s"got $out")
    // A 4-clique is fully closed: every node deg 3, 3 triangles each
    // → 2·3·10 div (3·2) = 10 for all 4 nodes.
    val c4 = census(GraphFixture(Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L))))
    assert(c4 == Map(10 -> ((4L, 12L, 12L))), s"got $c4")
  }

  test("localClusteringCensusPrepared (oriented-layout artifacts) is " +
    "row-identical to the from-scratch census on random graphs — the " +
    "q166 artifact contract (r15)") {
    // The artifact path (canonical edges → degree table → oriented
    // layout → adjacency arrays → prepared census) against the
    // brute-force per-node triangle census, on denser graphs than
    // PropertySpec's.
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 3) {
      val n = 24
      val g = GraphFixture((0 until 120).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) })
      val got = census(g)
      assert(got == g.censusReference, s"trial $trial diverged: $got")
    }
  }

  test("orientByDegree: max out-degree obeys the √(2E) hub-proof bound " +
    "— outdeg(v)=k implies k out-neighbors of degree ≥ deg(v) ≥ k, so " +
    "2E ≥ k² — on random graphs and an adversarial hub star") {
    def maxOutdeg(pairs: Seq[(Long, Long)]): (Long, Long) = {
      val g = GraphFixture(pairs)
      val k = g.oriented.groupBy(col("s")).agg(count(lit(1)).as("k"))
        .agg(max(col("k"))).head.getLong(0)
      (k, g.nEdges)
    }
    // 200-leaf star: every edge orients leaf → hub, hub emits nothing.
    val (kStar, eStar) = maxOutdeg((1L to 200L).map(l => (0L, l)))
    assert(kStar == 1 && kStar * kStar <= 2 * eStar)
    val rnd = new scala.util.Random(91)
    for (trial <- 0 until 2) {
      val raw = (0 until 300).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val (k, e) = maxOutdeg(raw)
      assert(k * k <= 2 * e, s"trial $trial: outdeg $k on $e edges")
    }
  }

  test("degreeAssortativity: a star graph is maximally disassortative " +
    "(-1); a regular graph's denominator degenerates to 0/0") {
    def assort(pairs: Seq[(Long, Long)]) = {
      val g = GraphFixture(pairs)
      G.degreeAssortativityCanon(g.canonEdges,
        g.deg.select(col("node"), col("deg").as("d"))).head
    }
    // Star 1-{2,3,4,5}: every edge joins deg 4 to deg 1 → r = -1.
    val s = assort(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    assert(s.getLong(0) == 5 && s.getLong(1) == 4)
    // edge-END mean degree (degree-biased): (4·4 + 4·1)/8 = 2.5
    assert(s.getDouble(2) == 2.5, s"end-mean degree, got $s")
    assert(s.getDouble(3) == -1.0, s"star must read -1, got $s")
    // Path 1-2-3-4: degrees [1,2,2,1]; hand-computed r = -0.5.
    val p = assort(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(p.getDouble(3) == -0.5, s"path r, got $p")
    // Triangle: regular (every degree 2) → the variance term is exactly
    // 0 in the decimal integers; the coefficient must read null, never
    // an engine-divergent 0/0 NaN (ADVICE r9).
    val t = assort(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(t.isNullAt(3), s"regular graph must read null, got $t")
  }

  test("labelPropagationSym: two weight-cohesive cliques joined by a " +
    "weak bridge split into two communities; ties break to min label") {
    def lpa(g: GraphFixture, iters: Int) =
      G.labelPropagationPrepared(g.sym, "node", "peer", "w", g.nodes,
          g.nNodes, iters)
        .as[(Long, Long)].collect().toMap
    // Cliques {1,2,3} and {10,11,12} with internal weight 5, bridged by
    // a weight-1 edge 3-10. Round 1: every node adopts its min neighbor
    // (weights tie inside a clique) → {1,2,3}→1-ish, {10,11,12}→10-ish;
    // by round 3 each clique is uniform and the weak bridge never
    // outweighs the 2×5 internal mass.
    val labels = lpa(GraphFixture.weighted(Seq((1L, 2L, 5L), (1L, 3L, 5L),
      (2L, 3L, 5L), (10L, 11L, 5L), (10L, 12L, 5L), (11L, 12L, 5L),
      (3L, 10L, 1L))), 3)
    assert(labels(1) == 1L && labels(2) == 1L && labels(3) == 1L,
      s"left clique, got $labels")
    assert(labels(10) == 10L && labels(11) == 10L && labels(12) == 10L,
      s"right clique, got $labels")

    // Deterministic tie-break on a pure triangle (all tallies tie every
    // round): hand-traced synchronous rounds give l1={1→2,2→1,3→1},
    // l2=l3={all→1} — min label wins and the state is stable by round 3.
    val tri3 = GraphFixture.weighted(Seq((1L, 2L, 7L), (2L, 3L, 7L),
      (1L, 3L, 7L)))
    val l1 = lpa(tri3, 1)
    assert(l1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L),
      s"round-1 synchronous fixture, got $l1")
    val l3 = lpa(tri3, 3)
    assert(l3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"triangle must be uniform by round 3, got $l3")
  }

  test("adjacency-artifact cores equal driver-side references on random " +
    "weighted graphs: personalized PageRank, BFS layers, and label " +
    "propagation on its lazy (3-round) and checkpointed (6-round) branch") {
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 2) {
      val g = GraphFixture.weighted((0 until 70).map(_ =>
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong,
          (rnd.nextInt(5) + 1).toLong)))
      val ppr = ranks(G.personalizedPageRankAdjPrepared(g.adj, g.outdeg,
        g.nNodes, nd => pmod(nd, lit(7L)) === 0, iters = 3,
        scale = 1000000L))
      assert(ppr == prReference(g.canon, iters = 3, scale = 1000000L,
        isSeed = _ % 7 == 0), s"trial $trial: PPR")
      for (rounds <- Seq(1, 3)) {
        val bfs = layers(G.bfsLayersAdjPrepared(g.adj, g.nodes, g.nNodes,
          rounds))
        assert(bfs == bfsReference(g.canon, rounds),
          s"trial $trial: BFS at $rounds rounds")
      }
      for (iters <- Seq(3, 6)) {
        val lpa = G.labelPropagationPrepared(g.sym, "node", "peer", "w",
            g.nodes, g.nNodes, iters)
          .as[(Long, Long)].collect().toMap
        assert(lpa == lpaReference(g.canon, iters),
          s"trial $trial: LPA at $iters rounds")
      }
    }
    spark.catalog.clearCache()
  }

  test("localCheckpoint DROPS the hash distribution (measured r14) — " +
    "the tripwire behind the session edge artifact's split contract: " +
    "broadcast-attaching consumers read the cheap checkpoint frame, " +
    "distribution-dependent aggregates keep the bucketed table") {
    import spark.implicits._
    // Dataset.checkpoint in the AQE era reports UnknownPartitioning on
    // the LogicalRDD, so an edge-scale aggregate over a checkpointed
    // frame RE-SHUFFLES even when the source scan was hash-distributed
    // on the key. This is why SparkEntry's coPurchaseSymFrame serves
    // only broadcast-style consumers (PageRank/k-core/BFS/PPR rounds)
    // while the LPA tally and the item-kNN build read the table. If a
    // Spark upgrade makes this test FAIL (partitioning preserved), the
    // split can collapse: re-audit those consumers onto the frame.
    val df = (1 to 1000).map(i => (i.toLong, i.toLong % 7))
      .toDF("k", "v").repartition(8, col("k"))
      .localCheckpoint(true)
    val part = df.queryExecution.executedPlan.outputPartitioning
    assert(!part.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning],
      s"localCheckpoint now PRESERVES hash distribution ($part) — " +
        "collapse the symFrame/table split in SparkEntry's graph family")
    // The columnar persist DOES preserve it: a grouped aggregate on a
    // superset key (k, v) rides the k distribution with no new shuffle
    // — the property the LPA tally and item-kNN build depend on.
    val cached = (1 to 1000).map(i => (i.toLong, i.toLong % 7))
      .toDF("k", "v").repartition(8, col("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      cached.count()
      val agg2 = cached.groupBy(col("k"), col("v")).agg(count(lit(1)))
      val plan2 = agg2.queryExecution.executedPlan.toString
      // Only the plan ABOVE the cache scan matters (the cached plan's
      // own build shuffle prints inside the InMemoryRelation subtree).
      val above = plan2.split("InMemoryRelation")(0)
      assert(!above.contains("Exchange hashpartitioning"),
        s"(k, v) groupBy over the cache must ride the k distribution:\n" +
          plan2)
    } finally cached.unpersist(blocking = false)
  }
}
