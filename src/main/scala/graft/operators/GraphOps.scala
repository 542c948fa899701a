package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators: connected components over the near-dup pair graph,
  * and the co-purchase graph family served from the session graph
  * artifacts (degree table, symmetric adjacency, degree-ordered oriented
  * layout). Pairs ([[DedupOps.nearDupPairs]]) are only half the dedup
  * story — a transitive family of near-dups (A~B, B~C) must collapse
  * into ONE cluster with one survivor, or the "deduplicated" corpus still
  * carries C. Components turn the pair list into cluster ids.
  *
  * Scale posture: iterative MIN-LABEL PROPAGATION. Each round is one
  * equi-join (edges ⋈ labels on node) plus one partial-aggregable groupBy
  * shuffle — both hash-partitioned on the node id, no driver-side graph.
  * Rounds needed = graph DIAMETER, and near-dup clusters are dense balls
  * of mutually-similar docs (diameter 1-3 in practice), so the loop runs
  * 2-4 rounds regardless of corpus size.
  *
  * The driver loop is orchestration only (each iteration is a distributed
  * job; the driver sees one changed-row COUNT per round — never row data).
  */
object GraphOps {

  /** Edge-count ceiling for broadcasting the adjacency-array table in
    * [[localClusteringCensusPrepared]] (Σ array cells = |E| longs, so
    * ~20M edges ≈ a few hundred MB of hashed relation — comfortable on
    * the 128 GiB local driver and a typical cluster executor). Past it
    * the two attach joins fall back to AQE-sized shuffles; the intersect
    * kernel is unchanged either way. */
  private val ClosureBroadcastMaxEdges = 20000000L

  /** Node-count ceiling for broadcasting per-iteration rank/mass tables
    * in the PageRank family: 10M (long, long, long) rows ≈ 240 MB
    * hashed. The iteration joins attach node-cardinality state to the
    * corpus-scale edge list — broadcast keeps the edge list from
    * re-shuffling every round; past the budget AQE shuffles apply. */
  private val RankBroadcastMaxNodes = 10000000L

  /** Release the executor blocks behind a `localCheckpoint`ed DataFrame.
    * `Dataset.unpersist` is a NO-OP for these (it consults the
    * CacheManager, which has no entry for a LogicalRDD-backed plan — the
    * blocks belong to the checkpointed RDD itself), so the fixpoint
    * loops free each round's blocks by unpersisting that RDD directly;
    * otherwise dead rounds linger until driver GC + ContextCleaner get
    * around to them. (Shared with [[SessionMemo]]'s clear() — same
    * LogicalRDD-backed lifecycle.) */
  private[graft] def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Connected components of the undirected graph given as an edge list.
    * Returns one row per node: (node, label) where `label` is the MINIMUM
    * node id reachable from `node` — a deterministic, engine-independent
    * cluster id (the same convention a SQL recursive-CTE oracle computes).
    *
    * Each round ends in `localCheckpoint(eager)` — this is load-bearing,
    * not a cache: a mere persist() shortcuts EXECUTION but the logical
    * plan still nests the previous round twice (union + fixpoint join),
    * so plan size doubles per round and analysis itself OOMs after ~20
    * rounds. Checkpointing truncates the plan to the materialized rows.
    * Local (executor-block) checkpoints are the right default for an
    * iterative loop — a lost block just re-runs the loop — but on a
    * cluster where executor loss mid-loop is routine, call
    * `sc.setCheckpointDir` and swap in reliable `checkpoint()`.
    *
    * The returned labels are those checkpointed rows (already
    * materialized; each superseded round's blocks are freed eagerly by
    * unpersisting the checkpointed RDD itself — `Dataset.unpersist` is a
    * no-op for localCheckpoints — and the final round's are released by
    * the ContextCleaner once the result is garbage-collected).
    *
    * Throws after `maxIter` rounds without convergence: a silently partial
    * clustering would under-merge and let duplicates survive. */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 25): DataFrame = {
    // Symmetrize once: propagation needs both directions of each edge.
    // Pre-hashed on the per-round join key: the cached layout satisfies
    // every round's sym ⋈ labels distribution, so only the
    // node-cardinality label side shuffles per iteration.
    val sym = edges
      .select(col(src).cast("long").as("node"), col(dst).cast("long").as("peer"))
      .union(edges
        .select(col(dst).cast("long").as("node"), col(src).cast("long").as("peer")))
      .repartition(col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    var changed = Long.MaxValue
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // label'(n) = min over the closed neighborhood {n} ∪ N(n).
      val viaPeers = sym.join(labels, "node")
        .select(col("peer").as("node"), col("label"))
      val next = labels.union(viaPeers)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      // One count per round detects the exact fixpoint (no lost-update
      // heuristics); both sides read materialized checkpoint blocks.
      changed = next.join(labels.withColumnRenamed("label", "__old"), "node")
        .filter(col("label") =!= col("__old")).count()
      releaseCheckpoint(labels)
      labels = next
      iter += 1
    }
    sym.unpersist(blocking = false)
    if (changed > 0) {
      releaseCheckpoint(labels)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds — " +
          "raise maxIter (diameter-bound)")
    }
    labels
  }

  /** Cluster summary over a (node, label) assignment — the output of
    * [[connectedComponents]]: one row per cluster with its size and a
    * deterministic comma-joined member list (members sorted NUMERICALLY
    * — the oracle's `ORDER BY node` twin). Taking the labels rather than
    * the edges lets a session share one components run across consumers
    * ([[SessionMemo]]): the fixpoint loop is paid once and each
    * consumer pays only its own rollup. */
  def dupClustersFromLabels(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        concat_ws(",", transform(sort_array(collect_list(col("node"))),
          _.cast("string"))).as("members"))
      .select(col("label").as("cluster_id"), col("n_members"), col("members"))

  /** PageRank over the session SYMMETRIC ADJACENCY artifact, in
    * SCALED-INTEGER arithmetic so the result is exact, order-independent,
    * and engine-reproducible: every rank is a non-negative long in units
    * of `scale⁻¹`, each iteration's mass transfer is `rank div outdeg`
    * (integer floor division — identical in Spark `div` and DuckDB `//`
    * for non-negative operands), and the damping step is
    * `(15·scale) div 100 + (85·mass) div 100`. A float PageRank cannot
    * hash-verify: partial-aggregation order perturbs the low bits of
    * every double sum, and k iterations compound the perturbation.
    *
    * Overflow bound (checked): the damping multiply needs
    * `85 · nNodes · scale < 2⁶³`, because total mass is conserved at
    * `nNodes · scale` and any single node's in-mass is at most that.
    * `scale` trades precision for headroom: 10⁹ (the default) holds to
    * ~10⁸ nodes with 9 significant digits; a 10⁹-node graph runs at
    * scale 10⁶. Symmetrized edges mean every node has outdeg ≥ 1, so
    * there is no dangling-mass term.
    *
    * Inputs: `adj` is one row per node carrying its out-neighbor cells
    * as `nbrs: array<struct<p, w, pdeg>>` (the node-keyed rollup of the
    * symmetric edge table, each cell carrying its destination's degree
    * — same cells, |V| rows instead of 2|E|); `deg` is the exact (node,
    * outdeg) symmetric degree table and `nNodes` its row count. Each
    * iteration's mass pass probes the broadcast contribution table |V|
    * times instead of 2|E| times, computes `rank div outdeg` ONCE per
    * node instead of once per edge, and streams the cells out of a
    * codegen explode — the per-edge work is emit + combinable-sum.
    * Hub-row bound: max cells per row = max degree (the same bound the
    * broadcast adjacency attach in the clustering census carries).
    *
    * Returns (node, rank, outdeg) — ranks sum to ≈ nNodes·scale (floor
    * losses only), i.e. the "ranks average to 1" convention scaled.
    *
    * RETURN CONTRACT: the result is the LAZY iteration chain over the
    * session artifacts, not checkpointed rows — consume it with ONE
    * downstream action, BEFORE any sweep/artifact clear (a second action
    * re-runs all iterations; a clear in between fails the job with
    * missing checkpoint blocks). */
  def pageRankAdjPrepared(adj: DataFrame, deg: DataFrame, nNodes: Long,
                          iters: Int = 3,
                          scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(nNodes == 0 || scale <= Long.MaxValue / 85L / math.max(nNodes, 1L),
      s"PageRank: 85 * $nNodes nodes * scale $scale overflows long — lower scale")
    val teleport = (15L * scale) / 100L
    val bcast: DataFrame => DataFrame =
      if (nNodes <= RankBroadcastMaxNodes) broadcast(_) else identity
    // Per-NODE contribution rank div outdeg (constant across a node's
    // out-edges) is THE loop state: because every cell carries its
    // destination's outdegree (`pdeg`), the next round's contribution
    // derives from the mass aggregate alone — one broadcast build and
    // one join per iteration, with no degree re-join:
    // contribₖ₊₁(s) = (teleport + (85·massₖ(s)) div 100) div outdeg(s).
    var contribs = deg.select(col("node"),
      expr(s"${scale}L div outdeg").as("__c"))
    var mass: DataFrame = null
    for (k <- 1 to iters) {
      mass = adj.join(bcast(contribs), "node")
        .select(col("__c"), explode(col("nbrs")).as("__e"))
        .select(col("__e.p").as("node"), col("__e.pdeg").as("__pd"),
          col("__c").as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("mass"), max(col("__pd")).as("__pd"))
      if (k < iters)
        contribs = mass.select(col("node"),
          expr(s"(${teleport}L + (85 * mass) div 100) div __pd").as("__c"))
    }
    mass.select(col("node"),
      (lit(teleport) + expr("(85 * mass) div 100")).as("rank"),
      col("__pd").as("outdeg"))
  }

  /** PERSONALIZED PageRank over the symmetric adjacency artifact —
    * [[pageRankAdjPrepared]]'s scaled-integer discipline and inputs with
    * the teleport mass restricted to a SEED set (the "random surfer who
    * always returns to their interests" ranking a recommender serves per
    * user/topic segment): rank₀ = scale on seeds, 0 elsewhere; each
    * iteration rank′ = (seed ? (15·scale) div 100 : 0) +
    * (85·mass) div 100. Every rank is an exact long, so k iterations
    * hash-verify against an unrolled SQL twin. Overflow bound (checked):
    * total mass stays ≤ nSeeds·scale ≤ nNodes·scale, so
    * `85 · nNodes · scale < 2⁶³` suffices. An empty seed set is
    * rejected (every rank would be 0).
    *
    * RETURN CONTRACT: the LAZY iteration chain — consume it with ONE
    * downstream action, BEFORE any sweep/artifact clear (a second action
    * re-runs all iterations; a clear in between fails the job with
    * missing checkpoint blocks). */
  def personalizedPageRankAdjPrepared(adj: DataFrame, deg: DataFrame,
                                      nNodes: Long,
                                      isSeed: Column => Column,
                                      iters: Int = 3,
                                      scale: Long = 1000000000L)
  : DataFrame = {
    require(nNodes == 0 ||
      scale <= Long.MaxValue / 85L / math.max(nNodes, 1L),
      s"personalizedPageRank: 85 * $nNodes * scale $scale overflows long")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val seeded = deg.select(col("node"), col("outdeg"))
      .withColumn("is_seed", isSeed(col("node")))
    // isEmpty plans its limit at the root (CollectLimitExec), outside
    // whole-stage codegen: a limit inside a codegen stage names its
    // counter from a JVM-global id, so its code would differ every run.
    require(nNodes == 0 || !seeded.filter(col("is_seed")).isEmpty,
      "personalizedPageRank: empty seed set — every rank would be 0")
    val teleport = (15L * scale) / 100L
    val bcast: DataFrame => DataFrame =
      if (nNodes <= RankBroadcastMaxNodes) broadcast(_) else identity
    // Same fused shape as [[pageRankAdjPrepared]]; the seed flag is a
    // pure expression of the node id, so the teleport term evaluates
    // map-side on the mass aggregate — no seeded-deg re-join either.
    def tele(node: Column): Column =
      when(isSeed(node), lit(teleport)).otherwise(lit(0L))
    var contribs = seeded.select(col("node"),
        when(col("is_seed"), lit(scale)).otherwise(lit(0L)).as("__r"),
        col("outdeg"))
      .select(col("node"), expr("__r div outdeg").as("__c"))
    var mass: DataFrame = null
    for (k <- 1 to iters) {
      mass = adj.join(bcast(contribs), "node")
        .select(col("__c"), explode(col("nbrs")).as("__e"))
        .select(col("__e.p").as("node"), col("__e.pdeg").as("__pd"),
          col("__c").as("contrib"))
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("mass"), max(col("__pd")).as("__pd"))
      if (k < iters)
        contribs = mass.select(col("node"),
            (tele(col("node")) + expr("(85 * mass) div 100")).as("__r"),
            col("__pd"))
          .select(col("node"), expr("__r div __pd").as("__c"))
    }
    mass.select(col("node"),
      (tele(col("node")) + expr("(85 * mass) div 100")).as("rank"),
      col("__pd").as("outdeg"))
  }

  /** BFS distance-layer census from a deterministic seed (the MINIMUM
    * node id — engine-independent, so a SQL recursive-CTE oracle lands
    * on the same seed) over the symmetric adjacency artifact (`adj` as
    * in [[pageRankAdjPrepared]]; `nodes` the exact (node) vertex set,
    * `nNodes` its count). Runs a FIXED `rounds` of frontier expansion;
    * the oracle unrolls the same horizon, and nodes beyond it census as
    * dist −1 ("unreached") — a bounded-round reachability probe, not an
    * unbounded traversal. Returns (dist, n_nodes): one row per non-empty
    * layer 0..rounds plus the −1 row when unreached nodes remain.
    *
    * Each round broadcast-semi-joins the |V|-row adjacency frame to the
    * frontier, explodes ONLY the frontier rows' cells, and anti-joins
    * the visited set — node-scale scans, and the explode fans out only
    * the frontier's neighborhoods. Only each round's FRONTIER is
    * checkpointed (it is referenced twice per round — semi-join +
    * visited anti-join — so a lazy chain would double the plan per
    * round); the visited set stays a lazy union of the ≤ rounds+1
    * checkpointed layers. The result is materialized and the layers'
    * blocks released before return. */
  def bfsLayersAdjPrepared(adj: DataFrame, nodes: DataFrame, nNodes: Long,
                           rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds in [1,8], got $rounds")
    val seed = nodes.select(col("node")).agg(min(col("node")).as("node"))
    val bcast: DataFrame => DataFrame =
      if (nNodes <= RankBroadcastMaxNodes) broadcast(_) else identity
    val layers = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var frontier = seed.withColumn("dist", lit(0)).localCheckpoint(true)
    layers += frontier
    var visited = frontier
    var d = 0
    while (d < rounds) {
      d += 1
      val next = adj
        .join(bcast(frontier.select(col("node"))), Seq("node"),
          "left_semi")
        .select(explode(col("nbrs.p")).as("node")).distinct()
        .join(bcast(visited), Seq("node"), "left_anti")
        .withColumn("dist", lit(d))
        .localCheckpoint(true)
      layers += next
      visited = visited.union(next)
      frontier = next
    }
    val unreached = nodes.select(col("node"))
      .join(visited, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1).as("dist"), col("n_nodes"))
      .filter(col("n_nodes") > 0)
    val out = visited.groupBy(col("dist"))
      .agg(count(lit(1)).as("n_nodes"))
      .union(unreached)
      .localCheckpoint(true)
    layers.foreach(releaseCheckpoint)
    out
  }

  /** Triangle census of an undirected pair graph: nodes, edges, wedges
    * (open 2-paths), triangles, and the global clustering coefficient
    * 3·T/W — the corpus-health shape metric for a near-dup graph (a
    * coefficient near 1 means dup families are closed cliques exact
    * clustering collapses cleanly; near 0 means chainy borderline
    * similarity that transitive clustering will over-merge).
    *
    * Enumeration is DEGREE-ORDERED (Cohen, "Graph Twiddling in a
    * MapReduce World", CiSE 2009): each edge orients from its
    * (degree, id)-smaller endpoint to the larger, wedges expand only
    * from out-neighbor pairs, and a semi-join against the oriented
    * edges closes them. Each triangle has exactly ONE vertex with two
    * out-edges inside it, so no dedup pass is needed — and max
    * out-degree is O(√edges) on ANY graph, so the wedge explosion a
    * hub vertex causes under naive enumeration (deg² wedges on the
    * raw adjacency) cannot happen. All joins are equi-joins on node
    * ids; counts are exact integers, the coefficient is one final
    * double expression. */
  def triangleStats(pairs: DataFrame, a: String, b: String): DataFrame = {
    val e = pairs
      .select(least(col(a), col(b)).as("u"), greatest(col(a), col(b)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ranked = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val o = ranked.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("d"),
      when(uFirst, struct(col("dv").as("rd"), col("v").as("rn")))
        .otherwise(struct(col("du").as("rd"), col("u").as("rn"))).as("dr"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.dr") < col("e2.dr"))
      .select(col("e1.d").as("x"), col("e2.d").as("y"))
    val tri = wedges.join(
        o.select(col("s").as("x"), col("d").as("y")), Seq("x", "y"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val sizes = deg.agg(count(lit(1)).as("n_nodes"),
      // integer div AFTER the exact sum (every term is even) — deg*(deg-1)/2
      // inside the sum would be a double division
      expr("sum(deg * (deg - 1)) div 2").as("n_wedges"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    sizes.crossJoin(edges).crossJoin(tri)
      .withColumn("clustering",
        when(col("n_wedges") > 0,
          (lit(3.0) * col("n_triangles").cast("double")) /
            col("n_wedges").cast("double")).otherwise(lit(0.0)))
  }

  /** Degree-quantile-pinned k-core peel — the cohesion filter for
    * co-occurrence and near-dup graphs: iteratively remove vertices
    * whose degree falls below k, where k = ceil(initial-degree
    * quantile `q`) (pinned ONCE from the unpeeled graph, so the
    * threshold adapts to corpus density while the peel itself is the
    * classic k-core cascade). Runs a FIXED `rounds` peels — the oracle
    * unrolls the identical rounds; convergence on a given corpus is a
    * spec assertion (rounds vs rounds+1 equal), not an unbounded loop.
    *
    * Inputs are the session graph artifacts: `symEdges` the
    * materialized symmetric (both directions, distinct, self-loop-free)
    * edge frame, `deg` its exact (node, deg) degree table and `nNodes`
    * its row count — the initial-degree quantile pin and round-1 keep
    * set read the artifact instead of re-aggregating the edge list.
    * Each later round is one degree aggregate plus two broadcast
    * semi-joins against the node-cardinality keep-list; each round's
    * survivor edges are eagerly checkpointed so lineage stays flat.
    * Returns survivors as (node, degree-after-peel, k).
    *
    * RETURN CONTRACT: the result is a LAZY head over the last round's
    * checkpoint — consume it with ONE downstream action, BEFORE any
    * sweep/artifact clear. */
  def kCorePeelPrepared(symEdges: DataFrame, src: String, dst: String,
                        deg: DataFrame, nNodes: Long, rounds: Int,
                        q: Double): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds in [1,8], got $rounds")
    require(q > 0.0 && q < 1.0, s"quantile in (0,1), got $q")
    val deg0 = deg.select(col("node").as("u"), col("deg").as("__n"))
    val kTab = deg0
      .agg(ceil(percentile(col("__n"), lit(q))).cast("long").as("k"))
      .localCheckpoint(true)
    // Survivor sets are node-cardinality; broadcasting them makes both
    // semi-joins map-side, so each round's edge frame keeps the
    // partitioning it arrived with — no per-round repartition, no |E|
    // shuffle. Past the node budget the semi-joins fall back to AQE
    // shuffles.
    val bcast: DataFrame => DataFrame =
      if (nNodes <= RankBroadcastMaxNodes) broadcast(_) else identity
    var sym = symEdges.select(col(src).cast("long").as("u"),
      col(dst).cast("long").as("v"))
    for (r <- 1 to rounds) {
      val keep = (if (r == 1) deg0
        else sym.groupBy(col("u")).agg(count(lit(1)).as("__n")))
        .crossJoin(broadcast(kTab))
        .filter(col("__n") >= col("k"))
        .select(col("u"))
      sym = sym
        .join(bcast(keep), Seq("u"), "left_semi")
        .join(bcast(keep.select(col("u").as("v"))), Seq("v"), "left_semi")
        .localCheckpoint(true)
    }
    sym.groupBy(col("u").as("node"))
      .agg(count(lit(1)).as("degree"))
      .crossJoin(broadcast(kTab))
      .select(col("node"), col("degree"), col("k"))
  }

  /** Degree-ordered orientation of a canonical (u < v, distinct) edge
    * list: each edge points from its (deg, id)-smaller endpoint `s` to
    * the larger `d`, so max out-degree is O(√E) on ANY graph — the
    * bound that makes compact-forward triangle work (adjacency arrays,
    * per-edge intersections) hub-proof. `deg` is the (node, deg)
    * symmetric degree table and `knownNodes` its row count. Degrees
    * BROADCAST onto the edge list: the degree table is node-cardinality
    * (~|V|, the catalog) while the edge list is corpus-scale (~|E|) —
    * shuffling |E| twice to attach two ints is the wrong side of both
    * joins. Past the node budget both joins fall back to AQE-sized
    * shuffles. The co-purchase serving layer materializes the oriented
    * layout ONCE per session — the same layout a production
    * triangle/clustering service keeps beside its symmetric edges. */
  def orientByDegree(canonEdges: DataFrame, deg: DataFrame,
                     knownNodes: Long): DataFrame = {
    val degSide: DataFrame => DataFrame =
      if (knownNodes <= RankBroadcastMaxNodes) broadcast(_) else identity
    val ranked = canonEdges
      .join(degSide(deg.select(col("node").as("u"), col("deg").as("du"))),
        "u")
      .join(degSide(deg.select(col("node").as("v"), col("deg").as("dv"))),
        "v")
    val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    ranked.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("d"))
  }

  /** Per-node out-neighbor arrays of a degree-ordered oriented edge
    * list — the adjacency side of the compact-forward intersect. Array
    * length is O(√E) by the orientation bound. Arrays are SORTED: the
    * census intersects them with the linear-merge `sorted_intersect`
    * kernel instead of `array_intersect`'s per-row hash set — one sort
    * at build time buys allocation-free merges at query time.
    * (Intersections are sets; every consumer aggregates
    * order-independently, so the sort is value-invisible.) */
  def adjacencyFromOriented(oriented: DataFrame): DataFrame =
    oriented.groupBy(col("s").as("node"))
      .agg(sort_array(collect_list(col("d"))).as("nbrs"))

  /** Local clustering-coefficient census — the per-node shape
    * complement to [[triangleStats]]'s one global coefficient: how many
    * nodes live in closed neighborhoods (cliquish dup families, tight
    * co-purchase pockets) vs open hubs. Each node's coefficient
    * 2·T_v/(deg_v·(deg_v−1)) buckets by INTEGER division into 11 cells
    * (bucket 10 = fully closed; degree-1 nodes, whose coefficient is
    * undefined, census as bucket −1), so no per-node float ever crosses
    * the engine boundary. Returns (bucket, n_nodes, sum_deg, sum_tri),
    * one row per non-empty bucket, materialized.
    *
    * Inputs are the session ORIENTED-layout artifacts: `oriented` the
    * materialized [[orientByDegree]] frame, `adj` its
    * [[adjacencyFromOriented]] arrays, `deg` the (node, deg) degree
    * table, and `knownEdges` the canonical edge count — the census pays
    * only the intersect kernel + the output-scale census folds, never
    * the orientation/adjacency prep.
    *
    * EDGE-ITERATOR triangle counting: one join attaches both endpoint
    * arrays to each oriented edge, then a map-side sorted intersect —
    * each triangle {a,b,c} (rank a<b<c) is found exactly once, at edge
    * (a,b), as c ∈ N⁺(a)∩N⁺(b). The Σoutdeg² work runs inside one
    * codegen'd intersect kernel and the only exploded rows are the
    * triangle CREDITS (2 endpoint rows + |intersection| witness rows
    * per closing edge — output-scale, not wedge-scale), so each
    * triangle credits its three corners once. Arrays broadcast when |E|
    * fits the budget (Σ array cells = |E| longs); past it the attach
    * joins fall back to shuffles sized by AQE. */
  def localClusteringCensusPrepared(oriented: DataFrame, adj: DataFrame,
                                    deg: DataFrame,
                                    knownEdges: Long): DataFrame = {
    val adjSide: DataFrame => DataFrame =
      if (knownEdges <= ClosureBroadcastMaxEdges) broadcast(_)
      else identity
    val pairs = oriented
      .join(adjSide(adj.select(col("node").as("s"), col("nbrs").as("nu"))),
        "s")
      .join(adjSide(adj.select(col("node").as("d"), col("nbrs").as("nv"))),
        "d")
    val triNodes = pairs
      .select(col("s"), col("d"),
        call_function("sorted_intersect", col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(explode(concat(
        array(
          struct(col("s").as("node"), size(col("ws")).cast("long").as("c")),
          struct(col("d").as("node"), size(col("ws")).cast("long").as("c"))),
        transform(col("ws"),
          w => struct(w.as("node"), lit(1L).as("c"))))).as("x"))
      .select(col("x.node").as("node"), col("x.c").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("tri"))
    deg.join(triNodes, Seq("node"), "left")
      .select(col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .select(when(col("deg") < 2, lit(-1))
        .otherwise(expr("CAST((tri * 2 * 10) div (deg * (deg - 1)) AS INT)"))
        .as("bucket"), col("deg"), col("tri"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("sum_deg"),
        sum(col("tri")).as("sum_tri"))
      .localCheckpoint(true)
  }

  /** Weighted synchronous label propagation (Raghavan, Albert & Kumara,
    * "Near linear time algorithm to detect community structures in
    * large-scale networks", Phys. Rev. E 76, 2007) over a SYMMETRIC
    * weighted edge list — the community detector that complements the
    * component/k-core/PageRank family: components find connectivity,
    * LPA finds DENSITY (which parts of one giant component cluster
    * together). Returns one (node, lbl) row per node after `iters`
    * synchronous rounds; nodes sharing `lbl` are one community.
    *
    * Determinism (the oracle contract): every node starts labeled with
    * its own id; each round every node simultaneously adopts the label
    * with the LARGEST total incident edge weight among its neighbors,
    * ties broken by the SMALLEST label — a pure function of the input,
    * unlike the randomized asynchronous original. The argmax is the
    * combinable max-of-struct (s, −lbl) aggregate, not a window sort.
    * Fixed `iters`, not a fixpoint: LPA label-flip counts decay
    * geometrically on clustered graphs and the synchronous update can
    * 2-cycle on bipartite-ish subgraphs, so a bounded round count IS the
    * termination rule.
    *
    * Inputs: `nodes` is the exact (node) vertex set, `nNodes` its count.
    * `symEdges` should be the BUCKETED TABLE (or any source whose scan
    * reports the node-hash distribution): the per-round tally is an
    * edge-scale (node, lbl) aggregate that needs that distribution to
    * stay exchange-free — a checkpoint frame's UnknownPartitioning would
    * re-shuffle 2|E| rows per round (measured ~30% slower). Per round
    * the node-cardinality label table broadcast-attaches to the edge
    * list (under the [[RankBroadcastMaxNodes]] budget).
    *
    * Up to 4 rounds the result is the LAZY chain: each round references
    * the previous labels exactly ONCE (the tally join), so plan depth is
    * linear in `iters`, every round's tally re-reads the table scan
    * (still riding its distribution), and the single downstream action
    * drives all rounds. RETURN CONTRACT for that branch: consume it with
    * ONE downstream action, BEFORE any sweep/artifact clear (a second
    * action re-runs all rounds). Past 4 rounds the edge list is
    * persisted (the columnar persist keeps the scan's partitioning where
    * a checkpoint does not) and each round's labels are checkpointed, so
    * lineage stays flat; dead rounds are released and the final labels
    * are materialized rows. */
  def labelPropagationPrepared(symEdges: DataFrame, src: String,
                               dst: String, weight: String,
                               nodes: DataFrame, nNodes: Long,
                               iters: Int = 3): DataFrame = {
    val checkpointRounds = iters > 4
    val sym0 = symEdges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"),
        col(weight).cast("long").as("w"))
    val sym =
      if (checkpointRounds) sym0.persist(StorageLevel.MEMORY_AND_DISK)
      else sym0
    val bcast: DataFrame => DataFrame =
      if (nNodes <= RankBroadcastMaxNodes) broadcast(_) else identity
    var labels = nodes.select(col("node"), col("node").as("lbl"))
    val stale = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to iters) {
      // Neighbor-label tally for node u = labels of its peers v weighted
      // by w; (node, lbl) partials combine map-side before the shuffle.
      val tally = sym.join(bcast(labels), sym("v") === labels("node"))
        .select(sym("u").as("node"), col("lbl"), col("w"))
        .groupBy(col("node"), col("lbl")).agg(sum(col("w")).as("s"))
      // max weight, tie → min label: lexicographic max of (s, −lbl).
      // Labels are node ids (≥ 0 by the graph builders' contract), so
      // the negation cannot overflow.
      val next = tally.groupBy(col("node"))
        .agg(max(struct(col("s"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
      labels =
        if (checkpointRounds) {
          val c = next.localCheckpoint(true)
          stale += c
          c
        } else next
    }
    stale.dropRight(1).foreach(releaseCheckpoint)
    if (checkpointRounds) sym.unpersist(blocking = false)
    labels
  }

  /** Degree assortativity — the Pearson correlation of endpoint degrees
    * over the (symmetrized) edge list: do heavy nodes attach to heavy
    * nodes (r > 0, social-graph shape) or to leaves (r < 0, hub-spoke
    * shape)? The one-number structural summary that decides whether
    * hub-aware strategies (salting, k-core, degree-ordered enumeration)
    * will matter on a given graph.
    *
    * On the symmetric list the x and y marginals coincide, so r reduces
    * to (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²) — exact decimal(38,0) integer
    * sufficient statistics (the correlation/standardize discipline), ONE
    * double division. `mean_degree` is the EDGE-END mean (the
    * degree-biased Σd²/Σd marginal the correlation is taken over), not
    * the node mean. A regular graph's coefficient reads null.
    *
    * Inputs: `canonEdges` an ALREADY-CANONICAL (u < v, distinct) edge
    * list and `deg` its (node, d) degree table (the session degree
    * artifact, already materialized) — the edge frame is read once (the
    * two endpoint-degree attach joins) and no per-query persist is
    * paid. Returns one materialized (n_nodes, n_edges, mean_degree,
    * assortativity) row. */
  def degreeAssortativityCanon(canonEdges: DataFrame,
                               deg: DataFrame): DataFrame = {
    val ends = canonEdges
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val sym = ends.select(col("du").as("x"), col("dv").as("y"))
      .union(ends.select(col("dv").as("x"), col("du").as("y")))
    val D38 = "decimal(38,0)"
    val stats = sym.agg(count(lit(1)).cast(D38).as("__n"),
      sum(col("x").cast(D38)).as("__sx"),
      sum((col("x").cast(D38)) * (col("y").cast(D38))).as("__sxy"),
      sum((col("x").cast(D38)) * (col("x").cast(D38))).as("__sxx"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    // A regular graph (all degrees equal) zeroes the variance term
    // exactly in the decimal integers — 0/0 is engine-divergent, so the
    // degenerate mixing coefficient reads null on both sides.
    val denom = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    stats.crossJoin(nNodes)
      .select(col("n_nodes"),
        expr("CAST(__n AS BIGINT) div 2").as("n_edges"),
        (col("__sx").cast("double") / col("__n").cast("double"))
          .as("mean_degree"),
        when(denom =!= lit(0),
          (col("__n") * col("__sxy") - col("__sx") * col("__sx"))
            .cast("double") / denom.cast("double")).as("assortativity"))
      .localCheckpoint(true)
  }
}
