package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps => G}

/** The session graph artifacts the co-purchase graph family is served
  * from, derived from a small weighted edge list the way SparkEntry's
  * `symAdjFrame`, `orientedEdgesFrame` and `orientedAdjFrame` build them.
  * `canon` is the canonical edge list every frame derives from: (a < b,
  * w), self-loops dropped, one row per undirected pair. */
final class GraphFixture private (val canon: Seq[(Long, Long, Long)]) {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Symmetric (node, peer, w) edges: both directions of each pair. */
  val sym: DataFrame =
    (canon ++ canon.map(e => (e._2, e._1, e._3))).toDF("node", "peer", "w")
  val deg: DataFrame = sym.groupBy(col("node"))
    .agg(count(lit(1)).as("deg")).localCheckpoint(true)
  /** One row per node, `nbrs: array<struct<p, w, pdeg>>`. */
  val adj: DataFrame = sym
    .join(deg.select(col("node").as("peer"), col("deg").as("pdeg")), "peer")
    .groupBy(col("node"))
    .agg(collect_list(struct(col("peer").as("p"), col("w").as("w"),
      col("pdeg"))).as("nbrs"))
    .localCheckpoint(true)
  val nodes: DataFrame = deg.select(col("node"))
  val nNodes: Long = deg.count()
  val nEdges: Long = canon.size.toLong
  /** Canonical (u < v) edges, the filter SparkEntry applies to the
    * symmetric frame. */
  val canonEdges: DataFrame = sym.filter(col("node") < col("peer"))
    .select(col("node").as("u"), col("peer").as("v"))
  val oriented: DataFrame =
    G.orientByDegree(canonEdges, deg, nNodes).localCheckpoint(true)
  val orientedAdj: DataFrame =
    G.adjacencyFromOriented(oriented).localCheckpoint(true)

  /** The degree table as the rank cores read it. */
  def outdeg: DataFrame = deg.select(col("node"), col("deg").as("outdeg"))

  /** Brute-force local clustering census: per node its degree and the
    * number of adjacent neighbor pairs, folded to bucket → (n_nodes,
    * sum_deg, sum_tri) with the census's integer buckets. */
  def censusReference: Map[Int, (Long, Long, Long)] = {
    val und = canon.map(e => (e._1, e._2)).toSet
    val nbrs = (und.toSeq ++ und.toSeq.map(_.swap)).groupMap(_._1)(_._2)
    nbrs.toSeq.map { case (_, ns) =>
      val d = ns.size.toLong
      val t = ns.combinations(2).count {
        case Seq(x, y) => und.contains((x min y, x max y))
        case _ => false
      }.toLong
      val bucket = if (d < 2) -1 else ((t * 2 * 10) / (d * (d - 1))).toInt
      (bucket, d, t)
    }.groupBy(_._1).map { case (b, rs) =>
      b -> (rs.size.toLong, rs.map(_._2).sum, rs.map(_._3).sum)
    }
  }
}

object GraphFixture {
  /** Unit-weight graph from raw pairs (duplicates, reversals and
    * self-loops allowed). */
  def apply(pairs: Seq[(Long, Long)]): GraphFixture =
    weighted(pairs.map { case (a, b) => (a, b, 1L) })

  /** Weighted graph from raw (a, b, w) edges; a repeated pair keeps its
    * first weight. */
  def weighted(edges: Seq[(Long, Long, Long)]): GraphFixture =
    new GraphFixture(edges.filter(e => e._1 != e._2)
      .map { case (a, b, w) => (a min b, a max b, w) }
      .distinctBy(e => (e._1, e._2)))
}
