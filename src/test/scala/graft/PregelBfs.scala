package graft

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.reflect.ClassTag

/** Single-source BFS as an explicit GraphX Pregel program: the reference
  * the landmark BFS on the block kernel and the k-hop frontier joins are
  * checked against.
  */
object PregelBfs {

  /** Unweighted undirected BFS distances from `seed`. Each superstep
    * relaxes dist(v) = min(dist(v), dist(u)+1); the stored graph stays
    * directed (one copy) and each triplet relaxes BOTH directions, matching
    * the reference's undirected `$or` traversal (mongraph.py:236-241).
    * Messages stop once no distance improves; unreachable vertices are
    * omitted. `maxDepth` bounds the superstep count exactly like the
    * reference's depth parameter.
    */
  def bfsDistances[VD: ClassTag, ED: ClassTag](g: Graph[VD, ED], seed: Long,
      maxDepth: Int): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val init = g.mapVertices((id, _) => if (id == seed) 0 else Int.MaxValue)
    val res = init.pregel(Int.MaxValue, maxIterations = maxDepth)(
      (_, dist, msg) => math.min(dist, msg),
      t => {
        val toDst = t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr
        val toSrc = t.dstAttr != Int.MaxValue && t.dstAttr + 1 < t.srcAttr
        if (toDst && toSrc) Iterator((t.dstId, t.srcAttr + 1), (t.srcId, t.dstAttr + 1))
        else if (toDst) Iterator((t.dstId, t.srcAttr + 1))
        else if (toSrc) Iterator((t.srcId, t.dstAttr + 1))
        else Iterator.empty
      },
      (a, b) => math.min(a, b))
    res.vertices.filter(_._2 != Int.MaxValue)
      .map { case (id, d) => (id, d.toLong) }.toDF("id", "dist")
  }

  /** [[bfsDistances]] over a (src, dst) edge frame. */
  def bfsDistances(edges: DataFrame, seed: Long, maxDepth: Int = 10): DataFrame =
    bfsDistances(Graph.fromEdges(edges.select("src", "dst").rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1)), 0), seed, maxDepth)
}
