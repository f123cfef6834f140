package graft

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.reflect.ClassTag

/** GraphX reference implementations the engine's graph operators are
  * checked against: BFS as an explicit Pregel program, static PageRank,
  * label propagation, triangle count and connected components.
  */
object GraphXRef {

  /** The graph of a vertex-id frame and a (src, dst) edge frame; an edge
    * endpoint missing from `vertices` joins the graph too.
    */
  def graph(vertices: DataFrame, edges: DataFrame): Graph[Int, Int] =
    Graph(vertices.select("id").rdd.map(r => (r.getLong(0), 0)), edgeRdd(edges), 0)

  private def edgeRdd(edges: DataFrame) =
    edges.select("src", "dst").rdd.map(r => Edge(r.getLong(0), r.getLong(1), 0))

  private def fromEdges(edges: DataFrame): Graph[Int, Int] = Graph.fromEdges(edgeRdd(edges), 0)

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
    bfsDistances(fromEdges(edges), seed, maxDepth)

  /** GraphX `staticPageRank` over the endpoints of a (src, dst) edge frame. */
  def pageRank(edges: DataFrame, numIter: Int = 10): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    fromEdges(edges).staticPageRank(numIter).vertices.toDF("id", "rank")
  }

  /** GraphX label propagation; its tie-break follows hash-map iteration
    * order, so only the induced partition is comparable.
    */
  def labelPropagation(edges: DataFrame, numIter: Int): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    org.apache.spark.graphx.lib.LabelPropagation.run(fromEdges(edges), numIter)
      .vertices.toDF("id", "community")
  }

  /** Triangles of canonical (src < dst) distinct edges: GraphX counts
    * each triangle once per corner.
    */
  def triangleCount(canonicalEdges: DataFrame): Long =
    fromEdges(canonicalEdges).triangleCount().vertices.map(_._2.toLong).fold(0L)(_ + _) / 3

  /** GraphX connected components of the subgraph `vertices` induce: every
    * vertex labelled with its component's minimum id, an edge with an
    * endpoint outside `vertices` dropped.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val ids = vertices.select("id")
    val inner = edges.join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
    graph(vertices, inner).connectedComponents().vertices.toDF("id", "component")
  }
}
