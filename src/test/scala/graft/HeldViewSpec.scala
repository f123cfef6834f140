package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.DerivedGraph
import graft.ops.GraphAnalytics

/** The derived-graph views a session holds ([[GraphAnalytics.undirectedView]]
  * and its siblings, and the landmark levels over the undirected one): a
  * kernel query reads the same rows whether its views were built by
  * [[GraphAnalytics.warm]], [[QueriesGraphX.warmSharedBfs]] and earlier
  * queries, by the query itself in a fresh session, or per call through
  * the public DataFrame entry points. A call leaves no per-call block
  * persisted and drops no held view; a new session builds its own views.
  */
class HeldViewSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"
  private def haveSf001 = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001))

  private val names = Seq("graph_bfs_dist", "graph_stress", "graph_cc", "graph_eigenvector",
    "graph_kcore", "graph_pagerank", "graph_ppr", "graph_hits", "graph_lpa", "graph_modularity")

  private def strings(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)

  /** The kernel's persisted blocks: unnamed, unlike DataFrame caches. */
  private def blocks(s: SparkSession): Set[Int] =
    s.sparkContext.getPersistentRDDs.collect { case (id, r) if r.name == null => id }.toSet

  /** `body`'s result and the block ids it left persisted beyond `before`,
    * failing if it dropped any.
    */
  private def call[T](s: SparkSession, what: String)(body: => T): (T, Set[Int]) = {
    val before = blocks(s)
    val out = body
    val after = blocks(s)
    assert(before.subsetOf(after), s"$what dropped held blocks ${before -- after}")
    (out, after -- before)
  }

  /** The block ids of each held view: one per topology, one per landmark level. */
  private def views(s: SparkSession): Seq[Set[Int]] = Seq(GraphAnalytics.undirectedView(s, sf001),
    GraphAnalytics.directedView(s, sf001), GraphAnalytics.reversedView(s, sf001),
    GraphAnalytics.memberView(s, sf001)).map(v => Set(v.rddId)) :+
    QueriesGraphX.landmarks(s, sf001).rddIds.toSet

  /** Each query's rows through the public DataFrame entry points. */
  private def viaDataFrames(s: SparkSession, name: String): Seq[String] = {
    val g = DerivedGraph(s, sf001)
    val und = DerivedGraph.undirected(g.edges)
    val members = g.vertices.filter(col("label") =!= "part").select("id")
    val memberUnd = DerivedGraph.undirected(DerivedGraph.memberEdges(g))
    name match {
      case "graph_bfs_dist" =>
        strings(GraphAnalytics.landmarkBfs(g.vertices, und, QueriesGraphX.spLandmarks, 10)
          .filter(col("landmark") === DerivedGraph.NationBase + 7).select("id", "dist")
          .orderBy("id"))
      case "graph_stress" =>
        strings(GraphAnalytics.stressCentralityDF(und, QueriesGraphX.spLandmarks, 10))
      case "graph_cc" => strings(GraphAnalytics.connectedComponents(g.vertices, und)
        .groupBy("component").agg(count(lit(1)).as("n_vertices"))
        .orderBy(col("n_vertices").desc, col("component")))
      case "graph_eigenvector" => strings(GraphAnalytics.eigenvectorDF(g.vertices,
          und.select(col("a").as("src"), col("b").as("dst")), 8)
        .select(col("id"), col("x").as("centrality"))
        .orderBy(col("centrality").desc, col("id")).limit(100))
      case "graph_kcore" => strings(GraphAnalytics.kCoreDF(g.edges.select("src", "dst"), 8,
        QueriesGraphX.KcoreRounds).orderBy("id"))
      case "graph_pagerank" => strings(GraphAnalytics.pageRankDF(g.vertices, g.edges, 10)
        .orderBy(col("rank").desc, col("id")).limit(100))
      case "graph_ppr" => strings(GraphAnalytics.personalizedPageRankDF(g.vertices, g.edges,
          col("label") === "nation", 10)
        .orderBy(col("rank").desc, col("id")).limit(100))
      case "graph_hits" => strings(GraphAnalytics.hitsDF(g.vertices,
          g.edges.select("src", "dst"), 4)
        .orderBy(col("auth").desc, col("id")).limit(100))
      case "graph_lpa" => strings(GraphAnalytics.lpaDF(members, memberUnd, 5).orderBy("id"))
      case "graph_modularity" => strings(QueriesGraphX.modularity(
        DerivedGraph.memberEdges(g), GraphAnalytics.lpaDF(members, memberUnd, 5)))
    }
  }

  test("kernel queries read the same rows from warm, fresh-session and per-call views") {
    assume(haveSf001, "testdata sf0.001 not present")
    def query(s: SparkSession, name: String) = strings(Queries.all(name).fn(s, sf001))

    // (a) views built by the warm hooks and by a first pass, then read by
    // a second; warmSharedBfs builds the landmark levels and nothing else,
    // all of them, so their consumers build nothing
    val s1 = spark.newSession()
    GraphAnalytics.warm(s1, sf001)
    val (_, levels) = call(s1, "warmSharedBfs")(QueriesGraphX.warmSharedBfs(s1, sf001))
    assert(levels.nonEmpty && levels == QueriesGraphX.landmarks(s1, sf001).rddIds.toSet)
    assert(s1.sparkContext.getRDDStorageInfo.filter(i => levels(i.id))
      .forall(i => i.numCachedPartitions == i.numPartitions), "levels left uncomputed")
    names.foreach { n =>
      val (_, built) = call(s1, n)(query(s1, n))
      if (n == "graph_bfs_dist" || n == "graph_stress")
        assert(built.isEmpty, s"$n after warmSharedBfs left blocks $built")
    }
    val warmViews = views(s1).flatten.toSet
    val warm = names.map { n =>
      val (rows, built) = call(s1, n)(query(s1, n))
      assert(built.isEmpty, s"$n in a warm session left blocks $built")
      n -> rows
    }.toMap

    // (b) a fresh session: each view is built by its first consumer
    val s2 = spark.newSession()
    val firstCalls = names.map(n => n -> call(s2, n)(query(s2, n)))
    val freshViews = views(s2).flatten.toSet
    assert(views(s2).size == 5 && freshViews.intersect(warmViews).isEmpty,
      "a new session must build its own views")
    val builtBy = firstCalls.map { case (n, (_, built)) => n -> built }
    builtBy.foreach { case (n, built) =>
      assert(built.subsetOf(freshViews), s"$n left per-call blocks ${built -- freshViews}")
    }
    assert(builtBy.flatMap(_._2).sorted == freshViews.toSeq.sorted,
      s"each view is built exactly once: $builtBy")
    // graph_bfs_dist, the first consumer of the landmark levels, builds them
    assert(QueriesGraphX.landmarks(s2, sf001).rddIds.toSet.subsetOf(builtBy.head._2))

    // (c) the public DataFrame entry points build and release their own
    names.foreach { n =>
      val (rows, built) = call(spark, n)(viaDataFrames(spark, n))
      assert(built.isEmpty, s"$n through the DataFrame entry points left blocks $built")
      assert(rows == warm(n), s"$n: DataFrame entry points differ from the held views")
      assert(firstCalls.toMap.apply(n)._1 == warm(n), s"$n: fresh session differs")
      assert(rows.nonEmpty, n)
    }
  }
}
