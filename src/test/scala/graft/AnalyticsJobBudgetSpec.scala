package graft

import org.apache.spark.sql.functions._
import graft.model.DerivedGraph
import graft.ops.GraphAnalytics

/** Spark jobs per call of the iteration family, pinned: a change that
  * adds a count, a materialization or a scalar fetch to a round fails
  * here instead of in a benchmark run. On the block superstep kernel a
  * DataFrame entry point pays an edge count and the static-block build
  * of its call's topology; a query over the session's held views pays
  * neither. Then come one job per renormalized round or convergence check
  * (or one for all rounds) and the collect. Each call runs on the sf0.001
  * derived graph with its inventory query's arguments, and the result is
  * collected, so the count covers the whole call. Pins only go down.
  */
class AnalyticsJobBudgetSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"
  private def haveSf001 = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001))

  private def jobs(body: => Any): Int = JobCounter(spark.sparkContext)(body)._2

  test("pagerank, ppr, eigenvector, hits, lpa and stress job budgets") {
    assume(haveSf001, "testdata sf0.001 not present")
    DerivedGraph.warm(spark, sf001)
    val g = DerivedGraph(spark, sf001)
    val und = DerivedGraph.undirected(g.edges)
    val member = g.edges.filter(col("label").isin("in_nation", "in_region"))
      .select("src", "dst")
    // the inventory query reads the member view from a cached parquet
    // entry; a checkpoint stands in for it, outside the counted calls
    val memberUnd = DerivedGraph.undirected(member).localCheckpoint()

    val got = Map(
      "pagerank" -> jobs(GraphAnalytics.pageRankDF(g.vertices, g.edges, 10).collect()),
      "ppr" -> jobs(GraphAnalytics.personalizedPageRankDF(g.vertices, g.edges,
        col("label") === "nation", 10).collect()),
      "eigenvector" -> jobs(GraphAnalytics.eigenvectorDF(g.vertices,
        und.select(col("a").as("src"), col("b").as("dst")), 8).collect()),
      "hits" -> jobs(GraphAnalytics.hitsDF(g.vertices, g.edges.select("src", "dst"), 4)
        .collect()),
      "lpa" -> jobs(GraphAnalytics.lpaDF(
        g.vertices.filter(col("label") =!= "part").select("id"), memberUnd, 5).collect()),
      "stress" -> jobs(GraphAnalytics.stressCentralityDF(und, QueriesGraphX.spLandmarks, 10)
        .collect()))
    assert(got == Map("pagerank" -> 4, "ppr" -> 4, "eigenvector" -> 11, "hits" -> 11,
      "lpa" -> 4, "stress" -> 3))
  }

  test("connected components job budget") {
    assume(haveSf001, "testdata sf0.001 not present")
    DerivedGraph.warm(spark, sf001)
    val g = DerivedGraph(spark, sf001)
    val und = DerivedGraph.undirected(g.edges)
    assert(jobs(GraphAnalytics.connectedComponents(g.vertices, und).collect()) == 5)
  }

  test("k-core job budget") {
    assume(haveSf001, "testdata sf0.001 not present")
    DerivedGraph.warm(spark, sf001)
    val edges = DerivedGraph(spark, sf001).edges.select("src", "dst")
    // edge count, static build, one convergence check, collect
    assert(jobs(GraphAnalytics.kCoreDF(edges, 8, QueriesGraphX.KcoreRounds).collect()) == 4)
  }

  test("the ten analytics queries' job budgets on warm views") {
    assume(haveSf001, "testdata sf0.001 not present")
    // views built by warm and a first pass, outside the counted calls
    val s = spark.newSession()
    GraphAnalytics.warm(s, sf001)
    val names = Seq("graph_pagerank", "graph_ppr", "graph_eigenvector", "graph_hits",
      "graph_lpa", "graph_modularity", "graph_stress", "graph_cc", "graph_kcore",
      "graph_triangles")
    names.foreach(n => Queries.all(n).fn(s, sf001).collect())
    val got = names.map(n => n -> jobs(Queries.all(n).fn(s, sf001).collect())).toMap
    // a sorted result costs three jobs (range sample, shuffle, collect)
    assert(got == Map("graph_pagerank" -> 2, "graph_ppr" -> 2, "graph_eigenvector" -> 9,
      "graph_hits" -> 9, "graph_lpa" -> 4, "graph_modularity" -> 13, "graph_stress" -> 1,
      "graph_cc" -> 6, "graph_kcore" -> 4, "graph_triangles" -> 2))
  }

  test("shared landmark frame build job budget") {
    assume(haveSf001, "testdata sf0.001 not present")
    // a fresh session holds no landmark levels; the derived graph is warmed
    // outside the count, then the levels are built under an empty cache
    // root: the undirected view (edge count, build) and one job for every
    // level, with no cache entry written
    val s = spark.newSession()
    DerivedGraph.warm(s, sf001)
    val saved = System.getProperty("java.io.tmpdir")
    val root = java.nio.file.Files.createTempDirectory("graft-landmarks")
    System.setProperty("java.io.tmpdir", root.toString)
    val built = try jobs(QueriesGraphX.warmSharedBfs(s, sf001))
    finally System.setProperty("java.io.tmpdir", saved)
    assert(built == 3)
    val left = java.nio.file.Files.list(root)
    try assert(left.count() == 0, s"warmSharedBfs wrote under the cache root $root")
    finally left.close()
  }
}
