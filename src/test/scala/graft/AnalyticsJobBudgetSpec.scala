package graft

import org.apache.spark.sql.functions._
import graft.model.DerivedGraph
import graft.ops.GraphAnalytics

/** Spark jobs per call of the iteration family, pinned: a change that
  * adds a count, a materialization or a scalar fetch to a round fails
  * here instead of in a benchmark run. On the block superstep kernel a
  * DataFrame entry point pays an edge count for its call's topology, one
  * job for |V| and the frame bounds where it reads them, and, where its
  * rounds run unchecked, one job that runs them while the topology is
  * held; a query over the session's held views pays none of these. Then
  * come one job per convergence check and the collect, which runs every
  * other round (the renormalizing totals included) and the sort of a
  * frame sorted on a vertex id. Each call runs on the sf0.001 derived
  * graph with its
  * inventory query's arguments (dedup_clusters on sf0.01), and the result
  * is collected, so the count covers the whole call. Pins only go down.
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
      "modularity" -> jobs(GraphAnalytics.modularityDF(
        g.vertices.filter(col("label") =!= "part").select("id"), member, 5).collect()),
      "stress" -> jobs(GraphAnalytics.stressCentralityDF(und, QueriesGraphX.spLandmarks, 10)
        .collect()))
    // edge count, |V| and bounds, the rounds, collect; PPR counts its
    // seeds instead and runs its rounds in the collect, and stress needs
    // no |V|
    assert(got == Map("pagerank" -> 4, "ppr" -> 4, "eigenvector" -> 4, "hits" -> 4,
      "lpa" -> 4, "modularity" -> 4, "stress" -> 2))
  }

  test("a DataFrame entry point's frame reads no round after the call") {
    assume(haveSf001, "testdata sf0.001 not present")
    DerivedGraph.warm(spark, sf001)
    val g = DerivedGraph(spark, sf001)
    val und = DerivedGraph.undirected(g.edges)
    val members = g.vertices.filter(col("label") =!= "part").select("id")
    val member = DerivedGraph.memberEdges(g)
    val frames = Map(
      "pagerank" -> GraphAnalytics.pageRankDF(g.vertices, g.edges, 10),
      "eigenvector" -> GraphAnalytics.eigenvectorDF(g.vertices,
        und.select(col("a").as("src"), col("b").as("dst")), 8),
      "hits" -> GraphAnalytics.hitsDF(g.vertices, g.edges.select("src", "dst"), 4),
      "lpa" -> GraphAnalytics.lpaDF(members, DerivedGraph.undirected(member), 5),
      "modularity" -> GraphAnalytics.modularityDF(members, member, 5))
    // the call ran the rounds while its topology was held and released
    // it; a read reduces the last shuffle in one stage and rebuilds no
    // topology
    val stages = frames.map { case (n, df) => n -> JobCounter.stages(spark.sparkContext)(
      df.collect())._2 }
    assert(stages == frames.map { case (n, _) => n -> 1 })
  }

  test("connected components job budget") {
    assume(haveSf001, "testdata sf0.001 not present")
    DerivedGraph.warm(spark, sf001)
    val g = DerivedGraph(spark, sf001)
    val und = DerivedGraph.undirected(g.edges)
    assert(jobs(GraphAnalytics.connectedComponents(g.vertices, und).collect()) == 4)
  }

  test("k-core job budget") {
    assume(haveSf001, "testdata sf0.001 not present")
    DerivedGraph.warm(spark, sf001)
    val edges = DerivedGraph(spark, sf001).edges.select("src", "dst")
    // edge count, one convergence check, the frame bounds, collect
    assert(jobs(GraphAnalytics.kCoreDF(edges, 8, QueriesGraphX.KcoreRounds).collect()) == 4)
  }

  test("one warm dedup_clusters call's job budget") {
    val sf01 = "/root/testdata/sf0.01"
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf01)),
      "testdata sf0.01 not present")
    val q = Queries.all("dedup_clusters").fn
    q(spark, sf01).collect()
    assert(jobs(q(spark, sf01).collect()) == 10)
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
    // a kernel frame sorted on a vertex id sorts in its collect; graph_cc's
    // sort of an aggregate costs three jobs (range sample, shuffle, collect)
    assert(got == Map("graph_pagerank" -> 1, "graph_ppr" -> 2, "graph_eigenvector" -> 1,
      "graph_hits" -> 1, "graph_lpa" -> 1, "graph_modularity" -> 1, "graph_stress" -> 1,
      "graph_cc" -> 6, "graph_kcore" -> 2, "graph_triangles" -> 2))
  }

  test("shared landmark frame build job budget") {
    assume(haveSf001, "testdata sf0.001 not present")
    // a fresh session holds no landmark levels; the derived graph is warmed
    // outside the count, then the levels are built under an empty cache
    // root: the undirected view's edge count and one job that builds it
    // and every level, with no cache entry written
    val s = spark.newSession()
    DerivedGraph.warm(s, sf001)
    val saved = System.getProperty("java.io.tmpdir")
    val root = java.nio.file.Files.createTempDirectory("graft-landmarks")
    System.setProperty("java.io.tmpdir", root.toString)
    val built = try jobs(QueriesGraphX.warmSharedBfs(s, sf001))
    finally System.setProperty("java.io.tmpdir", saved)
    assert(built == 2)
    val left = java.nio.file.Files.list(root)
    try assert(left.count() == 0, s"warmSharedBfs wrote under the cache root $root")
    finally left.close()
  }
}
