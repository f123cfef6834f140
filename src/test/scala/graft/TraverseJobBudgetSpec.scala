package graft

import graft.model.{DerivedGraph, PropertyGraph}
import graft.ops.Traverse

/** Spark jobs per traversal read, pinned: a plan change that adds a job
  * to a hop fails here instead of in a benchmark run. The reads are the
  * graph_oltp ones — depth-4 ego JSON, 2-hop plus its vertex rows, and
  * neighbours — on the sf0.001 derived graph (cache loaded, so the edge
  * count is free) and on a checkpointed ingested graph (one count job per
  * k-hop call bounds the hops; neighbours take the distinct frame).
  */
class TraverseJobBudgetSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.001"
  private def haveSf001 = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001))

  private def jobs(body: => Any): Int = JobCounter(spark.sparkContext)(body)._2

  private def assertBudgets(g: PropertyGraph, seed: Long, kHop2: => Array[_],
      ego: Int, khop: Int, neighbors: Int): Unit = {
    assert(jobs(g.buildGraphJson(seed, 4)) == ego, "depth-4 ego JSON")
    assert(jobs(kHop2) == khop, "2-hop with vertex rows")
    assert(jobs(g.neighbors(seed).collect()) == neighbors, "neighbors")
  }

  test("stored graph: ego 10 jobs, 2-hop 6, neighbors 2") {
    assume(haveSf001, "testdata sf0.001 not present")
    DerivedGraph.warm(spark, sf001)
    val d = DerivedGraph(spark, sf001)
    val adj = DerivedGraph.undAdjacency(spark, sf001)
    adj.full.count()
    val seed = QueriesGraph.custSeed
    // ego: 4 hops × (shuffle map + collect), then the vertex and the edge
    // collect; 2-hop: 2 hops × 2, then the broadcast of the held ids and
    // the vertex join; neighbors: the incident-edge collect and the
    // vertex probe
    assertBudgets(PropertyGraph(d.vertices, d.edges), seed,
      Traverse.kHopIdsAdj(adj, seed, 2).join(d.vertices, Seq("id")).collect(),
      ego = 10, khop = 6, neighbors = 2)
  }

  test("checkpointed live graph: ego 11 jobs, 2-hop 7 (one count each), neighbors 3") {
    val docs = (0 until 12).map { i =>
      s"""{"d$i.example": {
         |"dns-resolutions": [{"ipaddress": "10.0.0.${i % 4}", "date": "2016-01-01"}],
         |"observed-subdomains": [{"domain": "s${i % 3}.example"}]}}""".stripMargin
    }
    val t = graft.ingest.ThreatIntel.fromJson(spark, docs)
    val g = PropertyGraph(t.vertices.localCheckpoint(), t.edges.localCheckpoint())
    import spark.implicits._
    val seed = g.vertices.filter($"label" === "ip").select("id").as[Long].collect().min
    assertBudgets(g, seed, g.kHop(seed, 2).join(g.vertices, Seq("id")).collect(),
      ego = 11, khop = 7, neighbors = 3)
  }
}
