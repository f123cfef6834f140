package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{DerivedGraph, PropertyGraph}
import graft.ops.Traverse

/** The driver-held traversal path (frontier and visited set on the driver)
  * against the distributed path (a broadcast limit of 1: every hop
  * checkpoints, every frontier past the seed stays a DataFrame): the same
  * ids, the same ego document, on the derived graph, on an ingested
  * threat-intel graph and on the edge cases. The public operators run
  * under the default limit; the internals they call take the limit.
  */
class TraverseParitySpec extends SparkSpec {
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.001"
  private def haveSf001 = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001))

  private def ids(df: DataFrame): Set[Long] = df.as[Long].collect().toSet

  /** Every traversal operator from `seed`, under the default limit and
    * under `broadcastLimit = 1`, must agree. */
  private def assertParity(v: DataFrame, e: DataFrame, adj: DerivedGraph.Adj,
      seed: Long, depths: Seq[Int]): Unit = {
    assert(ids(Traverse.neighborIds(e, seed)) == ids(Traverse.neighbors(e, seed, 1L).toDF),
      s"neighborIds seed=$seed")
    for (k <- depths) {
      val held = ids(Traverse.kHopIds(e, seed, k))
      assert(held == ids(Traverse.visit(e, seed, k, 1L).toDF), s"kHopIds seed=$seed k=$k")
      assert(held == ids(Traverse.kHopIdsAdj(adj, seed, k)), s"kHopIdsAdj seed=$seed k=$k")
      assert(held == ids(Traverse.kHopIdsAdj(adj, seed, k, 1L)),
        s"kHopIdsAdj distributed seed=$seed k=$k")
      val (hv, he) = Traverse.egoSubgraph(v, e, seed, k)
      val (sv, se) = Traverse.ego(v, e, seed, k, 1L)
      assert(hv.collect().toSet == sv.collect().toSet, s"ego vertices seed=$seed k=$k")
      assert(he.collect().toSet == se.collect().toSet, s"ego edges seed=$seed k=$k")
      assert(Traverse.egoSubgraphJson(v, e, seed, k) ==
        Traverse.document(Traverse.ego(v, e, seed, k, 1L)), s"ego JSON seed=$seed k=$k")
    }
  }

  /** A `bk`-bucketed adjacency over in-memory edges (no parquet footers). */
  private def adjOf(e: DataFrame, buckets: Int = 4): DerivedGraph.Adj = {
    val und = DerivedGraph.undirected(e)
      .withColumn("bk", pmod(col("a"), lit(buckets.toLong)).cast("int"))
    DerivedGraph.Adj(und, und, buckets)
  }

  test("driver-held and distributed paths agree on the sf0.001 derived graph") {
    assume(haveSf001, "testdata sf0.001 not present")
    val g = DerivedGraph(spark, sf001)
    val adj = DerivedGraph.undAdjacency(spark, sf001)
    for (seed <- Seq(QueriesGraph.custSeed, QueriesGraph.regionSeed, QueriesGraph.nationSeed))
      assertParity(g.vertices, g.edges, adj, seed, Seq(1, 2, 4))
  }

  test("driver-held and distributed paths agree on an ingested threat-intel graph") {
    val docs = (0 until 24).map { i =>
      s"""{"d$i.example": {
         |"dns-resolutions": [{"ipaddress": "10.0.${i % 5}.${i % 3}", "date": "2016-01-01"}],
         |"observed-subdomains": [{"domain": "s${i % 4}.d${i % 7}.example"}],
         |"detected-downloaded": [{"hash": "h${i % 6}", "datetime": "2016-01-02 00:00:00",
         |  "prob": "2/4"}]}}""".stripMargin
    }
    val g = graft.ingest.ThreatIntel.fromJson(spark, docs)
    // checkpointed, as the streamed snapshot holds it (no free row count),
    // and a loaded cache (the edge count is free)
    val checkpointed = (g.vertices.localCheckpoint(), g.edges.localCheckpoint())
    val cached = (g.vertices.cache(), g.edges.cache())
    cached._1.count(); cached._2.count()
    for ((v, e) <- Seq(checkpointed, cached)) {
      val seeds = v.filter(col("label").isin("ip", "domain")).select("id").as[Long]
        .collect().sorted.take(3)
      for (seed <- seeds) assertParity(v, e, adjOf(e, 8), seed, Seq(1, 2, 4))
    }
  }

  test("edge cases: isolated seed, absent seed, depth 0, self-loop, dangling edge") {
    // 1—2—3, a self-loop on 2, an edge 3→99 to a vertex that does not
    // exist, and an isolated vertex 7
    val v = Seq((1L, "x", "A"), (2L, "x", "B"), (3L, "x", "C"), (7L, "x", "G"))
      .toDF("id", "label", "name")
    val e = Seq((1L, 2L, "e"), (2L, 3L, "e"), (2L, 2L, "loop"), (3L, 99L, "e"))
      .toDF("src", "dst", "label")
    val adj = adjOf(e)
    for (seed <- Seq(1L, 2L, 7L, 42L)) assertParity(v, e, adj, seed, Seq(0, 1, 2, 3))
    assert(ids(Traverse.kHopIds(e, 7L, 3)) == Set(7L)) // isolated: the seed alone
    assert(ids(Traverse.kHopIds(e, 42L, 3)) == Set(42L)) // absent: the seed alone
    assert(Traverse.neighborIds(e, 42L).isEmpty)
    assert(ids(Traverse.kHopIds(e, 1L, 0)) == Set(1L))
    assert(ids(Traverse.neighborIds(e, 2L)) == Set(1L, 2L, 3L))
    assert(ids(Traverse.kHopIds(e, 1L, 3)) == Set(1L, 2L, 3L, 99L))
    val (ev, ee) = Traverse.egoSubgraph(v, e, 1L, 3)
    assert(ids(ev.select("id")) == Set(1L, 2L, 3L)) // 99 has no vertex row
    assert(ee.count() == 4) // the dangling edge has both endpoints visited
  }

  test("neighbours are held on the driver only when the edge count is free") {
    val e = Seq((1L, 2L, "e"), (2L, 3L, "e")).toDF("src", "dst", "label")
    assert(Traverse.neighbors(e, 2L, Traverse.broadcastRowLimit).isInstanceOf[Traverse.Held])
    // no free count: the distinct frame, with no job to count the edges
    val checkpointed = e.localCheckpoint()
    val (spread, jobs) = JobCounter(spark.sparkContext)(
      Traverse.neighbors(checkpointed, 2L, Traverse.broadcastRowLimit))
    assert(spread.isInstanceOf[Traverse.Spread] && jobs == 0, s"$spread after $jobs jobs")
    assert(ids(spread.toDF) == Set(1L, 2L, 3L))
  }

  test("a hop whose bound is just above the limit takes the distributed path, same rows") {
    // path of 6 edges: the undirected view has 12 rows, the bound of
    // every hop of kHopIds
    val e = (1L to 6L).map(i => (i, i + 1, "e")).toDF("src", "dst", "label").cache()
    e.count()
    val ref = ids(Traverse.visit(e, 1L, 3, 1000L).toDF)
    val (atLimit, heldJobs) = JobCounter(spark.sparkContext)(
      ids(Traverse.visit(e, 1L, 3, 12L).toDF))
    val (aboveLimit, spreadJobs) = JobCounter(spark.sparkContext)(
      ids(Traverse.visit(e, 1L, 3, 11L).toDF))
    assert(atLimit == ref && aboveLimit == ref && ref == Set(1L, 2L, 3L, 4L))
    // the distributed hop adds its checkpoint, count and frontier collect
    assert(spreadJobs > heldJobs, s"held $heldJobs jobs, distributed $spreadJobs")
  }

  test("bucketed adjacency: footer row counts bound the hop once the total is over the limit") {
    assume(haveSf001, "testdata sf0.001 not present")
    val adj = DerivedGraph.undAdjacency(spark, sf001)
    val rows = adj.bucketRows.getOrElse(fail("no footer row counts for the adjacency parquet"))
    val total = adj.byBucket.count()
    assert(rows.sum == total)
    val seed = QueriesGraph.custSeed
    val seedBucketRows = rows(Math.floorMod(seed, adj.buckets.toLong).toInt)
    val ref = ids(Traverse.kHopIdsAdj(adj, seed, 2))
    // total over the limit, the seed's bucket within it: the first hop is
    // collected on the driver
    val (byFooter, footerJobs) = JobCounter(spark.sparkContext)(
      ids(Traverse.kHopIdsAdj(adj, seed, 1, broadcastLimit = total - 1)))
    // the seed's bucket just above the limit: distributed first hop
    val (spread, spreadJobs) = JobCounter(spark.sparkContext)(
      ids(Traverse.kHopIdsAdj(adj, seed, 1, broadcastLimit = seedBucketRows - 1)))
    assert(byFooter == spread && byFooter.subsetOf(ref))
    assert(spreadJobs > footerJobs, s"footer-bounded $footerJobs jobs, distributed $spreadJobs")
    assert(ids(Traverse.kHopIdsAdj(adj, seed, 2, broadcastLimit = total - 1)) == ref)
  }

  test("ego JSON orders parallel edges by their JSON, whatever the input order") {
    val v = Seq((1L, "x", "A"), (2L, "x", "B")).toDF("id", "label", "name")
    val rows = Seq((1L, 2L, "e", Map("w" -> "1")), (1L, 2L, "e", Map("w" -> "2")),
      (2L, 1L, "e", Map("w" -> "0")))
    val docs = for (order <- Seq(rows, rows.reverse); limit <- Seq(Traverse.broadcastRowLimit, 1L))
      yield Traverse.document(
        Traverse.ego(v, order.toDF("src", "dst", "label", "props"), 1L, 1, limit))
    assert(docs.distinct.size == 1, docs.mkString("\n"))
    assert(docs.head.contains(
      """{"src":1,"dst":2,"label":"e","props":{"w":"1"}},{"src":1,"dst":2,"label":"e","props":{"w":"2"}}"""))
  }

  test("PropertyGraph.neighbors keeps the join's rows and columns, id first") {
    val v = Seq((1L, "x", "A"), (2L, "x", "B"), (3L, "x", "C"))
      .toDF("id", "label", "name").select("label", "id", "name")
    val local = Seq((1L, 2L, "e"), (3L, 1L, "e")).toDF("src", "dst", "label")
    // a local relation's neighbours are held, a checkpoint's are not
    for (e <- Seq(local, local.localCheckpoint())) {
      val got = PropertyGraph(v, e).neighbors(1L)
      val ref = Traverse.neighbors(e, 1L, 1L).toDF.join(v, Seq("id"))
      assert(got.columns.toSeq == ref.columns.toSeq)
      assert(got.collect().toSet == ref.collect().toSet && got.count() == 3)
    }
  }
}
