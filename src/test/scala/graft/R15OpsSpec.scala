package graft

import org.apache.spark.sql.functions._
import graft.ops.llm.Shuffle
import graft.model.DerivedGraph

/** Round-15 hardening contracts: the Shuffle two-level rank helpers raise
  * on NULL keys (the silent-drop class ADVICE r13 #4 closed in Windows,
  * extended here per ADVICE r14), and the DerivedGraph storage-policy
  * decision function (VERDICT r14 #4) picks the persist level a cluster
  * operator would.
  */
class R15OpsSpec extends SparkSpec {
  import spark.implicits._

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))

  test("stratifiedRowNumber raises on a NULL key instead of silently dropping the row") {
    val df = Seq((Some(1L), "en"), (None, "en"), (Some(3L), "fr"))
      .toDF("doc_id", "lang")
    val ex = intercept[Exception] {
      Shuffle.stratifiedRowNumber(df, "lang", "doc_id").collect()
    }
    assert(msgs(ex).exists(_.contains("NULL key")),
      s"expected the precondition message, got: ${ex.getMessage}")
  }

  test("globalRowNumber raises on a NULL key instead of silently dropping the row") {
    val df = Seq((Some(1L), 1L), (None, 2L), (Some(3L), 3L))
      .toDF("k", "id")
    val ex = intercept[Exception] {
      Shuffle.globalRowNumber(df, "k", "id", keyBound = 100L).collect()
    }
    assert(msgs(ex).exists(_.contains("NULL key")),
      s"expected the precondition message, got: ${ex.getMessage}")
  }

  test("stratifiedRowNumber values are unchanged by the guard (non-null keys)") {
    val df = (0 until 60).map(i => (i.toLong * 7, s"s${i % 3}")).toDF("doc_id", "lang")
    val ref = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("doc_id"))
        .cast("long"))
      .select("lang", "doc_id", "rn").as[(String, Long, Long)].collect().toSet
    val got = Shuffle.stratifiedRowNumber(df, "lang", "doc_id", buckets = 4)
      .select("lang", "doc_id", "rn").as[(String, Long, Long)].collect().toSet
    assert(got == ref)
  }

  test("storage policy: small graph persists deserialized (today's sf0.001-sf10 behavior)") {
    val gb = 1L << 30
    // sf0.1-shaped: ~3 MB fact parquet, 2.4 GB storage share, plenty of disk
    assert(DerivedGraph.choosePolicy(3L << 20, (2.4 * gb).toLong, 45 * gb) == "default")
    // sf10-shaped under a probe heap: ~1.5 GB parquet, 30 GB storage share
    assert(DerivedGraph.choosePolicy(3L * gb / 2, 30 * gb, 45 * gb) == "default")
  }

  test("storage policy: fits disk but not memory -> DISK_ONLY; fits neither -> none") {
    val gb = 1L << 30
    // 4 GB parquet -> ~12 GB cached; 2.4 GB storage share; 100 GB free disk
    assert(DerivedGraph.choosePolicy(4 * gb, (2.4 * gb).toLong, 100 * gb) == "disk")
    // the r14 sf100 incident shape: 14 GB parquet -> ~42 GB cached, which
    // overflows a 2.4 GB share and needs ~84 GB of headroom on a 45 GB-free
    // disk -> none (the session formerly died mid-persist-fill here)
    assert(DerivedGraph.choosePolicy(14 * gb, (2.4 * gb).toLong, 45 * gb) == "none")
    assert(DerivedGraph.choosePolicy(14 * gb, 30 * gb, 45 * gb) == "none")
  }

  // ---- VERDICT r14 #1: adjacency-backed k-hop (partition-pruned hops +
  // ---- Bloom-pre-filtered big-frontier joins) is row-identical to the
  // ---- live-edge form

  private val sf001 = "/root/testdata/sf0.001"
  private def haveSf001 = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001))

  test("kHopIdsAdj parity with kHopIds on the derived graph (depth 2 and 4)") {
    assume(haveSf001, "testdata sf0.001 not present")
    val g = DerivedGraph(spark, sf001)
    val adj = DerivedGraph.undAdjacency(spark, sf001)
    for ((seed, depth) <- Seq((QueriesGraph.custSeed, 2), (QueriesGraph.regionSeed, 4))) {
      val live = graft.ops.Traverse.kHopIds(g.edges, seed, depth)
        .as[Long].collect().toSet
      val viaAdj = graft.ops.Traverse.kHopIdsAdj(adj, seed, depth)
        .as[Long].collect().toSet
      assert(viaAdj == live, s"seed=$seed depth=$depth")
    }
  }

  test("kHopIdsAdj big-frontier Bloom path (broadcastLimit=1) is exact") {
    // synthetic adjacency frame with the Adj shape: every hop past the
    // seed exceeds broadcastLimit=1. The bucketed adjacency takes the
    // chunked slices; the unbucketed one the Bloom+shuffle-join path
    val edges = Seq((1L, 2L, "e"), (1L, 3L, "e"), (2L, 4L, "e"),
      (3L, 5L, "e"), (4L, 6L, "e"), (7L, 8L, "e")).toDF("src", "dst", "label")
    val und = DerivedGraph.undirected(edges)
      .withColumn("bk", pmod(col("a"), lit(4L)).cast("int"))
    val adj = DerivedGraph.Adj(und, und, 4)
    val ref = graft.ops.Traverse.kHopIds(edges, 1L, 3).as[Long].collect().toSet
    val got = graft.ops.Traverse.kHopIdsAdj(adj, 1L, 3, broadcastLimit = 1L)
      .as[Long].collect().toSet
    assert(got == ref && ref == Set(1L, 2L, 3L, 4L, 5L, 6L))
    val bloom = graft.ops.Traverse.kHopCore(DerivedGraph.undirected(edges), None,
      1L, 3, broadcastLimit = 1L).as[Long].collect().toSet
    assert(bloom == ref)
  }

  test("bucketedDegrees: no exchange in the count plan; degrees match the endpoint union") {
    assume(haveSf001, "testdata sf0.001 not present")
    val deg = graft.ops.GraphAnalytics.bucketedDegrees(spark, sf001)
    val plan = deg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed degree count still exchanges:\n$plan")
    val edges = DerivedGraph(spark, sf001).edges.select("src", "dst")
    val ref = edges.select(col("src").as("a")).unionAll(edges.select(col("dst").as("a")))
      .groupBy("a").count().as[(Long, Long)].collect().toSet
    assert(deg.as[(Long, Long)].collect().toSet == ref && ref.nonEmpty)
  }

  test("byBucket hop reads bypass the persisted full view (pruning stays live)") {
    assume(haveSf001, "testdata sf0.001 not present")
    val adj = DerivedGraph.undAdjacency(spark, sf001)
    // policy at test heap is "default" → full is persisted. A bucket-pruned
    // read must NOT be substituted by the InMemoryRelation: persisting the
    // raw plan itself routed narrow hops through the whole 2|E| cache fill
    // (94 s of khop_2's sf10 cold) and killed partition pruning.
    val pruned = adj.byBucket.filter(col("bk") === 3)
    // behavioral pin (ADVICE r15 #3): assert on executedPlan NODE CLASSES,
    // not toString rendering — a Spark version renaming a node in the
    // string form can neither fail this spuriously nor let the 94 s
    // cache-fill regression back in silently.
    val prunedNodes = pruned.queryExecution.executedPlan.collect { case p => p }
    assert(!prunedNodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
      s"bucket-pruned read went through the cache:\n${pruned.queryExecution.executedPlan}")
    val prunedScans = prunedNodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(prunedScans.nonEmpty && prunedScans.forall(_.partitionFilters.nonEmpty),
      s"no partition filter pushed to the file scan:\n${pruned.queryExecution.executedPlan}")
    // rendering pin kept as a secondary signal (string drift alone now
    // fails loudly HERE while the class assertions above stay green)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bk"),
      s"no partition filter pushed:\n$plan")
    // while the full view IS served from the cache once filled
    val fullNodes = adj.full.queryExecution.executedPlan.collect { case p => p }
    assert(fullNodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
      || !fullNodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
      s"full view not cache-backed under default policy:\n${adj.full.queryExecution.executedPlan}")
  }

  test("walksAdj parity with walks on the derived graph (incl. forced pruned path)") {
    assume(haveSf001, "testdata sf0.001 not present")
    val g = DerivedGraph(spark, sf001)
    val adj = DerivedGraph.undAdjacency(spark, sf001)
    val seeds = (1L to 8L).map(DerivedGraph.CustomerBase + _).toDF("walk_id")
    val live = graft.ops.RandomWalks
      .walks(seeds, DerivedGraph.undirected(g.edges), steps = 4)
      .as[(Long, Long, Long)].collect().toSet
    val viaAdj = graft.ops.RandomWalks.walksAdj(seeds, adj, steps = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaAdj == live)
    // tiny synthetic adjacency where every step takes the pruned branch
    val edges = Seq((1L, 2L, "e"), (2L, 3L, "e"), (3L, 4L, "e"), (4L, 5L, "e"))
      .toDF("src", "dst", "label")
    val und = DerivedGraph.undirected(edges)
      .withColumn("bk", pmod(col("a"), lit(64L)).cast("int"))
    val tinyAdj = DerivedGraph.Adj(und.filter(col("bk") >= 0), und, 64)
    val s1 = Seq(1L).toDF("walk_id")
    val refT = graft.ops.RandomWalks.walks(s1, DerivedGraph.undirected(edges), 3)
      .as[(Long, Long, Long)].collect().toSet
    val gotT = graft.ops.RandomWalks.walksAdj(s1, tinyAdj, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotT == refT)
  }

  test("LongBloomMightContain: zero false negatives, codegen and interpreted agree") {
    val keys = spark.range(0, 1000).selectExpr("id * 7 as id")
    val bf = keys.stat.bloomFilter("id", 1000L, 0.03)
    val probeCol = org.apache.spark.sql.GraftShim.column(
      graft.functions.LongBloomMightContain(
        org.apache.spark.sql.GraftShim.expression(col("id")), bf))
    // all true members pass (no false negatives)
    val hits = keys.filter(probeCol).count()
    assert(hits == 1000L)
    // fp rate on non-members stays near the configured 3%
    val nonMembers = spark.range(0, 10000).selectExpr("id * 7 + 3 as id")
    val fp = nonMembers.filter(probeCol).count()
    assert(fp < 1000L, s"fp rate implausibly high: $fp/10000")
  }
}
