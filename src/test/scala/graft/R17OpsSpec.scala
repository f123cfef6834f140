package graft

import org.apache.spark.sql.functions._
import graft.ops.Traverse

/** Round-17 contracts: the gated containment sizes broadcast (VERDICT
  * r16 #1 — both paths pinned: in-bound hint broadcasts, forced-low bound
  * drops the hint with identical values), GRAFT_BCAST_LIMIT fail-fast
  * validation (ADVICE r16 #3), and the Bench warm-failure path (VERDICT
  * r16 #3 — failed steps surface by name, never as a summable sentinel).
  */
class R17OpsSpec extends SparkSpec {
  import spark.implicits._

  private def mkDocs = {
    // same fixture class as R16OpsSpec's plan test: enough shared 20-char
    // shingles that the containment output is non-empty
    val prefix = ('a' to 'z').mkString * 4
    val big = prefix + ("0123456789" * 30)
    val mid = ("qrstuvwxyz" * 12) + prefix.take(100)
    Seq((0L, prefix), (1L, big), (2L, mid), (3L, "zyxw" * 30))
      .toDF("doc_id", "text")
  }

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p.collect { case n => n }.flatMap {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a +: flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: flatten(q.plan)
      case n => Seq(n)
    }

  test("containment past the broadcast bound: hint dropped, values identical") {
    val docs = mkDocs
    val expect = graft.ops.llm.Dedup.containment(docs)
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(expect.nonEmpty)
    // force the fallback: a zero doc bound drops the hint; disabling the
    // static AND adaptive auto-broadcast thresholds keeps AQE from
    // re-promoting the tiny test-scale sizes stage, so the executed plan
    // is the one a 10^10-doc corpus would get — no broadcast of sizes
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val out = graft.ops.llm.Dedup.containment(docs, broadcastDocLimit = 0L)
      val got = out.as[(Long, Long, Long, Double, Double)].collect().toSet
      assert(got == expect)
      val nodes = flatten(out.queryExecution.executedPlan)
      assert(!nodes.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
        s"sizes join still broadcast past the bound:\n${out.queryExecution.executedPlan}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("containment unknown-count path: the exact count keeps the hint") {
    // the sf30-tier regression shape (BENCHNOTES r17), re-pinned for gate
    // v3 (no byte proxy — ADVICE r17): with no caller-threaded count and
    // no optimizer rowCount, one exact docs.count() must decide, and a
    // real count at the bound keeps the broadcast
    val docs = mkDocs
    val out = graft.ops.llm.Dedup.containment(docs, broadcastDocLimit = 4L)
    out.collect()
    assert(flatten(out.queryExecution.executedPlan).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"exact-count gate did not keep the hint at the bound:\n" +
        out.queryExecution.executedPlan)
  }

  test("containment in-bound: the sizes hint broadcasts (default-path guard)") {
    // the gate must not break the r16 plan shape at probe scale: a tiny
    // doc table (bytes/8 well under any session bound) keeps the hint
    val out = graft.ops.llm.Dedup.containment(mkDocs)
    out.collect()
    assert(flatten(out.queryExecution.executedPlan).exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]))
  }

  test("GRAFT_BCAST_LIMIT validation fails fast with a named message") {
    val e = intercept[IllegalArgumentException](Traverse.parseBcastLimit("25M"))
    assert(e.getMessage.contains("GRAFT_BCAST_LIMIT"))
    val z = intercept[IllegalArgumentException](Traverse.parseBcastLimit("0"))
    assert(z.getMessage.contains("GRAFT_BCAST_LIMIT"))
    assert(Traverse.parseBcastLimit(" 1000000 ") == 1000000L)
  }

  test("kHopIdsAdj chunked big-frontier fallback is exact (parity with Bloom)") {
    // mirror of R15OpsSpec's Bloom-path test: broadcastLimit=1 forces the
    // over-limit branch on every hop; the chunked strategy slices the
    // frontier by bucket group and must visit exactly the same ids
    import graft.model.DerivedGraph
    val edges = Seq((1L, 2L, "e"), (1L, 3L, "e"), (2L, 4L, "e"),
      (3L, 5L, "e"), (4L, 6L, "e"), (7L, 8L, "e")).toDF("src", "dst", "label")
    val und = DerivedGraph.undirected(edges)
      .withColumn("bk", pmod(col("a"), lit(4L)).cast("int"))
    val adj = DerivedGraph.Adj(und, und, 4)
    val ref = Traverse.kHopIds(edges, 1L, 3).as[Long].collect().toSet
    val got = Traverse.kHopIdsAdj(adj, 1L, 3, broadcastLimit = 1L)
      .as[Long].collect().toSet
    assert(got == ref && ref == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("adamic-adar weight table: exact fixed-point of 1e9/ln(df), decreasing") {
    val w = QueriesGraph.aaWeights
    assert(w.length == QueriesGraph.CommonNeighborMaxDf - 1)
    assert(w.head == math.round(1e9 / math.log(2.0)))
    assert(w.last == math.round(1e9 / math.log(QueriesGraph.CommonNeighborMaxDf.toDouble)))
    // strictly decreasing across the whole capped-degree domain — a
    // regression here (overflow, off-by-one indexing) would silently
    // reweight the oracle-matched sums
    assert(w.sliding(2).forall { case Seq(x, y) => x > y })
    assert(w.forall(x => x > 0L && x <= math.round(1e9 / math.log(2.0))))
  }

  test("graph_adamic_adar runs on the sf0.001 fixture with ranked output") {
    val sf001 = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001)),
      "testdata sf0.001 not present")
    val rows = Queries.all("graph_adamic_adar").fn(spark, sf001)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // ranked by the exact integer units, display double consistent
    assert(rows.map(_._3).toSeq.sliding(2).forall { case Seq(x, y) => x >= y })
    assert(rows.forall { case (_, _, u, aa) =>
      math.abs(aa - math.rint(u / 1e9 * 1e6) / 1e6) < 1e-9 })
  }

  test("Bench warm failure surfaces by name and never enters cache_builds") {
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    Bench.warmStepInto(builds, failed, "ok")(())
    Bench.warmStepInto(builds, failed, "boom")(sys.error("synthetic"))
    assert(failed == Seq("boom"))
    assert(builds.keySet == Set("ok"))
    // the map stays summable: no -1.0 sentinel subtracting fake credit
    assert(builds.values.forall(_ >= 0.0))
    // a fatal error is not swallowed: it ends the run
    intercept[OutOfMemoryError](
      Bench.warmStepInto(builds, failed, "oom")(throw new OutOfMemoryError("synthetic")))
    assert(failed == Seq("boom"))
  }
}
