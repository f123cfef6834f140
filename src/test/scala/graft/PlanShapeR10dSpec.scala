package graft

/** Plan-shape audit of the round-10c operators: the shuffle/broadcast
  * claims their scaladocs make must be visible in the executed plan
  * (PlanShapeR7Spec discipline).
  */
class PlanShapeR10dSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    val df = Queries.all(q).fn(spark, sf)
    df.collect() // let AQE finalize the real joins
    df.queryExecution.executedPlan.toString
  }

  test("ks_drift: offsets and totals broadcast; no window over raw events") {
    val p = planOf("ks_drift")
    assert(!p.contains("CartesianProduct"), s"ks plan:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"bucket offsets + the 1-row totals must broadcast:\n$p")
  }

  test("embedding_quantize: map-only — no join, no aggregate exchange") {
    val p = planOf("embedding_quantize")
    assert(!p.contains("Join"), s"quantize must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"quantize must not aggregate:\n$p")
  }

  test("dedup_containment: posting-list pipeline, no cartesian") {
    val p = planOf("dedup_containment")
    assert(!p.contains("CartesianProduct"), s"containment plan:\n$p")
  }

  test("multimodal_channel_stats: map-only fan-out — no join, no shuffle agg") {
    val p = planOf("multimodal_channel_stats")
    assert(!p.contains("Join"), s"channel stats must not join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"channel stats must not shuffle:\n$p")
  }

  test("graph_clustering_coeff: triangle-list credit, no cartesian") {
    val p = planOf("graph_clustering_coeff")
    assert(!p.contains("CartesianProduct"), s"cc plan:\n$p")
  }

  test("chi2_independence: totals broadcast against the cell table") {
    val p = planOf("chi2_independence")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"chi2 plan:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"row/col totals must broadcast:\n$p")
  }

  test("weighted_median: offset and total tables broadcast, no cartesian") {
    val p = planOf("weighted_median")
    assert(!p.contains("CartesianProduct"), s"weighted_median plan:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"bucket offsets + per-flag totals must broadcast:\n$p")
  }

  test("star_local_revenue: dims broadcast, selective filters reach the scans") {
    val p = planOf("star_local_revenue")
    assert(!p.contains("CartesianProduct"), s"star plan:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"nation and region must broadcast, got $bhj BHJs:\n$p")
    assert(p.contains("ASIA"), s"the region filter must appear in the plan:\n$p")
    assert(p.contains("1995"), s"the order-year filter must appear in the plan:\n$p")
  }

  test("graph_ppr: final pass is a top-k over the checkpointed rank table") {
    // the rounds run on the block superstep kernel before this plan
    // exists; the visible plan must be exactly TakeOrdered over the held
    // final round — no trailing shuffle, no global sort
    val p = planOf("graph_ppr")
    assert(!p.contains("CartesianProduct"), s"ppr plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must run as TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no range-partitioned sort in the final pass:\n$p")
  }
}
