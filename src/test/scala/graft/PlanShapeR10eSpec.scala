package graft

/** Plan-shape audit of the round-10e operators: the shuffle/broadcast
  * claims their scaladocs make must be visible in the executed plan
  * (PlanShapeR7Spec discipline).
  */
class PlanShapeR10eSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    val df = Queries.all(q).fn(spark, sf)
    df.collect() // let AQE finalize the real joins
    df.queryExecution.executedPlan.toString
  }

  test("mann_whitney: bucket offsets broadcast; no cartesian") {
    val p = planOf("mann_whitney")
    assert(!p.contains("CartesianProduct"), s"mw plan:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the bucket-offset table must broadcast:\n$p")
  }

  test("path_mining: the lead window is user-partitioned") {
    val p = planOf("path_mining")
    assert(!p.contains("CartesianProduct"), s"path plan:\n$p")
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    // the partition spec itself, not merely the scan schema, must name
    // user_id — "user_id" alone is trivially true via ReadSchema
    assert("windowspecdefinition\\(user_id".r.findFirstIn(p).isDefined,
      s"the window must partition by user:\n$p")
  }

  test("ts_anomaly_seasonal: no window anywhere; the 24-row profile broadcasts") {
    val p = planOf("ts_anomaly_seasonal")
    assert(!p.contains("Window"), s"anomaly screen must not use a window:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the hour profile must broadcast:\n$p")
  }

  test("small_qty_revenue: brand-filtered part dim broadcasts; filter reaches the scan") {
    val p = planOf("small_qty_revenue")
    assert(!p.contains("CartesianProduct"), s"q17 plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the brand-filtered part dim must broadcast:\n$p")
    assert(p.contains("Brand#1"), s"the brand filter must appear in the plan:\n$p")
  }

  test("graph_stress: two-pass ladder has no cartesian") {
    val p = planOf("graph_stress")
    assert(!p.contains("CartesianProduct"), s"stress plan:\n$p")
  }

  test("multimodal_audio_silence: decoder-pass only — no join, no hash shuffle") {
    val p = planOf("multimodal_audio_silence")
    assert(!p.contains("Join"), s"silence must not join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"silence must not hash-shuffle (runs are counted inside the decoder):\n$p")
  }

  test("late_sole_supplier: status filter reaches the orders scan; supplier dim broadcasts") {
    val p = planOf("late_sole_supplier")
    assert(!p.contains("CartesianProduct"), s"q21 plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim must broadcast:\n$p")
    // the status pin must reach the parquet scan as a PUSHED filter —
    // anchored inside a PushedFilters block (the stable
    // org.apache.spark.sql.sources.EqualTo rendering), not a plan-string
    // literal that a format change could silently re-weaken to a
    // trivially-true alternative (VERDICT r11 ask #8)
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(pushed.nonEmpty, s"expected PushedFilters blocks in the plan:\n$p")
    assert(pushed.exists(_.contains("EqualTo(o_orderstatus,F)")),
      s"the order-status filter must be pushed to the orders scan, " +
        s"got PushedFilters blocks: ${pushed.mkString(" | ")}\n$p")
  }

  test("ts_theil_sen: offsets and totals broadcast; pair table from the strided sample") {
    val p = planOf("ts_theil_sen")
    assert(p.contains("BroadcastExchange"),
      s"stats/offsets/total must broadcast:\n$p")
  }

  test("incremental_join: both delta terms broadcast their delta side") {
    val p = planOf("incremental_join")
    assert(!p.contains("CartesianProduct"), s"ivm plan:\n$p")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"both delta sides must broadcast, got $bhj BHJs:\n$p")
  }

  test("bucket_join_colocated: the join itself is shuffle-free — scans deliver the partitioning") {
    val p = planOf("bucket_join_colocated")
    // at fixture scale AQE may broadcast the small side instead of the
    // bucketed SMJ — both are shuffle-free; the pinned claim is that NO
    // exchange ever feeds the join (only the final 5-row aggregate may)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"expected a join over the bucketed scans:\n$p")
    assert(p.contains("Bucketed: true"), s"scans must read as bucketed:\n$p")
    // executedPlan prints the AQE final plan followed by the initial
    // plan — count exchanges only in the plan that actually ran
    val finalPlan = p.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(exchanges <= 1,
      s"only the final 5-row aggregate may shuffle, got $exchanges exchanges:\n$p")
  }

  test("partition_pruned_scan: the date filter prunes directories, not rows") {
    val p = planOf("partition_pruned_scan")
    assert(p.contains("PartitionFilters: ["), s"expected partition filters:\n$p")
    // the date predicate must appear INSIDE PartitionFilters …
    val pf = p.split("PartitionFilters: \\[")(1).split("]")(0)
    assert(pf.contains("event_date"),
      s"the date filter must land in PartitionFilters, got [$pf]:\n$p")
    // … and the scan must not re-check it as a data filter over rows
    assert(!p.contains("PushedFilters: [IsNotNull(event_date)"),
      s"date must not degrade to a row-level filter:\n$p")
  }

  test("bucketed and date-partitioned copies are reused by a new session: same rows, no rewrite") {
    import java.nio.file.{Files, Paths}
    val qs = Seq("bucket_join_colocated", "partition_pruned_scan")
    val shared = qs.map(q => Queries.all(q).fn(spark, sf).collect().toSeq)
    val markers = Seq("buckets" -> "bk_orders", "buckets" -> "bk_lineitem", "evpart" -> "events")
      .map { case (kind, name) => Paths.get(graft.model.CacheDirs.root(kind, sf), s"$name.fp") }
    val stamped = markers.map(Files.getLastModifiedTime(_))
    val fresh = spark.newSession()
    assert(qs.map(q => Queries.all(q).fn(fresh, sf).collect().toSeq) == shared)
    assert(markers.map(Files.getLastModifiedTime(_)) == stamped,
      "a new session rewrote a derived copy instead of reusing it")
  }

  test("sketch_hll_sliding: hour anchor broadcasts; no cartesian") {
    val p = planOf("sketch_hll_sliding")
    assert(!p.contains("CartesianProduct"), s"hll sliding plan:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"the existing-hours anchor must broadcast:\n$p")
  }

  test("sketch_heavy_change: 1-row range and d·w sketches broadcast; no cartesian") {
    val p = planOf("sketch_heavy_change")
    assert(!p.contains("CartesianProduct"), s"heavy-change plan:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the sketches and the 1-row range must broadcast:\n$p")
  }
}
