package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.DerivedGraph

/** Traversal operators — the reference's read path re-expressed as frontier
  * joins (SURVEY.md §3.2).
  *
  * The reference issues one unindexed `\$or` edge-collection scan per
  * frontier vertex per level and revisits neighbors exponentially (no
  * visited set; mongraph.py:236-241, 252-274). Here each hop is ONE shuffle
  * join of the undirected edge view against the frontier, with a visited-set
  * anti-join and `localCheckpoint()` per round to cut lineage growth —
  * O(depth) stages regardless of fan-out.
  */
object Traverse {

  /** Undirected 1-hop neighborhood. Matches `find_neighbors` semantics
    * exactly: only the endpoints of *found* incident edges are collected
    * (mongraph.py:243-245) — the seed appears in its own result iff it has
    * at least one incident edge, and an isolated vertex returns the empty
    * set. The seed predicate is pushed into the edge scan on BOTH endpoint
    * columns (no undirected-view materialization).
    */
  def neighborIds(edges: DataFrame, seed: Long): DataFrame =
    edges.filter(col("src") === seed || col("dst") === seed)
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct()

  /** Depth-bounded k-hop closure with visited-set dedup — the *intent* of
    * `_explode_node` (mongraph.py:252-274; the letter crashes, SURVEY §2.3
    * items 1-2). Returns the visited vertex-id set including the seed.
    *
    * Each hop joins the undirected edge view against the frontier. While
    * the frontier is small (the ego-query regime) it is broadcast, so the
    * hop is a map-side hash join — the edge table is never shuffled. Once
    * the visited set outgrows [[broadcastRowLimit]] (possible at depth ≥
    * graph diameter on a 100 TB graph) the hint is dropped and the hop
    * falls back to AQE's join choice. Row counts are cheap: only the
    * frontier is localCheckpoint'ed (its `count()` reads cached partition
    * sizes), and the visited size is tracked incrementally — `visited`
    * itself stays a plain union over the checkpointed frontiers.
    *
    * 25M ids ≈ 200 MB serialized / ~1.5 GB hashed — one copy per executor,
    * inside a normal executor's memory budget, and two orders of magnitude
    * cheaper than the alternative: the r15 sf100 probe measured ego's
    * hop-4 frontier (20M ids) just over the previous 5M limit, sending the
    * hop down the Bloom+shuffle path and exchanging ~31 GB of adjacency
    * rows for a join a 160 MB broadcast answers map-side. Frontiers past
    * this limit (≥ d4 on a 10× bigger graph) still take the Bloom path.
    */
  val broadcastRowLimit: Long = 25000000L

  /** The broadcast-id-set row bound actually safe in THIS session:
    * [[broadcastRowLimit]] capped by what the configured
    * `spark.driver.maxResultSize` can collect. Broadcasting a DataFrame
    * routes its rows through a driver collect (serialized ~8-16 B/id) and
    * a driver-built hashed relation (~40-60 B/id), so the bound charges
    * 48 B per row against the configured ceiling — a session left on the
    * 1g default gets a ~22M cap and the Bloom/SMJ fallback instead of a
    * failed job; the 4g the tool/bench builders now set admits the full
    * static limit (ADVICE r15 #1/#2). `maxResultSize=0` means unlimited.
    */
  def effectiveBroadcastLimit(spark: org.apache.spark.sql.SparkSession): Long = {
    // GRAFT_BCAST_LIMIT: probe-only override to force big frontiers onto
    // the Bloom/shuffle fallback at measurable scale (VERDICT r15 #5 —
    // the fallback's constant should be a number, not a hope). It is
    // min'd with the session cap below, so it can only LOWER the
    // effective bound — never raise it past what maxResultSize can
    // actually collect.
    val static = sys.env.get("GRAFT_BCAST_LIMIT").map(parseBcastLimit)
      .getOrElse(broadcastRowLimit)
    val bytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    effectiveBroadcastLimitFor(bytes, static)
  }

  /** The pure arithmetic of [[effectiveBroadcastLimit]], split out so the
    * 48 B/row charge and the min are pinned against LITERAL expectations
    * in spec (ADVICE r17: a test that recomputes the same expression it
    * checks is tautological). `maxResultBytes` ≤ 0 means unlimited.
    */
  private[graft] def effectiveBroadcastLimitFor(maxResultBytes: Long,
      static: Long): Long =
    if (maxResultBytes <= 0L) static
    else math.min(static, maxResultBytes / 48L)

  /** Validate a GRAFT_BCAST_LIMIT value — fail fast with a named message
    * instead of a bare NumberFormatException deep inside query
    * construction.
    */
  private[graft] def parseBcastLimit(v: String): Long = {
    val n = try v.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"GRAFT_BCAST_LIMIT must be a positive long row count " +
          s"(probe-only override, only lowers the bound), got '$v'")
    }
    require(n > 0,
      s"GRAFT_BCAST_LIMIT must be a positive row count, got $n")
    n
  }

  /** False-positive rate of the big-frontier Bloom pre-filter — pads the
    * exact hop join's candidate set by ~2% of the adjacency, never its
    * result.
    */
  val FrontierBloomFpp: Double = 0.02

  /** One broadcastable frontier slice of the chunked big-frontier
    * fallback: either a group of WHOLE buckets (the common case — the
    * slice's adjacency side is those buckets' directories, each read by
    * exactly one slice) or a group of secondary-hash sub-cells of ONE
    * oversize bucket (that bucket's directory is read once per sub-slice
    * — the price of a bucket whose frontier alone exceeds the broadcast
    * limit). `rows` is the slice's EXACT frontier row count, measured,
    * never assumed from uniform hashing (VERDICT r17 #1 / ADVICE r17:
    * the uniform-occupancy slice sizing could push a skewed slice past
    * what maxResultSize can collect).
    */
  private[graft] sealed trait FrontierSlice { def rows: Long }
  private[graft] final case class BucketSlice(buckets: Seq[Int], rows: Long)
    extends FrontierSlice
  private[graft] final case class SubSlice(bucket: Int, cells: Seq[Int],
      subFan: Int, rows: Long) extends FrontierSlice

  /** Secondary-hash fan for re-splitting oversize buckets, chosen so a
    * fully skewed frontier (everything in one bucket) still lands cells
    * of expected size ≤ limit/4 — then the EXACT per-cell counts decide.
    * Capped so the counts collect stays O(buckets·fan) tiny.
    */
  private[graft] def subSplitFan(frontierRows: Long, limit: Long): Int =
    math.min(1024L, 4L * frontierRows / math.max(1L, limit) + 1L).toInt

  /** First-fit-decreasing pack of EXACT (bucket, sub-cell) frontier counts
    * into slices of total ≤ `limit`. Buckets whose whole frontier fits are
    * packed atomically (their directories are then read exactly once
    * across all slices); an oversize bucket's cells are packed into
    * dedicated sub-slices of that bucket alone. Returns None when a
    * single CELL exceeds the limit (pathological hash skew at fan
    * [[subSplitFan]]) — the caller then takes the Bloom path, which has
    * no driver-collect failure mode.
    */
  private[graft] def packSlices(counts: Seq[((Int, Int), Long)], limit: Long,
      subFan: Int): Option[Seq[FrontierSlice]] = {
    if (counts.exists(_._2 > limit)) return None
    val byBucket = counts.groupBy(_._1._1)
    val (oversize, atomic) =
      byBucket.partition { case (_, cs) => cs.map(_._2).sum > limit }
    def ffd[T](items: Seq[(T, Long)]): Seq[(Seq[T], Long)] = {
      val bins = scala.collection.mutable.ArrayBuffer
        .empty[(scala.collection.mutable.ArrayBuffer[T], Long)]
      for ((item, w) <- items.sortBy { case (_, w) => -w }) {
        bins.indexWhere(_._2 + w <= limit) match {
          case -1 => bins += ((scala.collection.mutable.ArrayBuffer(item), w))
          case i => val (b, tot) = bins(i); b += item; bins(i) = (b, tot + w)
        }
      }
      bins.toSeq.map { case (b, tot) => (b.toSeq, tot) }
    }
    val subSlices = oversize.toSeq.sortBy(_._1).flatMap { case (bk, cells) =>
      ffd(cells.map { case ((_, sub), c) => (sub, c) })
        .map { case (cs, tot) => SubSlice(bk, cs.sorted, subFan, tot) }
    }
    val bucketSlices =
      ffd(atomic.toSeq.map { case (bk, cs) => (bk, cs.map(_._2).sum) })
        .map { case (bks, tot) => BucketSlice(bks.sorted, tot) }
    Some(subSlices ++ bucketSlices)
  }

  def kHopIds(edges: DataFrame, seed: Long, k: Int): DataFrame =
    kHopCore(DerivedGraph.undirected(edges), None, seed, k,
      effectiveBroadcastLimit(edges.sparkSession))

  /** Bucket-span cutoff for the pruned-parquet hop path, PER STORAGE
    * POLICY (VERDICT r15 #4 — the break-even is a property of what a
    * full read costs under the policy that built `adj.full`):
    * a pruned read of `f·buckets` directories costs ~`f` of a whole-copy
    * parquet decode, so pruning wins while `f <` (full-read cost under
    * the policy) / (parquet decode cost). Measured at sf10 (BENCHNOTES
    * r16 policy A/B):
    *
    *  - `none`: `full` IS the parquet copy — any real pruning wins;
    *    cutoff = buckets (prune whenever the frontier misses ≥1 bucket;
    *    measured full/parquet 1.29 — the two reads are the same read).
    *  - `default` (deserialized columnar cache): measured full/parquet
    *    0.51 at sf10 (BENCHNOTES r16, sum over both endpoint columns — a bare
    *    count() reads only footer metadata and measures nothing) →
    *    cutoff = buckets/2, the r15 constant confirmed by direct
    *    measurement.
    *  - `disk` (serialized DISK_ONLY): the spill read re-deserializes
    *    every row — measured full/parquet 0.67 → cutoff = 2·buckets/3;
    *    slower than the columnar cache, still ahead of a near-full-span
    *    parquet re-decode.
    */
  def spanCutoff(adj: DerivedGraph.Adj): Int =
    if (adj.full eq adj.byBucket) adj.buckets
    else {
      val policyCut = adj.policy match {
        case "none" => adj.buckets
        case "disk" => 2 * adj.buckets / 3
        case _ => adj.buckets / 2
      }
      // tiny-adjacency guard: the fraction model above prices a pruned
      // read at (span/buckets)·whole-copy decode, but each directory has
      // a fixed file-open cost — on a sub-64 MB adjacency (KB-sized
      // bucket files) that constant dominates, and a wide "pruned" hop
      // through 100+ files loses to one cached full read (r16 sf0.1
      // bench: ego_subgraph aged +0.43 s). Narrow hops (seed hops, the
      // khop_2 win) stay pruned; wide hops go to the cached view.
      if (adj.bytes < PrunedScanMinBytes)
        math.min(policyCut, math.max(1, adj.buckets / 16))
      else policyCut
    }

  /** Adjacency size below which wide-span pruned reads lose to the cached
    * full view (per-file open cost vs per-byte decode — see [[spanCutoff]]).
    */
  val PrunedScanMinBytes: Long = 64L << 20

  /** Expected number of distinct pmod-buckets hit by `f` ids spread
    * uniformly over `nb` buckets: nb·(1 − (1 − 1/nb)^f). Replaces the
    * per-hop driver collect of the exact bucket set in the pruned-vs-full
    * decision (VERDICT r16 #5) — the estimate is within a few buckets of
    * the exact span for hash-spread ids, and a miss only flips a
    * near-cutoff hop's PLAN (pruned vs cached-full), never its rows. The
    * pow underflows to 0 for f ≫ nb·ln nb, correctly saturating at nb.
    */
  private[graft] def expectedSpan(f: Long, nb: Int): Int =
    if (f <= 0L) 0
    else if (f >= Int.MaxValue) nb
    else math.min(nb.toDouble,
      math.ceil(nb * (1.0 - math.pow(1.0 - 1.0 / nb, f.toDouble)))).toInt

  /** k-hop over the MATERIALIZED bucket-partitioned adjacency
    * ([[DerivedGraph.undAdjacency]]) — the scale path (VERDICT r14 #1).
    * Semantically identical to [[kHopIds]] (R15OpsSpec pins row-for-row
    * parity); the difference is pure plan shape, two prunings per hop:
    *
    *  1. PARTITION PRUNING: the frontier's bucket set (≤ `adj.buckets`
    *     values, one tiny distinct over the checkpointed frontier) is
    *     pushed as a `bk IN (...)` literal filter, so the hop scans only
    *     the adjacency directories the frontier touches — a depth-1/2
    *     frontier reads a few files instead of the 2|E| copy, and the
    *     filter is dropped entirely once every bucket is hit.
    *  2. CHUNKED SLICES past the broadcast limit (default since r18 —
    *     VERDICT r17 #1): the frontier splits into measured-size
    *     bucket-grouped slices, each broadcast against only its own
    *     bucket directories ([[packSlices]]), so every hop join stays a
    *     map-side hash join with no fp padding. The Bloom pre-filter
    *     ([[graft.functions.LongBloomMightContain]] probed INSIDE the
    *     scan stage, exchange carries only frontier-incident candidates
    *     +fpp) remains the fallback for unbucketed adjacencies and
    *     pathological per-cell skew.
    */
  def kHopIdsAdj(adj: DerivedGraph.Adj, seed: Long, k: Int,
      broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    // an explicit caller limit is still capped by what this session's
    // maxResultSize can actually collect (ADVICE r15 #1)
    kHopCore(adj.full, Some((adj.byBucket, adj.buckets, spanCutoff(adj))),
      seed, k,
      math.min(broadcastLimit, effectiveBroadcastLimit(adj.full.sparkSession)))
  }

  private[graft] def kHopCore(und: DataFrame, byBucket: Option[(DataFrame, Int, Int)],
      seed: Long, k: Int, broadcastLimit: Long): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    var visited = Seq(seed).toDF("id").localCheckpoint()
    var frontier = visited
    var frontierRows = 1L
    var visitedRows = 1L
    for (_ <- 1 to k if frontierRows > 0) {
      def maybeBroadcast(df: DataFrame, rows: Long) =
        if (rows <= broadcastLimit) broadcast(df) else df
      // the hop's adjacency side: a frontier spanning at most `cutoff`
      // buckets hops against the raw partitioned parquet — directory
      // pruning, and no 2|E|-row cache fill for a narrow hop; a wider
      // hop uses the (possibly persisted) full view, which beats a
      // barely-pruned parquet decode where a cache exists. The
      // pruned-vs-full choice uses the span ESTIMATED from the
      // already-tracked frontier row count ([[expectedSpan]] — no job);
      // estimate-vs-exact differs only near the cutoff and only in plan
      // CHOICE, never rows. The bucket filter collects the ≤`nb` bucket
      // ids into a literal `bk IN (...)`; a lazy DPP form was measured
      // slower (BENCHNOTES r17 lazy DPP entry). An over-limit frontier
      // cannot broadcast, so those hops go to the full view's
      // Bloom/chunked fallbacks below.
      val prunedHop = byBucket match {
        // `< nb` keeps the pre-r17 exclusion: a full-span "pruned" hop is
        // the same scan as the full view plus a pointless bucket filter
        // (visible under policy none, where cutoff == nb)
        case Some((raw, nb, cutoff)) if frontierRows <= broadcastLimit &&
            expectedSpan(frontierRows, nb) <= cutoff &&
            expectedSpan(frontierRows, nb) < nb => Some((raw, nb))
        case _ => None
      }
      val frontierA = frontier.withColumnRenamed("id", "a")
      // Chunked fallback (DEFAULT since r18 — VERDICT r17 #1): over-limit
      // frontiers split into bucket-grouped slices, each broadcast against
      // ONLY its own bucket directories — the broadcast join's map-side
      // pruning without the Bloom fp padding (this shipped form measured
      // at sf100 under a forced 1M limit, BENCHNOTES r19 "#3a" entry:
      // 1.25× wall / 1.9× less shuffle than Bloom same-codec, rows
      // identical, every slice ≤ limit). Slice sizes are
      // EXACT: one combinable groupBy over the already-checkpointed
      // frontier measures per-(bucket, sub-cell) counts, first-fit packing
      // keeps every slice ≤ limit, and an oversize bucket re-splits by a
      // secondary hash — no uniform-occupancy assumption anywhere, so a
      // skewed frontier can never push a broadcast collect past
      // maxResultSize (the failure class ADVICE r17 flagged). Requires
      // the bucketed adjacency; without it (or on pathological per-cell
      // skew) the Bloom path stands.
      val nbrs = prunedHop match {
        case Some((raw, nb)) =>
          val bks = frontier
            .select(pmod(col("id"), lit(nb.toLong)).cast("int").as("bk"))
            .distinct().collect().map(_.getInt(0)).toSeq
          raw.filter(col("bk").isin(bks.map(Integer.valueOf): _*))
            .join(broadcast(frontierA), Seq("a"))
        case None =>
        if (frontierRows <= broadcastLimit)
          und.join(broadcast(frontierA), Seq("a"))
        else {
          // frontier too big for ONE broadcast: measure exact slice sizes
          // and chunk, or Bloom-prune the adjacency in the scan stage and
          // join EXACTLY on the survivors
          def bloomHop: DataFrame = {
            val bf = frontier.stat.bloomFilter("id", frontierRows, FrontierBloomFpp)
            val probe = org.apache.spark.sql.GraftShim.column(
              graft.functions.LongBloomMightContain(
                org.apache.spark.sql.GraftShim.expression(col("a")), bf))
            und.filter(probe).join(frontierA, Seq("a"))
          }
          byBucket match {
            case Some((raw, nb, _)) =>
              val fan = subSplitFan(frontierRows, broadcastLimit)
              // one combinable agg over the checkpointed frontier —
              // O(buckets·fan) rows collected, never O(frontier)
              val counts = frontier.select(
                  pmod(col("id"), lit(nb.toLong)).cast("int").as("bk"),
                  pmod(xxhash64(col("id")), lit(fan.toLong)).cast("int").as("sub"))
                .groupBy("bk", "sub").agg(count(lit(1)).as("c"))
                .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toSeq
              packSlices(counts, broadcastLimit, fan) match {
                case Some(slices) =>
                  println(s"[khop] chunked fallback: $frontierRows ids in " +
                    s"${slices.length} measured slices of ≤$broadcastLimit " +
                    s"(max ${slices.map(_.rows).max})")
                  slices.map {
                    case BucketSlice(bks, _) =>
                      val jbks = bks.map(Integer.valueOf)
                      raw.filter(col("bk").isin(jbks: _*)).join(
                        broadcast(frontierA.filter(
                          pmod(col("a"), lit(nb.toLong)).isin(jbks: _*))),
                        Seq("a"))
                    case SubSlice(bk, cells, sf, _) =>
                      val jcs = cells.map(Integer.valueOf)
                      raw.filter(col("bk") === bk).join(
                        broadcast(frontierA.filter(
                          pmod(col("a"), lit(nb.toLong)) === bk &&
                            pmod(xxhash64(col("a")), lit(sf.toLong)).isin(jcs: _*))),
                        Seq("a"))
                  }.reduce(_ unionByName _)
                case None => bloomHop // a single sub-cell over the limit
              }
            case _ => bloomHop
          }
        }
      }
      val next = nbrs.select(col("b").as("id")).distinct()
      frontier = next.join(maybeBroadcast(visited, visitedRows), Seq("id"), "left_anti")
        .localCheckpoint()
      frontierRows = frontier.count()
      // visited = union of already-checkpointed frontiers: its lineage is
      // one union node over materialized leaves (depth ≤ k, never
      // recomputed), so re-checkpointing it would only buy a redundant
      // materialization job per hop.
      visited = visited.union(frontier)
      visitedRows += frontierRows
    }
    visited
  }

  /** `build_graph` intent (mongraph.py:276-303): the depth-k ego subgraph —
    * visited vertices plus the induced edges (both endpoints visited).
    */
  def egoSubgraph(vertices: DataFrame, edges: DataFrame, seed: Long, depth: Int)
      : (DataFrame, DataFrame) = {
    val ids = kHopIds(edges, seed, depth)
    val vs = vertices.join(ids, Seq("id"), "left_semi")
    val es = edges
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(edges.columns.map(col).toSeq: _*)
    (vs, es)
  }

  /** JSON export of a (bounded) ego subgraph — `build_graph`'s
    * `{"graph": {"vertices": ..., "edges": ...}}` shape (mongraph.py:298-303,
    * which raises on sets/ObjectIds; we emit the intended document).
    * Canonically sorted so the output is deterministic for golden tests.
    * Collects to the driver — only valid for depth-bounded ego sets, which
    * is the reference's use case; full-graph export goes through
    * `df.write.json` instead.
    */
  def egoSubgraphJson(vertices: DataFrame, edges: DataFrame, seed: Long, depth: Int): String = {
    val (vs, es) = egoSubgraph(vertices, edges, seed, depth)
    val vJson = vs.orderBy("id")
      .select(to_json(struct(vs.columns.map(col).toSeq: _*)).as("j"))
      .collect().map(_.getString(0))
    val eJson = es.orderBy("src", "dst", "label")
      .select(to_json(struct(es.columns.map(col).toSeq: _*)).as("j"))
      .collect().map(_.getString(0))
    s"""{"graph":{"vertices":[${vJson.mkString(",")}],"edges":[${eJson.mkString(",")}]}}"""
  }

  /** Per-vertex undirected degree: one `explode` of both endpoints + a
    * count — map-side combinable, no join (adjacency model,
    * mongraph.py:116-117,236-241). Zero-degree vertices included via left
    * join.
    */
  def degrees(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val endpoints = edges.select(explode(array(col("src"), col("dst"))).as("id"))
    val deg = endpoints.groupBy("id").agg(count(lit(1)).as("degree"))
    vertices.join(deg, Seq("id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
  }
}
