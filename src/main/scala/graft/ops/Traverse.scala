package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HeldIds
import graft.model.DerivedGraph

/** Traversal operators — the reference's read path re-expressed as frontier
  * joins (SURVEY.md §3.2).
  *
  * The reference issues one unindexed `\$or` edge-collection scan per
  * frontier vertex per level and revisits neighbors exponentially (no
  * visited set; mongraph.py:236-241, 252-274). Here a hop is ONE scan of
  * the undirected edge view against the whole frontier with visited-set
  * dedup — O(depth) jobs regardless of fan-out.
  *
  * A frontier or visited set that fits [[effectiveBroadcastLimit]] stays
  * on the driver as a sorted primitive array ([[HeldIds]]). Its hop
  * probes the frontier's broadcast sorted array inside the adjacency scan,
  * collects the distinct neighbours through one shuffle and subtracts
  * the visited set on the driver: two jobs per hop, no checkpoint. The
  * hop collects only when an upper bound on the rows it reads, known
  * before it runs, is within the limit: the edge view's row count (free
  * for a loaded cache, else one count per k-hop call) or, on the bucketed
  * adjacency, the summed footer row counts of the buckets the frontier
  * hits. Otherwise — and for every frontier over the limit — the hop
  * anti-joins the visited set on the executors and `localCheckpoint()`s
  * the new frontier, which comes back to the driver once it fits again.
  */
object Traverse {

  /** A traversal id set: held on the driver while it fits the broadcast
    * limit, a DataFrame past it. */
  private[graft] sealed trait IdSet { def toDF: DataFrame }
  private[graft] final case class Held(ids: HeldIds) extends IdSet {
    def toDF: DataFrame = ids.toDF
  }
  private[graft] final case class Spread(toDF: DataFrame) extends IdSet

  /** Rows of `df` whose column `c` is in `ids`, in `df`'s column order: a
    * probe of the held set in the scan, a semi-join otherwise. */
  private def within(df: DataFrame, c: String, ids: IdSet): DataFrame =
    ids match {
      case Held(h) => df.filter(h.contains(col(c)))
      case Spread(s) => df.join(s.select(col("id").as(c)), Seq(c), "left_semi")
        .select(df.columns.map(col).toSeq: _*)
    }

  /** The row count of `df` when Spark knows it exactly without a job: a
    * loaded cache (its build counted the rows) or a local relation. */
  private def knownRows(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    df.queryExecution.optimizedPlan match {
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.computeStats().rowCount.map(_.toLong)
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(l.data.length.toLong)
      case _ => None
    }
  }

  /** Upper bound on the rows of `df`: [[knownRows]], else a count in one
    * job (an RDD count; `Dataset.count` adds a shuffle job under AQE). */
  private def rowBound(df: DataFrame): Long =
    knownRows(df).getOrElse(df.select(lit(1)).rdd.count())

  /** Undirected 1-hop neighborhood. Matches `find_neighbors` semantics
    * exactly: only the endpoints of *found* incident edges are collected
    * (mongraph.py:243-245) — the seed appears in its own result iff it has
    * at least one incident edge, and an isolated vertex returns the empty
    * set. The seed predicate is pushed into the edge scan on BOTH endpoint
    * columns (no undirected-view materialization). A NULL endpoint is no
    * vertex and is never returned.
    */
  def neighborIds(edges: DataFrame, seed: Long): DataFrame =
    neighbors(edges, seed, broadcastRowLimit).toDF

  /** [[neighborIds]] as an [[IdSet]]. When Spark knows the edge count
    * without a job and the undirected view fits the limit, the endpoints
    * of the incident edges are collected in one job and deduplicated on
    * the driver; otherwise they stay a `distinct` frame, so a one-hop read
    * never scans the edges twice. */
  private[graft] def neighbors(edges: DataFrame, seed: Long, broadcastLimit: Long): IdSet = {
    val endpoints = edges.filter(col("src") === seed || col("dst") === seed)
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .filter(col("id").isNotNull)
    if (knownRows(edges).exists(2L * _ <= limitFor(edges, broadcastLimit)))
      Held(HeldIds(edges.sparkSession, endpoints.collect().map(_.getLong(0))))
    else Spread(endpoints.distinct())
  }

  /** A caller's limit capped by what this session can collect. */
  private def limitFor(df: DataFrame, broadcastLimit: Long): Long =
    math.min(broadcastLimit, effectiveBroadcastLimit(df.sparkSession))

  /** Depth-bounded k-hop closure with visited-set dedup — the *intent* of
    * `_explode_node` (mongraph.py:252-274; the letter crashes, SURVEY §2.3
    * items 1-2). Returns the visited vertex-id set including the seed.
    *
    * This limit is the largest id set a traversal holds on the driver and
    * ships to the executors as one broadcast (see the object doc): the
    * frontier, the visited set and a hop's collected output. Past it a
    * frontier stays a checkpointed DataFrame and the visited anti-join
    * shuffles (possible at depth ≥ graph diameter on a 100 TB graph).
    *
    * 25M ids ≈ 200 MB as a held array (~1.5 GB as a slice's hashed
    * broadcast relation past the limit) — one copy per executor,
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
    visit(edges, seed, k, broadcastRowLimit).toDF

  /** [[kHopIds]] as an [[IdSet]]; a hop's read is bounded by the rows of
    * the undirected edge view, 2|E|. */
  private[graft] def visit(edges: DataFrame, seed: Long, k: Int, broadcastLimit: Long): IdSet = {
    val limit = limitFor(edges, broadcastLimit)
    lazy val undRows = 2L * rowBound(edges)
    hops(DerivedGraph.undirected(edges), None, seed, k, limit, _ => undRows <= limit)
  }

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
    * uniformly over `nb` buckets: nb·(1 − (1 − 1/nb)^f) — the random-walk
    * step's pruned-vs-full decision, whose walker set is never on the
    * driver. The estimate is within a few buckets of the exact span for
    * hash-spread ids, and a miss only flips a near-cutoff step's PLAN
    * (pruned vs cached-full), never its rows. The pow underflows to 0 for
    * f ≫ nb·ln nb, correctly saturating at nb.
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
    *  1. PARTITION PRUNING: a held frontier's bucket set (`pmod` on the
    *     driver, no job) is pushed as a `bk IN (...)` literal filter, so
    *     the hop scans only the adjacency directories the frontier
    *     touches — a depth-1/2 frontier reads a few files instead of the
    *     2|E| copy — while the span stays within [[spanCutoff]].
    *  2. CHUNKED SLICES past the broadcast limit: the frontier splits
    *     into measured-size bucket-grouped slices, each broadcast against
    *     only its own bucket directories ([[packSlices]]), so every hop
    *     join stays a map-side hash join with no fp padding. The Bloom
    *     pre-filter ([[graft.functions.LongBloomMightContain]] probed
    *     INSIDE the scan stage, exchange carries only frontier-incident
    *     candidates +fpp) remains the fallback for unbucketed adjacencies
    *     and pathological per-cell skew.
    *
    * A hop's read is bounded by the loaded full view's row count when
    * that fits, else by the footer row counts of the buckets it hits
    * ([[DerivedGraph.Adj.bucketRows]]).
    */
  def kHopIdsAdj(adj: DerivedGraph.Adj, seed: Long, k: Int,
      broadcastLimit: Long = broadcastRowLimit): DataFrame = {
    val limit = limitFor(adj.full, broadcastLimit)
    val loaded = knownRows(adj.full)
    lazy val total = rowBound(adj.full)
    def fits(f: HeldIds): Boolean = loaded.exists(_ <= limit) || (adj.bucketRows match {
      case Some(rows) => bucketsOf(f, adj.buckets).iterator.map(rows(_)).sum <= limit
      case None => total <= limit
    })
    hops(adj.full, Some((adj.byBucket, adj.buckets, spanCutoff(adj))), seed, k, limit, fits)
      .toDF
  }

  /** k-hop over any undirected view (`a`, `b`), a hop's read bounded by
    * the view's row count. */
  private[graft] def kHopCore(und: DataFrame, byBucket: Option[(DataFrame, Int, Int)],
      seed: Long, k: Int, broadcastLimit: Long): DataFrame = {
    lazy val undRows = rowBound(und)
    hops(und, byBucket, seed, k, broadcastLimit, _ => undRows <= broadcastLimit).toDF
  }

  /** The distinct `pmod(id, nb)` buckets of a held set, ascending. */
  private def bucketsOf(f: HeldIds, nb: Int): Array[Int] = {
    val hit = new Array[Boolean](nb)
    f.ids.foreach(x => hit(Math.floorMod(x, nb.toLong).toInt) = true)
    (0 until nb).filter(hit(_)).toArray
  }

  /** The hop loop. `fits(f)` says whether an upper bound on the rows a
    * hop from the held frontier `f` reads is within `limit`; only then is
    * the hop's output collected. */
  private def hops(und: DataFrame, byBucket: Option[(DataFrame, Int, Int)],
      seed: Long, k: Int, limit: Long, fits: HeldIds => Boolean): IdSet = {
    val spark = und.sparkSession
    def held(ids: Array[Long]) = HeldIds(spark, ids)
    var visited: IdSet = Held(held(Array(seed)))
    var frontier: IdSet = visited
    var frontierRows = 1L
    var visitedRows = 1L
    for (_ <- 1 to k if frontierRows > 0) {
      val nbrs = (frontier match {
        case Held(f) => heldHop(und, byBucket, f)
        case Spread(f) => spreadHop(und, byBucket, f, frontierRows, limit)
      }).select(col("b").as("id")).filter(col("id").isNotNull).distinct()
      val (next, rows) = (frontier, visited) match {
        case (Held(f), Held(v)) if fits(f) =>
          val h = held(nbrs.collect().map(_.getLong(0))).diff(v)
          (Held(h), h.rows)
        case _ =>
          val fresh = (visited match {
            case Held(v) => nbrs.filter(!v.contains(col("id")))
            case Spread(v) => nbrs.join(v, Seq("id"), "left_anti")
          }).localCheckpoint()
          val n = fresh.count()
          if (n <= limit) (Held(held(fresh.collect().map(_.getLong(0)))), n)
          else (Spread(fresh), n)
      }
      visited = (visited, next) match {
        case (Held(v), Held(f)) if visitedRows + rows <= limit => Held(v.union(f))
        // a union over checkpointed or driver-held leaves, depth ≤ k
        case _ => Spread(visited.toDF.union(next.toDF))
      }
      frontier = next
      frontierRows = rows
      visitedRows += rows
    }
    visited
  }

  /** The adjacency rows leaving a held frontier, probed in the scan. A
    * frontier spanning at most `cutoff` buckets reads only its bucket
    * directories of the partitioned parquet — no 2|E|-row cache fill for
    * a narrow hop; a wider hop reads the (possibly persisted) full view,
    * which beats a barely-pruned parquet decode where a cache exists. The
    * literal `bk IN (...)` filter was measured faster than a lazy DPP
    * form (BENCHNOTES r17 lazy DPP entry).
    */
  private def heldHop(und: DataFrame, byBucket: Option[(DataFrame, Int, Int)],
      f: HeldIds): DataFrame = {
    val side = byBucket match {
      // `< nb`: a full-span "pruned" hop is the full scan plus a pointless
      // bucket filter (visible under policy none, where cutoff == nb)
      case Some((raw, nb, cutoff)) =>
        val bks = bucketsOf(f, nb)
        if (bks.length <= cutoff && bks.length < nb)
          raw.filter(col("bk").isin(bks.map(Integer.valueOf).toSeq: _*))
        else und
      case None => und
    }
    side.filter(f.contains(col("a")))
  }

  /** The adjacency rows leaving a frontier too big for one broadcast:
    * measured-size bucket-grouped slices, each broadcast against only its
    * own bucket directories (BENCHNOTES r19 "#3a" entry: 1.25× wall and
    * 1.9× less shuffle than Bloom at sf100 under a forced 1M limit). One
    * combinable groupBy over the checkpointed frontier measures exact
    * per-(bucket, sub-cell) counts and first-fit packing keeps every slice
    * ≤ limit, so a skewed frontier can never push a broadcast collect past
    * maxResultSize. Without the bucketed adjacency, or on pathological
    * per-cell skew, the Bloom pre-filter and a shuffle join stand.
    */
  private def spreadHop(und: DataFrame, byBucket: Option[(DataFrame, Int, Int)],
      frontier: DataFrame, frontierRows: Long, broadcastLimit: Long): DataFrame = {
    val frontierA = frontier.withColumnRenamed("id", "a")
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
            System.err.println(s"[khop] chunked fallback: $frontierRows ids in " +
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

  /** `build_graph` intent (mongraph.py:276-303): the depth-k ego subgraph —
    * visited vertices plus the induced edges (both endpoints visited).
    */
  def egoSubgraph(vertices: DataFrame, edges: DataFrame, seed: Long, depth: Int)
      : (DataFrame, DataFrame) = ego(vertices, edges, seed, depth, broadcastRowLimit)

  /** [[egoSubgraph]] under a given broadcast limit. */
  private[graft] def ego(vertices: DataFrame, edges: DataFrame, seed: Long, depth: Int,
      broadcastLimit: Long): (DataFrame, DataFrame) = {
    val ids = visit(edges, seed, depth, broadcastLimit)
    (within(vertices, "id", ids), within(within(edges, "src", ids), "dst", ids))
  }

  /** JSON export of a (bounded) ego subgraph — `build_graph`'s
    * `{"graph": {"vertices": ..., "edges": ...}}` shape (mongraph.py:298-303,
    * which raises on sets/ObjectIds; we emit the intended document).
    * Canonically sorted so the output is deterministic for golden tests:
    * vertices by id, edges by (src, dst, label) and then by their JSON, so
    * parallel edges with different props come out in one order whatever
    * the input order. Vertex and edge rows are collected in one job each
    * and sorted on the driver, where the document is built. Only valid for
    * depth-bounded ego sets, which is the reference's use case; full-graph
    * export goes through `df.write.json` instead.
    */
  def egoSubgraphJson(vertices: DataFrame, edges: DataFrame, seed: Long, depth: Int): String =
    document(egoSubgraph(vertices, edges, seed, depth))

  /** The `{"graph": ...}` document of an ego subgraph's (vertices, edges). */
  private[graft] def document(subgraph: (DataFrame, DataFrame)): String = {
    val (vs, es) = subgraph
    def json(df: DataFrame) = to_json(struct(df.columns.map(col).toSeq: _*))
    val vJson = vs.select(col("id"), json(vs)).collect()
      .sortBy(_.getLong(0)).map(_.getString(1))
    val eJson = es.select(col("src"), col("dst"), col("label"), json(es)).collect()
      .map(r => EdgeDoc(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sorted(EdgeDocOrder).map(_.json)
    s"""{"graph":{"vertices":[${vJson.mkString(",")}],"edges":[${eJson.mkString(",")}]}}"""
  }

  private final case class EdgeDoc(src: Long, dst: Long, label: String, json: String)

  /** Spark's ascending order on (src, dst, label), the JSON breaking ties. */
  private val EdgeDocOrder: Ordering[EdgeDoc] = (a, b) => {
    val c = java.lang.Long.compare(a.src, b.src)
    if (c != 0) c
    else {
      val d = java.lang.Long.compare(a.dst, b.dst)
      if (d != 0) d
      else {
        val l = utf8Compare(a.label, b.label)
        if (l != 0) l else utf8Compare(a.json, b.json)
      }
    }
  }

  /** Spark's string order: NULL first, then UTF-8 bytes, which is code
    * point order (String.compareTo orders UTF-16 units instead). */
  private def utf8Compare(a: String, b: String): Int =
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else {
      var i = 0
      while (i < a.length && i < b.length && a.charAt(i) == b.charAt(i)) i += 1
      if (i == a.length || i == b.length) Integer.compare(a.length, b.length)
      else Integer.compare(a.codePointAt(i), b.codePointAt(i))
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
