package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Property graph derived deterministically from the relational testdata
  * (SURVEY.md §2.2 preamble, FIXTURES.md §B).
  *
  * Schema mirrors the reference model — vertices with a label discriminator
  * (`__type`, mongraph.py:87) and directed labeled edges with `src`/`dst`
  * endpoint references (`first_node`/`second_node`, mongraph.py:116-117):
  *
  * {{{
  * vertices: id BIGINT, label STRING, name STRING
  * edges:    src BIGINT, dst BIGINT, label STRING
  * }}}
  *
  * Vertex ids are arithmetic (`labelBase + naturalKey`) rather than hashed:
  * the DuckDB oracle (driver t2 gate) has no xxhash64, and the natural keys
  * here are already dense integers. The generic [[graft.ops.Mutations]] API
  * uses `xxhash64(label, key)` for string-keyed data instead.
  *
  * Edge dedup key is `(src, dst, label)` exactly as the reference
  * (mongraph.py:120-124): per-label simple digraph, A→B and B→A coexist.
  *
  * Scale notes (100 TB): the two DataFrames are pure column-pruned parquet
  * scans plus one `distinct` shuffle each for the fact-derived edge sets —
  * both shuffle on the natural join keys, so AQE coalesces/splits as needed.
  * The graph is memoized per scale-factor directory and persisted
  * MEMORY_AND_DISK so the many graph queries in one Verify/Bench run share
  * one materialization instead of recomputing the distinct per query.
  */
object DerivedGraph {
  val RegionBase   = 1000000000L
  val NationBase   = 2000000000L
  val CustomerBase = 3000000000L
  val SupplierBase = 4000000000L
  val PartBase     = 5000000000L

  final case class G(vertices: DataFrame, edges: DataFrame)

  // session-scoped via SessionCache: DataFrames are session-bound, so a
  // cache hit from a different (possibly stopped) session would be stale;
  // identity keying rules out hash aliasing. References are STRONG — the
  // entry (and its session) stays pinned until the SparkContext stops.
  private val cache = new SessionCache[String, G]

  def apply(spark: SparkSession, sfDir: String): G =
    cache.getOrElseUpdate(spark, sfDir)(build(spark, sfDir))

  /** Materialize the persisted vertex/edge DataFrames — the warmup hook,
    * owned HERE next to the persist calls it warms so the inventory cannot
    * drift (GraphAnalytics.warm is this call).
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    val g = apply(spark, sfDir)
    g.vertices.count(); g.edges.count()
  }

  private def build(spark: SparkSession, sfDir: String): G = {
    def t(n: String) = Tables(spark, sfDir, n)

    def vtx(df: DataFrame, base: Long, key: String, label: String, name: String) =
      df.select((lit(base) + col(key).cast("long")).as("id"),
        lit(label).as("label"), col(name).as("name"))

    val vertices =
      vtx(t("region"), RegionBase, "r_regionkey", "region", "r_name")
        .union(vtx(t("nation"), NationBase, "n_nationkey", "nation", "n_name"))
        .union(vtx(t("customer"), CustomerBase, "c_custkey", "customer", "c_name"))
        .union(vtx(t("supplier"), SupplierBase, "s_suppkey", "supplier", "s_name"))
        .union(vtx(t("part"), PartBase, "p_partkey", "part", "p_name"))

    def edge(df: DataFrame, sBase: Long, sKey: String, dBase: Long, dKey: String, label: String) =
      df.select((lit(sBase) + col(sKey).cast("long")).as("src"),
        (lit(dBase) + col(dKey).cast("long")).as("dst"), lit(label).as("label"))

    val custNation = edge(t("customer"), CustomerBase, "c_custkey", NationBase, "c_nationkey", "in_nation")
    val suppNation = edge(t("supplier"), SupplierBase, "s_suppkey", NationBase, "s_nationkey", "in_nation")
    val nationRegion = edge(t("nation"), NationBase, "n_nationkey", RegionBase, "n_regionkey", "in_region")
    // The two fact-derived edge sets (the only expensive part of the build:
    // an orders⋈lineitem join + two lineitem-sized distinct shuffles) go
    // through the fingerprint-validated disk cache — the FIRST graph query
    // of a fresh session reads one pre-deduped parquet instead of repaying
    // the build (VERDICT r11 #3: sf1 first-graph-query cold was paying
    // ~18 s of this). Dimension edges are plain column-pruned scans and
    // stay live.
    val factEdges = CacheDirs.cachedParquet(spark, "graph", sfDir, "fact_edges") {
      // customer —ordered→ part, via orders ⋈ lineitem; dedup on (src,dst,label)
      t("orders").join(t("lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((lit(CustomerBase) + col("o_custkey")).as("src"),
          (lit(PartBase) + col("l_partkey")).as("dst"), lit("ordered").as("label"))
        .distinct()
        .union(t("lineitem")
          .select((lit(SupplierBase) + col("l_suppkey")).as("src"),
            (lit(PartBase) + col("l_partkey")).as("dst"), lit("supplies").as("label"))
          .distinct())
    }

    val edges = custNation.union(suppNation).union(nationRegion).union(factEdges)

    // Storage policy: the default deserialized persist is the right call
    // up to sf10, but at 1.2B edges its spill alone exceeds the sandbox
    // disk (the r14 sf100 session died mid-persist-fill before any
    // operator could intervene) — and the frames are materialization-
    // stable WITHOUT it (dimension edges are pruned scans, fact edges a
    // committed CacheDirs parquet), so "none" trades re-scan cost for
    // zero storage footprint and "disk" keeps a serialized-compressed
    // copy. The engine now CHOOSES per dataset (VERDICT r14 #4) from the
    // fact-edge parquet's on-disk size vs the JVM's storage share and the
    // shuffle dir's free space — the storage-fraction sizing decision a
    // cluster deployment makes, made automatic.
    val policy = storagePolicy(spark, sfDir, "fact_edges")
    policy match {
      case "none" => G(vertices, edges)
      case "disk" => G(vertices.persist(StorageLevel.DISK_ONLY),
        edges.persist(StorageLevel.DISK_ONLY))
      case _ => G(vertices.persist(StorageLevel.MEMORY_AND_DISK),
        edges.persist(StorageLevel.MEMORY_AND_DISK))
    }
  }

  /** The storage-level decision for a CacheDirs-backed frame:
    * [[choosePolicy]] sized from the named entry's on-disk bytes. Shared
    * by the graph frames and the undirected adjacency so the two cannot
    * drift to different policies on one dataset.
    */
  def storagePolicy(spark: SparkSession, sfDir: String, entry: String): String = {
    val p = choosePolicy(CacheDirs.entryBytes("graph", sfDir, entry),
      (Runtime.getRuntime.maxMemory * StorageMemShare).toLong,
      shuffleDirUsableBytes(spark))
    // one WARN-visible line per decision: a probe/bench log must show
    // WHICH level the auto-policy picked (a "none" session and a
    // "default" session read identically otherwise)
    System.err.println(s"[graft] storage policy for $entry: $p")
    p
  }

  /** Approximate share of the JVM heap available to BLOCK STORAGE under
    * the unified memory manager: `spark.memory.fraction` (0.6) of
    * usable heap, of which storage can claim about half without being
    * evicted by execution — ~0.3 of max heap. Deliberately conservative:
    * over-claiming re-creates the r13 incident (8 GiB-heap Bench runs
    * evicting persisted frames and reading a stable 2× slow).
    */
  val StorageMemShare: Double = 0.3

  /** Columnar-cache expansion over the parquet bytes it was scanned from
    * (snappy parquet → CachedBatch columnar), plus the transient shuffle/
    * spill alongside a persist fill. Sized from the r14 sf100 incident:
    * a 14 GB fact parquet died filling both MEMORY_AND_DISK and DISK_ONLY
    * on a 45 GB-free disk — an effective footprint ≥ ~3× parquet bytes.
    */
  val CacheExpansion: Double = 3.0

  /** Pure policy decision, unit-tested in DerivedGraphPolicySpec:
    *  - cached columnar frame fits the storage share → `default`
    *    (MEMORY_AND_DISK, today's sf0.001–sf10 behavior);
    *  - doesn't fit memory but fits HALF the free shuffle disk (headroom
    *    for the shuffles running beside it) → `disk` (DISK_ONLY);
    *  - else → `none`: re-scan the committed parquet per consumer rather
    *    than die mid-persist-fill.
    * `factEdgeParquetBytes` is read AFTER the cachedParquet call
    * materialized the entry, so it is the entry's real size by the time
    * the policy is chosen.
    */
  def choosePolicy(factEdgeParquetBytes: Long, storageMemBytes: Long,
      freeDiskBytes: Long): String = {
    val est = (factEdgeParquetBytes * CacheExpansion).toLong
    if (est <= storageMemBytes) "default"
    else if (est * 2 <= freeDiskBytes) "disk"
    else "none"
  }

  /** Usable bytes on the first shuffle-local dir (where persist spill and
    * DISK_ONLY blocks land).
    */
  private def shuffleDirUsableBytes(spark: SparkSession): Long = {
    val dir = spark.conf.getOption("spark.local.dir")
      .map(_.split(",")(0))
      .getOrElse(System.getProperty("java.io.tmpdir"))
    try new java.io.File(dir).getUsableSpace
    catch { case _: Exception => Long.MaxValue }
  }

  /** Undirected view: each edge emitted in both directions. The reference
    * stores direction but traverses undirected (the `\$or` over both
    * endpoints, mongraph.py:236-241). One stored copy, exploded on read —
    * avoids 2× storage at scale.
    */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))

  /** The affiliation subgraph (customer/supplier—nation—region) that
    * graph_lpa and graph_modularity propagate labels over.
    */
  def memberEdges(g: G): DataFrame =
    g.edges.filter(col("label").isin("in_nation", "in_region")).select("src", "dst")

  /** Bucket count and version token of the materialized undirected
    * adjacency ([[undAdjacency]]). 256 directories keeps per-bucket files
    * ≥ tens of MB at the probe SFs while giving depth-1/2 frontiers a
    * ≤ 1/256 pruned read.
    */
  val AdjBuckets: Int = 256
  val UndAdjVersion: String = "v1"

  /** The undirected adjacency with its source-endpoint bucket column —
    * `bk = pmod(a, buckets)` — so traversals can prune both the DIRECTORY
    * set (partition pruning on `bk`) and, per bucket, the row groups.
    *
    * Two views of the SAME rows, chosen per hop by how much of the
    * adjacency the frontier touches: `byBucket` is the raw partitioned
    * parquet read (a `bk IN (...)` filter prunes directories and computes
    * nothing else — a narrow hop must not fill a 2|E|-row cache), `full`
    * is the policy-persisted frame for hops that span every bucket (the
    * columnar cache beats repeated whole-copy parquet decode ~2× where it
    * fits; under policy "none" it IS `byBucket`). `policy` records WHICH
    * storage decision built `full`, because the pruned-vs-full break-even
    * depends on what a full read costs under that policy (Traverse's span
    * cutoff is policy-dependent — VERDICT r15 #4). `bytes` is the entry's
    * on-disk parquet size: below ~64 MB the pruned path's per-FILE open
    * cost dominates the per-byte decode the cutoff models, so Traverse
    * additionally caps the pruned span on tiny adjacencies (the r16 bench
    * adjudication: ego_subgraph aged +0.43 s at sf0.1 from 100+-directory
    * "pruned" reads of KB-sized files).
    */
  final case class Adj(full: DataFrame, byBucket: DataFrame, buckets: Int,
      policy: String = "default", bytes: Long = Long.MaxValue) {

    /** Rows per bucket, summed from the parquet footers of `byBucket`'s
      * files (no Spark job) on first use; None unless `byBucket` is a
      * `bk=`-partitioned parquet scan. Traverse bounds a hop's read by it.
      */
    lazy val bucketRows: Option[Array[Long]] = footerRowsByBucket(byBucket, buckets)
  }

  private def footerRowsByBucket(df: DataFrame, buckets: Int): Option[Array[Long]] = {
    val BucketFile = """.*/bk=(\d+)/[^/]+\.parquet""".r
    val files = df.inputFiles
    val rows = new Array[Long](buckets)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val all = files.nonEmpty && files.forall {
      case f @ BucketFile(b) if b.toInt < buckets =>
        rows(b.toInt) += Tables.parquetFileRows(conf, new java.net.URI(f))
        true
      case _ => false
    }
    if (all) Some(rows) else None
  }

  /** Materialized undirected adjacency, hive-partitioned by source-vertex
    * bucket (VERDICT r14 #1: the ego/k-hop frontier hops re-scanned the
    * whole fact-edge parquet once per hop at sf100 under storage=none —
    * 25.6×/decade). Written ONCE per dataset through CacheDirs; each hop
    * then reads only the `bk` directories its frontier actually touches
    * (a depth-1/2 frontier reads ≤ a few of the [[AdjBuckets]]
    * directories), falling back to a full — but label-pruned,
    * single-copy — scan when the frontier spans every bucket.
    *
    * The build's one 2|E|-row exchange (`repartition` on `bk`, one output
    * file per bucket) is a once-per-dataset cost, the same discipline as
    * the fact-edge/LPA-und parquets; every later session at any depth
    * serves pruned scans from it.
    */
  private val adjCache = new SessionCache[String, Adj]

  def undAdjacency(spark: SparkSession, sfDir: String): Adj =
    adjCache.getOrElseUpdate(spark, sfDir) {
      val entry = s"und_adj_b${AdjBuckets}_$UndAdjVersion"
      val raw = CacheDirs.cachedParquet(spark, "graph", sfDir, entry, Seq("bk")) {
        undirected(apply(spark, sfDir).edges)
          .withColumn("bk", pmod(col("a"), lit(AdjBuckets.toLong)).cast("int"))
          .repartition(AdjBuckets, col("bk"))
          .sortWithinPartitions("a", "b")
      }
      // Same storage decision as the graph frames, sized from THIS entry's
      // bytes: a depth-4 traversal re-reads the whole adjacency up to k
      // times per query, and at the SFs where it fits the storage share
      // the columnar cache beats per-hop parquet decode ~2× (r15 sf10
      // probe: 25.1 s parquet-only vs 12.6 s persisted). Where it does not
      // fit ("none", the sf100 tier), full hops fall back to the parquet
      // copy — the whole point of the materialized adjacency.
      //
      // The persisted plan MUST NOT be structurally equal to `raw`:
      // CacheManager substitutes the InMemoryRelation into ANY
      // canonically-matching subtree, so persisting `raw` itself routes
      // the bucket-pruned hops through the cache too — the first NARROW
      // hop then pays the whole 2|E|-row fill (measured 94 s of khop_2's
      // sf10 cold) and partition pruning is dead. The vacuous `bk >= 0`
      // filter (pmod is non-negative) keeps the cached plan semantically
      // identical but canonically distinct, so `byBucket` reads keep
      // hitting the partitioned parquet.
      val policy = storagePolicy(spark, sfDir, entry)
      val full = policy match {
        case "none" => raw
        case "disk" => raw.filter(col("bk") >= 0).persist(StorageLevel.DISK_ONLY)
        case _ => raw.filter(col("bk") >= 0).persist(StorageLevel.MEMORY_AND_DISK)
      }
      Adj(full, raw, AdjBuckets, policy,
        CacheDirs.entryBytes("graph", sfDir, entry))
    }
}

/** The same derived graph expressed as DuckDB SQL fragments, interpolated
  * into oracle queries so the t2 gate can verify graph operators as plain
  * joins over the base tables.
  */
object DerivedGraphSql {
  val vertices: String =
    """SELECT CAST(1000000000 AS BIGINT)+r_regionkey AS id, 'region' AS label, r_name AS name FROM region
      | UNION ALL SELECT CAST(2000000000 AS BIGINT)+n_nationkey, 'nation', n_name FROM nation
      | UNION ALL SELECT CAST(3000000000 AS BIGINT)+c_custkey, 'customer', c_name FROM customer
      | UNION ALL SELECT CAST(4000000000 AS BIGINT)+s_suppkey, 'supplier', s_name FROM supplier
      | UNION ALL SELECT CAST(5000000000 AS BIGINT)+p_partkey, 'part', p_name FROM part""".stripMargin

  val edges: String =
    """SELECT CAST(3000000000 AS BIGINT)+c_custkey AS src, CAST(2000000000 AS BIGINT)+c_nationkey AS dst, 'in_nation' AS label FROM customer
      | UNION ALL SELECT CAST(4000000000 AS BIGINT)+s_suppkey, CAST(2000000000 AS BIGINT)+s_nationkey, 'in_nation' FROM supplier
      | UNION ALL SELECT CAST(2000000000 AS BIGINT)+n_nationkey, CAST(1000000000 AS BIGINT)+n_regionkey, 'in_region' FROM nation
      | UNION ALL SELECT DISTINCT CAST(3000000000 AS BIGINT)+o_custkey, CAST(5000000000 AS BIGINT)+l_partkey, 'ordered' FROM orders JOIN lineitem ON o_orderkey=l_orderkey
      | UNION ALL SELECT DISTINCT CAST(4000000000 AS BIGINT)+l_suppkey, CAST(5000000000 AS BIGINT)+l_partkey, 'supplies' FROM lineitem""".stripMargin

  /** WITH-clause prefix providing `v`, `e`, `und` (undirected edge view). */
  val cte: String =
    s"""WITH v AS ($vertices),
       | e AS ($edges),
       | und AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e)""".stripMargin
}
