package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Graph analytics over the vertex/edge DataFrames (SURVEY.md §1.2).
  *
  * The iterations — [[pageRankDF]], [[personalizedPageRankDF]],
  * [[eigenvectorDF]], [[hitsDF]], [[lpaDF]], [[connectedComponents]],
  * [[kCoreDF]], [[modularityDF]] and the landmark passes of
  * [[landmarkBfs]] and [[stressCentralityDF]] — run on one block
  * superstep kernel (Pregelix's vertex⋈message join plus group-by, as a
  * co-partitioned RDD lineage, so Catalyst and AQE never see a round).
  * The static edges are shuffled once on their sending endpoint into one
  * primitive-array adjacency block per partition (a [[Topology]]); the
  * vertex state is one block per partition under the same partitioning.
  * A session holds one topology per view of the derived graph, so a call
  * moves only messages; the DataFrame entry points build one for the
  * call. A round zips the state with the topology, combines the messages
  * map-side into a primitive map and ships one record per receiving
  * partition: one shuffle stage, no job. A renormalizing total is
  * computed inside the lineage too, Pregelix's in-dataflow aggregator:
  * p² partials shuffled all-to-all in one stage ([[renormalized]]), so
  * the eigenvector, HITS and PageRank ladders run in their caller's job.
  * A frame sorted on a vertex id (k-core, LPA, modularity) ends in one
  * range-routing stage and declares that layout ([[rangeFrame]]), so its
  * `orderBy` plans no exchange and no sort. [[Exact]], [[DSum6]] and
  * [[ProductSum]] replicate Spark's arithmetic, so the rows are the ones
  * the DuckDB replays compute.
  *
  * Triangles are enumerated by a degree-ordered DataFrame join
  * ([[triangleListDF]]): GraphX's `TriangleCount` materializes per-vertex
  * neighbour hash sets (memory ∝ Σdeg² on hubs), while the oriented wedge
  * join keeps everything in Tungsten rows with AQE handling skew.
  */
object GraphAnalytics {

  /** Largest peel fringe (rows) [[kTrussDF]] will broadcast to the three
    * per-round triangle-kill joins. ~500k (a,b) long pairs ≈ 25 MB packed
    * — comfortably inside a 1 GiB-driver budget; a larger fringe (a mass
    * first-round peel on a sparse graph) falls back to AQE's shuffle
    * join, which at that size is the right plan anyway.
    */
  final val MaxBroadcastFringe = 500000L

  /** Fringe size below which a k-truss peel round ALWAYS skips bulk-frame
    * materialization and runs as lazy broadcast-probe chains (see the
    * round body in [[kTrussDF]]). The effective lazy gate is RELATIVE —
    * `max(MaxLazyFringe, |E|/20)` — because an absolute cut reclassifies
    * rounds as the graph scales: at sf10 (120M canonical edges, 110M
    * triangles) rounds removing 168k/66k edges fell off a 20k gate and
    * each paid a |T|-row checkpoint write, turning the measured decade
    * ratio from ~10x into 14.7x. Relative to |E| the same rounds are the
    * same tail on every decade.
    */
  final val MaxLazyFringe = 20000L

  /** Ceiling (rows) on the CUMULATIVE lazy-tail broadcast state in
    * [[kTrussDF]] — both the folded removed-edge set and the folded
    * support-charge table are re-broadcast every lazy round, so a long
    * mid-size tail must eventually re-base to fresh checkpoints instead
    * of growing the broadcasts without bound. 2M (a,b[,dec]) rows ≈
    * 50 MB — an intentional factor above [[MaxBroadcastFringe]] since
    * these accumulate across rounds.
    */
  final val MaxCumLazyRows = 2000000L

  /** Materialize the session-shared derived graph and build its held
    * [[undirectedView]] with its |V| and frame bounds; the other views are
    * built by their first consumer.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    graft.model.DerivedGraph.warm(spark, sfDir)
    undirectedView(spark, sfDir).nV
    ()
  }

  /** Fixed-point units per rank of the PageRank and renormalized
    * ladders. PageRank divides by out-degree, so its messages need the
    * finer scale; the renormalized ladders send whole values and keep
    * 1000× more headroom.
    */
  private final val RankUnit = 1000000000L
  private final val RenormUnit = 1000000L

  /** Width of an iteration over |E| edges: ~4M per partition, floored at
    * the session's parallelism.
    */
  private def widthFor(sc: org.apache.spark.SparkContext, rows: Long): Int =
    math.max(sc.defaultParallelism.toLong, rows / 4000000L + 1L).toInt

  /** Spark's (ANSI-mode) arithmetic on the family's ladders, replicated on
    * primitives so the block kernel's values are bit-equal to the SQL
    * expressions the DuckDB replays mirror.
    */
  private[graft] object Exact {

    /** `round(x, 6)` on DOUBLE: the shortest decimal string of `x`,
      * rounded HALF_UP; NaN and ±Inf pass through.
      */
    def round6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue

    /** `floor(x)` on DOUBLE, a BIGINT. */
    def floor(x: Double): Long = math.floor(x).toLong

    /** The unscaled value of `CAST(x AS DECIMAL(18,6))` for a finite `x`;
      * fails where that cast fails (|x| ≥ 10¹² after rounding).
      */
    def units6(x: Double): Long = {
      val d = java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      if (d.precision > 18) throw new ArithmeticException(s"$x overflows DECIMAL(18,6)")
      d.unscaledValue.longValue
    }
  }

  /** [[graft.Qh.dsum]] at scale 6: the exact sum of [[Exact.units6]]
    * values, kept in a long that spills into a BigInteger (the DECIMAL sum
    * is 28 digits wide). NaN and ±Inf cast to NULL, which the sum skips.
    */
  private[graft] final class DSum6 extends Serializable {
    private var lo = 0L
    private var hi = java.math.BigInteger.ZERO
    def add(x: Double): this.type =
      if (x.isNaN || x.isInfinite) this else addUnits(Exact.units6(x))
    private def addUnits(u: Long): this.type = {
      val s = lo + u
      if (((lo ^ s) & (u ^ s)) < 0) { hi = hi.add(java.math.BigInteger.valueOf(lo)); lo = u }
      else lo = s
      this
    }
    def merge(o: DSum6): this.type = { hi = hi.add(o.hi); addUnits(o.lo) }
    def toDouble: Double =
      new java.math.BigDecimal(hi.add(java.math.BigInteger.valueOf(lo)), 6).doubleValue
  }

  /** `CAST(SUM(CAST(σ AS DECIMAL(38,0)) * h) AS BIGINT)` on longs: every
    * product is exact (|σ·h| < 2¹²⁶ fits DECIMAL(38,0)), the sum is kept
    * in a long that spills into a BigInteger, and [[toLong]] fails where
    * the cast fails. A sum past DECIMAL(38,0) is past BIGINT too, so it
    * fails as well; partial sums of one sign never overflow earlier.
    */
  private[graft] final class ProductSum {
    private var lo = 0L
    private var hi = java.math.BigInteger.ZERO
    def add(a: Long, b: Long): this.type = {
      val p = a * b
      if (Math.multiplyHigh(a, b) != (p >> 63))
        hi = hi.add(java.math.BigInteger.valueOf(a).multiply(java.math.BigInteger.valueOf(b)))
      else {
        val s = lo + p
        if (((lo ^ s) & (p ^ s)) < 0) { hi = hi.add(java.math.BigInteger.valueOf(lo)); lo = p }
        else lo = s
      }
      this
    }
    def toLong: Long = hi.add(java.math.BigInteger.valueOf(lo)).longValueExact
  }

  /** Combining modes of [[LongMap]]. */
  private final val Sum = 0
  private final val Or = 1
  private final val Put = 2
  private final val Min = 3

  /** Keys, optional second keys and values in parallel primitive arrays:
    * one shuffle record of the block kernel. An edge record has `k2` (the
    * receivers) and no `v`.
    */
  private final class Keyed(val k1: Array[Long], val k2: Array[Long], val v: Array[Long])
      extends Serializable

  /** Open-addressing map from a long key (or key pair) to a long that
    * combines by ANSI-checked [[Sum]], bitwise [[Or]], [[Put]] or [[Min]].
    */
  private final class LongMap(pairs: Boolean, mode: Int) {
    private var mask = 15
    private var k1 = new Array[Long](16)
    private var k2 = new Array[Long](if (pairs) 16 else 0)
    private var v = new Array[Long](16)
    private var used = new Array[Boolean](16)
    var size = 0

    private def find(a: Long, b: Long): Int = {
      var h = a * 0x9E3779B97F4A7C15L
      if (pairs) h = (h ^ b) * 0x9E3779B97F4A7C15L
      var i = (h ^ (h >>> 32)).toInt & mask
      while (used(i) && (k1(i) != a || (pairs && k2(i) != b))) i = (i + 1) & mask
      i
    }

    def add(a: Long, b: Long, x: Long): Unit = {
      val i = find(a, b)
      if (used(i)) v(i) = mode match {
        case Sum => Math.addExact(v(i), x)
        case Or => v(i) | x
        case Min => math.min(v(i), x)
        case _ => x
      } else {
        used(i) = true; k1(i) = a; if (pairs) k2(i) = b; v(i) = x
        size += 1
        if (size * 2 > mask) grow()
      }
    }

    def addAll(r: Keyed): Unit = {
      var i = 0
      while (i < r.k1.length) { add(r.k1(i), if (pairs) r.k2(i) else 0L, r.v(i)); i += 1 }
    }

    def get(a: Long, default: Long): Long = get(a, 0L, default)

    def get(a: Long, b: Long, default: Long): Long = {
      val i = find(a, b)
      if (used(i)) v(i) else default
    }

    def toKeyed: Keyed = {
      val (o1, o2, ov) = (new Array[Long](size), new Array[Long](if (pairs) size else 0),
        new Array[Long](size))
      var n = 0
      for (i <- used.indices if used(i)) {
        o1(n) = k1(i); if (pairs) o2(n) = k2(i); ov(n) = v(i); n += 1
      }
      new Keyed(o1, if (pairs) o2 else null, ov)
    }

    /** [[toKeyed]], sorted by key unless keyed by pairs: sorted ids
      * compress better in a shuffle.
      */
    def shippable: Keyed = if (pairs) toKeyed else {
      val ks = toKeyed.k1; java.util.Arrays.sort(ks); new Keyed(ks, null, ks.map(get(_, 0L)))
    }

    private def grow(): Unit = {
      val old = toKeyed
      mask = mask * 2 + 1
      k1 = new Array[Long](mask + 1); if (pairs) k2 = new Array[Long](mask + 1)
      v = new Array[Long](mask + 1); used = new Array[Boolean](mask + 1)
      size = 0
      addAll(old)
    }
  }

  /** A growable long array. */
  private final class LongBuf {
    private var a = new Array[Long](16)
    var size = 0
    def +=(x: Long): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
      a(size) = x; size += 1
    }
    def ++=(xs: Array[Long]): Unit = xs.foreach(+=)
    def result: Array[Long] = java.util.Arrays.copyOf(a, size)
  }

  /** The kernel's one vertex-id partitioning, shared by every block. */
  private def partOf(id: Long, p: Int): Int = {
    val h = id * 0x9E3779B97F4A7C15L
    Math.floorMod((h ^ (h >>> 32)).toInt, p)
  }

  /** Routes a record keyed by its target partition to that partition. */
  private final class ToPartition(val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case t: ToPartition => t.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  private def shipped(maps: Array[LongMap]): Iterator[(Int, Keyed)] =
    maps.indices.iterator.filter(maps(_).size > 0).map(i => (i, maps(i).shippable))

  /** The map side of a round in partition `t`: each sender `ids(i)` with
    * out-edges sends `value(i, outdeg)` to every out-neighbour, keyed
    * (neighbour, `k2(i)`) when `pairs`, combined per key by `mode` into
    * one record per receiving partition.
    */
  private def send(t: Topo, ids: Array[Long], p: Int, pairs: Boolean, mode: Int)(k2: Int => Long,
      value: (Int, Int) => Long): Iterator[(Int, Keyed)] = {
    val out = Array.fill(p)(new LongMap(pairs, mode))
    var i = 0
    while (i < ids.length) {
      val j = java.util.Arrays.binarySearch(t.keys, ids(i))
      if (j >= 0) {
        val c = value(i, t.off(j + 1) - t.off(j))
        val b = k2(i)
        var e = t.off(j)
        while (e < t.off(j + 1)) { out(partOf(t.nbrs(e), p)).add(t.nbrs(e), b, c); e += 1 }
      }
      i += 1
    }
    shipped(out)
  }

  /** The receive side of a round: the partition's records combined per key. */
  private def received(records: Iterator[(Int, Keyed)], pairs: Boolean, mode: Int): LongMap = {
    val in = new LongMap(pairs, mode)
    records.foreach(r => in.addAll(r._2))
    in
  }

  /** Flags of the vertex-id map a topology is built from. */
  private final val IsVertex = 1
  private final val HasIn = 2

  /** The static block of one partition: the adjacency keyed by the
    * sending endpoint (sorted senders, CSR offsets, receivers), the
    * sorted vertex ids, and those of them no edge reaches (sorted).
    */
  private final class Topo(val keys: Array[Long], val off: Array[Int], val nbrs: Array[Long],
      val vids: Array[Long], val noIn: Array[Long]) extends Serializable

  /** One partition's state: ids and their values. */
  private final class Vals(val ids: Array[Long], val x: Array[Double]) extends Serializable

  private def buildTopo(records: Iterator[(Int, Keyed)], symmetric: Boolean): Topo = {
    val (from, to) = (new LongBuf, new LongBuf)
    val ids = new LongMap(false, Or)
    records.foreach { case (_, r) =>
      if (r.v == null) { from ++= r.k1; to ++= r.k2 } else ids.addAll(r)
    }
    val (f, t) = (from.result, to.result)
    val keys = {
      val s = f.clone(); java.util.Arrays.sort(s)
      var n = 0
      for (i <- s.indices if i == 0 || s(i) != s(i - 1)) { s(n) = s(i); n += 1 }
      java.util.Arrays.copyOf(s, n)
    }
    val slot = f.map(java.util.Arrays.binarySearch(keys, _))
    val off = new Array[Int](keys.length + 1)
    slot.foreach(k => off(k + 1) += 1)
    for (k <- keys.indices) off(k + 1) += off(k)
    val fill = off.clone()
    val nbrs = new Array[Long](t.length)
    for (i <- t.indices) { nbrs(fill(slot(i))) = t(i); fill(slot(i)) += 1 }
    val all = ids.toKeyed
    val vids = all.k1.indices.filter(i => (all.v(i) & IsVertex) != 0).map(all.k1).toArray
    java.util.Arrays.sort(vids)
    // in a symmetric relation an id has an in-edge exactly when it sends
    val noIn = vids.filter(id =>
      if (symmetric) java.util.Arrays.binarySearch(keys, id) < 0
      else (ids.get(id, 0L) & HasIn) == 0)
    new Topo(keys, off, nbrs, vids, noIn)
  }

  /** The static blocks of the message direction `from` → `to` under the
    * `p`-way [[partOf]] partitioning, persisted: one shuffle of the edges
    * on `from`, of each vertex id and, unless the relation is `symmetric`
    * (both orientations of every edge), of each receiver id. An edge with
    * a null endpoint sends nothing.
    */
  private def staticBlocks(vertices: DataFrame, edges: DataFrame, from: String, to: String,
      p: Int, symmetric: Boolean): RDD[Topo] = {
    val fromEdges = edges.select(col(from).cast("long"), col(to).cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val pairs = Array.fill(p)((new LongBuf, new LongBuf))
        val recv = Array.fill(if (symmetric) 0 else p)(new LongMap(false, Or))
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val (a, b) = (r.getLong(0), r.getLong(1))
            val (fa, ta) = pairs(partOf(a, p))
            fa += a; ta += b
            if (!symmetric) recv(partOf(b, p)).add(b, 0L, HasIn)
          }
        }
        pairs.indices.iterator.filter(pairs(_)._1.size > 0)
          .map(i => (i, new Keyed(pairs(i)._1.result, pairs(i)._2.result, null))) ++
          shipped(recv)
      }
    fromEdges.union(idRecords(vertices, p, IsVertex)).partitionBy(new ToPartition(p))
      .mapPartitions(r => Iterator(buildTopo(r, symmetric)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The non-null `id`s of `df`, each flagged `flag`, as one record per
    * target partition.
    */
  private def idRecords(df: DataFrame, p: Int, flag: Int): RDD[(Int, Keyed)] =
    df.select(col("id").cast("long")).queryExecution.toRdd.mapPartitions { rows =>
      val ids = Array.fill(p)(new LongMap(false, Or))
      for (r <- rows if !r.isNullAt(0)) ids(partOf(r.getLong(0), p)).add(r.getLong(0), 0L, flag)
      shipped(ids)
    }

  /** |V| and the upper bounds of the key ranges of a frame sorted on a
    * vertex id: partition i of such a frame holds the keys in
    * (bounds(i − 1), bounds(i)].
    */
  private final class Layout(val nV: Long, val bounds: Array[Long]) extends Serializable {
    def rangeOf(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(bounds, id)
      if (i >= 0) i else -i - 1
    }
  }

  /** Ids [[layoutOf]] samples per partition, per range. */
  private final val SamplesPerRange = 20

  /** The distinct ids of two sorted arrays of distinct ids, sorted. */
  private def sortedUnion(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new LongBuf
    var (i, j) = (0, 0)
    while (i < a.length || j < b.length)
      if (j == b.length || (i < a.length && a(i) < b(j))) { out += a(i); i += 1 }
      else { if (i < a.length && a(i) == b(j)) i += 1; out += b(j); j += 1 }
    out.result
  }

  /** The [[Layout]] of `blocks`, in one job: each partition counts its
    * vertex ids and samples its sorted vertex and sender ids evenly, and
    * Spark's range partitioner cuts the samples, each weighted by the ids
    * it stands for, into `p` ranges of near-equal weight.
    */
  private def layoutOf(blocks: RDD[Topo], p: Int): Layout = {
    val parts = blocks.map { b =>
      val ids = sortedUnion(b.vids, b.keys)
      val k = math.min(ids.length, SamplesPerRange * p)
      (b.vids.length.toLong, (ids.length.toDouble / math.max(k, 1)).toFloat,
        Array.tabulate(k)(i => ids((i.toLong * ids.length / k).toInt)))
    }.collect()
    new Layout(parts.map(_._1).sum, org.apache.spark.sql.GraftShim.rangeBounds(
      parts.flatMap { case (_, w, s) => s.map((_, w)) }, p))
  }

  /** The persisted static blocks of one message direction over one vertex
    * set, their width `p` and the number of edge rows they were built from
    * (`nE`, null endpoints included). A session holds one per view of the
    * derived graph ([[undirectedView]], [[directedView]],
    * [[reversedView]], [[memberView]]); each DataFrame entry point builds
    * its own and releases it before it returns.
    */
  final class Topology private[GraphAnalytics] (private[GraphAnalytics] val spark: SparkSession,
      val p: Int, private[GraphAnalytics] val blocks: RDD[Topo], val nE: Long,
      measure: => Layout) {

    /** |V| and the frame bounds: one job, run by the first reader. */
    private[GraphAnalytics] lazy val layout: Layout = measure

    def nV: Long = layout.nV

    /** The id `SparkContext.getPersistentRDDs` lists the blocks under. */
    private[graft] def rddId: Int = blocks.id

    private[graft] def release(): Unit = { blocks.unpersist(blocking = false); () }
  }

  /** The topologies of the message directions `dirs` over one vertex set:
    * one edge count sizes them all (so they zip), and each builds in its
    * first consumer's job. Every direction carries the same vertex blocks,
    * so the first one's [[Layout]] serves all. `symmetric` marks an edge
    * relation holding both orientations of every edge.
    */
  private def topologies(vertices: DataFrame, edges: DataFrame, dirs: Seq[(String, String)],
      symmetric: Boolean): Seq[Topology] = {
    // a row count of the column-free projection: one job, no aggregate
    val nE = edges.select().queryExecution.toRdd.count()
    val p = widthFor(edges.sparkSession.sparkContext, nE)
    val bs = dirs.map { case (from, to) => staticBlocks(vertices, edges, from, to, p, symmetric) }
    lazy val layout = layoutOf(bs.head, p)
    bs.map(new Topology(vertices.sparkSession, p, _, nE, layout))
  }

  /** The topology of the (src, dst) edges src → dst or, when `symmetric`,
    * of an undirected (a, b) view holding both orientations of every edge
    * (e.g. [[graft.model.DerivedGraph.undirected]]), a → b.
    */
  private def topology(vertices: DataFrame, edges: DataFrame, symmetric: Boolean): Topology =
    topologies(vertices, edges, Seq(if (symmetric) "a" -> "b" else "src" -> "dst"), symmetric).head

  /** `body` over `t`, a topology built for this call and released when it
    * returns; the rows the caller reads later recompute from the shuffle
    * outputs.
    */
  private def perCall[T](t: Topology)(body: Topology => T): T =
    try body(t) finally t.release()

  /** [[perCall]] for a frame of rounds that end in a shuffle whose receive
    * side reads no block of `t`: the frame's stages run while `t` is held
    * (one job), so a later read only reduces that shuffle's output.
    * Read after the release, each stage would rebuild `t` from its shuffle.
    */
  private def perCallFrame(t: Topology)(body: Topology => DataFrame): DataFrame =
    perCall(t) { t => val df = body(t); df.queryExecution.toRdd.count(); df }

  /** The derived-graph views a session holds, keyed (sfDir, view), each
    * built by its first consumer and kept while the SparkContext lives.
    */
  private val views = new graft.model.SessionCache[(String, String), Topology]

  private def held(spark: SparkSession, sfDir: String, view: String)(
      build: graft.model.DerivedGraph.G => Topology): Topology =
    views.getOrElseUpdate(spark, (sfDir, view))(build(graft.model.DerivedGraph(spark, sfDir)))

  /** Both orientations of every derived-graph edge: the view of the
    * landmark BFS, graph_stress, graph_cc, graph_eigenvector and
    * graph_kcore. [[warm]] builds it.
    */
  def undirectedView(spark: SparkSession, sfDir: String): Topology =
    held(spark, sfDir, "undirected")(g =>
      topology(g.vertices, graft.model.DerivedGraph.undirected(g.edges), symmetric = true))

  /** The derived-graph edges src → dst: pagerank, PPR and HITS forward. */
  def directedView(spark: SparkSession, sfDir: String): Topology =
    held(spark, sfDir, "directed")(g => topology(g.vertices, g.edges, symmetric = false))

  /** dst → src at [[directedView]]'s width, built in the job of its first
    * consumer (HITS backward).
    */
  def reversedView(spark: SparkSession, sfDir: String): Topology =
    held(spark, sfDir, "reversed") { g =>
      val d = directedView(spark, sfDir)
      new Topology(spark, d.p, staticBlocks(g.vertices, g.edges, "dst", "src", d.p, false), d.nE,
        d.layout)
    }

  /** The undirected affiliation subgraph over the vertices that are not
    * parts: graph_lpa and graph_modularity. Its `nE` is twice the member
    * edge count.
    */
  def memberView(spark: SparkSession, sfDir: String): Topology =
    held(spark, sfDir, "members")(g =>
      topology(g.vertices.filter(col("label") =!= "part").select("id"),
        graft.model.DerivedGraph.undirected(graft.model.DerivedGraph.memberEdges(g)), true))

  /** The per-call blocks of one operator call: [[hold]] persists one,
    * [[release]] unpersists them; a topology's blocks are never among them.
    */
  private final class Kernel {
    private val held = scala.collection.mutable.ArrayBuffer[RDD[_]]()

    def hold[T](rdd: RDD[T]): RDD[T] = { held += rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd }

    /** Unpersist every held block not in `keep`. */
    def release(keep: RDD[_]*): Unit = {
      val (kept, gone) = held.partition(r => keep.exists(_ eq r))
      gone.foreach(_.unpersist(blocking = false))
      held.clear(); held ++= kept
    }
  }

  private def headroom(t: Topology, unit: Long, op: String): Unit =
    require(t.nV < Long.MaxValue / unit,
      s"$op: |V|=${t.nV} exceeds the fixed-point headroom of $unit units per rank " +
        "(long message sums could overflow); reduce the scale factor")

  /** |V| as the kernel counts it for the message directions `dirs`. */
  private[graft] def kernelVertexCount(vertices: DataFrame, edges: DataFrame,
      dirs: Seq[(String, String)]): Long =
    topologies(vertices, edges, dirs, symmetric = false).map(perCall(_)(_.nV)).head

  private def initial(t: Topology, x: Double): RDD[Vals] =
    t.blocks.map(b => new Vals(b.vids, Array.fill(b.vids.length)(x)))

  /** The sorted seed ids of each partition of `t`: one shuffle of the ids
    * of `seeds` only.
    */
  private def seedBlocks(t: Topology, seeds: DataFrame): RDD[Array[Long]] =
    idRecords(seeds, t.p, 0).partitionBy(new ToPartition(t.p)).mapPartitions(r =>
      Iterator(received(r, pairs = false, Or).shippable.k1), preservesPartitioning = true)

  /** No seeds: an empty seed block per partition of `t`. */
  private def noSeeds(t: Topology): RDD[Array[Long]] = t.blocks.map(_ => Array.emptyLongArray)

  /** The messages of one round: `out` sends from each partition's
    * topology block and state, and the records shuffle to their receiving
    * partitions. The caller zips them with what its receive side reads.
    */
  private def messages[S: scala.reflect.ClassTag](t: Topology, state: RDD[S])(
      out: (Topo, S) => Iterator[(Int, Keyed)]): RDD[(Int, Keyed)] =
    t.blocks.zipPartitions(state)((ti, si) => out(ti.next(), si.next()))
      .partitionBy(new ToPartition(t.p))

  /** [[messages]] with each partition's state block shipped to itself as
    * well: the receive side ([[split]]) reads the previous state from the
    * same shuffle, so the rounds form one linear lineage that needs no
    * held block and no job.
    */
  private def carried[S <: AnyRef : scala.reflect.ClassTag](t: Topology, state: RDD[S])(
      out: (Topo, S) => Iterator[(Int, Keyed)]): RDD[(Int, AnyRef)] =
    t.blocks.zipPartitions(state) { (ti, si) =>
      val s = si.next()
      out(ti.next(), s) ++ Iterator((org.apache.spark.TaskContext.getPartitionId(), s))
    }.partitionBy(new ToPartition(t.p))

  /** The receive side of a [[carried]] round: the state block, and the
    * messages combined per key.
    */
  private def split[S](records: Iterator[(Int, AnyRef)], pairs: Boolean, mode: Int)
      : (S, LongMap) = {
    val in = new LongMap(pairs, mode)
    var state: Any = null
    records.foreach {
      case (_, k: Keyed) => in.addAll(k)
      case (_, s) => state = s
    }
    (state.asInstanceOf[S], in)
  }

  /** One superstep of the double-valued ladders: each state row sends
    * `units(x, outdeg)` to every out-neighbour, summed per receiver on the
    * map side into one record per receiving partition; the receiving
    * partition sums them exactly (integer addition commutes, so the sum is
    * order- and partitioning-independent) and gives each receiver
    * `recv(isSeed, sum)` and each vertex no edge reaches `none(isSeed)`.
    */
  private def superstep(t: Topology, state: RDD[Vals], seeds: RDD[Array[Long]])(
      units: (Double, Int) => Long)(recv: (Boolean, Long) => Double,
      none: Boolean => Double): RDD[Vals] = {
    val p = t.p
    messages(t, state)((b, s) =>
      send(b, s.ids, p, pairs = false, Sum)(_ => 0L, (i, deg) => units(s.x(i), deg))
    ).zipPartitions(t.blocks, seeds) { (mi, ti, si) =>
      val (b, seed) = (ti.next(), si.next())
      def isSeed(id: Long) = java.util.Arrays.binarySearch(seed, id) >= 0
      val m = received(mi, pairs = false, Sum).toKeyed
      val n = m.k1.length
      val ids = java.util.Arrays.copyOf(m.k1, n + b.noIn.length)
      System.arraycopy(b.noIn, 0, ids, n, b.noIn.length)
      Iterator(new Vals(ids, Array.tabulate(ids.length)(i =>
        if (i < n) recv(isSeed(ids(i)), m.v(i)) else none(isSeed(ids(i))))))
    }
  }

  /** A partition's partial of [[renormalized]]'s total and row count, and
    * to its own partition its state block too.
    */
  private final class Partial(val block: Vals, val sum: DSum6, val n: Long) extends Serializable

  /** `state` rescaled so its values sum to its row count n: round(x·n/t,
    * 6) with t the exact-DECIMAL total, inside the lineage. In one shuffle
    * stage each partition ships its partial total to every partition (p²
    * records) and its block to itself; every partition merges the same p
    * partials exactly, so all rescale by the same t, with no job. A zero
    * total fails the job with the ANSI divide's `[DIVIDE_BY_ZERO]`.
    */
  private def renormalized(t: Topology, state: RDD[Vals]): RDD[Vals] = {
    val p = t.p
    state.mapPartitionsWithIndex { (i, vs) =>
      val v = vs.next()
      val s = new DSum6
      v.x.foreach(s.add)
      Iterator.tabulate(p)(j => (j, new Partial(if (j == i) v else null, s, v.ids.length.toLong)))
    }.partitionBy(new ToPartition(p)).mapPartitions { rs =>
      val s = new DSum6
      var (n, own) = (0L, null: Vals)
      rs.foreach { case (_, r) => s.merge(r.sum); n += r.n; if (r.block != null) own = r.block }
      val tot = s.toDouble
      if (tot == 0.0) throw org.apache.spark.sql.GraftShim.divideByZero()
      Iterator(new Vals(own.ids, own.x.map(x => Exact.round6(x * n.toDouble / tot))))
    }
  }

  private def valsDF(t: Topology, state: RDD[Vals], name: String): DataFrame =
    t.spark.createDataFrame(
      state.flatMap(v => v.ids.indices.iterator.map(i => Row(v.ids(i), v.x(i)))),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField(name, DoubleType))))

  /** The PageRank ladder [[pageRankDF]] and [[personalizedPageRankDF]]
    * share: init 1.0, then `rank = round(base + 0.85·Σ rank/outdeg, 6)`
    * per round over directed src→dst messages, where the teleport term is
    * `sb` on seeds and `ob` on the other vertices. The rounds are one
    * lineage that the caller's job runs.
    */
  private def rankLadder(t: Topology, seeds: RDD[Array[Long]], numIter: Int)(sb: Double,
      ob: Double): RDD[Vals] = {
    val unit = RankUnit.toDouble
    var ranks = initial(t, 1.0)
    for (_ <- 1 to numIter)
      ranks = superstep(t, ranks, seeds)((x, deg) => Exact.floor(x / deg * unit))(
        (s, m) => Exact.round6((if (s) sb else ob) + 0.85 * (m.toDouble / unit)),
        s => Exact.round6(if (s) sb else ob))
    ranks
  }

  /** Static PageRank with GraphX `staticPageRank` semantics (init 1.0,
    * `rank' = 0.15 + 0.85·Σ rank/outdeg`, final Σranks normalized to |V|
    * like SPARK-18847's sink correction), but deterministic and
    * oracle-replayable: message sums are fixed-point longs and ranks are
    * rounded to 6 dp every round, so the DuckDB chained-CTE replay of the
    * same ladder reproduces the exact values. Cross-checked against GraphX
    * in GraphAnalyticsSpec.
    */
  def pageRankDF(vertices: DataFrame, edges: DataFrame, numIter: Int = 10): DataFrame =
    perCallFrame(topology(vertices, edges, symmetric = false))(pageRankDF(_, numIter))

  /** [[pageRankDF]] over a src → dst topology, e.g. [[directedView]]. */
  def pageRankDF(t: Topology, numIter: Int): DataFrame = {
    headroom(t, RankUnit, "pageRankDF")
    valsDF(t, renormalized(t, rankLadder(t, noSeeds(t), numIter)(0.15, 0.15)), "rank")
  }

  /** Personalized PageRank (Page et al. 1999 §6 / Jeh & Widom 2003): the
    * [[pageRankDF]] ladder with the teleport mass on a SEED SET — base(v)
    * = 0.15·|V|/|S| for seeds, 0 elsewhere (total 0.15·|V|, so the
    * fixed-point headroom is pagerank's), and no final normalization.
    * Ranks measure closeness to the seeds, not global prestige.
    */
  def personalizedPageRankDF(vertices: DataFrame, edges: DataFrame,
      seedPred: Column, numIter: Int = 10): DataFrame =
    perCall(topology(vertices, edges, symmetric = false))(
      personalizedPageRankDF(_, vertices.filter(seedPred), numIter))

  /** [[personalizedPageRankDF]] over a src → dst topology, seeded with the
    * `id`s of `seeds`, which must be vertices of `t`.
    */
  def personalizedPageRankDF(t: Topology, seeds: DataFrame, numIter: Int): DataFrame = {
    headroom(t, RankUnit, "personalizedPageRankDF")
    val sb = seedBlocks(t, seeds)
    val nS = sb.map(_.length.toLong).fold(0L)(_ + _)
    require(nS > 0, "personalizedPageRankDF: empty seed set")
    // (0.15 · nV) / nS in this op order, as in the generated oracle
    valsDF(t, rankLadder(t, sb, numIter)(0.15 * t.nV.toDouble / nS.toDouble, 0.0), "rank")
  }

  /** One L1-renormalized half-step of [[eigenvectorDF]] and [[hitsDF]] over
    * `t`: floor(x·1e6) per message, vertices no edge reaches at 0, then
    * round(y·n/t, 6) over all rows with the exact-DECIMAL total. Two
    * shuffle stages, no job.
    */
  private def renormStep(t: Topology, x: RDD[Vals], none: RDD[Array[Long]]): RDD[Vals] = {
    val unit = RenormUnit.toDouble
    renormalized(t, superstep(t, x, none)((v, _) => Exact.floor(v * unit))(
      (_, s) => s.toDouble / unit, _ => 0.0))
  }

  /** Eigenvector centrality by synchronous power iteration (Bonacich
    * 1972): x' = A'x, L1-renormalized to Σx = |V| every round, so the
    * iterate neither diverges nor vanishes and stays value-checkable (raw
    * iterates grow like λ₁^k and overflow any fixed precision). Each round
    * is one [[renormStep]]; the DuckDB replay (QueriesGraphX.evOracleSql)
    * applies the identical op order.
    */
  def eigenvectorDF(vertices: DataFrame, edges: DataFrame, numIter: Int = 8): DataFrame =
    perCallFrame(topology(vertices, edges, symmetric = false))(eigenvectorDF(_, numIter))

  /** [[eigenvectorDF]] over `t`, e.g. [[undirectedView]]. */
  def eigenvectorDF(t: Topology, numIter: Int): DataFrame = {
    headroom(t, RenormUnit, "eigenvectorDF")
    val none = noSeeds(t)
    var x = initial(t, 1.0)
    for (_ <- 1 to numIter) x = renormStep(t, x, none)
    valsDF(t, x, "x")
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the DIRECTED graph —
    * the mutually-recursive twin of [[eigenvectorDF]]: per round,
    * auth' = renorm(Aᵀ·hub) then hub' = renorm(A·auth'), each half-step
    * the same L1 ladder (Kleinberg's L2 norm would need a cross-engine
    * sqrt-of-sum; the top-k order HITS consumers use is norm-invariant).
    * Directed is the point: eigenvector centrality is degenerate on the
    * layered-DAG derived graph, while HITS is designed for such link
    * structure (hubs point at strong authorities). Rows are the ids that
    * carry both a hub and an auth value.
    */
  def hitsDF(vertices: DataFrame, edges: DataFrame, numIter: Int = 4): DataFrame =
    topologies(vertices, edges, Seq("src" -> "dst", "dst" -> "src"), symmetric = false) match {
      case Seq(fwd, bwd) => perCall(fwd)(f => perCallFrame(bwd)(hitsDF(f, _, numIter)))
    }

  /** [[hitsDF]] over the src → dst topology `fwd` and its reverse `bwd`,
    * e.g. [[directedView]] and [[reversedView]].
    */
  def hitsDF(fwd: Topology, bwd: Topology, numIter: Int): DataFrame = {
    require(fwd.p == bwd.p, "hitsDF: both directions must share one width")
    headroom(fwd, RenormUnit, "hitsDF")
    val none = noSeeds(fwd)
    var (hub, auth) = (initial(fwd, 1.0), initial(fwd, 0.0))
    for (_ <- 1 to numIter) {
      auth = renormStep(fwd, hub, none)
      hub = renormStep(bwd, auth, none)
    }
    val rows = hub.zipPartitions(auth) { (hi, ai) =>
      val (h, a) = (hi.next(), ai.next())
      val at = new LongMap(false, Put)
      for (i <- a.ids.indices) at.add(a.ids(i), 0L, i)
      h.ids.indices.iterator.flatMap { i =>
        val j = at.get(h.ids(i), -1L).toInt
        if (j < 0) None else Some(Row(h.ids(i), h.x(i), a.x(j)))
      }
    }
    fwd.spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("hub", DoubleType), StructField("auth", DoubleType))))
  }

  /** Rounds of [[connectedComponents]] and [[kCoreDF]] between two
    * convergence checks.
    */
  private final val CheckEvery = 4

  /** Up to `rounds` rounds of `round` from `init`, one held lineage; every
    * [[CheckEvery]] rounds short of `rounds`, one job sums `left` over the
    * state, and the loop stops at the first zero.
    */
  private def checked[S: scala.reflect.ClassTag](k: Kernel, init: RDD[S], rounds: Int)(
      left: S => Long)(round: RDD[S] => RDD[S]): RDD[S] = {
    var (state, r, n) = (init, 0, 1L)
    while (r < rounds && n > 0) {
      for (_ <- 1 to math.min(CheckEvery, rounds - r)) { state = k.hold(round(state)); r += 1 }
      if (r < rounds) n = state.map(left).fold(0L)(_ + _)
      k.release(state)
    }
    state
  }

  /** Rows of long columns `names` as a frame of `t`'s session. */
  private def longsDF(t: Topology, rows: RDD[Row], names: String*): DataFrame =
    t.spark.createDataFrame(rows,
      StructType(names.map(StructField(_, LongType, nullable = false))))

  /** One partition's labels: ids and their labels. */
  private final class Labels(val ids: Array[Long], val lbl: Array[Long]) extends Serializable

  /** Deterministic synchronous label propagation. Every vertex starts
    * with its own id as its label; each superstep a vertex adopts the
    * most frequent label among its neighbours, ties broken by the
    * SMALLEST label; vertices receiving no message keep their label.
    * Unlike GraphX's LPA — whose tie-break follows hash-map iteration
    * order — this is a pure function of the graph, so the graph_lpa
    * oracle replays these supersteps as chained CTEs.
    *
    * `und` is the undirected (a, b) edge view — both orientations of
    * every edge, e.g. [[graft.model.DerivedGraph.undirected]].
    *
    * Per round, on the block kernel: each vertex sends its label to its
    * neighbours, the (receiver, label) counts are summed map-side, and
    * the receiving partition takes the argmax of (count, -label) per
    * vertex. All-long arithmetic, so no rounding ladder is needed for
    * oracle parity. The rounds are one lineage run by one job.
    */
  def lpaDF(vertices: DataFrame, und: DataFrame, numIter: Int = 5): DataFrame =
    perCallFrame(topology(vertices, und, symmetric = true))(lpaDF(_, numIter))

  /** [[lpaDF]] over an undirected topology, e.g. [[memberView]]: a frame
    * sorted on `id` ([[rangeFrame]]).
    */
  def lpaDF(t: Topology, numIter: Int): DataFrame =
    rangeFrame(t, lpa(t, numIter).map(l => new Cols(Array(l.ids, l.lbl))),
      Seq("id" -> false, "community" -> false))()

  /** [[lpaDF]]'s rounds: one carried lineage. */
  private def lpa(t: Topology, numIter: Int): RDD[Labels] = {
    val p = t.p
    var labels = t.blocks.map(b => new Labels(b.vids, b.vids.clone))
    for (_ <- 1 to numIter)
      labels = carried(t, labels)((b, l) =>
        send(b, l.ids, p, pairs = true, Sum)(l.lbl(_), (_, _) => 1L)
      ).mapPartitions { r =>
        val (l, in) = split[Labels](r, pairs = true, Sum)
        val m = in.toKeyed
        // per receiver, the entry of max (count, -label)
        val best = new LongMap(false, Put)
        for (e <- m.k1.indices) {
          Math.negateExact(m.k2(e))
          val b = best.get(m.k1(e), -1L).toInt
          if (b < 0 || m.v(e) > m.v(b) || (m.v(e) == m.v(b) && m.k2(e) < m.k2(b)))
            best.add(m.k1(e), 0L, e)
        }
        Iterator(new Labels(l.ids, l.ids.indices.map { i =>
          val b = best.get(l.ids(i), -1L).toInt
          if (b < 0) l.lbl(i) else m.k2(b)
        }.toArray))
      }
    labels
  }

  /** Newman's modularity (Newman & Girvan 2004) of the [[lpaDF]]
    * communities of the undirected view of the member edges `member`
    * (src, dst) over `vertices`: one row per community with its n_nodes,
    * e_in (member edges with both endpoints in it), d_sum (its endpoint
    * degree sum; a self-loop counts twice), q_units = 4m·e_in − d_sum² in
    * exact BIGINT units (m = member edges, null endpoints and endpoints
    * outside `vertices` included) and q = round(q_units / 4m², 6).
    */
  def modularityDF(vertices: DataFrame, member: DataFrame, numIter: Int = 5): DataFrame =
    perCallFrame(topology(vertices, graft.model.DerivedGraph.undirected(member),
      symmetric = true))(modularityDF(_, numIter))

  /** [[modularityDF]] over an undirected topology built from member edges,
    * e.g. [[memberView]]: after the LPA rounds, one more round ships each
    * vertex's label to its neighbours, each partition sums (n_nodes,
    * d_sum, 2·e_in) per community from its degrees and those messages,
    * and the partials meet in [[rangeFrame]]'s shuffle by community. A
    * frame sorted on `community`; Spark computes the Q columns.
    */
  def modularityDF(t: Topology, numIter: Int): DataFrame = {
    val p = t.p
    val partials = carried(t, lpa(t, numIter))((b, l) =>
      send(b, l.ids, p, pairs = true, Sum)(l.lbl(_), (_, _) => 1L)
    ).zipPartitions(t.blocks) { (r, ti) =>
      val ((l, in), b) = (split[Labels](r, pairs = true, Sum), ti.next())
      val Seq(n, d, e2) = Seq.fill(3)(new LongMap(false, Sum))
      for (i <- l.ids.indices) {
        val (id, c) = (l.ids(i), l.lbl(i))
        val j = java.util.Arrays.binarySearch(b.keys, id)
        n.add(c, 0L, 1L)
        d.add(c, 0L, if (j >= 0) (b.off(j + 1) - b.off(j)).toLong else 0L)
        e2.add(c, 0L, in.get(id, c, 0L))
      }
      val cs = n.shippable.k1
      Iterator(new Cols(cs +: Seq(n, e2, d).map(v => cs.map(v.get(_, 0L))).toArray))
    }
    // both orientations of every member edge, so e_in counted twice and
    // nE = 2m
    val m = t.nE / 2
    rangeFrame(t, partials,
      Seq("community" -> false, "n_nodes" -> false, "e_in" -> false, "d_sum" -> true))(
      c => new Cols(Array(c.c(0), c.c(1), c.c(2).map(_ / 2), c.c(3))))
      .select(col("community"), col("n_nodes"), col("e_in"), col("d_sum"),
        (lit(4L * m) * col("e_in") - col("d_sum") * col("d_sum")).as("q_units"))
      .withColumn("q", round(col("q_units").cast("double") / lit((4L * m * m).toDouble), 6))
  }

  /** Rows of long columns keyed on the first, one block or one shuffle
    * record of a [[rangeFrame]].
    */
  private final class Cols(val c: Array[Array[Long]]) extends Serializable

  /** A frame of the long columns `fields` (name, nullable) over `rows`,
    * one block per partition keyed on the first column: in one shuffle
    * stage each row goes to the partition of its key's range under `t`'s
    * [[Layout]], where the rows are sorted on the key, rows of one key
    * summed column-wise, and `finish` applied. The frame declares that
    * layout ([[org.apache.spark.sql.GraftShim.rangeSortedFrame]]), so an
    * `orderBy` on the key plans no exchange and no sort.
    */
  private def rangeFrame(t: Topology, rows: RDD[Cols], fields: Seq[(String, Boolean)])(
      finish: Cols => Cols = identity): DataFrame = {
    val (p, layout, w) = (t.p, t.layout, fields.length)
    val sorted = rows.flatMap { b =>
      // a counting sort of the rows by destination range
      val dest = b.c(0).map(layout.rangeOf)
      val start = new Array[Int](p + 1)
      dest.foreach(r => start(r + 1) += 1)
      for (r <- 0 until p) start(r + 1) += start(r)
      val (fill, order) = (start.clone, new Array[Int](dest.length))
      for (i <- dest.indices) { order(fill(dest(i))) = i; fill(dest(i)) += 1 }
      (0 until p).iterator.filter(r => start(r + 1) > start(r)).map(r => (r, new Cols(b.c.map(
        col => Array.tabulate(start(r + 1) - start(r))(j => col(order(start(r) + j)))))))
    }.partitionBy(new ToPartition(p)).mapPartitions { rs =>
      val cols = Array.fill(w)(new LongBuf)
      rs.foreach { case (_, b) => for (j <- 0 until w) cols(j) ++= b.c(j) }
      val in = cols.map(_.result)
      val keys = in(0).clone
      java.util.Arrays.sort(keys)
      val uniq = keys.indices.filter(i => i == 0 || keys(i) != keys(i - 1)).map(keys).toArray
      val slot = new LongMap(false, Put)
      for (i <- uniq.indices) slot.add(uniq(i), 0L, i)
      val out = Array.tabulate(w)(j => if (j == 0) uniq else new Array[Long](uniq.length))
      for (i <- in(0).indices; s = slot.get(in(0)(i), 0L).toInt; j <- 1 until w)
        out(j)(s) = Math.addExact(out(j)(s), in(j)(i))
      val f = finish(new Cols(out))
      f.c(0).indices.iterator.map(i =>
        new GenericInternalRow(Array.tabulate[Any](w)(j => f.c(j)(i))): InternalRow)
    }
    org.apache.spark.sql.GraftShim.rangeSortedFrame(t.spark,
      StructType(fields.map { case (n, nullable) => StructField(n, LongType, nullable) }),
      sorted, fields.head._1)
  }

  /** One partition's component labels, and the indices whose label the
    * last round changed: only those send in the next round.
    */
  private final class Components(val ids: Array[Long], val lbl: Array[Long],
      val moved: Array[Int]) extends Serializable

  /** Connected components, each vertex labelled with the smallest vertex
    * id of its component. Labels start at each vertex's own id; per round
    * every vertex whose label moved sends it to its neighbours (a vertex
    * that did not move already sent the same label), the messages are
    * min-combined map-side, and a receiver keeps the smaller of its label
    * and theirs. The rounds are one lineage; every [[CheckEvery]] rounds
    * one job counts the labels the last round moved, and the loop stops
    * at the first zero, so the labels are exact at any diameter.
    *
    * `und` is the undirected (a, b) edge view, both orientations of every
    * edge ([[graft.model.DerivedGraph.undirected]]). Rows are the ids of
    * `vertices`; an isolated vertex labels itself, and an endpoint missing
    * from `vertices` relays nothing.
    */
  def connectedComponents(vertices: DataFrame, und: DataFrame): DataFrame =
    perCall(topology(vertices, und, symmetric = true))(connectedComponents(_))

  /** [[connectedComponents]] over an undirected topology, e.g. [[undirectedView]]. */
  def connectedComponents(t: Topology): DataFrame = {
    val (k, p) = (new Kernel, t.p)
    val init =
      t.blocks.map(b => new Components(b.vids, b.vids.clone, Array.range(0, b.vids.length)))
    val labels = checked(k, init, Int.MaxValue)(_.moved.length.toLong)(prev =>
      messages(t, prev)((b, c) => send(b, c.moved.map(c.ids(_)), p, pairs = false, Min)(_ => 0L,
        (i, _) => c.lbl(c.moved(i)))).zipPartitions(prev) { (mi, ci) =>
        val (in, c) = (received(mi, pairs = false, Min), ci.next())
        val lbl = Array.tabulate(c.ids.length)(i =>
          math.min(c.lbl(i), in.get(c.ids(i), Long.MaxValue)))
        Iterator(new Components(c.ids, lbl,
          Array.range(0, lbl.length).filter(i => lbl(i) != c.lbl(i))))
      })
    k.release()
    longsDF(t, labels.flatMap(c => c.ids.indices.iterator.map(i => Row(c.ids(i), c.lbl(i)))),
      "id", "component")
  }

  /** One partition's (vertex, landmark) pairs at one BFS level, with σ,
    * the number of shortest paths from the landmark, and h, the number of
    * shortest paths onward from the vertex (null before the backward pass).
    */
  private final class Level(val ids: Array[Long], val lms: Array[Long], val sig: Array[Long],
      val h: Array[Long]) extends Serializable

  /** The forward pass of the landmark BFS over an undirected topology:
    * one persisted block per level, holding the (vertex, landmark) pairs
    * first reached at that depth with their σ. A session holds one over
    * its [[undirectedView]] (`QueriesGraphX.landmarks`); the landmark
    * queries read it through [[landmarkBfs]] and graph_stress through
    * [[stressCentralityDF]]. A DataFrame entry point builds its own and
    * releases it before it returns.
    */
  final class Landmarks private[GraphAnalytics] (private[GraphAnalytics] val t: Topology,
      private[GraphAnalytics] val levels: IndexedSeq[RDD[Level]]) {

    /** Computes every level in one job. */
    def build(): Unit = { t.spark.sparkContext.union(levels).count(); () }

    /** The ids `SparkContext.getPersistentRDDs` lists the levels under. */
    private[graft] def rddIds: Seq[Int] = levels.map(_.id)

    private[GraphAnalytics] def release(): Unit = levels.foreach(_.unpersist(blocking = false))
  }

  /** The forward pass of the landmark BFS over an undirected topology `t`:
    * `maxDepth` rounds in one lineage, computed by the first job that reads
    * them. Level 0 holds each seed that is a vertex or an edge endpoint,
    * with σ = 1. Round d sends σ from level d−1 to every neighbour; a pair
    * not reached before joins level d with σ = the ANSI-checked sum of its
    * senders' σ. In a symmetric graph the neighbours of level d−1 lie in
    * levels d−2..d, so a round reads only the two levels before it.
    */
  def landmarkLevels(t: Topology, seeds: Seq[Long], maxDepth: Int): Landmarks = {
    val (p, lms) = (t.p, seeds.distinct.toArray)
    def held(l: RDD[Level]) = l.persist(StorageLevel.MEMORY_AND_DISK)
    val levels = scala.collection.mutable.ArrayBuffer(held(t.blocks.mapPartitions({ ti =>
      val b = ti.next()
      val here = lms.filter(s => java.util.Arrays.binarySearch(b.keys, s) >= 0 ||
        java.util.Arrays.binarySearch(b.vids, s) >= 0)
      Iterator(new Level(here, here, here.map(_ => 1L), null))
    }, preservesPartitioning = true)))
    for (d <- 1 to maxDepth) {
      val (prev, prev2) = (levels(d - 1), levels(math.max(d - 2, 0)))
      levels += held(messages(t, prev)((b, l) =>
        send(b, l.ids, p, pairs = true, Sum)(l.lms(_), (i, _) => l.sig(i))
      ).zipPartitions(prev, prev2, preservesPartitioning = true) { (mi, ai, bi) =>
        val m = received(mi, pairs = true, Sum).toKeyed
        val seen = new LongMap(true, Put)
        for (l <- Seq(ai.next(), bi.next()); i <- l.ids.indices) seen.add(l.ids(i), l.lms(i), 1L)
        val fresh = m.k1.indices.filter(i => seen.get(m.k1(i), m.k2(i), 0L) == 0L).toArray
        Iterator(new Level(fresh.map(m.k1(_)), fresh.map(m.k2(_)), fresh.map(m.v(_)), null))
      })
    }
    new Landmarks(t, levels.toIndexedSeq)
  }

  /** `body` over the landmark levels of a topology built for this call;
    * both are released when it returns.
    */
  private def perCallLevels[T](vertices: DataFrame, und: DataFrame, seeds: Seq[Long],
      maxDepth: Int)(body: Landmarks => T): T =
    perCall(topology(vertices, und, symmetric = true)) { t =>
      val lv = landmarkLevels(t, seeds, maxDepth)
      try body(lv) finally lv.release()
    }

  /** Unweighted undirected BFS distances from every landmark at once: the
    * reference's bounded k-hop traversal (mongraph.py:236-274) as the
    * forward pass of [[landmarkLevels]] over the undirected (a, b) view
    * `und`. Rows are (id, landmark, dist) for every pair within `maxDepth`
    * hops; unreachable pairs are omitted, and a seed that is neither a
    * vertex nor an edge endpoint has no rows.
    */
  def landmarkBfs(vertices: DataFrame, und: DataFrame, seeds: Seq[Long],
      maxDepth: Int): DataFrame =
    perCallLevels(vertices, und, seeds, maxDepth) { lv =>
      // a level reads the two before it, so a read after the release would
      // recompute each level once per path to it: the distances are
      // shuffled while the levels are held, and a later read only reduces
      // that shuffle's output
      val shuffled = distances(lv).mapPartitionsWithIndex((i, ds) => ds.map((i, _)))
        .partitionBy(new ToPartition(lv.t.p))
      shuffled.count()
      distancesDF(lv.t, shuffled.values)
    }

  /** [[landmarkBfs]] over landmark levels, e.g. the session's: a frame
    * that reads their blocks.
    */
  def landmarkBfs(lv: Landmarks): DataFrame = distancesDF(lv.t, distances(lv))

  /** The (id, landmark, dist) triples of `lv`, one record per level and
    * partition.
    */
  private def distances(lv: Landmarks): RDD[Keyed] =
    lv.t.spark.sparkContext.union(lv.levels.zipWithIndex.map { case (lvl, d) =>
      lvl.mapPartitions(_.map(l => new Keyed(l.ids, l.lms, Array.fill(l.ids.length)(d.toLong))),
        preservesPartitioning = true)
    })

  private def distancesDF(t: Topology, ds: RDD[Keyed]): DataFrame =
    longsDF(t, ds.flatMap(k => k.k1.indices.iterator.map(i => Row(k.k1(i), k.k2(i), k.v(i)))),
      "id", "landmark", "dist")

  /** Landmark STRESS centrality (Shimbel 1953): the number of shortest
    * paths from the landmark set that pass THROUGH each vertex — the
    * betweenness family's exactly-countable member. Classic betweenness
    * sums FRACTIONS σ_st(v)/σ_st (Brandes 2001 accumulates them with
    * per-vertex divisions, which no exact cross-engine replay survives);
    * stress drops the normalization and counts paths, so the whole
    * two-pass Brandes structure stays in INTEGERS:
    *
    *   forward  (level-synchronous BFS):  σ(v) = Σ σ(u) over in-DAG edges
    *   backward (by descending depth):    h(v) = Σ_{w ∈ succ_DAG(v)} (1 + h(w))
    *   stress(v) = Σ_landmarks σ(v)·h(v)   for v not itself the landmark
    *
    * where h(v) counts shortest paths from v onward in the BFS DAG
    * (every shortest s→t path through v factors as σ_sv paths into v
    * times one path onward, so σ·h is exactly Shimbel's count).
    *
    * Both passes run on the block kernel over the undirected view `und`
    * (a, b): the forward pass of [[landmarkLevels]], then `maxDepth`
    * backward rounds on the same symmetric blocks, where each pair of
    * level d+1 sends 1 + h to its neighbours and the pairs of level d with
    * the same landmark take the sum. σ and h are ANSI-checked long sums;
    * [[ProductSum]] gives each vertex Σ σ·h as DECIMAL(38,0) cast to
    * BIGINT. Every pair of a vertex lives in that vertex's partition at
    * every level, so the per-vertex sums need no shuffle. Returns the top
    * 100 by (stress_units desc, id), computed in the call.
    */
  def stressCentralityDF(und: DataFrame, seeds: Seq[Long], maxDepth: Int = 10): DataFrame =
    // a seed without edges reaches nothing and is excluded from its own
    // count, so stress needs no vertex table
    perCallLevels(und.select(col("a").as("id")).limit(0), und, seeds, maxDepth)(
      stressCentralityDF)

  /** [[stressCentralityDF]]'s backward pass and scoring over landmark
    * levels, e.g. the session's.
    */
  def stressCentralityDF(lv: Landmarks): DataFrame = {
    val (t, levels, k) = (lv.t, lv.levels, new Kernel)
    val p = t.p
    val top = try {
      var lvl = k.hold(levels.last.mapPartitions(_.map(l =>
        new Level(l.ids, l.lms, l.sig, new Array[Long](l.ids.length))),
        preservesPartitioning = true))
      val scored = scala.collection.mutable.ArrayBuffer(lvl)
      for (d <- levels.length - 2 to 0 by -1) {
        lvl = k.hold(messages(t, lvl)((b, l) =>
          send(b, l.ids, p, pairs = true, Sum)(l.lms(_), (i, _) => Math.addExact(1L, l.h(i)))
        ).zipPartitions(levels(d), preservesPartitioning = true) { (mi, li) =>
          val (in, l) = (received(mi, pairs = true, Sum), li.next())
          Iterator(new Level(l.ids, l.lms, l.sig,
            l.ids.indices.map(i => in.get(l.ids(i), l.lms(i), 0L)).toArray))
        })
        scored += lvl
      }
      val all = t.spark.sparkContext.union(scored.toSeq)
      require(all.partitioner.isDefined, "the level blocks must share one partitioning")
      all.mapPartitions { ls =>
        val acc = scala.collection.mutable.LongMap.empty[ProductSum]
        ls.foreach(l => for (i <- l.ids.indices if l.ids(i) != l.lms(i))
          acc.getOrElseUpdate(l.ids(i), new ProductSum).add(l.sig(i), l.h(i)))
        acc.iterator.map { case (id, s) => (id, s.toLong) }
      }.takeOrdered(100)(
        Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long).on[(Long, Long)](r => (r._2, r._1)))
    } finally k.release()
    t.spark.createDataFrame(java.util.Arrays.asList(top.map(r => Row(r._1, r._2)): _*),
      StructType(Seq(StructField("id", LongType), StructField("stress_units", LongType))))
  }

  // perfbench's setup steps compile against the three members below.
  /** Bucket count / version of the clustered endpoint copy behind
    * [[bucketedDegrees]].
    */
  val EndpBuckets: Int = 512
  val EndpVersion: String = "v1"

  /** Fact-edge parquet bytes above which a caller builds
    * [[bucketedDegrees]]' endpoint copy.
    */
  val BucketedDegreeMinBytes: Long = 64L << 20

  /** Exchange-free vertex degrees: the derived graph's endpoint list
    * stored ONCE per dataset as a Spark bucketed table clustered+sorted on
    * the vertex id, so `groupBy(a)` runs on the scan's own
    * HashPartitioning. The build pays the exchange once (repartition
    * aligned 1:1 with the bucket spec → one file per bucket); every
    * session after serves degree counts with zero shuffle.
    */
  def bucketedDegrees(spark: SparkSession, sfDir: String): DataFrame = {
    val endp = graft.model.CacheDirs.cachedBucketedTable(spark, "graph", sfDir,
      s"endp_b${EndpBuckets}_$EndpVersion", EndpBuckets, "a") {
      val e = graft.model.DerivedGraph(spark, sfDir).edges.select("src", "dst")
      e.select(col("src").as("a")).unionAll(e.select(col("dst").as("a")))
        .repartition(EndpBuckets, col("a"))
    }
    endp.groupBy("a").agg(count(lit(1)).as("deg"))
  }

  /** One partition's k-core peel state: the sending ids, their degree
    * among the survivors, whether each survives, and the indices the
    * next round removes.
    */
  private final class Core(val ids: Array[Long], val deg: Array[Long], val alive: Array[Boolean],
      val out: Array[Int]) extends Serializable

  /** k-core decomposition by iterative peeling: repeatedly drop vertices
    * with fewer than `k` neighbours among the survivors; the fixpoint is
    * the maximal subgraph of minimum degree ≥ k (Seidman, "Network
    * structure and minimum degree", Social Networks 1983 — the standard
    * graph-density screen). `rounds` bounds the peel supersteps so the
    * computation is replayable as chained SQL rounds; convergence within
    * the bound is PROVEN per graph family in GraphAnalyticsSpec (one extra
    * round must change nothing), not assumed. Returns the core members
    * with their within-core degree, counting parallel edges and a
    * self-loop twice, as the endpoint-union degree does.
    *
    * An incremental peel on the block kernel over the undirected view of
    * `edges`: a vertex's initial degree is its out-count there, a vertex
    * removed in a round sends 1 per edge to its neighbours, and a survivor
    * subtracts what it receives. The rounds are one lineage; every
    * [[CheckEvery]] rounds one job counts the vertices the next round
    * would remove, and the peel stops at the first zero or after
    * `rounds`. An edge with a null endpoint sends nothing and adds no
    * degree.
    */
  def kCoreDF(edges: DataFrame, k: Int, rounds: Int = 10): DataFrame =
    perCall(topology(edges.select(col("src").as("id")).limit(0),
      graft.model.DerivedGraph.undirected(edges), symmetric = true))(kCoreDF(_, k, rounds))

  /** [[kCoreDF]] over an undirected topology, e.g. [[undirectedView]]: a
    * frame sorted on `id` ([[rangeFrame]]).
    */
  def kCoreDF(t: Topology, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be ≥ 1, got $k")
    require(rounds >= 1, s"rounds must be ≥ 1, got $rounds")
    val (kern, p) = (new Kernel, t.p)
    def next(deg: Array[Long], alive: Array[Boolean]): Array[Int] =
      deg.indices.filter(i => alive(i) && deg(i) < k).toArray
    val init = t.blocks.map { b =>
      val deg = Array.tabulate(b.keys.length)(j => (b.off(j + 1) - b.off(j)).toLong)
      val alive = Array.fill(deg.length)(true)
      new Core(b.keys, deg, alive, next(deg, alive))
    }
    val core = checked(kern, init, rounds)(_.out.length.toLong)(prev =>
      messages(t, prev)((b, c) => send(b, c.out.map(c.ids(_)), p, pairs = false, Sum)(_ => 0L,
        (_, _) => 1L)).zipPartitions(prev) { (mi, ci) =>
        val (in, c) = (received(mi, pairs = false, Sum), ci.next())
        val alive = c.alive.clone
        c.out.foreach(alive(_) = false)
        val deg = Array.tabulate(c.ids.length)(i =>
          if (alive(i)) c.deg(i) - in.get(c.ids(i), 0L) else c.deg(i))
        Iterator(new Core(c.ids, deg, alive, next(deg, alive)))
      })
    kern.release()
    rangeFrame(t, core.map { c =>
      val kept = c.ids.indices.filter(i => c.alive(i) && c.deg(i) > 0).toArray
      new Cols(Array(kept.map(c.ids), kept.map(c.deg)))
    }, Seq("id" -> false, "deg" -> false))()
  }

  /** Canonical triangle list (x < y < z, one row per triangle) of a
    * canonical undirected edge set (`a < b`, distinct), by degree-ordered
    * enumeration: every edge is oriented from its (degree, id)-smaller
    * endpoint to the larger (an acyclic total order, so each triangle
    * appears exactly once, at its base edge u→w with its third corner in
    * N⁺(u) ∩ N⁺(w)), and |N⁺| ≤ O(√m) bounds the per-edge intersection.
    * Computed once per (session, dataset) and SHARED between the
    * triangle count, the truss peel and the clustering coefficient.
    *
    * `broadcastSides = true` broadcasts the degree table and the oriented
    * adjacency, so the edge table is not shuffled and sorted four times;
    * it is worth it only while both fit an executor/driver broadcast
    * (~10⁷ edges), so the default is the shuffle-join plan that scales to
    * any graph.
    */
  def triangleListDF(t: DataFrame, broadcastSides: Boolean = false): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (broadcastSides) broadcast(_) else identity
    val deg = hint(t.select(col("a").as("x")).unionAll(t.select(col("b").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d")))
    val withDeg = t
      .join(deg.select(col("x").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("x").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("o"))
      .select(col("o.u").as("u"), col("o.w").as("w"))
    val adj = hint(oriented.groupBy("u")
      .agg(sort_array(collect_list(col("w"))).as("nbrs")))
    oriented
      .join(adj.select(col("u"), col("nbrs").as("na")), Seq("u"))
      .join(adj.select(col("u").as("w"), col("nbrs").as("nb")), Seq("w"))
      .select(col("u"), col("w"),
        explode(array_intersect(col("na"), col("nb"))).as("v3"))
      // canonicalize the (degree,id)-oriented corners back to x < y < z
      .select(array_sort(array(col("u"), col("w"), col("v3"))).as("t"))
      .select(col("t").getItem(0).as("x"), col("t").getItem(1).as("y"),
        col("t").getItem(2).as("z"))
  }

  /** Watts–Strogatz local clustering coefficient per vertex:
    * cc(v) = 2·t(v)/(deg(v)·(deg(v)−1)) for deg ≥ 2, where t(v) counts
    * triangles incident to v. Derived entirely from a canonical
    * triangle list (one explode + combinable groupBy) and one
    * distinct-edge degree scan — no adjacency state, no new enumeration
    * when the caller passes the shared persisted list.
    *
    * Input contract: canonical undirected edges (`a < b`, distinct) and
    * their triangle list (x < y < z, one row per triangle).
    */
  def clusteringCoeffDF(canonicalEdges: DataFrame,
      triangleList: DataFrame): DataFrame = {
    val tcnt = triangleList
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    val deg = canonicalEdges.select(col("a").as("id"))
      .unionAll(canonicalEdges.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(tcnt, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round((lit(2L) * coalesce(col("n_tri"), lit(0L))).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"), 6).as("cc"))
  }

  /** Version token for the [[kTrussDF]] peel ALGORITHM, folded into the
    * cross-session cache-entry name next to its k/rounds/co-projection
    * parameters (the CoEdgesVersion discipline, ADVICE r14): a future peel
    * bugfix must bump this so every session's correctness gate rebuilds
    * instead of silently serving the pre-fix converged frame. Version 1
    * maps to the legacy unversioned entry name, so bumping the CONSTANT —
    * not renaming an entry by hand — is the upgrade path, and existing v1
    * caches (sf10's took a 1404 s build) stay valid.
    */
  val KTrussVersion: Int = 1

  /** k-truss decomposition by iterative edge peeling (Cohen, "Trusses:
    * cohesive subgraphs for social network analysis", NSA tech report
    * 2008): repeatedly drop edges supported by fewer than k−2 triangles
    * among the surviving edges; the fixpoint is the maximal subgraph
    * where every edge closes ≥ k−2 triangles — the EDGE-cohesion screen
    * one notch stronger than [[kCoreDF]]'s vertex degrees (every k-truss
    * is inside the (k−1)-core, not vice versa). `rounds` bounds the peel
    * like kCoreDF so the computation replays as chained SQL rounds;
    * convergence within the bound is proven per graph family in spec
    * (an extra round changes nothing), not assumed. Returns surviving
    * edges with their support measured in the FINAL edge set.
    *
    * Input contract: canonical undirected edges, `a < b`, distinct.
    *
    * 100 TB shape: support comes from degree-ordered triangle ENUMERATION
    * (the [[triangleListDF]] orientation: each triangle materializes
    * exactly once at its base edge, then credits its three edges), NOT
    * from the naive wedge join — wedges that never close made the naive
    * form 122 s at sf0.1 where this one rides the triangle count (1.9M
    * triangles → 5.6M credit rows there, measured ~25× cheaper). Per
    * round: two vertex-keyed joins against the oriented adjacency, one
    * explode bounded by 3·triangles, one combinable per-edge count,
    * lineage cut per round; survivors shrink monotonically. Skewed hub
    * keys are AQE's skew-join case; no broadcast requirement.
    */
  def kTrussDF(canonicalEdges: DataFrame, k: Int, rounds: Int = 6,
      triangleList: Option[DataFrame] = None): DataFrame = {
    require(k >= 3, s"k must be ≥ 3, got $k")
    require(rounds >= 1, s"rounds must be ≥ 1, got $rounds")
    // INCREMENTAL peel with the TRIANGLE LIST as state (the kCoreDF
    // discipline lifted to edges): enumerate every triangle ONCE
    // (canonical x < y < z), derive supports by exploding each triangle
    // into its three edges, then per round mark the triangles that
    // contain a removed edge (three small-side joins against the removed
    // fringe — broadcast-sized towards convergence) and charge each LOST
    // triangle's surviving edges exactly once. No adjacency rebuild, no
    // inclusion-exclusion: a triangle is a row, and a row dies once.
    // The survivor sequence is IDENTICAL to the per-round recompute the
    // SQL oracle replays (KTrussSpec pins this on graphs engineered to
    // hit multi-removal triangles), and the maintained supports equal the
    // oracle's final support pass at any converged round.
    def edgeOf(p: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      struct(p.as("a"), q.as("b"))
    // a caller-provided (typically session-persisted) triangle list is
    // already materialization-stable — don't pay a checkpoint copy for it
    var tri = triangleList.getOrElse(
      triangleListDF(canonicalEdges.select("a", "b"))
        .localCheckpoint())
    var sup = tri.select(explode(array(
        edgeOf(col("x"), col("y")), edgeOf(col("x"), col("z")),
        edgeOf(col("y"), col("z")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
      .localCheckpoint()
    // one cheap aggregate over the fresh checkpoint: the RELATIVE lazy
    // gate below needs the surviving triangle-edge count per round
    var nEdges = sup.count()
    // current edge COUNT is the only whole-edge-set state the loop needs
    // (survivor rows live in sup) — tracking it as a long avoids a
    // |E|-row materialization per round
    // Constant-depth tail state: once the fringe is tiny (≤ MaxLazyFringe),
    // rounds stop writing |T|/|E|-row checkpoints. Instead tri/sup become
    // LAZY views of the last CHECKPOINTED bases plus two cumulative tiny
    // broadcast deltas (removed edges; per-edge support charges). The view
    // depth is CONSTANT (≤3 broadcast probes) no matter how many tail
    // rounds run — the naive alternative (chaining each round's lazy
    // frames) re-executes the whole chain per round and measured 2.4×
    // SLOWER than the checkpoint-per-round form it replaced.
    var triBase = tri
    var supBase = sup
    var cumRemoved: Option[DataFrame] = None // (a,b) — all tail fringes
    var cumDec: Option[DataFrame] = None // (a,b,__dec) — summed charges
    var cumRemovedRows = 0L // broadcast-state row counts: once either
    var cumDecRows = 0L //     crosses MaxCumLazyRows the next round re-bases
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      // zero-triangle edges never enter sup, so the survivor projection
      // drops them with the low-support rows — and being triangle-less
      // their removal charges nothing. keptSup stays LAZY (a cheap filter
      // over the checkpointed sup); BOTH round counts come from one
      // aggregate scan instead of a keptSup.count() plus three later
      // re-derivations of the fringe (measured: the per-round AQE
      // broadcast builds each rescanned the full |E|-row sup to re-filter
      // `removed` — ~7 s of the 13 s sf0.1 wall across the peel).
      val keptSup = sup.filter(col("support") >= k - 2)
      // ONE |E| scan per round: materialize the fringe first (tiny after
      // round 1 — the whole sf0.1 peel removes ~90k of 1.2M edges) and
      // read both round counts off its free checkpoint count. An empty
      // fringe IS the fixpoint: no removal → no triangle dies → no charge
      // — identical to the old nKept==nEdges check one no-op round later,
      // minus a redundant aggregate scan per round.
      val removed0 = sup.filter(col("support") < k - 2).select("a", "b")
        .localCheckpoint()
      val nRemoved = removed0.count()
      if (nRemoved == 0L) converged = true
      else {
        nEdges -= nRemoved // surviving triangle-edge rows, for the gate
        // hint broadcast only when the measured row count proves it fits
        // (scale-safe: a pathological first-round mass removal falls back
        // to a shuffle join under AQE).
        val fringeBroadcast = nRemoved <= MaxBroadcastFringe
        val removed: DataFrame =
          if (fringeBroadcast) broadcast(removed0) else removed0
        val flagged0 = tri
          .join(removed.select(col("a").as("x"), col("b").as("y"))
            .withColumn("__r1", lit(1)), Seq("x", "y"), "left")
          .join(removed.select(col("a").as("x"), col("b").as("z"))
            .withColumn("__r2", lit(1)), Seq("x", "z"), "left")
          .join(removed.select(col("a").as("y"), col("b").as("z"))
            .withColumn("__r3", lit(1)), Seq("y", "z"), "left")
        // Materialization strategy is fringe-size-gated (the convergence
        // tail was paying ~1-2 s/round of |T|-row checkpoint writes to
        // remove a handful of edges — rounds 3-7 at sf0.1 remove
        // 1681/658/81/21/4 edges yet cost as much as round 2):
        //  - BIG fringe (early rounds): checkpoint the flagged frame once;
        //    it serves both consumers (the dec charge and the survivor
        //    projection). An A/B against re-running the three kill joins
        //    per consumer measured the checkpoint faster here — at this
        //    size the probes over |T| rows dominate the extra write.
        //  - SMALL fringe (tail rounds): no |T|/|E|-row write. dec is
        //    extracted in one |T| scan (tiny result, checkpointed), folded
        //    into the cumulative deltas, and tri/sup are rebuilt as
        //    constant-depth lazy views over tri/supBase — per-round cost
        //    drops to two bulk SCANS (sup agg + dec) instead of two bulk
        //    WRITES.
        val lazyTail = fringeBroadcast &&
          nRemoved <= math.max(MaxLazyFringe, nEdges / 20L) &&
          cumRemovedRows + nRemoved <= MaxCumLazyRows &&
          cumDecRows <= MaxCumLazyRows
        val survives = col("__r1").isNull && col("__r2").isNull &&
          col("__r3").isNull
        // each lost triangle charges ONLY its surviving edges (a null
        // element survives the array and is dropped after the explode)
        def decOf(flagged: DataFrame): DataFrame = flagged.filter(!survives)
          .select(explode(array(
            when(col("__r1").isNull, edgeOf(col("x"), col("y"))),
            when(col("__r2").isNull, edgeOf(col("x"), col("z"))),
            when(col("__r3").isNull, edgeOf(col("y"), col("z"))))).as("e"))
          .filter(col("e").isNotNull)
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("__dec"))
        // A lazy-candidate round extracts dec FIRST so the round's OWN
        // charge volume can veto the lazy path: the cumDecRows gate above
        // is retrospective (last round's folded count), and the first lazy
        // round after a re-base starts from 0 — a near-MaxBroadcastFringe
        // fringe losing ~3 charge rows per triangle could otherwise fold a
        // cumDec broadcast far above the MaxCumLazyRows ceiling in that
        // same round. The count is free on the fresh checkpoint, and a
        // vetoed round reuses the extracted charges in the re-base below.
        val lazyDec: Option[DataFrame] =
          if (!lazyTail) None else Some(decOf(flagged0).localCheckpoint())
        val lazyOk = lazyDec.exists(d => cumDecRows + d.count() <= MaxCumLazyRows)
        if (!lazyOk) {
          val flagged = flagged0.localCheckpoint()
          tri = flagged.filter(survives).select("x", "y", "z")
          sup = keptSup.join(lazyDec.getOrElse(decOf(flagged)), Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("support") - coalesce(col("__dec"), lit(0L))).as("support"))
            .filter(col("support") > 0)
            .localCheckpoint()
          // re-sync the surviving-edge count from the fresh checkpoint:
          // the running `nEdges -= nRemoved` decrement misses edges the
          // support>0 filter drops via charges alone, so across many
          // rounds nEdges would overstate |E| and widen the relative lazy
          // gate beyond the documented |E|/20 policy. Free on a checkpoint.
          nEdges = sup.count()
          // reset the tail bases to the fresh checkpoints
          triBase = tri; supBase = sup; cumRemoved = None; cumDec = None
          cumRemovedRows = 0L; cumDecRows = 0L
        } else {
          // one |T| scan through broadcast probes; the result is ≤3 rows
          // per lost triangle
          val dec = lazyDec.get
          cumRemoved = Some(cumRemoved.map(_.unionAll(removed0))
            .getOrElse(removed0).localCheckpoint())
          cumDec = Some(cumDec.map(_.unionAll(dec)).getOrElse(dec)
            .groupBy("a", "b").agg(sum(col("__dec")).as("__dec"))
            .localCheckpoint())
          cumRemovedRows += nRemoved
          cumDecRows = cumDec.get.count() // cheap: fresh checkpoint
          val rem = broadcast(cumRemoved.get)
          tri = triBase
            .join(rem.select(col("a").as("x"), col("b").as("y"))
              .withColumn("__k1", lit(1)), Seq("x", "y"), "left")
            .join(rem.select(col("a").as("x"), col("b").as("z"))
              .withColumn("__k2", lit(1)), Seq("x", "z"), "left")
            .join(rem.select(col("a").as("y"), col("b").as("z"))
              .withColumn("__k3", lit(1)), Seq("y", "z"), "left")
            .filter(col("__k1").isNull && col("__k2").isNull &&
              col("__k3").isNull)
            .select("x", "y", "z")
          // removed edges receive no charges after their triangles die, so
          // subtracting the cumulative charges and anti-joining the
          // cumulative fringe reproduces the incremental sequence exactly
          sup = supBase
            .join(broadcast(cumDec.get), Seq("a", "b"), "left")
            .select(col("a"), col("b"),
              (col("support") - coalesce(col("__dec"), lit(0L))).as("support"))
            .join(rem, Seq("a", "b"), "left_anti")
            .filter(col("support") > 0)
        }
      }
    }
    // support-0 rows never exist at a fixpoint; the filter above also
    // matches the oracle's final-pass convention (triangle-less edges
    // yield no row) if the round budget is exhausted mid-peel
    sup.select(col("a"), col("b"), col("support"))
  }

  /** Definition version of the co-order projection, folded into every
    * cache-entry name that bakes the projection in (co_edges itself and
    * the triangle list enumerated from it — ADVICE r13): bump it when the
    * projection's semantics change so stale cross-session caches rebuild
    * instead of silently serving the old definition to correctness gates.
    */
  val CoEdgesVersion: Int = 1

  /** Parts co-ordered in the same order — a triangle-rich projection of the
    * order/lineitem bipartite graph, canonical (a < b) distinct pairs.
    *
    * Built by the posting-list pattern (one groupBy into a sorted per-order
    * part set, pairs by double explode over the sorted list — a < b falls
    * out of the slice) rather than a self-join: one shuffle on the order
    * key instead of dedup-shuffle + join re-shuffle. The per-key buffer is
    * the order's distinct part set — bounded by order line count, so no
    * hot-key blowup.
    *
    * Disk-cached like the triangle list it feeds (fingerprint-validated,
    * [[graft.model.CacheDirs.cachedParquet]]): the projection is consumed
    * by FOUR query families (triangle count, truss peel, clustering
    * coefficient's degree pass, the enumeration build itself), and the
    * r13 sf10 probe showed clustering_coeff re-paying the lineitem
    * groupBy + wedge distinct (~120M-row shuffle) on every call — with
    * the cache each consumer gets a 2-column pruned parquet scan.
    */
  def coOrderPartEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.model.CacheDirs.cachedParquet(spark, "graph", sfDir,
      s"co_edges_v$CoEdgesVersion") {
      graft.model.Tables(spark, sfDir, "lineitem")
        // a NULL order key must produce no pairs (equi-join semantics of the
        // former self-join form) — groupBy would otherwise pool all NULL-key
        // rows into one group and fabricate co-order edges among them
        .filter(col("l_orderkey").isNotNull)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("__ps"))
        .select(col("__ps"), posexplode(col("__ps")).as(Seq("__i", "src")))
        .select(col("src"),
          explode(slice(col("__ps"), col("__i") + 2, size(col("__ps")))).as("dst"))
        .distinct()
    }

  /** Degree assortativity (Newman, "Assortative mixing in networks",
    * PRL 2002): Pearson correlation of endpoint degrees over the
    * undirected edge list (each edge contributes both orientations — the
    * standard symmetric form). Positive = hubs link to hubs, negative =
    * hub-and-spoke. Exact determinism: degrees are integers, the
    * correlation is recomputed from DECIMAL power sums exactly like
    * `agg_stats` (never the built-in corr, whose streaming accumulation
    * is order-dependent).
    *
    * Scale shape: one combinable degree count, then the edge list probes
    * the |V|-row degree table twice as a broadcast, so the edge list never
    * shuffles (the table's post-aggregation stats are unknown, and
    * unhinted the planner sort-merges the edge list against it twice:
    * 3.85 vs 1.6 s on the sf0.1 derived graph). One combinable power-sum
    * aggregation. Per-value DECIMAL(18,6) casts bound each x·y at 1e12 —
    * degrees beyond ~10⁶ need a wider scale parameter.
    *
    * Degenerate case: a REGULAR graph (every degree equal — one edge, a
    * cycle, a clique) has zero degree variance, so the correlation is
    * 0/0 and the column is NaN — the mathematically honest answer
    * (assortativity is undefined without degree variance; Pearson's r has
    * no value to report). Callers needing a sentinel should null it out
    * with `nanvl`/`when(isnan(...))`.
    */
  def degreeAssortativity(edges: DataFrame, roundScale: Int = 6): DataFrame = {
    import graft.Qh
    val und = graft.model.DerivedGraph.undirected(edges)
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
    val xy = und
      .join(broadcast(deg.select(col("a"), col("deg").as("x"))), "a")
      .join(broadcast(deg.select(col("a").as("b"), col("deg").as("y"))), "b")
    val nD = col("n").cast("double")
    xy.agg(count(lit(1)).as("n"),
        Qh.dsum(col("x")).as("sx"), Qh.dsum(col("y")).as("sy"),
        Qh.dsum(col("x") * col("y")).as("sxy"),
        Qh.dsum(col("x") * col("x")).as("sx2"),
        Qh.dsum(col("y") * col("y")).as("sy2"))
      .select(col("n"),
        round((nD * col("sxy") - col("sx") * col("sy")) /
          (sqrt(nD * col("sx2") - col("sx") * col("sx")) *
            sqrt(nD * col("sy2") - col("sy") * col("sy"))), roundScale)
          .as("assortativity"))
  }
}
