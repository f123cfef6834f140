package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ingest.{StreamingThreatIngest, ThreatGraph, ThreatIntel}
import graft.model.{DerivedGraph, PropertyGraph}
import graft.ops.{GraphAnalytics, Traverse}

/** One workload: its setup steps, its op plan and how each op calls the
  * engine's public functions. */
abstract class Workloads(work: Path, val data: String) {
  def setupSteps: Seq[(String, Workloads.Ctx => Unit)]
  def layerOf(op: Op): String
  def execute(ctx: Workloads.Ctx, op: Op): Output
  def close(ctx: Workloads.Ctx): Unit = ()

  /** Write outputs for the checks run outside the JVM; return the checks
    * that need the engine as (name, ok, detail). */
  def writeOutputs(ctx: Workloads.Ctx, out: Path, kept: Seq[(Int, Op, Output)])
      : Seq[(String, Boolean, String)]

  def layersJson(ctx: Workloads.Ctx): String = "{}"

  /** Steps that fill the derived cache every setup then opens a copy of;
    * empty when setups start with an empty cache. */
  def primeSteps: Seq[Workloads.Ctx => Unit] = Nil

  /** Passes run before the measured ones. */
  def warmupPasses: Int = 0

  /** The generated op plan: `pass \t kind \t graph \t arg` per line. */
  lazy val plan: Seq[Op] = Files.readAllLines(work.resolve("plan.tsv")).asScala.toSeq
    .filter(_.nonEmpty).map { l =>
      val Array(p, k, g, a) = l.split("\t", 4)
      Op(p.toInt, k, g, a)
    }
}

object Workloads {
  final case class Ctx(spark: SparkSession, data: String, tracer: Option[Tracer])

  def apply(name: String, work: Path, data: String): Workloads = name match {
    case "graph_oltp" => new GraphOltp(work, data)
    case "graph_analytics" => new Inventory(work, data, "ops.analytics", Seq(
      "tables" -> (c => graphTables(c)),
      "graph" -> (c => GraphAnalytics.warm(c.spark, c.data)),
      "kcore_endp" -> (c =>
        if (graft.model.CacheDirs.entryBytes("graph", c.data, "fact_edges")
            >= GraphAnalytics.BucketedDegreeMinBytes)
          GraphAnalytics.bucketedDegrees(c.spark, c.data).count()),
      "bfs" -> (c => graft.QueriesGraphX.warmSharedBfs(c.spark, c.data)),
      "triangles" -> (c => graft.QueriesGraphX.warmSharedTriangles(c.spark, c.data))))
    case "llm_curation" => new Inventory(work, data, "ops.llm", Seq(
      "tables" -> (c => graft.model.Tables.warm(c.spark, c.data)),
      "similarity" -> (c => graft.ops.llm.Similarity.warm(c.spark, c.data))))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val GraphTableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** First touch of the tables the derived graph is built from. */
  def graphTables(c: Ctx): Unit =
    GraphTableNames.foreach(n => graft.model.Tables(c.spark, c.data, n).count())

  /** The engine's derived-cache roots under a setup's private tmpdir. */
  def cacheDirs(tmp: Path): Seq[Path] =
    Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_cache_")).toSeq

  private def cacheFiles(tmp: Path): Seq[Path] =
    cacheDirs(tmp).flatMap(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)))

  /** Derived-cache entries (one fingerprint marker each) under a setup's
    * tmpdir: (built since `sinceMs`, found already there). */
  def cacheEntries(tmp: Path, sinceMs: Long): (Int, Int) = {
    val fps = cacheFiles(tmp).filter(_.getFileName.toString.endsWith(".fp"))
    val built = fps.count(p => Files.getLastModifiedTime(p).toMillis >= sinceMs)
    (built, fps.size - built)
  }

  def cacheBytes(tmp: Path): Long = cacheFiles(tmp).map(Files.size).sum
}

/** graph_analytics and llm_curation: named inventory queries through
  * `Queries.all(name).fn`, each checked against its DuckDB oracle. */
final class Inventory(work: Path, data: String, layer: String,
    steps: Seq[(String, Workloads.Ctx => Unit)]) extends Workloads(work, data) {
  private lazy val queries = graft.Queries.all

  def setupSteps: Seq[(String, Workloads.Ctx => Unit)] = steps
  def layerOf(op: Op): String = layer

  def execute(ctx: Workloads.Ctx, op: Op): Output =
    Runner.timedAction(queries(op.arg).fn(ctx.spark, ctx.data))

  /** Outputs in the layout `tools/compare_oracle.py` reads: one parquet
    * directory per query next to `oracle_sql.json`. */
  def writeOutputs(ctx: Workloads.Ctx, out: Path, kept: Seq[(Int, Op, Output)])
      : Seq[(String, Boolean, String)] = {
    val dir = out.resolve("inventory")
    val oracles = kept.map { case (_, op, o) =>
      ctx.spark.createDataFrame(o.rows.toSeq.asJava, o.schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(op.arg).toString)
      op.arg -> queries(op.arg).oracle
    }
    Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(oracles.collect {
      case (k, Some(sql)) => k -> Json.str(sql) }: _*))
    oracles.collect { case (k, None) => (k, false, "no oracle") }
  }
}

/** graph_oltp: point reads on the stored derived graph and on the live
  * threat-intel snapshot, plus report micro-batches streamed into it. */
final class GraphOltp(work: Path, data: String) extends Workloads(work, data) {

  /** Reads are served by a warm engine: the first pass (one read of each
    * kind on each graph, and the write) pays the JIT warm-up of every op
    * kind before the measured passes. */
  override def warmupPasses: Int = 1

  override def primeSteps: Seq[Workloads.Ctx => Unit] = Seq(
    c => DerivedGraph.warm(c.spark, c.data),
    c => { DerivedGraph.undAdjacency(c.spark, c.data).full.count(); () })

  /** Report corpus: `batch \t resource \t report-json`; batch 0 is the
    * snapshot's initial load, each write op pushes one later batch. */
  private lazy val reports: Map[Int, Seq[(String, String)]] =
    Files.readAllLines(work.resolve("reports.tsv")).asScala.toSeq.filter(_.nonEmpty)
      .map { l => val Array(b, r, j) = l.split("\t", 3); (b.toInt, (r, j)) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2) }

  private var stream: MemoryStream[(String, String)] = _
  private var query: StreamingQuery = _
  private var ingest: StreamingThreatIngest = _
  private val pushed = scala.collection.mutable.ArrayBuffer.empty[Int]

  def setupSteps: Seq[(String, Workloads.Ctx => Unit)] = Seq(
    "tables" -> (c => Workloads.graphTables(c)),
    "graph" -> (c => DerivedGraph.warm(c.spark, c.data)),
    "und_adj" -> (c => { DerivedGraph.undAdjacency(c.spark, c.data).full.count(); () }),
    "live" -> (c => startLive(c)))

  private def startLive(c: Workloads.Ctx): Unit = {
    implicit val sql: org.apache.spark.sql.SQLContext = c.spark.sqlContext
    import c.spark.implicits._
    val sc = c.spark.sparkContext
    // the micro-batch thread inherits this group for the query's lifetime
    c.tracer.foreach(t => sc.setJobGroup(t.StreamGroup, "ingest"))
    stream = MemoryStream[(String, String)]
    ingest = new StreamingThreatIngest
    query = ingest.start(stream.toDF().toDF("resource", "report"))
    c.tracer.foreach(_ => sc.clearJobGroup())
    pushed.clear()
    push(0)
  }

  private def push(batch: Int): Unit = {
    stream.addData(reports(batch))
    query.processAllAvailable()
    pushed += batch
  }

  override def close(ctx: Workloads.Ctx): Unit = if (query != null) query.stop()

  def layerOf(op: Op): String = if (op.isWrite) "ingest" else "ops.point"

  private def stored(c: Workloads.Ctx): PropertyGraph = {
    val g = DerivedGraph(c.spark, c.data)
    PropertyGraph(g.vertices, g.edges)
  }

  private def live: PropertyGraph = {
    val g = ingest.snapshot.get
    PropertyGraph(g.vertices, g.edges)
  }

  /** Live vertex id of `label:key`, as the ingest stamps it. */
  private def liveId(lk: String): Long = {
    val Array(l, k) = lk.split(":", 2)
    new XxHash64(Seq(Literal(l), Literal(k))).eval().asInstanceOf[Long]
  }

  def execute(c: Workloads.Ctx, op: Op): Output = {
    val g = if (op.graph == "stored") stored(c) else if (op.isWrite) null else live
    def id(a: String) = if (op.graph == "stored") a.toLong else liveId(a)
    op.kind match {
      case "write" => push(op.arg.toInt); Output(Array.empty[Row], null)
      case "lookup" => Runner.timedAction(g.vertexDetails(op.arg.split(",").toSeq.map(id)))
      case "search" => Runner.timedAction(g.searchVertices(op.arg))
      case "neighbors" => Runner.timedAction(g.neighbors(id(op.arg)))
      case "khop2" =>
        val ids =
          if (op.graph == "stored")
            Traverse.kHopIdsAdj(DerivedGraph.undAdjacency(c.spark, c.data), id(op.arg), 2)
          else g.kHop(id(op.arg), 2)
        Runner.timedAction(ids.join(g.vertices, Seq("id")))
      case "ego_json" =>
        Output(Array.empty[Row], null, Some(g.buildGraphJson(id(op.arg), 4)))
    }
  }

  def writeOutputs(c: Workloads.Ctx, out: Path, kept: Seq[(Int, Op, Output)])
      : Seq[(String, Boolean, String)] = {
    val dir = out.resolve("oltp")
    Files.createDirectories(dir)
    kept.foreach { case (i, op, o) =>
      o.doc match {
        case Some(doc) => Files.writeString(dir.resolve(s"$i.json"), doc)
        case None =>
          // id, label and the name (stored) or natural key (live)
          val third = if (op.graph == "stored") "name" else "key"
          Runner.writeLines(dir.resolve(s"$i.tsv"), o.rows.iterator.map { r =>
            s"${r.getAs[Long]("id")}\t${r.getAs[String]("label")}\t${r.getAs[String](third)}"
          })
      }
    }
    Files.writeString(out.resolve("derived_graph_cte.sql"), graft.model.DerivedGraphSql.cte)
    // The oracle graph of the live reads: for every prefix of the pushed
    // batches, one batch ingest of it, written for the checks in DuckDB.
    val batches = (1 to pushed.size).map(k => k -> batchSnapshot(c, k))
    batches.foreach { case (k, g) =>
      val at = out.resolve("live").resolve(k.toString)
      g.vertices.select("id", "label", "key", "detected_prop").coalesce(1)
        .write.parquet(at.resolve("vertices").toString)
      g.edges.select("src", "dst", "label").coalesce(1)
        .write.parquet(at.resolve("edges").toString)
    }
    Seq(finalSnapshotCheck(batches.last._2))
  }

  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(Runner.render).sorted.toSeq

  /** Reports of the first `k` pushed batches, each resource's first report
    * only: a re-report is an exact re-send (checked below), so under
    * first-write-wins this is what the stream holds, and the batch path
    * rejects a batch that repeats a resource (DUPLICATED_MAP_KEY on the
    * merged attribute map). */
  private def firstReports(k: Int): Seq[(String, String)] =
    pushed.take(k).toSeq.flatMap(reports).distinctBy(_._1)

  /** Kept in memory: the last one is written and then compared. */
  private def batchSnapshot(c: Workloads.Ctx, k: Int): ThreatGraph = {
    import c.spark.implicits._
    val g = ThreatIntel.fromReports(firstReports(k).toDF("resource", "report"))
    ThreatGraph(g.vertices.cache(), g.edges.cache())
  }

  private var lastSnapshot = (0, 0)

  /** The streamed snapshot must equal one batch ingest of all pushed
    * reports in arrival order. */
  private def finalSnapshotCheck(batch: ThreatGraph): (String, Boolean, String) = {
    val all = pushed.toSeq.flatMap(reports)
    val exactResends = all.toSet.size == firstReports(pushed.size).size
    val snap = ingest.snapshot.get
    val (sv, se) = (canonRows(snap.vertices), canonRows(snap.edges))
    val (bv, be) = (canonRows(batch.vertices), canonRows(batch.edges))
    lastSnapshot = (sv.size, se.size)
    ("live.final_snapshot", exactResends && sv == bv && se == be,
      s"snapshot ${sv.size} vertices/${se.size} edges, batch ingest ${bv.size}/${be.size}" +
        (if (exactResends) "" else "; a re-report differs from the first report"))
  }

  override def layersJson(ctx: Workloads.Ctx): String = Json.obj(
    "ingest.snapshot_vertices" -> Json.num(lastSnapshot._1),
    "ingest.snapshot_edges" -> Json.num(lastSnapshot._2),
    "ingest.batches" -> Json.num(pushed.size))
}
