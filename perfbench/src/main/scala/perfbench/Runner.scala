package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row}

/** Drives the timed phase: the workload's warm-up passes, then whole
  * measured passes over the op plan, one client thread, no think time,
  * until the measured time is used up. A traced run starts with at least
  * one warm-up pass, then alternates untraced and traced passes, so both
  * are measured in an aged session and their difference is the tracing
  * overhead.
  */
final class Runner(ctx: Workloads.Ctx, wl: Workloads, trace: Boolean) {
  import Runner._

  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val passes = mutable.ArrayBuffer.empty[PassRec]
  /** Outputs kept for the checks: every graph_oltp read, and the first
    * output of each inventory query. */
  private val kept = mutable.LinkedHashMap.empty[Int, Output]
  /** Canonical rows of each inventory query's first output. */
  private val firstCanon = mutable.HashMap.empty[String, Seq[String]]
  private val repeatMismatch = mutable.LinkedHashSet.empty[String]
  /** Warm-up passes: their ops are checked but not measured. */
  private val warm = if (trace) math.max(1, wl.warmupPasses) else wl.warmupPasses

  def timedPhase(seconds: Double): Unit = {
    val plan = wl.plan.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    var elapsed = 0.0
    var p = 0
    def moreWanted = p <= warm || elapsed < seconds || (trace && p <= warm + 1)
    while (p < plan.size && moreWanted) {
      val traced = trace && p > warm && (p - warm) % 2 == 1
      val warmup = p < warm
      val tracer = if (traced) Some(new Tracer) else None
      tracer.foreach(ctx.spark.sparkContext.addSparkListener)
      val pctx = ctx.copy(tracer = tracer)
      val t0 = System.nanoTime()
      within(pctx, s"pass.$p", "pass") {
        plan(p).foreach(op => runOp(pctx, op, traced))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (!warmup) elapsed += wall
      val spans = tracer.map { t =>
        org.apache.spark.PerfbenchShim.drainListeners(ctx.spark.sparkContext)
        ctx.spark.sparkContext.removeSparkListener(t)
        spansJson(t)
      }.getOrElse("[]")
      val heap = if (warmup) Double.NaN else Heap.liveAfterGc(ctx.spark.sparkContext)
      passes += PassRec(p, traced, warmup, wall, heap, spans)
      p += 1
    }
  }

  private def runOp(pctx: Workloads.Ctx, op: Op, traced: Boolean): Unit = {
    val idx = recs.size
    val t0 = System.nanoTime()
    // Only non-fatal errors are an op's failure; a fatal one ends the run.
    val result: Either[String, Output] =
      try Right(within(pctx, op.name, wl.layerOf(op))(wl.execute(pctx, op)))
      catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    result match {
      case Left(err) =>
        System.err.println(s"[perfbench] op $idx ${op.name} FAILED: $err")
      case Right(out) if op.kind == "query" =>
        val canon = canonical(out)
        firstCanon.get(op.arg) match {
          case None => firstCanon(op.arg) = canon; kept(idx) = out
          case Some(first) => if (first != canon) repeatMismatch += op.arg
        }
      case Right(out) => if (!op.isWrite) kept(idx) = out
    }
    recs += Rec(idx, op, secs, result.left.toOption, result.map(_.size).getOrElse(0), traced,
      warmup = op.pass < warm)
  }

  /** Write what the checks need and run the checks that need the engine.
    * Returns the JVM-side checks as a JSON array. */
  def writeOutputs(out: Path): String = {
    val checks = mutable.ArrayBuffer.empty[String]
    def check(name: String, ok: Boolean, detail: String): Unit =
      checks += Json.obj("name" -> Json.str(name), "ok" -> Json.bool(ok),
        "detail" -> Json.str(detail))
    repeatMismatch.foreach(q =>
      check(q, ok = false, "a repeat returned other rows than the first run"))
    wl.writeOutputs(ctx, out, kept.toSeq.map { case (i, o) => (i, recs(i).op, o) })
      .foreach { case (n, ok, d) => check(n, ok, d) }
    Json.arr(checks.toSeq)
  }

  def passesJson: String = Json.arr(passes.toSeq.map(p => Json.obj(
    "pass" -> Json.num(p.pass), "traced" -> Json.bool(p.traced),
    "warmup" -> Json.bool(p.warmup),
    "seconds" -> Json.num(p.seconds), "live_heap_mb" -> Json.num(p.liveHeapMb),
    "spans" -> p.spans)))

  def opsJson: String = Json.arr(recs.toSeq.map(r => Json.obj(
    "i" -> Json.num(r.idx), "pass" -> Json.num(r.op.pass), "name" -> Json.str(r.op.name),
    "kind" -> Json.str(r.op.kind), "graph" -> Json.str(r.op.graph),
    "write" -> Json.bool(r.op.isWrite), "seconds" -> Json.num(r.seconds),
    "error" -> r.error.map(Json.str).getOrElse("null"), "rows" -> Json.num(r.rows),
    "traced" -> Json.bool(r.traced), "warmup" -> Json.bool(r.warmup))))

  def layersJson: String = wl.layersJson(ctx)
}

object Runner {

  private final case class Rec(idx: Int, op: Op, seconds: Double, error: Option[String],
      rows: Int, traced: Boolean, warmup: Boolean)
  private final case class PassRec(pass: Int, traced: Boolean, warmup: Boolean,
      seconds: Double, liveHeapMb: Double, spans: String)

  /** The timed action: every output column of every row reaches the caller. */
  def timedAction(df: DataFrame): Output = Output(df.collect(), df.schema)

  /** Run `f` as a span when the context is traced: its Spark jobs carry the
    * span's job group, so the listener counts them under it. */
  def within[T](ctx: Workloads.Ctx, name: String, layer: String)(f: => T): T =
    ctx.tracer match {
      case None => f
      case Some(t) =>
        val sc = ctx.spark.sparkContext
        val s = t.open(name, layer)
        sc.setJobGroup(t.GroupPrefix + s.id, name)
        try f
        finally {
          t.close(s)
          if (s.parent >= 0) sc.setJobGroup(t.GroupPrefix + s.parent, "")
          else sc.clearJobGroup()
        }
    }

  /** Order-insensitive rendering of an output, for repeat comparisons. */
  def canonical(o: Output): Seq[String] =
    o.doc.map(Seq(_)).getOrElse(o.rows.toSeq.map(render).sorted)

  def render(v: Any): String = v match {
    case null => "NULL"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Spans of one traced phase with the Spark work under each, then one
    * span per Spark job. `busy_s` covers the span and everything beneath
    * it; `self_s` is its time not covered by child spans or jobs. */
  def spansJson(t: Tracer): String = {
    val spans = t.allSpans
    val jobs = t.allJobs
    val children = spans.groupBy(_.parent)
    val childJobs = jobs.groupBy(_.parent)
    def subtree(id: Int): Seq[Int] = id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id))
    val spanJson = spans.map { s =>
      val all = new Work
      subtree(s.id).foreach(i => all.add(t.workOf(i)))
      val covered = Intervals.coveredMs(
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)) ++
          childJobs.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      Json.obj(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "parent" -> Json.num(s.parent), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs), "seconds" -> Json.num(s.seconds),
        "self_s" -> Json.num(math.max(0.0, s.seconds - covered / 1e3)),
        "jobs" -> Json.num(all.jobs), "stages" -> Json.num(all.stages),
        "tasks" -> Json.num(all.tasks), "exec_run_s" -> Json.num(all.execRunMs / 1e3),
        "exec_cpu_s" -> Json.num(all.execCpuNs / 1e9), "gc_s" -> Json.num(all.gcMs / 1e3),
        "shuffle_write_mb" -> Json.num(all.shuffleWriteBytes / 1048576.0),
        "spill_mb" -> Json.num(all.spillBytes / 1048576.0),
        "result_mb" -> Json.num(all.resultBytes / 1048576.0),
        "busy_s" -> Json.num(all.busyMs(s.startMs, s.endMs) / 1e3))
    }
    val jobJson = jobs.map { j =>
      val secs = (j.endMs - j.startMs) / 1e3
      Json.obj("id" -> Json.num(-10L - j.jobId), "name" -> Json.str(s"job ${j.jobId}"),
        "layer" -> Json.str("spark"), "parent" -> Json.num(j.parent),
        "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs),
        "seconds" -> Json.num(secs), "self_s" -> Json.num(secs))
    }
    Json.arr(spanJson ++ jobJson)
  }

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.toSeq.asJava)
  }
}
