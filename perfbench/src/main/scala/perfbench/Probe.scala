package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call into a layer of the engine, as seen from the benchmark. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, startMs: Long, var endNs: Long = -1L, var endMs: Long = Long.MaxValue) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A Spark job, timed from submission to end, under the span that ran it. */
final case class JobSpan(jobId: Int, parent: Int, startMs: Long, var endMs: Long = Long.MaxValue)

object Intervals {
  /** Milliseconds of [fromMs, toMs] covered by at least one interval. */
  def coveredMs(intervals: Iterable[(Long, Long)], fromMs: Long, toMs: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Spark work counted under one span (or one run phase). */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var execRunMs = 0L
  var execCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  /** Task [launch, finish] intervals in epoch ms, for the idle-time union. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execRunMs += o.execRunMs; execCpuNs += o.execCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes; intervals ++= o.intervals
  }

  /** Milliseconds of [fromMs, toMs] during which at least one task ran. */
  def busyMs(fromMs: Long, toMs: Long): Long = Intervals.coveredMs(intervals, fromMs, toMs)
}

/** Records spans in memory and attributes Spark listener counts to the span
  * whose job group was set when the job started. The streaming ingest's
  * micro-batch thread inherits its group once, at query start, so its jobs
  * go to the innermost span that was open when the job was submitted.
  */
final class Tracer extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  private val stack = mutable.Stack.empty[Int]

  val GroupPrefix = "perfbench-span-"

  /** Job group the streaming ingest thread inherits at query start. */
  val StreamGroup = GroupPrefix + "stream"

  def open(name: String, layer: String): Span = synchronized {
    val s = Span(spans.size, name, layer, stack.headOption.getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack.push(s.id)
    s
  }

  def close(s: Span): Unit = synchronized {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack.pop()
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def allJobs: Seq[JobSpan] = synchronized(jobs.values.toList)

  def workOf(id: Int): Work = synchronized(work.getOrElseUpdate(id, new Work))

  private def spanOfJob(props: java.util.Properties, timeMs: Long): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
      case Some(g) if g.startsWith(GroupPrefix) && g != StreamGroup =>
        g.stripPrefix(GroupPrefix).toInt
      case _ =>
        spans.reverseIterator.find(s => s.startMs <= timeMs && timeMs <= s.endMs)
          .map(_.id).getOrElse(-1)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sid = spanOfJob(e.properties, e.time)
    if (sid >= 0) {
      workOf(sid).jobs += 1
      e.stageIds.foreach(st => stageSpan(st) = sid)
      jobs(e.jobId) = JobSpan(e.jobId, sid, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(sid => workOf(sid).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { sid =>
      val w = workOf(sid)
      w.tasks += 1
      w.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        w.execRunMs += m.executorRunTime
        w.execCpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.resultBytes += m.resultSize
      }
    }
  }
}
