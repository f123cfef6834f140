package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The JVM half of the benchmark: sets the engine up, drives one workload's
  * ops in a closed loop with one client thread, and writes raw timings,
  * collected outputs and (when traced) spans with their Spark counts under
  * `<work>/out`. `run.py` generates the inputs, checks the outputs and turns
  * the raw figures into metrics.
  *
  * Usage: perfbench.Main --mode run|prime|cpu-selftest --workload <name>
  *   --data <dir> --work <dir> --seconds <s> --trace 0|1 [--primed <dir>]
  *   --launched-ms <epoch ms of process launch>
  *
  * `prime` fills the workload's derived cache under `<work>/tmp/prime`;
  * `run` then gives every setup a copy of the cache found under `--primed`.
  */
object Main {

  final case class Args(mode: String, workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, primed: Option[String], launchedMs: Long)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("mode", "run"), m("workload"), m("data"), m("work"),
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.get("primed"), m.get("launched-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(tmp: Path): SparkSession = {
    System.setProperty("java.io.tmpdir", tmp.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.resolve("local").toString)
      .getOrCreate()
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val args = parse(argv)
    args.mode match {
      case "cpu-selftest" => cpuSelfTest(args)
      case "run" => run(args, mainMs)
      case "prime" => prime(args)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** Fill the derived cache that every setup of the workload opens a copy
    * of, as an earlier process would have. */
  private def prime(a: Args): Unit = {
    val wl = Workloads(a.workload, Paths.get(a.work), a.data)
    if (wl.primeSteps.nonEmpty) {
      val spark = session(Paths.get(a.work, "tmp", "prime"))
      spark.sparkContext.setLogLevel("ERROR")
      wl.primeSteps.foreach(_(Workloads.Ctx(spark, a.data, None)))
      stopSession(spark)
    }
  }

  /** Executor CPU of one query under `collect()` and under `count()`. */
  private def cpuSelfTest(a: Args): Unit = {
    val spark = session(Paths.get(a.work, "tmp", "selftest"))
    spark.sparkContext.setLogLevel("ERROR")
    val q = graft.Queries.all(a.workload).fn
    q(spark, a.data).collect() // first touch: tables and codegen
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    def cpuOf(name: String)(f: DataFrame => Unit): Double = {
      val s = tracer.open(name, "selftest")
      spark.sparkContext.setJobGroup(tracer.GroupPrefix + s.id, name)
      f(q(spark, a.data))
      tracer.close(s)
      org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      tracer.workOf(s.id).execCpuNs / 1e9
    }
    val timed = Runner.timedAction(_: DataFrame)
    val collectCpu = cpuOf("collect")(df => timed(df))
    val countCpu = cpuOf("count")(df => df.count())
    Files.createDirectories(Paths.get(a.work, "out"))
    Files.writeString(Paths.get(a.work, "out", "selftest.json"),
      Json.obj("query" -> Json.str(a.workload), "collect_cpu_s" -> Json.num(collectCpu),
        "count_cpu_s" -> Json.num(countCpu)))
    stopSession(spark)
  }

  private def run(a: Args, mainMs: Long): Unit = {
    val out = Files.createDirectories(Paths.get(a.work, "out"))
    val wl = Workloads(a.workload, Paths.get(a.work), a.data)
    val setups = mutable.ArrayBuffer.empty[String]
    var spark: SparkSession = null
    var ctx: Workloads.Ctx = null
    // Every setup opens an identical copy of the primed derived cache, which
    // is empty for a workload without prime steps.
    val primed = Workloads.cacheDirs(Paths.get(
      a.primed.getOrElse(throw new IllegalArgumentException("--primed is required"))))
    // Set up once; the last session serves the timed phase. A traced run
    // adds a traced and then an untraced setup, so the traced one compares
    // with an untraced one of the same JVM age.
    val n = if (a.trace) 3 else 1
    for (i <- 1 to n) {
      if (spark != null) { wl.close(ctx); stopSession(spark) }
      val tmp = Paths.get(a.work, "tmp", s"s$i")
      primed.foreach(src => copyTree(src, tmp.resolve(src.getFileName)))
      val traced = a.trace && i == 2
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      spark = session(tmp)
      spark.sparkContext.setLogLevel("ERROR")
      val tracer = if (traced) Some(new Tracer) else None
      tracer.foreach(spark.sparkContext.addSparkListener)
      val steps = mutable.ArrayBuffer("session" -> (System.nanoTime() - t0) / 1e9)
      ctx = Workloads.Ctx(spark, a.data, tracer)
      wl.setupSteps.foreach { case (name, f) =>
        val s0 = System.nanoTime()
        Runner.within(ctx, s"model.$name", "model")(f(ctx))
        steps += name -> (System.nanoTime() - s0) / 1e9
      }
      val inJvm = (System.nanoTime() - t0) / 1e9
      val (built, hit) = Workloads.cacheEntries(tmp, startMs)
      val heap = if (i == n) Heap.liveAfterGc(spark.sparkContext) else Double.NaN
      val spans = tracer.map { t =>
        org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        Runner.spansJson(t)
      }.getOrElse("[]")
      // Process launch to ready: the JVM start, then this setup's steps.
      // The first setup after a cold start also pays class loading and JIT
      // warm-up.
      val total = (mainMs - a.launchedMs) / 1e3 + inJvm
      setups += Json.obj("i" -> Json.num(i), "traced" -> Json.bool(traced),
        "total_s" -> Json.num(total), "in_jvm_s" -> Json.num(inJvm),
        "steps" -> Json.obj(steps.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
        "cache_built" -> Json.num(built), "cache_hit" -> Json.num(hit),
        "live_heap_mb" -> Json.num(heap), "spans" -> spans)
    }
    val runner = new Runner(ctx, wl, a.trace)
    runner.timedPhase(a.seconds)
    wl.close(ctx)
    val checks = runner.writeOutputs(out)
    Files.writeString(out.resolve("result.json"), Json.obj(
      "workload" -> Json.str(a.workload),
      "cores" -> Json.num(cpus),
      "boot_s" -> Json.num((mainMs - a.launchedMs) / 1e3),
      "setups" -> Json.arr(setups.toSeq),
      "passes" -> runner.passesJson,
      "ops" -> runner.opsJson,
      "checks" -> checks,
      "layers" -> runner.layersJson,
      "derived_disk_mb" -> Json.num(
        Workloads.cacheBytes(Paths.get(a.work, "tmp", s"s$n")) / 1048576.0)))
    stopSession(spark)
  }
}

/** Heap occupancy right after a full collection, summed over heap pools.
  * Pending listener events are delivered first, and collections repeat
  * (with a pause for Spark's ContextCleaner to drop the blocks of what the
  * last one found unreachable) until the figure stops falling. */
object Heap {
  def liveAfterGc(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.PerfbenchShim.drainListeners(sc)
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 0
    while (prev - cur > 1.0 && rounds < 3) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** One collected output: rows with their schema, or a document string. */
final case class Output(rows: Array[Row], schema: StructType, doc: Option[String] = None) {
  def size: Int = doc.map(_ => 1).getOrElse(rows.length)
}

/** One op of the closed loop. */
final case class Op(pass: Int, kind: String, graph: String, arg: String) {
  def name: String = if (kind == "query") arg else s"$graph.$kind"
  def isWrite: Boolean = kind == "write"
}
