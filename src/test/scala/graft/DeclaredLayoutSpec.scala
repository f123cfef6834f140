package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.model.DerivedGraph
import graft.ops.GraphAnalytics

/** The kernel frames sorted on a vertex id (k-core and LPA on `id`,
  * modularity on `community`) declare a range partitioning and an
  * ordering they must really have: a wrong declaration returns wrong rows
  * silently, for joins and groupBys as well as sorts. Checked at 1 and 7
  * input partitions, 1 and 4 shuffle partitions, AQE on and off, on hand
  * graphs (one with fewer vertices than partitions) and on the sf0.001
  * query frames.
  */
class DeclaredLayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sf001 = "/root/testdata/sf0.001"
  private def haveSf001 = java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf001))

  /** `body` under each shuffle width and AQE setting. */
  private def underEachPlanner(body: String => Unit): Unit = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try for (w <- Seq("1", "4"); aqe <- Seq("true", "false")) {
      spark.conf.set(keys(0), w)
      spark.conf.set(keys(1), aqe)
      body(s"width $w, AQE $aqe")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Every check of one declared frame `df`, sorted on `key`; `ordered` is
    * the query's sorted frame over it. Returns the keys of each partition.
    */
  private def checkFrame(what: String, df: DataFrame, key: String,
      ordered: DataFrame): Seq[Array[Long]] = {
    // the sort plans no exchange and no sort, and its rows are those of
    // the same rows sorted without the declaration
    val rows = ordered.collect().toSeq
    val moves = collect(ordered.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e.nodeName
      case s: SortExec => s.nodeName
    }
    assert(moves.isEmpty, s"$what: the sort planned $moves")
    val plain = spark.createDataFrame(df.rdd, df.schema)
    assert(rows == plain.orderBy(key).collect().toSeq, s"$what: sorted rows differ")

    // as many partitions as declared, each sorted, and every key above
    // those of the non-empty partitions before it
    val k = df.schema.fieldIndex(key)
    val parts = df.queryExecution.toRdd.mapPartitions(rs =>
      Iterator(rs.map(_.getLong(k)).toArray)).collect().toSeq
    val declared = df.queryExecution.executedPlan.outputPartitioning.numPartitions
    assert(parts.length == declared, s"$what: ${parts.length} partitions, $declared declared")
    parts.zipWithIndex.foldLeft(Option.empty[Long]) { case (below, (ks, i)) =>
      assert(ks.sameElements(ks.sorted), s"$what: partition $i unsorted")
      below.foreach(b => assert(ks.forall(_ > b), s"$what: partition $i reaches below $b"))
      ks.lastOption.orElse(below)
    }

    // a join and a groupBy on the key, against an ordinary frame, read the
    // rows they read from an undeclared checkpointed copy
    val copy = plain.localCheckpoint()
    val keys = rows.map(_.getLong(0))
    val other = ((keys.indices by 2).map(keys) ++ Seq(-1L, Long.MaxValue))
      .map(x => (x, Math.floorMod(x, 3L))).toDF(key, "w").repartition(3)
    val second = df.columns(1)
    def reads(f: DataFrame): Seq[Seq[String]] = Seq(
      f.join(other, key), other.join(f, Seq(key), "left"), f.join(other, Seq(key), "full"),
      f.groupBy(key).agg(count(lit(1)).as("n"), sum(col(second)).as("s"))).map(sortedRows)
    assert(reads(df) == reads(copy), s"$what: a join or groupBy read other rows")
    parts
  }

  test("hand-graph kernel frames hold the range layout they declare") {
    // duplicate edges, a self-loop, an endpoint outside the vertex table
    // (99) and an isolated vertex (30); the second graph has fewer
    // vertices than the kernel has partitions
    val rnd = new scala.util.Random(5)
    val verts = ((1L to 30L) ++ (200L to 212L)).toDF("id")
    val pairs = Seq.fill(60)((rnd.nextInt(29).toLong + 1, rnd.nextInt(29).toLong + 1)) ++
      (200L to 211L).map(i => (i, i + 1)) ++ Seq((1L, 2L), (1L, 2L), (4L, 4L), (5L, 99L),
      (200L, 205L), (203L, 208L))
    val edges = pairs.toDF("src", "dst")
    val graphs = Seq(("irregular", verts, edges, 2), ("two vertices", Seq(7L, 9L).toDF("id"),
      Seq((7L, 9L)).toDF("src", "dst"), 1))
    for ((name, vs, es, k) <- graphs; in <- Seq(1, 7)) {
      val layout = (df: DataFrame) => if (in == 1) df.coalesce(1) else df.repartition(in)
      val (v, e) = (layout(vs), layout(es))
      val frames = Seq(("kcore", GraphAnalytics.kCoreDF(e, k), "id"),
        ("lpa", GraphAnalytics.lpaDF(v, DerivedGraph.undirected(e)), "id"),
        ("modularity", GraphAnalytics.modularityDF(v, e), "community"))
      underEachPlanner { planner =>
        frames.foreach { case (op, df, key) =>
          val parts = checkFrame(s"$name $op, $in input partitions, $planner", df, key,
            df.orderBy(key))
          if (name == "two vertices") assert(parts.exists(_.isEmpty), s"$op: no empty partition")
        }
      }
    }
  }

  test("the graph_kcore, graph_lpa and graph_modularity frames hold their declared layout") {
    assume(haveSf001, "testdata sf0.001 not present")
    // the suite's own session, whose planner settings the checks vary
    val s = spark
    GraphAnalytics.warm(s, sf001)
    val (und, member) = (GraphAnalytics.undirectedView(s, sf001),
      GraphAnalytics.memberView(s, sf001))
    val byQuery = Seq(
      ("graph_kcore", GraphAnalytics.kCoreDF(und, 8, QueriesGraphX.KcoreRounds), "id"),
      ("graph_lpa", GraphAnalytics.lpaDF(member, 5), "id"),
      ("graph_modularity", GraphAnalytics.modularityDF(member, 5), "community"))
    underEachPlanner { planner =>
      byQuery.foreach { case (q, df, key) =>
        checkFrame(s"$q, $planner", df, key, Queries.all(q).fn(s, sf001))
      }
    }
  }
}
