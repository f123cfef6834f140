package graft

import org.apache.spark.sql.functions._

/** Unit specs for the round-10 operators: LOCF gap fill, per-group OLS,
  * temperature mixture weights, HITS. Oracle parity at sf0.01 is the
  * correctness gate; these pin the SEMANTICS on hand-built inputs where
  * the expected values are knowable by eye.
  */
class R10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("gapFill carries the last non-null reading forward per user") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: reading, gap, gap, reading; user 2: leading gap stays null
    val ev = Seq(
      (1L, t(0), 1L, "click", 10.0),
      (2L, t(1), 1L, "view", 99.0), // masked -> carries 10.0
      (3L, t(2), 1L, "view", 98.0), // masked -> carries 10.0
      (4L, t(3), 1L, "purchase", 20.0),
      (5L, t(0), 2L, "view", 97.0), // masked, nothing prior -> null
      (6L, t(1), 2L, "click", 30.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.ops.Windows.gapFill(ev).orderBy("event_id")
      .select("event_id", "filled").as[(Long, Option[Double])].collect()
    assert(got.toSeq == Seq(1L -> Some(10.0), 2L -> Some(10.0),
      3L -> Some(10.0), 4L -> Some(20.0), 5L -> None, 6L -> Some(30.0)))
  }

  test("regr_slope recovers an exact line per group") {
    // y = 3x + 5 exactly: slope/intercept must come out exact (the power
    // sums are integers well inside DECIMAL(18,6))
    val rows = (1 to 20).map(i =>
      ("A", "F", i.toDouble, 3.0 * i + 5.0)) ++ (1 to 20).map(i =>
      ("B", "O", i.toDouble, -2.0 * i + 7.0))
    val df = rows.toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
    val dir = java.nio.file.Files.createTempDirectory("regr").toString
    df.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val full = SparkEntry.queries("regr_slope")(spark, dir)
      .as[(String, String, Long, Double, Double)].collect()
    assert(full.toSeq.sortBy(_._1) == Seq(
      ("A", "F", 20L, 3.0, 5.0), ("B", "O", 20L, -2.0, 7.0)))
  }

  test("mixture_temperature shares sum to ~1 and follow sqrt ordering") {
    val got = SparkEntry.queries("mixture_temperature")(
      spark, "/root/testdata/sf0.001")
      .select("source", "n_docs", "share").as[(String, Long, Double)].collect()
    assert(got.nonEmpty)
    val shareSum = got.map(_._3).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"share sum $shareSum")
    // temperature flattens: the share RATIO between the largest and
    // smallest source must be strictly below their count ratio
    val bySize = got.sortBy(_._2)
    val (small, big) = (bySize.head, bySize.last)
    if (big._2 > small._2)
      assert(big._3 / small._3 < big._2.toDouble / small._2 + 1e-9)
  }
}
