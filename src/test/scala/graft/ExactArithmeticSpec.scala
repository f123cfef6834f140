package graft

import org.apache.spark.sql.functions._
import graft.model.DerivedGraph
import graft.ops.GraphAnalytics
import graft.ops.GraphAnalytics.{DSum6, Exact, ProductSum}
import org.apache.spark.sql.types.DecimalType

/** The block superstep kernel computes the iteration family's ladders on
  * primitives; these helpers must equal Spark's own `round(x, 6)`,
  * `floor(x)`, [[Qh.dsum]] and the stress `SUM(DECIMAL(38,0))` bit for
  * bit, and fail where Spark's ANSI arithmetic fails, or the rows drift
  * from the DuckDB replays. Each is compared with Spark on one corpus.
  */
class ExactArithmeticSpec extends SparkSpec {
  import spark.implicits._

  /** ≥10k doubles: exact 7th-decimal ties (as their shortest decimal
    * strings), negatives, values near 10¹², 1e-7-scale values, signed
    * zeros, random magnitudes and the saturating floor range.
    */
  private lazy val corpus: Seq[Double] = {
    val rnd = new scala.util.Random(7)
    val ties = Seq.fill(2500) {
      val s = f"${rnd.nextInt(100000)}.${rnd.nextInt(1000000)}%06d5".toDouble
      if (rnd.nextBoolean()) s else -s
    }
    val tiny = Seq.fill(1500)((rnd.nextInt(4001) - 2000) * 1e-7) ++
      Seq(5e-7, -5e-7, 1.5e-7, 4.999999e-7, 5.000001e-7, 1e-7, 9.5e-7)
    val nearT = Seq.fill(1500) {
      val x = 1e12 - math.pow(10, rnd.nextDouble() * 12 - 6)
      if (rnd.nextBoolean()) x else -x
    } ++ Seq(999999999999.9999995, 999999999999.999999, 999999999999.4, 1e12, -1e12)
    val random = Seq.fill(3500) {
      val x = rnd.nextGaussian() * math.pow(10, rnd.nextInt(16) - 6)
      if (rnd.nextInt(4) == 0) x * 1e6 / 1e6 else x
    }
    val ranks = Seq.fill(1000)(rnd.nextLong(4000000000L) / 1e9 * 0.85 + 0.15)
    ties ++ tiny ++ nearT ++ random ++ ranks ++
      Seq(0.0, -0.0, 1e18, 9.3e18, -9.3e18, Double.MaxValue, Double.MinPositiveValue)
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  test("round6 and floor equal Spark's round(x, 6) and floor(x) bit for bit") {
    assert(corpus.size >= 10000)
    val got = corpus.zipWithIndex.toDF("x", "i")
      .select(col("i"), round(col("x"), 6), floor(col("x")))
      .as[(Int, Double, Long)].collect()
    assert(got.length == corpus.size)
    got.foreach { case (i, r, f) =>
      val x = corpus(i)
      assert(bits(Exact.round6(x)) == bits(r), s"round6($x) = ${Exact.round6(x)}, Spark $r")
      assert(Exact.floor(x) == f, s"floor($x) = ${Exact.floor(x)}, Spark $f")
    }
  }

  test("DSum6 equals Qh.dsum bit for bit, failing and skipping where the cast does") {
    val fits = corpus.filter(x => math.abs(x) < 999999999999.0)
    // 101 groups of mixed values, plus a group whose unscaled total
    // passes Long.MaxValue (the BigInteger spill)
    val rnd = new scala.util.Random(3)
    val big = Seq.fill(40)(9e11 + rnd.nextInt(1000000) / 1e6)
    val groups = fits.zipWithIndex.map { case (x, i) => (i % 101, x) } ++ big.map((101, _))
    val spark6 = groups.toDF("g", "x").groupBy("g").agg(Qh.dsum(col("x")))
      .as[(Int, Double)].collect().toMap
    val mine = groups.groupBy(_._1).map { case (g, xs) =>
      g -> xs.foldLeft(new DSum6)((d, x) => d.add(x._2)).toDouble
    }
    assert(spark6.keySet == mine.keySet)
    spark6.foreach { case (g, t) =>
      assert(bits(mine(g)) == bits(t), s"group $g: DSum6 ${mine(g)}, Spark $t")
    }
    // partial sums merge to the same total in any split
    val halves = fits.splitAt(fits.size / 3)
    val merged = halves._1.foldLeft(new DSum6)(_.add(_))
      .merge(halves._2.foldLeft(new DSum6)(_.add(_))).toDouble
    val whole = fits.toDF("x").agg(Qh.dsum(col("x"))).as[Double].head()
    assert(bits(merged) == bits(whole))
    for (x <- Seq(999999999999.9999995, 1e12, -1e12)) {
      intercept[ArithmeticException](Seq(x).toDF("x").agg(Qh.dsum(col("x"))).collect())
      intercept[ArithmeticException](new DSum6().add(x))
    }
    // NaN and ±Inf cast to NULL and drop out of the sum
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val t = Seq(1.5, x).toDF("x").agg(Qh.dsum(col("x"))).as[Double].head()
      assert(bits(t) == bits(new DSum6().add(1.5).add(x).toDouble))
    }
  }

  /** Whether `body` fails with an ArithmeticException anywhere in its
    * cause chain (a task failure reaches the driver wrapped).
    */
  private def arithmeticFailure(body: => Any): Boolean =
    try { body; false }
    catch {
      case e: Exception =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[ArithmeticException])
    }

  private def sparkProductSum(pairs: Seq[(Int, Long, Long)]) =
    pairs.toDF("g", "s", "h").groupBy("g")
      .agg(sum(col("s").cast(DecimalType(38, 0)) * col("h")).cast("long"))

  private def productSum(pairs: Seq[(Long, Long)]): Long =
    pairs.foldLeft(new ProductSum)((a, p) => a.add(p._1, p._2)).toLong

  test("ProductSum equals Spark's DECIMAL(38,0) σ·h sum cast to BIGINT") {
    val rnd = new scala.util.Random(5)
    def small = rnd.nextInt(1 << 21).toLong - (1 << 20)
    // 40 groups of small signed products, then groups whose products pass
    // Long.MaxValue but whose sums are back in range: a·b − a·(b+1) = −a
    val smalls = (0 until 4000).map(i => (i % 40, small, small))
    val wide = (0 until 300).flatMap { i =>
      val (a, b) = (rnd.nextLong(), rnd.nextLong() >> (1 + rnd.nextInt(40)))
      Seq((100 + i, a, b), (100 + i, -a, b + 1))
    } ++ Seq((500, 1L << 40, 1L << 40), (500, -(1L << 40), 1L << 40), (500, 3L, 5L),
      (501, Long.MaxValue, Long.MaxValue), (501, Long.MaxValue, -Long.MaxValue), (501, 7L, -2L),
      (502, Long.MinValue, 2L), (502, 1L << 62, 4L), (502, -1L, 9L))
    val pairs = smalls ++ wide
    val want = sparkProductSum(pairs).as[(Int, Long)].collect().toMap
    val got = pairs.groupBy(_._1).map { case (g, ps) => g -> productSum(ps.map(p => (p._2, p._3))) }
    assert(want.size == 343 && got == want)
    assert(Seq(want(500), want(501), want(502)) == Seq(15L, -14L, -9L))
    // a product or a sum past BIGINT fails the cast on both sides
    for (ps <- Seq(Seq((Long.MaxValue, 2L)), Seq((Long.MaxValue, 1L), (1L, 1L)),
        Seq((Long.MinValue, 1L), (-1L, 1L)), Seq((1L << 62, 1L << 62), (1L << 62, 1L << 62)))) {
      assert(arithmeticFailure(sparkProductSum(ps.map(p => (0, p._1, p._2))).collect()), ps)
      assert(arithmeticFailure(productSum(ps)), ps)
    }
  }

  test("the kernel's σ and h sums fail on long overflow as ANSI sum does") {
    assert(arithmeticFailure(Seq(Long.MaxValue - 5, 3L, 3L).toDF("x").agg(sum("x")).collect()))
    // a path 0-1-…-10 with m parallel edges per hop: σ(v_j) = m^j, and
    // each h(v_j) = m·(1 + h(v_j+1)) from h(v_10) = 0
    def ladder(m: Int) = DerivedGraph.undirected(
      (1 to 10).flatMap(j => Seq.fill(m)((j - 1).toLong, j.toLong)).toDF("src", "dst"))
    val m = 50
    val h = (9 to 0 by -1).scanLeft(BigInt(0))((acc, _) => m * (1 + acc)).reverse
    val want = (1 to 10).map(j => (j.toLong, (BigInt(m).pow(j) * h(j)).toLong))
      .sortBy { case (id, st) => (-st, id) }
    assert(want.head._2 > (1L << 55))
    assert(GraphAnalytics.stressCentralityDF(ladder(m), Seq(0L), 10)
      .as[(Long, Long)].collect().toSeq == want)
    // at m = 100 the last round's σ sum is 100 · 100^9 = 10^20
    assert(BigInt(100).pow(9) < Long.MaxValue && BigInt(100).pow(10) > Long.MaxValue)
    assert(arithmeticFailure(Seq.fill(100)(BigInt(100).pow(9).toLong).toDF("x").agg(sum("x"))
      .collect()))
    assert(arithmeticFailure(GraphAnalytics.stressCentralityDF(ladder(100), Seq(0L), 10)
      .collect()))
  }
}
