package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{Mutations, Traverse}

/** Property-based invariants (SURVEY.md §5.2 item 4) via ScalaCheck run
  * programmatically (few samples — each sample is a Spark job).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), p)
    assert(res.passed, res.status.toString)
  }

  private val kvsGen: Gen[List[(Long, String)]] =
    Gen.listOfN(8, Gen.zip(Gen.choose(0L, 10L), Gen.oneOf("a", "b", "c")))
      .map(_.distinctBy(_._1)) // key-unique inputs (upsert precondition)

  test("upsert idempotence: applying the same batch twice ≡ once") {
    check(Prop.forAll(kvsGen, kvsGen) { (a, b) =>
      val (dfA, dfB) = (a.toDF("id", "v"), b.toDF("id", "v"))
      val once = Mutations.upsert(dfA, dfB, Seq("id"))
      val twice = Mutations.upsert(once, dfB, Seq("id"))
      once.orderBy("id", "v").collect().toSeq == twice.orderBy("id", "v").collect().toSeq
    })
  }

  test("upsert output is key-unique and old keys keep old values") {
    check(Prop.forAll(kvsGen, kvsGen) { (a, b) =>
      val out = Mutations.upsert(a.toDF("id", "v"), b.toDF("id", "v"), Seq("id"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
      val aMap = a.toMap
      out.map(_._1).distinct.length == out.length &&
        out.forall { case (k, v) => aMap.get(k).forall(_ == v) }
    })
  }

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(10, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 6L)))
      .map(_.filter(e => e._1 != e._2).distinct)

  test("cascade delete leaves no dangling edges") {
    check(Prop.forAll(edgesGen, Gen.choose(0L, 6L)) { (es, victim) =>
      val vs = (0L to 6L).map(i => (i, s"v$i")).toDF("id", "name")
      val edf = es.map { case (s, d) => (s, d, "e") }.toDF("src", "dst", "label")
      val (v2, e2) = Mutations.deleteVerticesCascade(vs, edf, Seq(victim).toDF("id"))
      val ids = v2.select("id").as[Long].collect().toSet
      e2.collect().forall(r => ids.contains(r.getLong(0)) && ids.contains(r.getLong(1)))
    })
  }

  test("degree sum = 2|E| for any edge set") {
    check(Prop.forAll(edgesGen) { es =>
      val vs = (0L to 6L).map(i => (i, "x", s"v$i")).toDF("id", "label", "name")
      val edf = es.map { case (s, d) => (s, d, "e") }.toDF("src", "dst", "label")
      val degSum = Traverse.degrees(vs, edf)
        .agg(sum("degree")).head().getLong(0)
      degSum == 2L * es.length
    })
  }

  test("khop(k) ⊆ khop(k+1) and both contain the seed") {
    check(Prop.forAll(edgesGen, Gen.choose(1, 3)) { (es, k) =>
      val edf = (if (es.isEmpty) List((0L, 1L)) else es)
        .map { case (s, d) => (s, d, "e") }.toDF("src", "dst", "label")
      val a = Traverse.kHopIds(edf, 0L, k).as[Long].collect().toSet
      val b = Traverse.kHopIds(edf, 0L, k + 1).as[Long].collect().toSet
      a.subsetOf(b) && a.contains(0L) && b.contains(0L)
    })
  }

  test("kHop frontier-join agrees with GraphX Pregel BFS on random graphs") {
    check(Prop.forAll(edgesGen, Gen.choose(1, 3)) { (es, k) =>
      val edf = (if (es.isEmpty) List((0L, 1L)) else es)
        .map { case (s, d) => (s, d, "e") }.toDF("src", "dst", "label")
      val viaJoin = Traverse.kHopIds(edf, 0L, k).as[Long].collect().toSet
      val viaBfs = GraphXRef.bfsDistances(edf, 0L, maxDepth = k)
        .as[(Long, Long)].collect().map(_._1).toSet + 0L
      viaJoin == viaBfs
    })
  }

  test("patch is idempotent: applying the same patch twice ≡ once") {
    check(Prop.forAll(kvsGen, kvsGen) { (t0, p0) =>
      val target = t0.toDF("id", "v")
      val patches = p0.toDF("id", "v")
      val once = Mutations.patch(target, patches, Seq("id"))
      val twice = Mutations.patch(once, patches, Seq("id"))
      once.orderBy("id", "v").collect().toSeq == twice.orderBy("id", "v").collect().toSeq
    })
  }

  test("as-of join equals the per-row brute-force answer on random inputs") {
    // left rows: (event_id, key, t); right rows: (key, t, value) with
    // (key, t) unique — the operator's documented precondition.
    val leftGen = Gen.listOfN(10,
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 20L)))
      .map(_.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) })
    val rightGen = Gen.listOfN(8,
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 20L)))
      .map(_.distinctBy(p => (p._1, p._2)))
      .map(_.map { case (k, t) => (k, t, k * 100.0 + t) })
    check(Prop.forAll(leftGen, rightGen) { (ls, rs) =>
      val out = graft.ops.AsOf.joinStrictPrior(
        ls.toDF("event_id", "k", "t"), rs.toDF("k", "t", "value"),
        keyCols = Seq("k"), timeCol = "t", rightCols = Seq("t", "value"))
        .select("event_id", "asof_t", "asof_value")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2))))).toMap
      ls.forall { case (id, k, t) =>
        val expected = rs.filter(r => r._1 == k && r._2 < t)
          .sortBy(_._2).lastOption.map(r => (r._2, r._3))
        out(id) == expected
      }
    })
  }
}
