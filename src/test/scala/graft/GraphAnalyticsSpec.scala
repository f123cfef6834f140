package graft

import org.apache.spark.sql.functions._
import graft.model.DerivedGraph
import graft.ops.GraphAnalytics

/** The graph operators on hand-computed graphs, against the GraphX
  * references ([[GraphXRef]]) and under any input layout.
  */
class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // triangle 1-2-3 with a tail 3-4, plus isolated pair 5-6
  private lazy val v = (1L to 6L).map(i => (i, "x", s"v$i")).toDF("id", "label", "name")
  private lazy val e = Seq((1L, 2L, "e"), (2L, 3L, "e"), (1L, 3L, "e"),
    (3L, 4L, "e"), (5L, 6L, "e")).toDF("src", "dst", "label")

  test("pageRank invariant: ranks sum to ≈ |V| (normalized PageRank)") {
    val ranks = GraphXRef.pageRank(e).agg(sum("rank")).head().getDouble(0)
    assert(math.abs(ranks - 6.0) < 0.1, s"sum(rank)=$ranks")
  }

  test("deterministic pageRankDF agrees with GraphX staticPageRank and is layout-invariant") {
    val gx = GraphXRef.pageRank(e).as[(Long, Double)].collect().toMap
    val df = GraphAnalytics.pageRankDF(v, e).as[(Long, Double)].collect().toMap
    assert(df.keySet == gx.keySet)
    df.foreach { case (id, r) =>
      assert(math.abs(r - gx(id)) < 1e-4, s"vertex $id: df=$r gx=${gx(id)}")
    }
    val shuffled = GraphAnalytics.pageRankDF(v.repartition(7), e.repartition(5))
      .as[(Long, Double)].collect().toMap
    assert(shuffled == df, "pageRankDF values changed under repartitioning")
  }

  test("eigenvectorDF: hand-traced renormalized power iteration, layout-invariant") {
    // 3-cycle with a chord (1→2→3→1 plus 1→3): strongly connected, so
    // mass persists and the renormalized iterate has a nontrivial fixpoint
    val cv = Seq(1L, 2L, 3L).map(i => (i, "x", s"v$i")).toDF("id", "label", "name")
    val ce = Seq((1L, 2L, "e"), (2L, 3L, "e"), (3L, 1L, "e"), (1L, 3L, "e"))
      .toDF("src", "dst", "label")
    // in-degrees: 1←3; 2←1; 3←{2,1}. Mimic the engine's ladder exactly:
    // floor(x·1e6) PER MESSAGE, exact long sum, /1e6, exact DECIMAL(18,6)
    // total, round(y·n/t, 6) — same op order, same string-repr BigDecimal
    // rounding as Spark's round()/decimal cast.
    def step(x: Map[Long, Double]): Map[Long, Double] = {
      def fl(v: Double): Long = math.floor(v * 1e6).toLong
      val units = Map(1L -> fl(x(3L)), 2L -> fl(x(1L)),
        3L -> (fl(x(2L)) + fl(x(1L))))
      val y = units.map { case (k, u) => k -> u.toDouble / 1e6 }
      val t = y.values
        .map(v => BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble
      y.map { case (k, v) =>
        k -> BigDecimal(v * 3 / t)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    var exp = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0)
    for (_ <- 1 to 8) exp = step(exp)
    val got = GraphAnalytics.eigenvectorDF(cv, ce, 8)
      .as[(Long, Double)].collect().toMap
    got.foreach { case (id, x) =>
      assert(math.abs(x - exp(id)) < 2e-6, s"vertex $id: got=$x exp=${exp(id)}")
    }
    val shuffled = GraphAnalytics.eigenvectorDF(cv.repartition(5), ce.repartition(3), 8)
      .as[(Long, Double)].collect().toMap
    assert(shuffled == got, "eigenvectorDF values changed under repartitioning")
    // Σx = |V| after every renormalized round (allowing 6dp round drift)
    assert(math.abs(got.values.sum - 3.0) < 1e-4)
  }

  test("connected components: two components with the expected membership") {
    val cc = GraphAnalytics.connectedComponents(v, DerivedGraph.undirected(e))
      .groupBy("component").agg(count(lit(1)).as("n"))
      .orderBy("component").as[(Long, Long)].collect().toSeq
    assert(cc == Seq((1L, 4L), (5L, 2L))) // GraphX labels by min vertex id
  }

  test("connectedComponents equals GraphX CC under any layout") {
    // the path 50-…-62 needs 12 rounds, so more than one convergence
    // check; 30 is an endpoint outside the vertex table, so it joins
    // nothing to 45, and 21 is isolated
    val verts = ((1L to 21L) ++ Seq(45L) ++ (50L to 62L)).toDF("id")
    for (seed <- Seq(21, 22, 23)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(18)((rnd.nextInt(20).toLong + 1, rnd.nextInt(20).toLong + 1)) ++
        Seq((3L, 3L), (1L, 2L), (1L, 2L), (30L, 5L), (30L, 45L)) ++
        (50L to 61L).map(i => (i, i + 1))
      val edges = rnd.shuffle(pairs).toDF("src", "dst")
      val ref = GraphXRef.connectedComponents(verts, edges).as[(Long, Long)].collect().toMap
      assert(ref.size == verts.count() && ref(21L) == 21L && ref(45L) == 45L && ref(62L) == 50L)
      def run(vs: org.apache.spark.sql.DataFrame, es: org.apache.spark.sql.DataFrame) =
        GraphAnalytics.connectedComponents(vs, DerivedGraph.undirected(es))
          .as[(Long, Long)].collect().toMap
      assert(run(verts, edges) == ref, s"graph $seed")
      atShuffleWidths(Seq(run(verts.coalesce(1), edges.coalesce(1)),
        run(verts.repartition(7), edges.repartition(7)))).flatten
        .foreach(got => assert(got == ref, s"graph $seed under a layout"))
    }
  }

  test("the kernel counts each vertex once however many directions it builds") {
    val v4 = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e4 = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphAnalytics.kernelVertexCount(v4, e4, Seq("src" -> "dst")) == 4L)
    assert(GraphAnalytics.kernelVertexCount(v4, e4, Seq("src" -> "dst", "dst" -> "src")) == 4L)
  }

  test("lpaDF: hand-traced supersteps on a known graph, layout-invariant") {
    // Sync LPA with min-label tie-break, 5 rounds, labels init = id:
    // the triangle+tail component collapses onto label 1 by round 3; the
    // isolated pair 5-6 oscillates with period 2 (classic bipartite LPA),
    // so after an odd round v5 holds 6 and v6 holds 5.
    val got = GraphAnalytics.lpaDF(v.select("id"), DerivedGraph.undirected(e), 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 6L, 6L -> 5L))
    val shuffled = GraphAnalytics.lpaDF(
      v.repartition(7).select("id"), DerivedGraph.undirected(e.repartition(5)), 5)
      .as[(Long, Long)].collect().toMap
    assert(shuffled == got, "lpaDF changed under repartitioning")
  }

  test("lpaDF vs GraphX LPA: identical community PARTITION on a tie-free graph") {
    // Two clean stars (hub 1 w/ leaves 2-4, hub 10 w/ leaves 11-13): no
    // count ties after round 1, so the induced partition must agree even
    // though GraphX's tie-break is order-unstable in general.
    val sv = (Seq(1L, 10L) ++ (2L to 4L) ++ (11L to 13L)).map(i => (i, "x", s"v$i"))
      .toDF("id", "label", "name")
    val se = ((2L to 4L).map(l => (1L, l, "e")) ++ (11L to 13L).map(l => (10L, l, "e")))
      .toDF("src", "dst", "label")
    def partition(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.as[(Long, Long)].collect().groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val mine = partition(GraphAnalytics.lpaDF(sv.select("id"), DerivedGraph.undirected(se), 4))
    val gx = partition(GraphXRef.labelPropagation(se, 4))
    assert(mine == gx, s"partitions differ: $mine vs $gx")
  }

  test("graph_cc oracle convergence: bounded min-label rounds == GraphX CC on the real derived graph") {
    // The oracle replays CC as CcRounds of min-label propagation; this is
    // only equal to true CC if the rounds cover the eccentricity of each
    // component's argmin vertex. Prove it on the actual graph family the
    // query runs over (topology — hence diameter — is SF-invariant).
    val d = "/root/testdata/sf0.001"
    val g = graft.model.DerivedGraph(spark, d)
    val ed = g.edges.select("src", "dst")
    val und = ed.unionAll(ed.select(col("dst").as("src"), col("src").as("dst")))
      .toDF("a", "b").localCheckpoint()
    var lbl = g.vertices.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to QueriesGraphX.CcRounds) {
      val m = und.join(lbl, col("b") === col("id"))
        .groupBy("a").agg(min("lbl").as("ml"))
        .select(col("a").as("id"), col("ml"))
      lbl = lbl.join(m, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("ml"), col("lbl"))).as("lbl"))
        .localCheckpoint()
    }
    val bounded = lbl.as[(Long, Long)].collect().toMap
    val gx = GraphXRef.connectedComponents(g.vertices, g.edges).as[(Long, Long)].collect().toMap
    assert(bounded == gx,
      s"bounded min-label (${QueriesGraphX.CcRounds} rounds) disagrees with GraphX CC on ${
        bounded.count { case (k, v) => gx.get(k).exists(_ != v) }} vertices")
  }

  test("kCoreDF: K4 plus pendant tail — the 3-core is exactly the K4") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = GraphAnalytics.kCoreDF(edges, k = 3, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCoreDF: pendant chain peels one layer per round — rounds bound is real") {
    // path 1-2-…-8: the 2-core is empty, but each round only removes the
    // two current endpoints, so 3 rounds leave a residue while 4 suffice.
    val path = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(GraphAnalytics.kCoreDF(path, k = 2, rounds = 3).count() > 0)
    assert(GraphAnalytics.kCoreDF(path, k = 2, rounds = 4).count() == 0)
  }

  test("kCoreDF on an irregular hand graph: rows pinned at the round bound, under any layout") {
    // k = 2 over: the K4 1-2-3-4 with a self-loop on 1; 5 tied to 2 by
    // three parallel edges; 50 whose only edge is a self-loop (degree 2);
    // the isolated pair 20-21; the chain 3-10-11-12-13, which peels one
    // vertex per round and needs exactly 4 rounds; and 40 (neighbours 4,
    // 41, 42 with 42-43-44 hanging off it), whose degree drops below k
    // only in round 3, so round 4 removes it; 80 (neighbours 1 and the
    // pendants 81, 82) loses two in round 1, so round 2 removes it.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 1L),
      (2L, 5L), (2L, 5L), (5L, 2L), (50L, 50L), (20L, 21L), (3L, 10L), (10L, 11L),
      (11L, 12L), (12L, 13L), (4L, 40L), (40L, 41L), (40L, 42L), (42L, 43L), (43L, 44L),
      (1L, 80L), (80L, 81L), (80L, 82L))
      .toDF("src", "dst")
    def run(es: org.apache.spark.sql.DataFrame, rounds: Int) =
      GraphAnalytics.kCoreDF(es, k = 2, rounds = rounds).orderBy("id")
        .as[(Long, Long)].collect().toSeq
    val expected = Map(
      3 -> Seq((1L, 5L), (2L, 6L), (3L, 4L), (4L, 4L), (5L, 3L), (10L, 1L), (40L, 1L),
        (50L, 2L)),
      4 -> Seq((1L, 5L), (2L, 6L), (3L, 3L), (4L, 3L), (5L, 3L), (50L, 2L)),
      5 -> Seq((1L, 5L), (2L, 6L), (3L, 3L), (4L, 3L), (5L, 3L), (50L, 2L)))
    for ((rounds, rows) <- expected) {
      assert(run(edges, rounds) == rows, s"rounds $rounds")
      atShuffleWidths(Seq(run(edges.coalesce(1), rounds), run(edges.repartition(7), rounds)))
        .flatten.foreach(got => assert(got == rows, s"rounds $rounds under a layout"))
    }
  }

  test("graph_kcore oracle convergence: one extra round changes nothing on the real derived graph") {
    val d = "/root/testdata/sf0.001"
    val edges = graft.model.DerivedGraph(spark, d).edges.select("src", "dst")
    val atBound = GraphAnalytics.kCoreDF(edges, k = 8, rounds = QueriesGraphX.KcoreRounds)
      .as[(Long, Long)].collect().toMap
    val oneMore = GraphAnalytics.kCoreDF(edges, k = 8, rounds = QueriesGraphX.KcoreRounds + 1)
      .as[(Long, Long)].collect().toMap
    assert(atBound == oneMore, "peel had not converged within the oracle's round bound")
    assert(atBound.nonEmpty && atBound.values.forall(_ >= 8L))
  }

  test("triangle count on a known graph") {
    val canonical = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L))
      .toDF("src", "dst")
    assert(GraphXRef.triangleCount(canonical) == 1L)
  }

  test("DataFrame degree-ordered triangle count agrees with GraphX") {
    // K4 on 1-4 (4 triangles) + triangle 5-6-7 + tail 7-8
    val canonical = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L)).toDF("src", "dst")
    val listed = canonical.select($"src".as("a"), $"dst".as("b"))
    assert(GraphAnalytics.triangleListDF(listed).count() == 5L)
    // the broadcast-hinted plan (the bench opt-in) counts identically
    assert(GraphAnalytics.triangleListDF(listed, broadcastSides = true).count() == 5L)
    assert(GraphXRef.triangleCount(canonical) == 5L)
  }

  test("triangleListDF enumerates each triangle exactly once, canonically") {
    // same fixture as the count test: K4 (4 triangles) + triangle 5-6-7
    val canonical = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L))
      .toDF("src", "dst").select($"src".as("a"), $"dst".as("b"))
    val rows = GraphAnalytics.triangleListDF(canonical)
      .orderBy("x", "y", "z").as[(Long, Long, Long)].collect().toSeq
    assert(rows == Seq(
      (1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L), (5L, 6L, 7L)))
    // the broadcast-hinted plan (the bench/shared-cache opt-in) agrees,
    // and the list's cardinality IS the triangle count graph_triangles
    // reads off the shared frame
    assert(GraphAnalytics.triangleListDF(canonical, broadcastSides = true)
      .count() == GraphXRef.triangleCount(
        canonical.select($"a".as("src"), $"b".as("dst"))))
  }

  test("bfs distances on a path with an unreachable pair") {
    val dists = GraphXRef.bfsDistances(e, seed = 1L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(dists == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L))) // 5,6 unreachable
  }

  /** Seeded random graphs over vertices 1..20 with an isolated vertex 21
    * in the vertex table, a vertex 30 that only appears as an edge
    * endpoint and a component 40-41 that no landmark reaches.
    */
  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (Seq.fill(30)((rnd.nextInt(20).toLong + 1, rnd.nextInt(20).toLong + 1)) ++
      Seq((30L, rnd.nextInt(20).toLong + 1), (40L, 41L)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
  }

  /** `body` at 1 and 4 shuffle partitions, restoring the session's width. */
  private def atShuffleWidths[T](body: => T): Seq[T] = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try Seq("1", "4").map { w => spark.conf.set("spark.sql.shuffle.partitions", w); body }
    finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("landmarkBfs equals per-landmark Pregel BFS under any layout") {
    // landmarks: two graph vertices, the edgeless vertex 21, the
    // endpoint-only vertex 30 and 99, which is in neither table
    val landmarks = Seq(1L, 7L, 21L, 30L, 99L)
    val verts = ((1L to 21L) ++ Seq(40L, 41L)).map(i => (i, "x", s"v$i"))
      .toDF("id", "label", "name")
    for (seed <- Seq(11, 12, 13)) {
      val pairs = randomGraph(seed)
      val edges = pairs.toDF("src", "dst").withColumn("label", lit("e"))
      val g = GraphXRef.graph(verts, edges)
      def kernel(vs: org.apache.spark.sql.DataFrame, es: org.apache.spark.sql.DataFrame,
          depth: Int): Set[(Long, Long, Long)] =
        GraphAnalytics.landmarkBfs(vs, DerivedGraph.undirected(es), landmarks, depth)
          .as[(Long, Long, Long)].collect().toSet
      for (depth <- Seq(2, 10)) {
        val ref = landmarks.flatMap { lm =>
          GraphXRef.bfsDistances(g, lm, depth).as[(Long, Long)].collect()
            .map { case (id, d) => (id, lm, d) }
        }.toSet
        assert(ref.contains((21L, 21L, 0L)) && ref.contains((30L, 30L, 0L)))
        assert(!ref.exists(r => r._2 == 99L || r._1 == 40L))
        assert(kernel(verts, edges, depth) == ref, s"graph $seed, depth $depth")
        if (depth == 10) {
          val layouts = atShuffleWidths(Seq(
            kernel(verts.coalesce(1), edges.coalesce(1), depth),
            kernel(verts.repartition(7), edges.repartition(7), depth)))
          layouts.flatten.foreach(got => assert(got == ref, s"graph $seed under a layout"))
        }
      }
    }
  }

  test("degreeAssortativity: a star is perfectly disassortative (r = -1)") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = GraphAnalytics.degreeAssortativity(star).head()
    assert(r.getLong(0) == 6L) // 3 edges × both orientations
    assert(r.getDouble(1) == -1.0)
  }

  test("degreeAssortativity: hand-computed mixed graph") {
    // path A-B-C plus pendant D on B: degrees A=1, B=3, C=1, D=1
    // und pairs (x,y): (1,3)×3, (3,1)×3 → r = -1; add edge C-D:
    // degrees become A=1, B=3, C=2, D=2 — no longer extremal
    val g = Seq((1L, 2L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r = GraphAnalytics.degreeAssortativity(g).head()
    assert(r.getLong(0) == 8L)
    // power sums by hand: pairs (1,3),(3,1),(3,2),(2,3),(3,2),(2,3),(2,2),(2,2)
    // n=8 Σx=18 Σy=18 Σxy=38 Σx²=44 Σy²=44
    // r = (8·38−324)/(8·44−324) = (304−324)/(352−324) = −20/28
    assert(r.getDouble(1) == math.rint(-20.0 / 28.0 * 1e6) / 1e6)
  }

  test("hitsDF: L1 renorm holds, sourceless vertices have auth 0") {
    // star-ish DAG: 1->3, 2->3, 3->4  (3 is the authority; 1,2 hubs)
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = graft.ops.GraphAnalytics.hitsDF(v, e, numIter = 4)
      .orderBy("id").as[(Long, Double, Double)].collect()
    val (hubs, auths) = (r.map(_._2), r.map(_._3))
    assert(math.abs(hubs.sum - 4.0) < 1e-3, s"hub sum ${hubs.sum}")
    assert(math.abs(auths.sum - 4.0) < 1e-3, s"auth sum ${auths.sum}")
    // vertices 1,2 have no in-edges -> auth exactly 0; 4 has no out -> hub 0
    assert(r(0)._3 == 0.0 && r(1)._3 == 0.0 && r(3)._2 == 0.0)
    // 3 is the strongest authority
    assert(auths.max == r(2)._3)
    def layout(n: Int) = graft.ops.GraphAnalytics
      .hitsDF(v.repartition(n), e.repartition(n), 4)
      .orderBy("id").as[(Long, Double, Double)].collect().toSeq
    assert(layout(1) == r.toSeq && layout(7) == r.toSeq, "hitsDF changed under repartitioning")
  }

  test("graph_ppr: seed-teleport semantics on a hand graph, replayed independently") {
    import graft.ops.GraphAnalytics
    // 1 ⇄ 2 cycle (1 is the seed), 3 → 4 disconnected from the seed
    val vs = Seq((1L, "seed"), (2L, "x"), (3L, "x"), (4L, "x"))
      .toDF("id", "label")
    val es = Seq((1L, 2L), (2L, 1L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.personalizedPageRankDF(vs, es,
      col("label") === "seed", numIter = 10)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    // independent replay: same ladder in plain Scala (1e9 fixed point,
    // round to 6 dp per round, base = 0.15*|V|/|S| on the seed)
    val base = 0.15 * 4.0 / 1.0
    def rnd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r = Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0)
    val out = Map(1L -> Seq(2L), 2L -> Seq(1L), 3L -> Seq(4L))
    for (_ <- 1 to 10) {
      val m = Seq(1L, 2L, 3L, 4L).map { v =>
        val in = out.collect { case (u, ds) if ds.contains(v) =>
          math.floor(r(u) / out(u).size * 1e9).toLong }
        v -> in.sum.toDouble / 1e9
      }.toMap
      r = r.keys.map(v => v -> rnd((if (v == 1L) base else 0.0) + 0.85 * m(v))).toMap
    }
    val expected = Seq(1L, 2L, 3L, 4L).map(v => (v, r(v)))
    assert(got == expected, s"got $got\nexpected $expected")
    def layout(n: Int) = GraphAnalytics.personalizedPageRankDF(vs.repartition(n),
      es.repartition(n), col("label") === "seed", numIter = 10)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    assert(layout(1) == got && layout(7) == got,
      "personalizedPageRankDF changed under repartitioning")
    // unreachable-from-seed mass decays to exactly 0; the seed holds mass
    assert(got.find(_._1 == 3L).get._2 == 0.0)
    assert(got.find(_._1 == 4L).get._2 == 0.0)
    assert(got.find(_._1 == 1L).get._2 > got.find(_._1 == 2L).get._2)
  }

  // A hand graph with every irregular shape the edge relation can hold:
  // vertex 4's only in-edge comes from the dangling source 98, 99 is a
  // dangling destination that also sends (to 5), 97→96 has neither
  // endpoint among the vertices, 1→2 is doubled, 3→3 is a self-loop and
  // 6 is isolated. Vertices 1 and 7 are the PPR seeds.
  private lazy val irregular = {
    val vs = Seq((1L, "s"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "x"), (6L, "x"),
      (7L, "s")).toDF("id", "label")
    val es = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 3L), (2L, 99L),
      (99L, 5L), (98L, 4L), (4L, 5L), (5L, 1L), (97L, 96L), (7L, 1L))
      .toDF("src", "dst")
    (vs, es)
  }

  private def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("id").collect().toSeq.map(_.toString)

  test("iteration family on an irregular hand graph: rows pinned") {
    // Rows as the DataFrame rounds computed them. Vertex 4 receives only
    // from a non-vertex, so it drops out after the first round; 99 joins
    // the state as a receiver and sends onwards.
    val (vs, es) = irregular
    assert(rowStrings(GraphAnalytics.pageRankDF(vs, es, 10)) == Seq("[1,1.710321]",
      "[2,1.705233]", "[3,1.498115]", "[5,0.87508]", "[6,0.170732]", "[7,0.170732]",
      "[99,0.869787]"))
    assert(rowStrings(GraphAnalytics.personalizedPageRankDF(vs, es,
      col("label") === "s", 10)) == Seq("[1,2.000801]", "[2,1.768895]", "[3,1.224989]",
      "[5,0.57065]", "[6,0.0]", "[7,0.525]", "[99,0.71279]"))
    assert(rowStrings(GraphAnalytics.eigenvectorDF(vs, es, 8)) == Seq("[1,1.638889]",
      "[2,1.666666]", "[3,2.194445]", "[5,0.611111]", "[6,0.0]", "[7,0.0]",
      "[99,0.888889]"))
    assert(rowStrings(GraphAnalytics.hitsDF(vs, es, 4)) == Seq("[1,2.056225,2.423077]",
      "[2,1.228916,2.027149]", "[3,2.128514,1.773756]", "[5,1.228916,0.126697]",
      "[6,0.0,0.0]", "[7,1.228916,0.0]", "[99,0.064257,0.649321]"))
    assert(rowStrings(GraphAnalytics.lpaDF(vs.select("id"), DerivedGraph.undirected(es), 5)) ==
      Seq("[1,2]", "[2,1]", "[3,3]", "[4,2]", "[5,1]", "[6,6]", "[7,1]"))
    // no vertex receives anything: the renormalizing total is 0 and the
    // division fails (ANSI); the pagerank and LPA ladders need no total
    val (lone, stray) = (Seq(1L, 2L).toDF("id"), Seq((97L, 96L)).toDF("src", "dst"))
    intercept[ArithmeticException](GraphAnalytics.eigenvectorDF(lone, stray, 8).collect())
    intercept[ArithmeticException](GraphAnalytics.hitsDF(lone, stray, 4).collect())
    assert(rowStrings(GraphAnalytics.pageRankDF(lone, stray, 10)) == Seq("[1,1.0]", "[2,1.0]"))
    assert(rowStrings(GraphAnalytics.lpaDF(lone, DerivedGraph.undirected(stray), 5)) ==
      Seq("[1,1]", "[2,2]"))
  }

  /** Independent brute-force stress centrality: enumerate ALL shortest
    * paths from each seed to each target by BFS-layered DFS, count the
    * paths in which each vertex appears as an INTERIOR vertex.
    */
  private def bruteStress(edges: Seq[(Long, Long)], seeds: Seq[Long])
      : Map[Long, Long] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val verts = adj.keySet
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (s <- seeds) {
      // BFS distances
      val dist = scala.collection.mutable.Map(s -> 0)
      var frontier = Set(s)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(dist.contains)
        next.foreach(v => dist(v) = dist(frontier.head) + 1)
        frontier = next
      }
      // enumerate all shortest paths s→t along the BFS DAG
      def paths(v: Long): Seq[List[Long]] =
        if (v == s) Seq(List(s))
        else adj(v).toSeq.filter(u => dist.get(u).contains(dist(v) - 1))
          .flatMap(u => paths(u).map(p => p :+ v))
      for (t <- verts if t != s && dist.contains(t); p <- paths(t);
           v <- p.drop(1).dropRight(1))
        counts(v) += 1L
    }
    counts.toMap
  }

  test("graph_stress matches brute-force shortest-path counting (diamond + tail)") {
    // 1-2, 1-3, 2-4, 3-4 (diamond: two shortest 1→4 paths), 4-5 tail
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val und = (edges ++ edges.map(e => (e._2, e._1))).toDF("a", "b")
    val got = graft.ops.GraphAnalytics
      .stressCentralityDF(und, Seq(1L, 5L), 10)
      .as[(Long, Long)].collect().toSeq
    val brute = bruteStress(edges, Seq(1L, 5L))
    val expected = Seq(1L, 2L, 3L, 4L, 5L)
      .map(v => (v, brute.getOrElse(v, 0L)))
      .sortBy { case (id, st) => (-st, id) }
    assert(got == expected)
    // the diamond's merge vertex carries the most paths
    assert(got.head._1 == 4L)
  }

  test("graph_stress on a path graph: interior vertices count pass-through paths") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val und = (edges ++ edges.map(e => (e._2, e._1))).toDF("a", "b")
    val got = graft.ops.GraphAnalytics
      .stressCentralityDF(und, Seq(1L), 10)
      .as[(Long, Long)].collect().toSeq
    // from 1: paths to 3,4 pass 2 (2 paths); to 4 passes 3 (1 path)
    assert(got == Seq((2L, 2L), (3L, 1L), (4L, 0L)))
  }

  test("stress matches brute force on random graphs under any layout") {
    val seeds = Seq(1L, 7L, 30L)
    for (seed <- Seq(11, 12, 13)) {
      val pairs = randomGraph(seed)
      val brute = bruteStress(pairs, seeds)
      // a row per vertex some other landmark reaches, stress 0 included
      val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
      def reach(s: Long): Set[Long] = Iterator.iterate(Set(s))(f =>
        f ++ f.flatMap(adj.getOrElse(_, Nil))).drop(25).next()
      val expected = seeds.flatMap(s => reach(s) - s).distinct
        .map(v => (v, brute.getOrElse(v, 0L))).sortBy { case (id, st) => (-st, id) }.take(100)
      val und = DerivedGraph.undirected(pairs.toDF("src", "dst"))
      def run(u: org.apache.spark.sql.DataFrame) =
        GraphAnalytics.stressCentralityDF(u, seeds, 10).as[(Long, Long)].collect().toSeq
      assert(run(und) == expected, s"graph $seed")
      atShuffleWidths(Seq(run(und.coalesce(1)), run(und.repartition(7)))).flatten
        .foreach(got => assert(got == expected, s"graph $seed under a layout"))
    }
  }

  /** graph_stress at sf0.001 as the DataFrame rounds computed it before
    * the landmark passes moved onto the block kernel: (id, stress_units),
    * in output order.
    */
  private val stressSf001 = Seq(
      (3000000087L, 70834L), (3000000095L, 47521L), (3000000135L, 44415L), (4000000007L, 41893L),
      (4000000003L, 38293L), (4000000001L, 14713L), (4000000009L, 14688L), (4000000000L, 13897L),
      (4000000004L, 13574L), (4000000008L, 13294L), (4000000006L, 13221L), (4000000005L, 13217L),
      (4000000002L, 13114L), (3000000054L, 11196L), (3000000114L, 8992L), (3000000017L, 7023L),
      (3000000057L, 6773L), (3000000016L, 6369L), (3000000020L, 5999L), (5000000023L, 4564L),
      (5000000022L, 4404L), (5000000034L, 4256L), (5000000121L, 4256L), (5000000153L, 4179L),
      (5000000077L, 4120L), (3000000099L, 4094L), (5000000116L, 3924L), (5000000081L, 3463L),
      (3000000073L, 3119L), (5000000024L, 3117L), (5000000007L, 3061L), (5000000158L, 2929L),
      (5000000138L, 2807L), (5000000080L, 2803L), (5000000099L, 2749L), (5000000165L, 2722L),
      (5000000043L, 2714L), (5000000056L, 2682L), (5000000000L, 2663L), (5000000010L, 2652L),
      (5000000179L, 2640L), (2000000019L, 2629L), (5000000072L, 2598L), (5000000098L, 2590L),
      (5000000070L, 2568L), (5000000036L, 2559L), (5000000104L, 2532L), (5000000016L, 2529L),
      (5000000101L, 2525L), (5000000035L, 2524L), (5000000105L, 2512L), (5000000131L, 2510L),
      (5000000027L, 2504L), (5000000092L, 2481L), (5000000012L, 2476L), (5000000140L, 2471L),
      (5000000033L, 2463L), (5000000061L, 2451L), (5000000141L, 2438L), (5000000195L, 2438L),
      (5000000124L, 2426L), (5000000122L, 2423L), (5000000112L, 2415L), (5000000172L, 2391L),
      (5000000134L, 2388L), (5000000160L, 2381L), (5000000085L, 2364L), (5000000100L, 2354L),
      (5000000145L, 2348L), (5000000031L, 2338L), (5000000185L, 2309L), (5000000198L, 2278L),
      (5000000041L, 2265L), (5000000180L, 2265L), (5000000015L, 2259L), (5000000029L, 2255L),
      (5000000063L, 2227L), (5000000089L, 2226L), (5000000184L, 2224L), (5000000018L, 2221L),
      (5000000014L, 2213L), (5000000011L, 2201L), (5000000093L, 2199L), (5000000154L, 2197L),
      (5000000096L, 2188L), (5000000173L, 2103L), (5000000151L, 2090L), (5000000196L, 2071L),
      (5000000182L, 2028L), (5000000186L, 2025L), (5000000073L, 2022L), (2000000020L, 2002L),
      (5000000013L, 1992L), (5000000042L, 1992L), (5000000178L, 1984L), (5000000129L, 1978L),
      (5000000148L, 1975L), (5000000152L, 1949L), (5000000137L, 1939L), (5000000159L, 1923L))

  test("graph_stress sf0.001 top-100 rows equal the pinned literals") {
    val sf = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf)),
      "testdata sf0.001 not present")
    val got = Queries.all("graph_stress").fn(spark, sf).as[(Long, Long)].collect().toSeq
    assert(got == stressSf001)
  }
}
