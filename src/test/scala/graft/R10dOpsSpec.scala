package graft

import org.apache.spark.sql.functions._

/** Unit specs for the round-10c/d operators. Oracle parity at sf0.01 is
  * the correctness gate; these pin SEMANTICS on hand-built inputs where
  * the expected values are recomputed by an independent plain-Scala
  * reimplementation.
  */
class R10dOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Independent brute-force two-sample KS in integer units. */
  private def bruteKs(a: Seq[Double], b: Seq[Double]): (Long, Long, Long) = {
    val pts = (a ++ b).distinct.sorted
    val n1 = a.size.toLong; val n2 = b.size.toLong
    val units = pts.map { v =>
      val f1 = a.count(_ <= v).toLong
      val f2 = b.count(_ <= v).toLong
      math.abs(f1 * n2 - f2 * n1)
    }.max
    (n1, n2, units)
  }

  test("ks_drift matches a brute-force ECDF comparison (drift present)") {
    // clicks uniform-ish low, purchases shifted high — clear drift
    val clicks = Seq(0.5, 1.2, 1.9, 2.4, 3.1, 3.8, 4.0, 4.4, 5.2, 6.0)
    val purch = Seq(3.5, 4.1, 5.9, 6.6, 7.2, 8.0, 8.8, 9.5)
    val ev = (clicks.map(("click", _)) ++ purch.map(("purchase", _)) ++
      Seq(("view", 2.0), ("error", 9.9))) // other types must be ignored
      .toDF("event_type", "value")
    val (n1, n2, units) = bruteKs(clicks, purch)
    val got = graft.ops.Windows.ksDrift(ev)
      .select("n1", "n2", "ks_units", "reject_05")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    val ks = units.toDouble / (n1 * n2)
    val crit = 1.358 * math.sqrt((n1 + n2).toDouble / (n1.toDouble * n2))
    assert(got == Seq((n1, n2, units, ks > crit)))
  }

  test("ks_drift on identical samples is zero and does not reject") {
    val vs = Seq(1.0, 2.0, 3.0, 4.5)
    val ev = (vs.map(("click", _)) ++ vs.map(("purchase", _)))
      .toDF("event_type", "value")
    val got = graft.ops.Windows.ksDrift(ev)
      .select("ks_units", "ks", "reject_05")
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(got == Seq((0L, 0.0, false)))
  }

  test("embedding_quantize: scale, saturation and zero-vector edge cases") {
    val emb = Seq(
      (0L, Array(1.27f, -1.27f, 0.635f, 0.0f), 1),   // exact scale 0.01
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f), 1),        // all-zero → q = 0, err 0
      (2L, Array(-2.54f, 1.27f, 0.01f, -0.02f), 2))  // negative max-abs
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.llm.Similarity.quantizeInt8Audit(emb)
      .orderBy("vec_id")
      .select("vec_id", "n_dims", "scale6", "sum_err_units", "max_err_units", "n_saturated")
      .as[(Long, Long, Double, Long, Long, Long)].collect().toSeq
    // independent replay in plain Scala (double precision, same formulas)
    def replay(id: Long, xs: Array[Float]): (Long, Long, Double, Long, Long, Long) = {
      val v = xs.map(_.toDouble)
      val mx = v.map(math.abs).max
      val scale = mx / 127.0
      val q = v.map(x => if (mx == 0.0) 0L else math.floor(x / scale + 0.5).toLong)
      val eu = v.zip(q).map { case (x, qq) =>
        math.floor(math.abs(x - qq * scale) * 1e6 + 0.5).toLong }
      (id, v.length.toLong,
        BigDecimal(scale).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        eu.sum, eu.max, q.count(x => math.abs(x) == 127L).toLong)
    }
    val expected = Seq(
      replay(0L, Array(1.27f, -1.27f, 0.635f, 0.0f)),
      replay(1L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
      replay(2L, Array(-2.54f, 1.27f, 0.01f, -0.02f)))
    assert(got == expected, s"got $got\nexpected $expected")
    // the two full-scale components of vec 0 and the max of vec 2 saturate
    assert(got(0)._6 == 2L && got(1)._6 == 0L)
  }

  test("dedup_containment: embedded doc scores 1.0 one way while Jaccard stays low") {
    // doc 0 is a verbatim prefix slab of doc 1; doc 2 is unrelated.
    // stride-5/len-20 shingles of doc 0 all reappear in doc 1 because the
    // prefix is shingle-aligned (multiple of 5) and long enough.
    val prefix = ('a' to 'z').mkString * 4 // 104 chars
    val big = prefix + ("0123456789" * 30)  // 404 chars
    val docs = Seq((0L, prefix), (1L, big), (2L, "zyxw" * 30))
      .toDF("doc_id", "text")
    val got = graft.ops.llm.Dedup.containment(docs)
      .select("a_id", "b_id", "cont_a", "cont_b")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.size == 1)
    val (a, b, ca, cb) = got.head
    assert((a, b) == (0L, 1L))
    assert(ca == 1.0, s"prefix doc fully contained, got $ca")
    assert(cb < 0.8, s"big doc NOT contained in the prefix, got $cb")
    // independent replay: distinct shingle sets in plain Scala
    def shingles(t: String): Set[String] =
      (1 to (t.length - 19) by 5).map(p => t.substring(p - 1, p - 1 + 20)).toSet
    val (s0, s1) = (shingles(prefix), shingles(big))
    val inter = (s0 & s1).size.toDouble
    assert(ca == math.rint(inter / s0.size * 1e6) / 1e6)
    assert(cb == math.rint(inter / s1.size * 1e6) / 1e6)
  }

  test("dedup_containment: a boilerplate shingle shared by >maxDf docs is ignored") {
    // 30 docs share one 20-char slab; with maxDf = 10 the slab's posting
    // list is dropped, so no pair survives (each doc's unique tail differs)
    val slab = "SHARED-BOILERPLATE--" // 20 chars
    val docs = (0L until 30L).map(i => (i, slab + s"unique-tail-$i-" + ("x" * 30)))
      .toDF("doc_id", "text")
    val got = graft.ops.llm.Dedup.containment(docs, maxDf = 10)
    assert(got.count() == 0)
  }

  test("multimodal channel stats: sums reconcile with decode and corrupt bytes yield no rows") {
    import graft.ops.llm.Multimodal
    val docs = Seq((0L, ""), (3L, ""), (6L, "")).toDF("doc_id", "text")
    val media = Multimodal.synthMedia(docs)
    val ch = Multimodal.channelStats(media).collect()
    assert(ch.length == 9) // 3 images x 3 channels
    // per-image: channel sums add up to the whole-image val_sum and every
    // channel covers all w*h pixels
    val whole = Multimodal.decode(media).collect().map(m => m.doc_id -> m).toMap
    ch.groupBy(_.doc_id).foreach { case (id, rows) =>
      assert(rows.map(_.ch_sum).sum == whole(id).val_sum)
      assert(rows.forall(r => r.n_px == whole(id).width.toLong * whole(id).height))
      assert(rows.forall(r => r.ch_min <= r.ch_max && r.ch_max <= 255))
    }
    // corrupt payload (truncated) → zero rows, never a throw
    val corrupt = media.limit(1)
      .select(col("doc_id"), col("kind"),
        expr("substring(payload, 1, 20)").as("payload"))
    assert(Multimodal.channelStats(corrupt).count() == 0)
  }

  test("graph_clustering_coeff: hand-computed cc on K4-minus-an-edge plus a pendant") {
    import graft.ops.GraphAnalytics
    // vertices 1-4 form K4 minus edge (3,4); vertex 5 pendant on 1.
    // triangles: (1,2,3) and (1,2,4).
    // deg: 1→4, 2→3, 3→2, 4→2, 5→1 (pendant, excluded by deg≥2)
    // t(v): 1→2, 2→2, 3→1, 4→1
    // cc:   1→ 2·2/(4·3)=0.333333, 2→ 2·2/(3·2)=0.666667,
    //       3→ 2·1/(2·1)=1.0,      4→ 1.0
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (1L, 5L))
      .toDF("a", "b")
    val tri = GraphAnalytics.triangleListDF(edges)
    val got = GraphAnalytics.clusteringCoeffDF(edges, tri)
      .orderBy("id")
      .select("id", "deg", "n_tri", "cc")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 2L, 0.333333), (2L, 3L, 2L, 0.666667),
      (3L, 2L, 1L, 1.0), (4L, 2L, 1L, 1.0)))
  }

  test("chi2_independence: hand-computed 2x2 contingency table") {
    // A@h0: 10, A@h1: 20, B@h0: 20, B@h1: 10 → all E = 15,
    // chi2 = 4 * round(25/15, 6) = 6.666668 (rounded per cell), dof = 1
    val rows = Seq(("A", 0, 10), ("A", 1, 20), ("B", 0, 20), ("B", 1, 10))
      .flatMap { case (t, h, n) => Seq.fill(n)((t, h)) }
      .zipWithIndex.map { case ((t, h), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00"),
          i.toLong % 7, t, 1.0, "{}")
      }
    val dir = java.nio.file.Files.createTempDirectory("chi2").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("chi2_independence")(spark, dir)
      .select("n", "n_types", "n_hours", "dof", "chi2")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((60L, 2L, 2L, 1L, 6.666668)))
  }

  test("weighted_median: hand-computed lower weighted median per group") {
    // flag X: prices 10(w2) 20(w1) 3000(w1): tot=4, 2*cum: 10→4 ≥ 4 → median 10
    // flag Y: prices 10(w1) 20(w1) 30(w4): tot=6, cum 10→1,20→2,30→6;
    //   2*cum ≥ 6 first at 30 → median 30 (weight concentration wins)
    val rows = Seq(
      ("X", 10.0, 2.0), ("X", 20.0, 1.0), ("X", 3000.0, 1.0),
      ("Y", 10.0, 1.0), ("Y", 20.0, 1.0), ("Y", 30.0, 4.0))
      .zipWithIndex.map { case ((f, p, q), i) =>
        (i.toLong, 1L, 1L, i, q, p, 0.0, 0.0, f, "O",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      }
    val dir = java.nio.file.Files.createTempDirectory("wm").toString
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("weighted_median")(spark, dir)
      .select("l_returnflag", "median_price", "total_weight")
      .as[(String, Double, Long)].collect().toSeq
    assert(got == Seq(("X", 10.0, 4L), ("Y", 30.0, 6L)))
  }

  test("multimodal_audio_gain: matches the synthesis replay; corrupt bytes yield no rows") {
    import graft.ops.llm.Multimodal
    val docs = Seq((1L, ""), (4L, ""), (7L, "")).toDF("doc_id", "text")
    val media = Multimodal.synthMedia(docs)
    val got = Multimodal.audioGains(media).collect()
      .map(g => g.doc_id -> g).toMap
    assert(got.keySet == Set(1L, 4L, 7L))
    got.foreach { case (id, g) =>
      val n = (64 + id % 193).toInt
      val sq = (0 until n).map { k =>
        val s = ((131 * id + 17 * k) % 4096 - 2048); s * s
      }.sum
      assert(g.n_samples == n.toLong && g.sum_sq == sq)
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(g.rms6 == r6(math.sqrt(sq.toDouble / n)))
      assert(g.gain6 == r6(math.sqrt(1000000.0 * n / sq)))
      // gain * rms ≈ 1000-unit target (within display rounding)
      assert(math.abs(g.gain6 * g.rms6 - 1000.0) < 0.01)
    }
    val corrupt = media.filter(col("kind") === "audio").limit(1)
      .select(col("doc_id"), col("kind"),
        expr("substring(payload, 1, 10)").as("payload"))
    assert(Multimodal.audioGains(corrupt).count() == 0)
  }

  test("vocab_coverage: OOV counted against the (cnt desc, tok) top-k cut") {
    // with a top-20 vocab and 21 distinct tokens, exactly the rarest
    // token (ties broken by name) is OOV
    val toks = (1 to 21).map(i => (f"w$i%02d", 22 - i)) // w01 x21 ... w21 x1
    val text = toks.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs = Seq((0L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("vcov").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("vocab_coverage")(spark, dir)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val total = toks.map(_._2).sum.toLong
    assert(got == Seq((0L, total, 1L, math.rint(1.0 / total * 1e6) / 1e6)))
  }

  test("embedding_outliers: the planted far vector ranks first in its label") {
    // label 0: three tight vectors at ~(1,1) and one far at (9,9) — the
    // planted outlier must rank 1; replay the exact arithmetic by hand
    val emb = Seq(
      (0L, Array(1.0f, 1.0f), 0), (1L, Array(1.1f, 0.9f), 0),
      (2L, Array(0.9f, 1.1f), 0), (3L, Array(9.0f, 9.0f), 0),
      (4L, Array(5.0f, 5.0f), 1), (5L, Array(5.0f, 5.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("eo").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("embedding_outliers")(spark, dir)
      .select("label", "rk", "vec_id", "dist2_units")
      .as[(Int, Long, Long, Long)].collect().toSeq
    // independent replay (double arithmetic, same fixed-pointing)
    val vs = Map(0L -> Array(1.0f, 1.0f), 1L -> Array(1.1f, 0.9f),
      2L -> Array(0.9f, 1.1f), 3L -> Array(9.0f, 9.0f))
      .map { case (k, a) => k -> a.map(_.toDouble) }
    // mirror the engine's exact DECIMAL(18,9) accumulation before the
    // one IEEE divide (a raw double sum can drift in the 9th decimal)
    val mean = Array(0, 1).map { i =>
      vs.values.map(v => BigDecimal(v(i))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / 4L
    }
    def units(v: Array[Double]) = v.zip(mean).map { case (x, m) =>
      math.floor((x - m) * (x - m) * 1e6 + 0.5).toLong }.sum
    val lbl0 = vs.toSeq.map { case (id, v) => (id, units(v)) }
      .sortBy { case (id, u) => (-u, id) }.zipWithIndex
      .map { case ((id, u), r) => (0, r + 1L, id, u) }
    assert(got.filter(_._1 == 0) == lbl0)
    assert(got.filter(_._1 == 0).head._3 == 3L) // the planted outlier
    // identical vectors in label 1 tie at distance 0, vec_id breaks
    assert(got.filter(_._1 == 1) == Seq((1, 1L, 4L, 0L), (1, 2L, 5L, 0L)))
  }

  test("basket_rules: support/confidence/lift replayed on hand baskets") {
    // orders: {1,2}, {1,2}, {1,3}, {2} → N=4; n(1)=3, n(2)=3, n(3)=1
    // pairs: (1,2)x2, (1,3)x1
    val rows = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L), (13L, 2L))
      .zipWithIndex.map { case ((o, p), i) =>
        (o, p, 1L, i, 1.0, 1.0, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      }
    val dir = java.nio.file.Files.createTempDirectory("br").toString
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("basket_rules")(spark, dir)
      .select("a", "b", "n_ab", "support", "conf_a_b", "conf_b_a", "lift")
      .as[(Long, Long, Long, Double, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 0.5, 0.666667, 0.666667, 0.888889),
      (1L, 3L, 1L, 0.25, 0.333333, 1.0, 1.333333)))
  }

  test("funnel_latency: interpolated percentiles over hand-built conversions") {
    // users 1-5 convert with latencies 10, 20, 30, 40, 100 s; user 6
    // views only; user 7 purchases BEFORE viewing (not a conversion)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, u: Long, ty: String, offSec: Long) =
      (id, new java.sql.Timestamp(t0 + offSec * 1000), u, ty, 1.0, "{}")
    val lats = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L, 5L -> 100L)
    val rows = lats.zipWithIndex.flatMap { case ((u, lat), i) =>
      Seq(ev(i * 2 + 1, u, "view", 0), ev(i * 2 + 2, u, "purchase", lat))
    } ++ Seq(ev(100L, 6L, "view", 0), ev(101L, 7L, "purchase", 0),
      ev(102L, 7L, "view", 50))
    val dir = java.nio.file.Files.createTempDirectory("fl").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("funnel_latency")(spark, dir)
      .select("p", "n_viewed", "n_converted", "q_lat_sec")
      .as[(Double, Long, Long, Double)].collect().toSeq
    // n=5 latencies [10,20,30,40,100]: pos(p)=(n-1)p → p25 at pos 1 = 20,
    // p50 at pos 2 = 30, p90 at pos 3.6 = 40 + 0.6*60 = 76
    assert(got == Seq((0.25, 7L, 5L, 20.0), (0.5, 7L, 5L, 30.0),
      (0.9, 7L, 5L, 76.0)))
  }

  test("ks_drift ties across buckets: duplicate values collapse to one ECDF point") {
    // values straddle integer-bucket boundaries and repeat within/across
    // samples — the two-level prefix sum must agree with the flat ECDF
    val clicks = Seq(0.9, 1.0, 1.0, 1.1, 2.0, 2.0)
    val purch = Seq(1.0, 1.1, 1.1, 3.0)
    val ev = (clicks.map(("click", _)) ++ purch.map(("purchase", _)))
      .toDF("event_type", "value")
    val (n1, n2, units) = bruteKs(clicks, purch)
    val got = graft.ops.Windows.ksDrift(ev)
      .select("n1", "n2", "ks_units").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((n1, n2, units)))
  }
}
