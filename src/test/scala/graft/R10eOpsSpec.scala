package graft

import org.apache.spark.sql.functions._

/** Unit specs for the round-10e operators (mann_whitney, path_mining,
  * ts_anomaly_seasonal). Oracle parity at sf0.01 is the correctness gate;
  * these pin SEMANTICS on hand-built inputs where the expected values are
  * recomputed by an independent plain-Scala reimplementation.
  */
class R10eOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Independent brute-force Mann–Whitney replay: pooled midranks in 2x
    * units, tie term, tie-corrected normal z (same formula text as the
    * engine, recomputed from scratch over raw samples).
    */
  private def bruteMw(a: Seq[Double], b: Seq[Double])
      : (Long, Long, Long, Long, Long, Double) = {
    val pooled = a ++ b
    def midrank2(v: Double): Long =
      2L * pooled.count(_ < v) + pooled.count(_ == v) + 1
    val n1 = a.size.toLong; val n2 = b.size.toLong
    val r1_2 = a.map(midrank2).sum
    val u1_2 = r1_2 - n1 * (n1 + 1)
    val u2_2 = 2 * n1 * n2 - u1_2
    val tie = pooled.distinct.map { v =>
      val g = pooled.count(_ == v).toLong; g * g * g - g
    }.sum
    val n = (n1 + n2).toDouble
    val z = (u1_2.toDouble - n1.toDouble * n2) /
      (2.0 * math.sqrt(n1.toDouble * n2 / 12.0 *
        ((n + 1) - tie.toDouble / (n * (n - 1)))))
    val z6 = BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (n1, n2, u1_2, u2_2, tie, z6)
  }

  test("mann_whitney matches a brute-force midrank replay (ties present)") {
    // clicks low, purchases high, with cross-sample AND in-sample ties
    val clicks = Seq(1.0, 2.0, 2.0, 3.5, 4.0, 5.0, 5.0, 6.5)
    val purch = Seq(2.0, 5.0, 7.0, 7.0, 8.5, 9.0)
    val ev = (clicks.map(("click", _)) ++ purch.map(("purchase", _)) ++
      Seq(("view", 3.0), ("error", 100.0))) // other types must be ignored
      .toDF("event_type", "value")
    val got = graft.ops.Windows.mannWhitney(ev)
      .select("n1", "n2", "u1_2", "u2_2", "tie_units", "z")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(bruteMw(clicks, purch)))
  }

  test("mann_whitney on identical samples: U1 = U2, z = 0, no rejection") {
    val vs = Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    val ev = (vs.map(("click", _)) ++ vs.map(("purchase", _)))
      .toDF("event_type", "value")
    val got = graft.ops.Windows.mannWhitney(ev)
      .select("u1_2", "u2_2", "z", "reject_05")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    // U1 = U2 = n1*n2/2 → 2x units: n1*n2 = 25
    assert(got == Seq((25L, 25L, 0.0, false)))
  }

  private def writeEvents(
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r10eev").toString
    rows.map { case (id, ts, u, et, v) => (id, ts, u, et, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("path_mining counts per-user event-time trigrams") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // user 1: view click view click purchase; user 2: view click view
    val seq1 = Seq("view", "click", "view", "click", "purchase")
    val seq2 = Seq("view", "click", "view")
    val rows = (seq1.zipWithIndex.map { case (e, i) =>
      ((i + 1).toLong, at(i), 1L, e, 1.0)
    }) ++ (seq2.zipWithIndex.map { case (e, i) =>
      ((i + 10).toLong, at(i), 2L, e, 1.0)
    })
    val dir = writeEvents(rows)
    val got = Queries.all("path_mining").fn(spark, dir)
      .as[(String, String, String, Long)].collect().toSeq
    // independent replay: sliding trigrams per user, top by (n desc, path)
    val expected = (seq1.sliding(3).toSeq ++ seq2.sliding(3).toSeq)
      .map(w => (w(0), w(1), w(2)))
      .groupBy(identity).map { case (k, vs) => (k._1, k._2, k._3, vs.size.toLong) }
      .toSeq
      .sortBy { case (e0, e1, e2, n) => (-n, e0, e1, e2) }
    assert(got == expected)
    // view>click>view occurs in both users → count 2 leads
    assert(got.head == ("view", "click", "view", 2L))
  }

  test("ts_anomaly_seasonal flags the spiked minute; zero-variance hours excluded") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    var id = 0L
    // hour 0: ten minutes at 10 events, except minute 3 at 30 (the spike);
    // hour 1: ten constant minutes (zero variance → must be excluded)
    val rows = (for {
      m <- 0 until 10
      cnt = if (m == 3) 30 else 10
      _ <- 0 until cnt
    } yield {
      id += 1
      (id, new java.sql.Timestamp(t0.getTime + m * 60000L), 1L, "click", 1.0)
    }) ++ (for {
      m <- 60 until 70
      _ <- 0 until 7
    } yield {
      id += 1
      (id, new java.sql.Timestamp(t0.getTime + m * 60000L), 1L, "click", 1.0)
    })
    val dir = writeEvents(rows)
    val got = Queries.all("ts_anomaly_seasonal").fn(spark, dir)
      .as[(java.sql.Timestamp, Long, Long, Double)].collect().toSeq
    // hour 1 is constant → excluded entirely; hour 0 has 10 rows
    assert(got.size == 10 && got.forall(_._2 == 0L))
    // independent replay for hour 0: n=10, s=120, ss=1800
    val nm = 10.0; val s = 120.0; val ss = 1800.0
    def z(cnt: Long): Double = {
      val v = (cnt - s / nm) / math.sqrt((nm * ss - s * s) / (nm * (nm - 1)))
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val spike = got.head
    assert(spike._3 == 30L && spike._4 == z(30L))
    assert(spike._1 == new java.sql.Timestamp(t0.getTime + 3 * 60000L))
    assert(got.tail.forall(r => r._3 == 10L && r._4 == z(10L)))
    // the spike's |z| strictly dominates
    assert(math.abs(spike._4) > math.abs(got(1)._4))
  }

  test("multimodal_audio_silence matches a plain-Scala run replay of the synth formula") {
    import graft.ops.llm.Multimodal
    for (id <- Seq(1L, 4L, 103L)) { // audio ids (id % 3 == 1)
      val n = (64 + id % 193).toInt
      val got = Multimodal.wavSilence(id, Multimodal.encodeWav(id, n, 8000), 256)
      // independent replay straight from the synthesis formula
      val quietFlags = (0 until n).map(k => math.abs((131 * id + 17 * k) % 4096 - 2048) < 256)
      val runs = quietFlags.foldLeft(List.empty[Int]) {
        case (acc, true) if acc.nonEmpty && acc.head > 0 => (acc.head + 1) :: acc.tail
        case (acc, true) => 1 :: acc
        case (acc, false) => 0 :: acc
      }.filter(_ > 0)
      assert(got == graft.ops.llm.AudioSilence(id, n.toLong,
        quietFlags.count(identity).toLong, runs.size.toLong,
        if (runs.isEmpty) 0L else runs.max.toLong))
    }
  }

  test("multimodal_audio_silence: corrupt payload contributes no row; thresholds behave") {
    import graft.ops.llm.Multimodal
    assert(Multimodal.wavSilence(1L, Array[Byte](1, 2, 3), 256) == null)
    // threshold 1 → only exact zeros count; threshold 5000 → everything quiet
    val b = Multimodal.encodeWav(7L, 100, 8000)
    val all = Multimodal.wavSilence(7L, b, 5000)
    assert(all.n_quiet == 100L && all.n_runs == 1L && all.longest_run == 100L)
  }

  test("sketch_heavy_change: exact halves split correctly; CMS never undercounts") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // user 1: 8 events early, 1 late; user 2: 1 early, 5 late; user 3: 2/2
    val rows =
      (1 to 8).map(i => (i.toLong, at(i), 1L, "click", 1.0)) ++
        Seq((9L, at(95), 1L, "click", 1.0)) ++
        Seq((10L, at(2), 2L, "click", 1.0)) ++
        (11 to 15).map(i => (i.toLong, at(90 + i - 10), 2L, "click", 1.0)) ++
        Seq((16L, at(0), 3L, "click", 1.0), (17L, at(5), 3L, "click", 1.0),
          (18L, at(98), 3L, "click", 1.0), (19L, at(100), 3L, "click", 1.0))
    val dir = writeEvents(rows)
    val got = Queries.all("sketch_heavy_change").fn(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val byUser = got.map(r => r._1 -> r).toMap
    // time range [0, 100] min → midpoint 50 min; exact halves:
    assert(byUser(1L)._5 == 8L && byUser(1L)._6 == 1L && byUser(1L)._7 == 7L)
    assert(byUser(2L)._5 == 1L && byUser(2L)._6 == 5L && byUser(2L)._7 == -4L)
    assert(byUser(3L)._5 == 2L && byUser(3L)._6 == 2L && byUser(3L)._7 == 0L)
    // CMS one-sided error: estimates never undercount the exact halves
    got.foreach { r => assert(r._2 >= r._5 && r._3 >= r._6, s"undercount: $r") }
    // with 3 keys in a 4×1024 sketch there are no collisions → est == exact
    got.foreach { r => assert(r._2 == r._5 && r._3 == r._6) }
    // ordering: |diff_est| desc
    assert(got.map(r => math.abs(r._4)) == got.map(r => math.abs(r._4)).sorted.reverse)
  }

  test("sketch_hll_sliding: register-max merge equals the sketch of the key union") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ih0 = t0.getTime / 3600000L // absolute epoch hour
    var id = 0L
    // hours 0,1,2 with overlapping user sets; hour 4 isolated (gap at 3)
    val byHour = Seq(0 -> (1 to 40), 1 -> (21 to 60), 2 -> (41 to 80),
      4 -> (1 to 10))
    val rows = byHour.flatMap { case (h, users) =>
      users.map { u =>
        id += 1
        (id, new java.sql.Timestamp(t0.getTime + h * 3600000L), u.toLong, "click", 1.0)
      }
    }
    val dir = writeEvents(rows)
    val got = Queries.all("sketch_hll_sliding").fn(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1 - ih0) -> r).toMap
    // windows anchor ONLY at existing hours: the gap hour 3 has no row
    assert(got.keySet == Set(0L, 1L, 2L, 4L))
    // exact distincts: {1..40}, {1..60}, {1..80}, hours 2∪4 = {41..80}∪{1..10}
    assert(got(0L)._2 == 40L && got(1L)._2 == 60L &&
      got(2L)._2 == 80L && got(4L)._2 == 50L)
    // the semilattice property: the merged window sketch must EQUAL the
    // sketch built directly over the union of the window's keys
    for ((w, hours) <- Seq(2L -> Seq(0, 1, 2), 4L -> Seq(2, 4))) {
      val union = byHour.toMap.view.filterKeys(hours.contains).values
        .flatten.toSeq.distinct
      val direct = graft.ops.Sketches.hllReplayable(
        union.map(u => (1L, u.toLong)).toDF("g", "user_id"), "g", "user_id")
        .select("v_zero", "z_scaled", "est_hll")
        .as[(Long, Long, Double)].collect().head
      assert((got(w)._3, got(w)._4, got(w)._5) == direct, s"window $w")
    }
  }

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("r10edocs").toString
    rows.map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Independent plain-Scala RAKE replay over raw texts. */
  private def bruteRake(texts: Seq[String]): Seq[(String, Long, Long)] = {
    val stop = graft.ops.llm.TextAnalysis.stopwords.toSet
    def phrasesOf(t: String): Seq[Seq[String]] = {
      val out = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = List.empty[String]
      for (tok <- t.split(" ")) {
        if (stop(tok)) { if (cur.nonEmpty) out += cur.reverse; cur = Nil }
        else cur = tok :: cur
      }
      if (cur.nonEmpty) out += cur.reverse
      out.toSeq
    }
    val allPh = texts.flatMap(phrasesOf)
    val occ = allPh.flatMap(p => p.map(w => (w, p.length.toLong)))
    val score = occ.groupBy(_._1).map { case (w, os) =>
      w -> 1000000L * os.map(_._2).sum / os.size
    }
    allPh.map(p => (p.mkString(" "), p.map(score).sum))
      .groupBy(identity).map { case ((ph, ppm), vs) => (ph, ppm, vs.size.toLong) }
      .toSeq.sortBy { case (ph, ppm, _) => (-ppm, ph) }.take(20)
  }

  test("text_rake_keyphrases matches a plain-Scala RAKE replay") {
    val texts = Seq(
      "learning the deep learning stack",
      "deep models of deep learning and the stack",
      "a stack")
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, t, "aa", "s1")
    })
    val got = Queries.all("text_rake_keyphrases").fn(spark, dir)
      .select("phrase", "p_ppm", "n")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == bruteRake(texts), s"got $got\nexpected ${bruteRake(texts)}")
    // multi-word phrases outrank the bare stopword-adjacent singletons
    assert(got.head._1.split(" ").length >= 2)
  }

  test("lang_confusion: matrix rows partition the corpus; rates row-normalize") {
    // two "languages" with disjoint vocabularies plus one doc written in
    // the OTHER language's vocabulary (must land off-diagonal)
    val aa = (1 to 5).map(i => (i.toLong, "alpha beta gamma delta", "aa", "s1"))
    val bb = (6 to 9).map(i => (i.toLong, "uno dos tres quatro", "bb", "s1"))
    val crossed = Seq((10L, "alpha beta gamma delta", "bb", "s1"))
    val dir = writeDocs(aa ++ bb ++ crossed)
    val got = Queries.all("lang_confusion").fn(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    val m = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(m == Map(("aa", "aa") -> 5L, ("bb", "bb") -> 4L, ("bb", "aa") -> 1L))
    // rates row-normalize: bb row = 0.8 / 0.2
    val rates = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(rates(("bb", "bb")) == 0.8 && rates(("bb", "aa")) == 0.2 &&
      rates(("aa", "aa")) == 1.0)
  }

  test("dedup_cross_source: near-identical docs across sources surface as a cross pair") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, shared, "aa", "crawlA"),
      (2L, shared, "aa", "crawlB"),           // cross-source duplicate
      (3L, shared + " tail", "aa", "crawlA"), // near-dup within A (likely bucket-mate)
      (4L, (20 to 40).map(i => s"zz$i").mkString(" "), "aa", "crawlB"))) // unrelated
    val got = Queries.all("dedup_cross_source").fn(spark, dir)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    val cross = got.find(r => r._1 == "crawlA" && r._2 == "crawlB")
    assert(cross.nonEmpty && cross.get._3 >= 1L, s"missing cross pair: $got")
    // the unrelated doc shares no bucket: no pair row may involve it —
    // total pair count stays within the 3 dup docs' possible pairs
    assert(got.map(_._3).sum <= 3L)
  }

  test("attribution_linear: equal split in ppm, lookback excludes stale clicks") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("r10eattr").toString
    import spark.implicits._
    // u1: clicks k=1,k=2 then purchase → 500000 ppm each to campaigns 1,2
    // u2: clicks k=1,k=11(→1),k=2 then purchase → 333333 ppm each
    // u3: click 3h before purchase → outside the 2h lookback, no credit
    Seq(
      (1L, at(0), 1L, "click", 1.0, """{"k": 1}"""),
      (2L, at(5), 1L, "click", 1.0, """{"k": 2}"""),
      (3L, at(10), 1L, "purchase", 9.0, """{"k": 0}"""),
      (4L, at(0), 2L, "click", 1.0, """{"k": 1}"""),
      (5L, at(2), 2L, "click", 1.0, """{"k": 11}"""),
      (6L, at(4), 2L, "click", 1.0, """{"k": 2}"""),
      (7L, at(20), 2L, "purchase", 9.0, """{"k": 0}"""),
      (8L, at(0), 3L, "click", 1.0, """{"k": 5}"""),
      (9L, at(180), 3L, "purchase", 9.0, """{"k": 0}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Queries.all("attribution_linear").fn(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // campaign 1: u1 500000 + u2 2×333333; campaign 2: 500000 + 333333
    assert(got == Seq(
      (1L, 3L, 500000L + 2 * 333333L, 1.166666),
      (2L, 2L, 500000L + 333333L, 0.833333)))
  }

  test("ts_max_drawdown: deepest under-run vs run-rate in cleared-denominator units") {
    val dir = java.nio.file.Files.createTempDirectory("r10edd").toString
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    // daily cents 100,100,40,40,120 → mean 80; dev·5 = 100,100,-200,-200,200
    // cum = 100,200,0,-200,0; peak-cum maxes at 400 units on day 4
    Seq(1.00, 1.00, 0.40, 0.40, 1.20).zipWithIndex.map { case (p, i) =>
      ((i + 1).toLong, 1L, "F", p,
        new java.sql.Timestamp(d0.getTime + i * 86400000L), "1")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Queries.all("ts_max_drawdown").fn(spark, dir)
      .as[(java.sql.Date, Long, Long, Double)].collect().toSeq
    assert(got == Seq((java.sql.Date.valueOf("1995-01-04"), 5L, 400L, 0.8)))
  }

  test("multimodal_image_neardup: banded candidates are COMPLETE vs brute-force Hamming") {
    val sf = "/root/testdata/sf0.001"
    val got = Queries.all("multimodal_image_neardup").fn(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    // independent brute force over the decoder's own hashes
    val hs = graft.ops.llm.Multimodal.phashes(
      graft.ops.llm.Multimodal.synthMedia(graft.model.Tables(spark, sf, "documents")))
      .toDF().filter(col("ok")).select("doc_id", "phash")
      .as[(Long, Long)].collect().sortBy(_._1)
    val brute = for {
      i <- hs.indices; j <- (i + 1) until hs.length
      h = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2).toLong
      if h <= 3
    } yield (hs(i)._1, hs(j)._1, h)
    assert(got.toSet == brute.toSet, s"banding dropped pairs or invented them")
    assert(got.nonEmpty, "fixture must actually contain near-dup images")
  }

  test("source_tv_distance matches the direct union-vocabulary TV formula") {
    // s1: a a b ; s2: a c c c (token 'b' only left, 'c' only right);
    // s3 == s1's distribution exactly (tv(s1,s3) must be 0);
    // s4: z z — ZERO shared vocabulary with every other source: the
    // maximally distant pairs must still emit rows (n_common=0, tv=1)
    val dir = writeDocs(Seq(
      (1L, "a a b", "s1", "xx"), (2L, "a c c c", "s2", "xx"),
      (3L, "a a b", "s3", "xx"), (4L, "z z", "s4", "xx"))
      .map { case (id, txt, src, _) => (id, txt, "aa", src) })
    val got = Queries.all("source_tv_distance").fn(spark, dir)
      .as[(String, String, Long, Long, Double)].collect().toSeq
      .map(r => (r._1, r._2) -> (r._3, r._5)).toMap
    // direct formula over the union vocabulary:
    def tv(p: Map[String, Long], q: Map[String, Long]): Double = {
      val np = p.values.sum.toDouble; val nq = q.values.sum.toDouble
      val u = (p.keySet ++ q.keySet).toSeq
      val t = u.map(k => math.abs(p.getOrElse(k, 0L) / np - q.getOrElse(k, 0L) / nq)).sum / 2
      BigDecimal(t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val s1 = Map("a" -> 2L, "b" -> 1L); val s2 = Map("a" -> 1L, "c" -> 3L)
    assert(got(("s1", "s2"))._2 == tv(s1, s2))
    assert(got(("s1", "s3")) == ((2L, 0.0))) // identical distributions
    assert(got(("s2", "s3"))._2 == tv(s2, s1))
    // disjoint-vocabulary pairs exist in the output at tv = 1
    assert(got.size == 6, s"all C(4,2) pairs must emit a row, got $got")
    assert(got(("s1", "s4")) == ((0L, 1.0)))
    assert(got(("s2", "s4")) == ((0L, 1.0)))
    assert(got(("s3", "s4")) == ((0L, 1.0)))
  }

  test("cheapest_supplier: ties all win once; the size filter excludes big parts") {
    val dir = java.nio.file.Files.createTempDirectory("r10eq2").toString
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    Seq((1L, "p1", "Brand#1", "T", 3, 1.0), (2L, "p2", "Brand#1", "T", 9, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((10L, "S10"), (11L, "S11"), (12L, "S12"))
      .toDF("s_suppkey", "s_name")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // part 1 (size 3): suppliers 10 and 11 tie at 50.0 (11 twice — must
    // count once), supplier 12 quotes 60; part 2 (size 9): excluded
    Seq(
      (1L, 1L, 10L, 1, 1.0, 50.0), (2L, 1L, 11L, 1, 1.0, 50.0),
      (3L, 1L, 11L, 1, 1.0, 50.0), (4L, 1L, 12L, 1, 1.0, 60.0),
      (5L, 2L, 12L, 1, 1.0, 1.0))
      .map { case (ok, pk, sk, ln, q, pr) =>
        (ok, pk, sk, ln, q, pr, 0.0, 0.0, "N", "O", d0) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Queries.all("cheapest_supplier").fn(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((10L, "S10", 1L), (11L, "S11", 1L)))
  }

  test("rolling_retention: 7-day window boundaries and zero-retention days") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def onDay(dy: Int, id: Long, u: Long) =
      (id, new java.sql.Timestamp(t0.getTime + dy * 86400000L), u, "click", 1.0)
    // u1: days 0, 7 (exactly at the boundary → retained), 20
    // u2: day 0 only; two events same day must not double-count
    val dir = writeEvents(Seq(
      onDay(0, 1L, 1L), onDay(7, 2L, 1L), onDay(20, 3L, 1L),
      onDay(0, 4L, 2L), onDay(0, 5L, 2L)))
    val got = Queries.all("rolling_retention").fn(spark, dir)
      .select("n_active", "n_retained", "retention_7d")
      .as[(Long, Long, Double)].collect().toSeq
    // day 0: active {u1,u2}, retained {u1} (day 7 is within BETWEEN 1 AND 7)
    // day 7: active {u1}, day 20 is 13 days out → 0; day 20: 0
    assert(got == Seq((2L, 1L, 0.5), (1L, 0L, 0.0), (1L, 0L, 0.0)))
  }

  test("purchase_cadence: per-customer gaps and the exact CDF") {
    val dir = java.nio.file.Files.createTempDirectory("r10ecad").toString
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def at(dy: Int) = new java.sql.Timestamp(d0.getTime + dy * 86400000L)
    // c1 orders at days 0, 10, 15 → gaps 10, 5; c2 single order → no gap
    Seq((1L, 1L, at(0)), (2L, 1L, at(10)), (3L, 1L, at(15)), (4L, 2L, at(3)))
      .map { case (k, c, dt) => (k, c, "F", 1.0, dt, "1") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Queries.all("purchase_cadence").fn(spark, dir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((5L, 1L, 0.5), (10L, 1L, 1.0)))
  }

  test("embedding_silhouette flags the mislabeled vector and matches a plain replay") {
    val dir = java.nio.file.Files.createTempDirectory("r10esil").toString
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 1), (2L, Array(1.0f, 0.1f), 1),
      (3L, Array(0.0f, 1.0f), 2), (4L, Array(0.0f, 0.9f), 2),
      (5L, Array(0.0f, 1.0f), 1)) // mislabeled: sits in cluster 2
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Queries.all("embedding_silhouette").fn(spark, dir)
      .as[(Int, Long, Long, Double)].collect().toSeq
    // independent replay of the exact ladder
    val byLabel = vecs.groupBy(_._3)
    val centroids = byLabel.map { case (l, vs) =>
      l -> (0 until 2).map { i =>
        val s = vs.map(v => BigDecimal(v._2(i).toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
        s.toDouble / vs.size
      }
    }
    def d2(v: Array[Float], l: Int): Long =
      (0 until 2).map { i =>
        val dx = v(i).toDouble - centroids(l)(i)
        math.floor(dx * dx * 1e6 + 0.5).toLong
      }.sum
    val sil = vecs.map { case (_, v, l) =>
      val a = d2(v, l)
      val b = centroids.keys.filter(_ != l).map(d2(v, _)).min
      val s = if (math.max(a, b) > 0)
        BigDecimal((b - a).toDouble / math.max(a, b).toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      else BigDecimal(0)
      (l, s)
    }
    val expected = sil.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, ss) =>
      (l, ss.size.toLong, ss.count(_._2 < 0).toLong,
        BigDecimal(ss.map(_._2).sum.toDouble / ss.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == expected, s"got $got\nexpected $expected")
    // the mislabeled vector drives label 1's misassignment count
    assert(got.find(_._1 == 1).get._3 == 1L)
    assert(got.find(_._1 == 2).get._3 == 0L)
  }

  test("scd2_point_in_time: each fact resolves exactly the dim row valid at its version") {
    val dir = java.nio.file.Files.createTempDirectory("r10epit").toString
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    // key 3: unchanged across versions; 7: v2-only insert (%7 drop in v1);
    // 5: deleted at v2 (%5); 11: price patched (%11); 13: priority → 9-SYNTH (%13)
    Seq(3L -> "P3", 7L -> "P7", 5L -> "P5", 11L -> "P11", 13L -> "P13")
      .map { case (k, p) => (k, 1L, "F", 10.0 * k, d0, p) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // per key: linenumber 1 → as-of v2 (price 10k+1), linenumber 2 → v1 (10k+2)
    Seq(3L, 7L, 5L, 11L, 13L).flatMap(k => Seq(
      (k, 1L, 1L, 1, 1.0, 10.0 * k + 1, 0.0, 0.0, "N", "O", d0),
      (k, 1L, 1L, 2, 1.0, 10.0 * k + 2, 0.0, 0.0, "N", "O", d0)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Queries.all("scd2_point_in_time").fn(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("9-SYNTH", 2L, 1L, 131.0), // key 13 at v2 sees the patched priority
      ("P11", 1L, 1L, 112.0), ("P11", 2L, 1L, 111.0), // one row per version
      ("P13", 1L, 1L, 132.0),     // key 13 at v1 sees the original
      ("P3", 1L, 1L, 32.0), ("P3", 2L, 1L, 31.0), // open row serves both
      ("P5", 1L, 1L, 52.0),       // deleted at v2: the v2 fact drops
      ("P7", 2L, 1L, 71.0)))      // inserted at v2: the v1 fact drops
  }

  test("ts_cross_corr: a one-hour lead shows up as r = 1 at lag +1") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    var id = 0L
    def ev(h: Int, typ: String, n: Int) = (0 until n).map { _ =>
      id += 1
      (id, new java.sql.Timestamp(t0.getTime + h * 3600000L), 1L, typ, 1.0)
    }
    val clicks = Seq(10, 20, 10, 30, 10, 20)
    val rows = clicks.zipWithIndex.flatMap { case (c, h) => ev(h, "click", c) } ++
      clicks.zipWithIndex.flatMap { case (c, h) => ev(h + 1, "purchase", c) }
    val dir = writeEvents(rows)
    val got = Queries.all("ts_cross_corr").fn(spark, dir)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // purchases replay clicks one hour later: perfect correlation at +1
    assert(got(1L)._2 == 1.0, s"lag+1 must be 1.0: $got")
    // pair counts shrink with |lag| (7 hours present: 0..6)
    assert(got(0L)._1 == 7L && got(1L)._1 == 6L && got(2L)._1 == 5L)
    assert(math.abs(got(0L)._2) < 1.0 && math.abs(got(-1L)._2) < 1.0)
  }

  test("cust_order_dist: zero-order customers and the ON-clause filter are preserved") {
    val dir = java.nio.file.Files.createTempDirectory("r10eq13").toString
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    Seq((1L, "c1", 0L, "B", 0.0), (2L, "c2", 0L, "B", 0.0),
      (3L, "c3", 0L, "B", 0.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // c1: two counted orders; c2: only an URGENT order (filtered inside
    // the join → still a k=0 row); c3: no orders at all (k=0)
    Seq((10L, 1L, "F", 1.0, d0, "5-LOW"), (11L, 1L, "F", 1.0, d0, "2-HIGH"),
      (12L, 2L, "F", 1.0, d0, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Queries.all("cust_order_dist").fn(spark, dir)
      .as[(Long, Long)].collect().toSeq
    // k=0: two customers (c2, c3); k=2: one customer — an inner join
    // would have produced only the k=2 row
    assert(got == Seq((0L, 2L), (2L, 1L)))
  }

  test("incremental_join: delta decomposition covers every corner exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("r10eivm").toString
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    // key 5: base/base; 101: ΔO; 103: ΔL; 10403 = 101·103: the ΔO⋈ΔL
    // corner that must land exactly once (via the ΔO ⋈ L' term)
    Seq((5L, 1L, "F", 1.0, d0, "P1"), (101L, 1L, "F", 1.0, d0, "P1"),
      (103L, 1L, "F", 1.0, d0, "P1"), (10403L, 1L, "F", 1.0, d0, "P1"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val lis = Seq(5L -> 2, 101L -> 1, 103L -> 2, 10403L -> 3).flatMap {
      case (k, n) => (1 to n).map(i =>
        (k, 1L, 1L, i, 1.0, 100.0 * i, 0.0, 0.0, "N", "O", d0))
    }
    lis.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Queries.all("incremental_join").fn(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    // base rows: key 5's two items; delta rows: 1 + 2 + 3; revenue = all
    val revenue = lis.map(_._6).sum
    assert(got == Seq(("P1", 2L, 6L, revenue)))
  }

  test("ts_theil_sen recovers a linear trend through a massive outlier hour") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    var id = 0L
    // counts 10 + 2h for hours 0..9, except hour 5 spiked to 500: every
    // non-outlier pair has slope exactly 2.0; the 9 outlier pairs sit at
    // the extremes and must not move the median (OLS would be dragged)
    val rows = for {
      h <- 0 until 10
      cnt = if (h == 5) 500 else 10 + 2 * h
      _ <- 0 until cnt
    } yield {
      id += 1
      (id, new java.sql.Timestamp(t0.getTime + h * 3600000L + (id % 3000) * 1000L), 1L, "click", 1.0)
    }
    val dir = writeEvents(rows)
    val got = Queries.all("ts_theil_sen").fn(spark, dir)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq((10L, 1L, 45L, 2.0, 48.0)))
  }

  test("late_sole_supplier: both correlation arms and the status filter bite") {
    val dir = java.nio.file.Files.createTempDirectory("r10eq21").toString
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def ship(days: Int) = new java.sql.Timestamp(d0.getTime + days * 86400000L)
    Seq((1L, 1L, "F", 1.0, d0, "1"), (2L, 1L, "F", 1.0, d0, "1"),
      (3L, 1L, "F", 1.0, d0, "1"), (4L, 1L, "O", 1.0, d0, "1"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "S10"), (11L, "S11"))
      .toDF("s_suppkey", "s_name")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // order 1: supp 10 late, supp 11 on time → qualifies for supp 10
    // order 2: both late → nl=2, excluded (NOT EXISTS arm)
    // order 3: only supp 10, late → ns=1, excluded (EXISTS arm)
    // order 4: like order 1 but status 'O' → excluded by the filter
    Seq(
      (1L, 1L, 10L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ship(90)),
      (1L, 1L, 11L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ship(10)),
      (2L, 1L, 10L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ship(90)),
      (2L, 1L, 11L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ship(91)),
      (3L, 1L, 10L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ship(95)),
      (4L, 1L, 10L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ship(90)),
      (4L, 1L, 11L, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ship(10)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Queries.all("late_sole_supplier").fn(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((10L, "S10", 1L)))
  }

  test("ts_snaive_backtest: exact-micros join keeps gap hours out of the alignment") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    var id = 0L
    def hourEvents(h: Int, cnt: Int): Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (0 until cnt).map { i =>
        id += 1
        (id, new java.sql.Timestamp(t0.getTime + h * 3600000L + i * 1000L), 1L, "click", 1.0)
      }
    // hours 0,1,2 then a GAP at 3, hour 4, and day+1 hours 24,25
    val rows = hourEvents(0, 10) ++ hourEvents(1, 12) ++ hourEvents(2, 9) ++
      hourEvents(4, 7) ++ hourEvents(24, 11) ++ hourEvents(25, 13)
    val dir = writeEvents(rows)
    val got = Queries.all("ts_snaive_backtest").fn(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    // naive_1 pairs: (1,0)=+2, (2,1)=-3, (25,24)=+2 — hour 4 has no hour 3,
    // hour 24 has no hour 23 (a row-lag would have slid both into pairs)
    // snaive_24 pairs: (24,0)=+1, (25,1)=+1
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      ("naive_1", 3L, 7L, r6(7.0 / 3), r6(1.0 / 3)),
      ("snaive_24", 2L, 2L, 1.0, 1.0)))
  }

  test("small_qty_revenue: only below-20%-of-part-average quantities count") {
    val dir = java.nio.file.Files.createTempDirectory("r10eq17").toString
    Seq((1L, "p1", "Brand#1", "T", 5, 1.0), (2L, "p2", "Brand#9", "T", 5, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // part 1 (Brand#1): qtys 1,10,10,10 → sumq=31, cnt=4; 5·1·4=20<31 ✓,
    // 5·10·4=200 ✗. part 2 (Brand#9): excluded by the brand filter.
    val t0 = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    Seq(
      (1L, 1L, 1L, 1, 1.0, 700.0, 0.0, 0.0, "N", "O", t0),
      (2L, 1L, 1L, 1, 10.0, 100.0, 0.0, 0.0, "N", "O", t0),
      (3L, 1L, 1L, 1, 10.0, 100.0, 0.0, 0.0, "N", "O", t0),
      (4L, 1L, 1L, 1, 10.0, 100.0, 0.0, 0.0, "N", "O", t0),
      (5L, 2L, 1L, 1, 1.0, 999.0, 0.0, 0.0, "N", "O", t0))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Queries.all("small_qty_revenue").fn(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("Brand#1", 1L, 1L, 700.0 / 7.0)))
  }
}
