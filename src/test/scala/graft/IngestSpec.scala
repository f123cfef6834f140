package graft

import org.apache.spark.sql.functions._
import graft.ingest.ThreatIntel

/** Full importer-branch coverage on the FIXTURES.md §C.7 document
  * (field names from graph_importer.py:70,79,96-97,141-144).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val fixture =
    """{"evil.example": {
      |  "observed-subdomains": [{"domain": "a.evil.example"}],
      |  "dns-resolutions":     [{"ipaddress": "10.1.2.3", "date": "2016-01-01"}],
      |  "detected-downloaded":   [{"hash": "h1", "datetime": "2016-01-02 00:00:00", "prob": "2/4"}],
      |  "undetected-downloaded": [{"hash": "h2", "datetime": "2016-01-03 00:00:00", "prob": "1/4"}],
      |  "whois": {"contacts": {"admin": {"email": "x@example.com", "name": "X"}}},
      |  "categories": ["phish", "malware"],
      |  "country": "VN"
      |}}""".stripMargin

  private lazy val g = ThreatIntel.fromJson(spark, Seq(fixture))
  private lazy val vs = g.vertices.collect().map(r =>
    (r.getString(1), r.getString(2)) -> r).toMap
  private lazy val es = g.edges.collect().map(r =>
    (r.getString(2), r.getLong(0), r.getLong(1))).toSet

  private def id(label: String, key: String): Long =
    spark.range(1).select(xxhash64(lit(label), lit(key))).head().getLong(0)

  test("all expected vertices exist with correct labels") {
    assert(vs.keySet == Set(
      "domain" -> "evil.example", "domain" -> "a.evil.example",
      "ip" -> "10.1.2.3", "malicious" -> "h1", "legitimate" -> "h2",
      "owner" -> "x@example.com"))
  }

  test("detected_prop = mean(detected/checker) = mean(2/4, 1/4) = 0.375 (graph_importer.py:130-138)") {
    assert(vs("domain" -> "evil.example").getDouble(3) == 0.375)
  }

  test("leftover fields flatten: list → field_i, scalar → field (graph_importer.py:153-168)") {
    val props = vs("domain" -> "evil.example").getMap[String, String](4)
    assert(props("categories_0") == "phish")
    assert(props("categories_1") == "malware")
    assert(props("country") == "VN")
    assert(!props.contains("whois")) // structural key not flattened
  }

  test("detection vertices carry datetime/probability attrs (graph_importer.py:113-127)") {
    val mal = vs("malicious" -> "h1").getMap[String, String](4)
    assert(mal("datetime") == "2016-01-02 00:00:00" && mal("probability") == "2/4")
  }

  test("all five edge kinds with reference directions") {
    val evil = id("domain", "evil.example")
    assert(es == Set(
      ("observed", evil, id("domain", "a.evil.example")),
      ("assign", evil, id("ip", "10.1.2.3")),
      ("threat", evil, id("malicious", "h1")),
      ("trusted", evil, id("legitimate", "h2")),
      // owner is the edge SOURCE (insert_node, mongraph.py:149-150)
      ("belongTo", id("owner", "x@example.com"), evil)))
  }

  test("assign edge carries the resolution date (graph_importer.py:86,93)") {
    val assign = g.edges.filter(col("label") === "assign").head()
    assert(assign.getMap[String, String](3)("date") == "2016-01-01")
  }

  test("no detections → detected_prop = 0.0 (graph_importer.py:135-138)") {
    val g2 = ThreatIntel.fromJson(spark, Seq("""{"plain.example": {"country": "US"}}"""))
    assert(g2.vertices.head().getDouble(3) == 0.0)
  }

  test("malformed / zero-checker prob ratios are null-skipped, not crashed (SURVEY §2.3 item 10)") {
    val g3 = ThreatIntel.fromJson(spark, Seq(
      """{"x.example": {"detected-downloaded": [
        |  {"hash": "h3", "datetime": "", "prob": "3/0"},
        |  {"hash": "h4", "datetime": "", "prob": "1/2"}]}}""".stripMargin))
    val dp = g3.vertices.filter(col("label") === "domain").head().getDouble(3)
    assert(dp == 0.5) // only the well-formed ratio contributes
  }

  test("ingest is idempotent at the id level: same doc twice, same graph") {
    // collected rows, not count(): a count prunes the props column, and
    // with it the per-resource map that a re-send used to break
    val g2 = ThreatIntel.fromJson(spark, Seq(fixture, fixture))
    assert(g2.vertices.orderBy("id").collect().toSeq ==
      g.vertices.orderBy("id").collect().toSeq)
    assert(g2.edges.orderBy("src", "dst", "label").collect().toSeq ==
      g.edges.orderBy("src", "dst", "label").collect().toSeq)
  }

  test("conflicting re-sent props keep the smallest value, in any order") {
    val us = """{"c.example": {"country": "US"}}"""
    val vn = """{"c.example": {"country": "VN"}}"""
    for (docs <- Seq(Seq(us, vn), Seq(vn, us))) {
      val props = ThreatIntel.fromJson(spark, docs).vertices
        .filter(col("key") === "c.example").head().getMap[String, String](4)
      assert(props == Map("country" -> "US"))
    }
  }

  test("batch of 100 reports processes in one pass — O(branches) jobs, not O(records)") {
    val docs = (0 until 100).map { i =>
      s"""{"host$i.example": {
         |  "dns-resolutions": [{"ipaddress": "10.0.${i / 256}.${i % 256}", "date": "2016-01-01"}],
         |  "detected-downloaded": [{"hash": "h$i", "datetime": "", "prob": "1/2"}]}}""".stripMargin
    }
    val g = ThreatIntel.fromJson(spark, docs)
    assert(g.vertices.count() == 300) // 100 domains + 100 ips + 100 hashes
    assert(g.edges.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("assign" -> 100L, "threat" -> 100L))
    // every resource got the same 0.5 aggregate
    assert(g.vertices.filter(col("label") === "domain" && col("detected_prop") === 0.5)
      .count() == 100)
  }

  test("ip resources classified by the octet-range regex (graph_importer.py:32-38)") {
    val g4 = ThreatIntel.fromJson(spark, Seq("""{"8.8.8.8": {}, "999.1.1.1": {}}"""))
    val labels = g4.vertices.select("key", "label").as[(String, String)].collect().toMap
    assert(labels("8.8.8.8") == "ip")
    assert(labels("999.1.1.1") == "domain") // out-of-range octet → not an IP
  }

  test("streaming ingest merges micro-batches with first-write-wins, same transform as batch") {
    implicit val ctx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val ingest = new graft.ingest.StreamingThreatIngest
    val q = ingest.start(stream.toDF().toDF("resource", "report"))
    try {
      stream.addData(("evil.example",
        """{"detected-downloaded": [{"hash": "h1", "datetime": "d1", "prob": "2/4"}], "country": "VN"}"""))
      q.processAllAvailable()
      stream.addData(
        // re-report of the same resource with different attrs -> first wins
        ("evil.example", """{"country": "US"}"""),
        ("fresh.example", """{"country": "DE"}"""))
      q.processAllAvailable()
      val g = ingest.snapshot.get
      val byKey = g.vertices.collect().map(r => r.getString(2) -> r).toMap
      assert(byKey.keySet == Set("evil.example", "h1", "fresh.example"))
      // batch-1 state survives the batch-2 re-report
      assert(byKey("evil.example").getDouble(3) == 0.5) // detected_prop from 2/4
      assert(byKey("evil.example").getMap[String, String](4).get("country").contains("VN"))
      assert(byKey("fresh.example").getMap[String, String](4).get("country").contains("DE"))
      assert(g.edges.count() == 1) // the threat edge from batch 1
    } finally q.stop()
  }

  test("streaming edge source merges cross-batch with first-write-wins on (src,dst,label)") {
    implicit val ctx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Map[String, String])]
    val ingest = new graft.ingest.StreamingThreatIngest
    val q = ingest.startEdges(stream.toDF().toDF("src", "dst", "label", "props"))
    try {
      stream.addData((1L, 2L, "assign", Map("date" -> "2016-01-01")))
      q.processAllAvailable()
      stream.addData(
        // same (src,dst,label) re-streamed with different props → first wins
        (1L, 2L, "assign", Map("date" -> "2024-12-31")),
        // same endpoints, new label → distinct edge (per-label digraph)
        (1L, 2L, "observed", Map.empty[String, String]),
        (3L, 4L, "assign", Map.empty[String, String]))
      q.processAllAvailable()
      val g = ingest.snapshot.get
      assert(g.vertices.count() == 0) // edges-first ingest: empty vertex side
      val edges = g.edges.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
          r.getMap[String, String](3).get("date")).toMap
      assert(edges.keySet == Set((1L, 2L, "assign"), (1L, 2L, "observed"), (3L, 4L, "assign")))
      assert(edges((1L, 2L, "assign")).contains("2016-01-01")) // batch-1 props survive
    } finally q.stop()
  }

  test("report stream and edge stream merge into ONE snapshot (both graph sides streamed)") {
    implicit val ctx = spark.sqlContext
    val rStream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val eStream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Map[String, String])]
    val ingest = new graft.ingest.StreamingThreatIngest
    val q1 = ingest.start(rStream.toDF().toDF("resource", "report"))
    val q2 = ingest.startEdges(eStream.toDF().toDF("src", "dst", "label", "props"))
    try {
      rStream.addData(("evil.example",
        """{"detected-downloaded": [{"hash": "h1", "datetime": "d1", "prob": "1/2"}]}"""))
      q1.processAllAvailable()
      eStream.addData((111L, 222L, "assign", Map("date" -> "x")))
      q2.processAllAvailable()
      val g = ingest.snapshot.get
      // vertices came from the report path...
      assert(g.vertices.filter(col("key") === "evil.example").count() == 1)
      // ...edges from BOTH paths coexist in the same snapshot
      val labels = g.edges.select("label").as[String].collect().toSet
      assert(labels == Set("threat", "assign"))
    } finally { q1.stop(); q2.stop() }
  }
}
