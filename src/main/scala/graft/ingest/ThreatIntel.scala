package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Mutations

/** Ingested property-graph snapshot. */
final case class ThreatGraph(vertices: DataFrame, edges: DataFrame)

/** VirusTotal-shaped threat-intel JSON → property graph, the Spark-native
  * re-expression of the reference's recursive ETL
  * (`GraphImporter._extract_data_and_save`, graph_importer.py:51-168;
  * lifecycle trace SURVEY.md §3.1).
  *
  * The reference walks each report depth-first issuing 4-6 client↔mongod
  * round trips per vertex; here every branch of the report becomes one
  * column-level `explode`, vertices/edges are unioned per label, conflict
  * resolution is one first-write-wins dedup shuffle, and the maliciousness
  * aggregate is one `groupBy.agg` — O(branches) jobs total, no per-record
  * RPCs, scales with executors.
  *
  * Semantics preserved (file:line = graph_importer.py):
  *  - resource classified ip/domain by the anchored IPv4 octet regex (32-38)
  *  - `observed-subdomains` → domain vertex + `observed` edge (70-77)
  *  - `dns-resolutions` → ip (or domain) vertex + `assign` edge carrying
  *    `date` (79-94)
  *  - detection lists: `undetected-*` → `legitimate` vertex + `trusted`
  *    edge, `detected-*` → `malicious` vertex + `threat` edge, each with
  *    hash/datetime/probability attrs (96-128)
  *  - `detected_prop` = mean of detected/checker over all detections on the
  *    resource vertex, 0.0 when none (130-138); the reference divides
  *    blindly (ZeroDivision, SURVEY §2.3 item 10) — we null-skip malformed
  *    ratios
  *  - whois contacts (admin/tech/registrant with an email) → `owner` vertex
  *    + `belongTo` edge FROM owner TO resource (141-151; `insert_node`
  *    makes the new vertex the edge source, mongraph.py:149-150). The
  *    reference crashes here because `owner` is unregistered (SURVEY §2.3
  *    item 6); we register it — intent over letter.
  *  - leftover non-structural fields flatten into the props map: list →
  *    `field_0…`, object → `field_key`, scalar → `field` (153-168)
  *  - vertex identity = natural key per label with first-write-wins upsert
  *    (mongraph.py:90-94); ids are `xxhash64(label, key)`
  *
  * The reference's recursion into children is dead code as written (it
  * passes bare strings which hit the non-dict early return,
  * graph_importer.py:55-58,77); children therefore become key-only vertices,
  * exactly the effective reference behavior.
  */
object ThreatIntel {

  /** Structural keys excluded from attribute flattening
    * (graph_importer.py:11-23).
    */
  val notBrowseFields: Seq[String] = Seq(
    "whois", "domain-siblings", "dns-resolutions", "observed-subdomains",
    "detected-urls",
    "detected-downloaded", "undetected-downloaded",
    "detected-referrer", "undetected-referrer",
    "detected-communicating", "undetected-communicating")

  val legitimateLists: Seq[String] =
    Seq("undetected-downloaded", "undetected-communicating", "undetected-referrer")
  val maliciousLists: Seq[String] =
    Seq("detected-downloaded", "detected-communicating", "detected-referrer")

  /** Anchored IPv4 regex, octet-range checked (graph_importer.py:33-34). */
  val ipv4Regex: String =
    "^(([0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5])\\.){3}([0-9]|[1-9][0-9]|1[0-9]{2}|2[0-4][0-9]|25[0-5])$"

  private val detSchema = ArrayType(new StructType()
    .add("hash", StringType).add("datetime", StringType).add("prob", StringType))

  private val reportSchema: StructType = {
    var s = new StructType()
      .add("observed-subdomains", ArrayType(new StructType().add("domain", StringType)))
      .add("dns-resolutions", ArrayType(new StructType()
        .add("ipaddress", StringType).add("domain", StringType).add("date", StringType)))
      .add("whois", new StructType()
        .add("contacts", MapType(StringType, MapType(StringType, StringType))))
    (legitimateLists ++ maliciousLists).foreach(l => s = s.add(l, detSchema))
    s
  }

  private def vid(label: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column) =
    xxhash64(label, key)

  /** Canonical ThreatGraph vertex schema — the single definition shared by
    * the report path ([[fromReports]] conforms its output to it) and
    * [[emptyVertices]], so the two can never drift apart and fail later at
    * a distant `unionByName` inside upsert.
    */
  val vertexSchema: StructType = new StructType()
    .add("id", org.apache.spark.sql.types.LongType)
    .add("label", StringType)
    .add("key", StringType)
    .add("detected_prop", org.apache.spark.sql.types.DoubleType)
    .add("props", MapType(StringType, StringType))

  /** An empty vertex frame with the ThreatGraph vertex schema — the seed
    * for an edges-first streaming ingest
    * ([[StreamingThreatIngest.startEdges]] before any report batch).
    */
  def emptyVertices(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vertexSchema)

  /** Ingest a batch of JSON documents, each shaped
    * `{"<resource>": {<report>}, ...}` ("Cyradar json standard",
    * graph_importer.py:170-175).
    */
  def fromJson(spark: SparkSession, jsonDocs: Seq[String]): ThreatGraph = {
    import spark.implicits._
    fromReports(jsonDocs.toDF("doc")
      .select(explode(from_json(col("doc"), MapType(StringType, StringType))))
      .toDF("resource", "report"))
  }

  /** Ingest a DataFrame of (resource STRING, report STRING-of-JSON) rows.
    * A resource reported twice keeps, per props key, the smallest value.
    */
  def fromReports(reports: DataFrame): ThreatGraph = {
    val r = reports
      .withColumn("rep", from_json(col("report"), reportSchema))
      .withColumn("extra", from_json(col("report"), MapType(StringType, StringType)))
      .withColumn("is_ip", col("resource").rlike(ipv4Regex))
      .withColumn("res_label", when(col("is_ip"), "ip").otherwise("domain"))

    // ---- detections: 6 lists exploded + unioned, ratio parsed from "d/c"
    val detections = (legitimateLists ++ maliciousLists).map { listName =>
      r.select(col("resource"), col("res_label"),
        explode(col("rep").getField(listName)).as("det"))
        .select(col("resource"), col("res_label"),
          lit(if (legitimateLists.contains(listName)) "legitimate" else "malicious").as("det_label"),
          coalesce(col("det.hash"), lit("")).as("hash"),
          coalesce(col("det.datetime"), lit("")).as("datetime"),
          coalesce(col("det.prob"), lit("")).as("prob"))
    }.reduce(_ unionByName _)
      .withColumn("detected", split(trim(col("prob")), "/").getItem(0).cast("double"))
      .withColumn("checker", split(trim(col("prob")), "/").getItem(1).cast("double"))
      .withColumn("ratio",
        when(col("checker") =!= 0.0, col("detected") / col("checker")))

    // detected_prop = mean ratio per resource, 0.0 when no detections
    val detectedProp = detections.groupBy("resource")
      .agg(avg(col("ratio")).as("detected_prop"))

    // ---- leftover attribute flattening into props (graph_importer.py:153-168)
    val flattened = r.select(col("resource"),
      explode_outer(map_filter(col("extra"), (k, _) => !k.isin(notBrowseFields: _*))).as(Seq("fk", "fv")))
      .withColumn("kind", when(col("fv").startsWith("["), "list")
        .when(col("fv").startsWith("{"), "object").otherwise("scalar"))
    val flatScalar = flattened.filter(col("kind") === "scalar" && col("fk").isNotNull)
      .select(col("resource"), col("fk"), col("fv"))
    val flatList = flattened.filter(col("kind") === "list")
      .select(col("resource"), col("fk"),
        posexplode(from_json(col("fv"), ArrayType(StringType))).as(Seq("i", "elem")))
      .select(col("resource"), concat(col("fk"), lit("_"), col("i")).as("fk"), col("elem").as("fv"))
    val flatObject = flattened.filter(col("kind") === "object")
      .select(col("resource"), col("fk"),
        explode(from_json(col("fv"), MapType(StringType, StringType))).as(Seq("sk", "sv")))
      .select(col("resource"), concat(col("fk"), lit("_"), col("sk")).as("fk"), col("sv").as("fv"))
    // first entry per key of the sorted list: map_from_entries rejects a
    // duplicate key, which a re-sent resource brings
    val props = flatScalar.unionByName(flatList).unionByName(flatObject)
      .groupBy("resource")
      .agg(array_sort(collect_list(struct(col("fk"), col("fv")))).as("__kv"))
      .select(col("resource"), map_from_entries(filter(col("__kv"), (e, i) =>
        i === 0 || element_at(col("__kv"), greatest(i, lit(1))).getField("fk") =!=
          e.getField("fk"))).as("props"))

    // ---- resource vertices (with aggregate + props patched on)
    val resourceVertices = r.select(col("resource"), col("res_label").as("label")).distinct()
      .join(detectedProp, Seq("resource"), "left")
      .join(props, Seq("resource"), "left")
      .select(vid(col("label"), col("resource")).as("id"), col("label"),
        col("resource").as("key"),
        coalesce(col("detected_prop"), lit(0.0)).as("detected_prop"),
        coalesce(col("props"), map()).as("props"),
        lit(0).as("__pri"))

    // ---- child vertices: subdomains (domain) + resolutions (ip|domain)
    val subdomains = r.select(col("resource"), col("res_label"),
      explode(col("rep").getField("observed-subdomains").getField("domain")).as("child"))
      .withColumn("child_label", lit("domain"))
    val resolutions = r.select(col("resource"), col("res_label"), col("is_ip"),
      explode(col("rep").getField("dns-resolutions")).as("res"))
      .withColumn("child", when(col("is_ip"), col("res.domain")).otherwise(col("res.ipaddress")))
      .withColumn("child_label", when(col("is_ip"), "domain").otherwise("ip"))
      .withColumn("date", col("res.date"))
      .filter(col("child").isNotNull)

    val childVertices = subdomains.select(col("child_label").as("label"), col("child").as("key"))
      .unionByName(resolutions.select(col("child_label").as("label"), col("child").as("key")))
      .distinct()
      .select(vid(col("label"), col("key")).as("id"), col("label"), col("key"),
        lit(null).cast("double").as("detected_prop"), map().as("props"), lit(1).as("__pri"))

    // ---- detection vertices (hash identity; datetime/probability attrs)
    val detectionVertices = Mutations.dedupFirst(
      detections.select(col("det_label").as("label"), col("hash").as("key"),
        col("datetime"), col("prob")),
      Seq("label", "key"), Seq("datetime", "prob"))
      .select(vid(col("label"), col("key")).as("id"), col("label"), col("key"),
        lit(null).cast("double").as("detected_prop"),
        map(lit("datetime"), col("datetime"), lit("probability"), col("prob")).as("props"),
        lit(1).as("__pri"))

    // ---- owner vertices from whois contacts (email identity)
    val owners = r.select(col("resource"), col("res_label"),
      explode(col("rep").getField("whois").getField("contacts")).as(Seq("dept", "contact")))
      .filter(col("dept").isin("admin", "tech", "registrant"))
      .withColumn("email", col("contact").getItem("email"))
      .filter(col("email").isNotNull)
    val ownerVertices = Mutations.dedupFirstBy(
      owners.select(lit("owner").as("label"), col("email").as("key"), col("contact")),
      // canonical-JSON tie-break: the same email can appear with different
      // contact maps (admin vs tech dept) — the keep-first winner must not
      // depend on partitioning.
      Seq("label", "key"), Seq(Mutations.propsOrder(col("contact"))))
      .select(vid(col("label"), col("key")).as("id"), col("label"), col("key"),
        lit(null).cast("double").as("detected_prop"), col("contact").as("props"),
        lit(1).as("__pri"))

    val vertices = Mutations.dedupFirst(
      resourceVertices.unionByName(childVertices)
        .unionByName(detectionVertices).unionByName(ownerVertices),
      Seq("id"), Seq("__pri")).drop("__pri")
      // conform to the shared canonical schema (fails HERE at analysis if
      // the report path ever drifts from vertexSchema, not later in a
      // distant streaming merge)
      .select(vertexSchema.fieldNames.toIndexedSeq.map(col): _*)
    require(vertices.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      vertexSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"fromReports vertex schema drifted from ThreatIntel.vertexSchema: ${vertices.schema.simpleString}")

    // ---- edges (dedup on (src,dst,label) exactly as mongraph.py:120-124)
    def resId(labelCol: String = "res_label") = vid(col(labelCol), col("resource"))
    val observedEdges = subdomains.select(resId().as("src"),
      vid(col("child_label"), col("child")).as("dst"), lit("observed").as("label"),
      map().as("props"))
    val assignEdges = resolutions.select(resId().as("src"),
      vid(col("child_label"), col("child")).as("dst"), lit("assign").as("label"),
      map(lit("date"), coalesce(col("date"), lit(""))).as("props"))
    val detectEdges = detections.select(resId().as("src"),
      vid(col("det_label"), col("hash")).as("dst"),
      when(col("det_label") === "legitimate", "trusted").otherwise("threat").as("label"),
      map().as("props"))
    val belongEdges = owners.select(vid(lit("owner"), col("email")).as("src"),
      resId().as("dst"), lit("belongTo").as("label"), map().as("props"))

    // canonical-JSON tie-break: two resolutions of the same (src,dst) pair
    // can carry different dates — the surviving assign-edge props must be
    // the same on every run and partitioning.
    val edges = Mutations.dedupFirstBy(
      observedEdges.unionByName(assignEdges).unionByName(detectEdges).unionByName(belongEdges),
      Seq("src", "dst", "label"), Seq(Mutations.propsOrder(col("props"))))

    ThreatGraph(vertices, edges)
  }
}
