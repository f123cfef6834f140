package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{MongoFilter, Mutations, Traverse}

/** The user-facing property-graph API — what a `MongoGraph` user switches
  * to (mongraph.py:8-303), re-expressed as immutable snapshots: every
  * mutation returns a new `PropertyGraph` (SURVEY.md §1.2).
  *
  * Canonical schemas:
  * {{{
  * vertices: id BIGINT, label STRING, key STRING, props MAP<STRING,STRING>
  * edges:    src BIGINT, dst BIGINT, label STRING, props MAP<STRING,STRING>
  * }}}
  *
  * Vertex identity is `xxhash64(label, key)` — the natural-key upsert
  * identity of `insert_vertex(identify=...)` (mongraph.py:90-94) made
  * deterministic and GraphX-compatible (`VertexId` = Long).
  */
final case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {

  /** Vertex columns beyond the canonical four are PROMOTED typed hot
    * attributes ([[promote]]) — functionally derived from `props`, so every
    * mutation re-derives them and they can never drift from the map.
    */
  private def promotedAttrs: Seq[org.apache.spark.sql.types.StructField] =
    vertices.schema.fields.toSeq
      .filterNot(f => PropertyGraph.CanonicalVertexCols.contains(f.name))

  private def derivePromoted(df: DataFrame): DataFrame =
    promotedAttrs.foldLeft(df)((d, f) =>
      d.withColumn(f.name, col("props").getItem(f.name).cast(f.dataType)))

  /** Promote hot attributes to typed top-level vertex columns
    * (SURVEY §1.2's declared mapping: `name`/`address`/`hash` STRING,
    * `detected_prop` DOUBLE). The column is physically materialized — a
    * snapshot saved via GraphSnapshots stores it as a parquet column, so
    * `searchVertices` equality/range predicates on it compile to
    * pushed-down columnar scan filters (row-group pruning at 100 TB)
    * instead of map probes. `props` keeps the long tail unchanged; the
    * promoted copy re-derives on every mutation.
    */
  def promote(attrs: (String, String)*): PropertyGraph = {
    attrs.foreach { case (a, _) =>
      require(!PropertyGraph.CanonicalVertexCols.contains(a),
        s"cannot promote canonical column '$a'") }
    copy(vertices = attrs.foldLeft(vertices)((df, at) =>
      df.withColumn(at._1, col("props").getItem(at._1).cast(at._2))))
  }

  /** Batch `insert_vertex` (mongraph.py:71-97): validates the label against
    * the registry (81-82 intent — raising on unknown labels) and requires
    * the key column non-null (84-85), stamps ids, dedups first-write-wins
    * (existing snapshot beats the incoming batch on key conflict, §2.3
    * item 8). `incoming` needs columns (label, key[, props]).
    */
  def insertVertices(incoming: DataFrame): PropertyGraph = {
    val withProps =
      if (incoming.columns.contains("props")) incoming
      else incoming.withColumn("props", map())
    val validated = PropertyGraph.validateLabels(withProps, "label")
      .filter(col("key").isNotNull)
    val stamped = validated.select(
      xxhash64(col("label"), col("key")).as("id"),
      col("label"), col("key"), col("props"))
    // tie-break on canonical props JSON: (label, key) determine the id, so
    // ordering by them alone would leave the surviving props arbitrary when
    // one batch repeats a key with different attributes.
    copy(vertices = Mutations.upsert(vertices,
      Mutations.dedupFirstBy(derivePromoted(stamped), Seq("id"),
        Seq(Mutations.propsOrder(col("props")))),
      Seq("id")))
  }

  /** Batch `insert_edge` (mongraph.py:99-130): dedup on exact
    * (src, dst, label); dangling endpoints allowed exactly as the reference
    * never checks endpoint existence (§2.1 row 6).
    */
  def insertEdges(incoming: DataFrame): PropertyGraph = {
    val withProps =
      if (incoming.columns.contains("props")) incoming
      else incoming.withColumn("props", map())
    copy(edges = Mutations.upsertEdges(edges,
      Mutations.dedupFirstBy(withProps.select("src", "dst", "label", "props"),
        Seq("src", "dst", "label"), Seq(Mutations.propsOrder(col("props"))))))
  }

  /** `update_vertex` merge-patch by id (mongraph.py:195-203); patch columns
    * beyond `id` overwrite when non-null. Promoted hot-attribute columns
    * re-derive from the merged `props` afterwards (patch attributes via
    * `props` — the typed copies are views, not writable state).
    */
  def updateVertices(patches: DataFrame): PropertyGraph =
    copy(vertices = derivePromoted(Mutations.patch(vertices, patches, Seq("id"))))

  /** `update_edge` merge-patch by exact (src, dst, label)
    * (mongraph.py:205-213).
    */
  def updateEdges(patches: DataFrame): PropertyGraph =
    copy(edges = Mutations.patch(edges, patches, Seq("src", "dst", "label")))

  /** `delete_node` undirected cascade (mongraph.py:153-181). */
  def deleteVertices(ids: DataFrame): PropertyGraph = {
    val (v, e) = Mutations.deleteVerticesCascade(vertices, edges, ids)
    PropertyGraph(v, e)
  }

  /** `delete_node(None, filter)` (mongraph.py:164-171): resolve the victims
    * by a Mongo filter document, then cascade — the filter-resolution path
    * of the reference's delete, minus its crash when nothing matches
    * (SURVEY §2.3 item 7; an empty match set deletes nothing here).
    */
  def deleteWhere(mongoFilterJson: String): PropertyGraph =
    deleteVertices(searchVertices(mongoFilterJson).select("id"))

  /** `delete_edge` (mongraph.py:183-193). */
  def deleteEdges(toDelete: DataFrame): PropertyGraph =
    copy(edges = Mutations.deleteEdges(edges, toDelete))

  /** `search_vertex` with a Mongo filter document (mongraph.py:215-226). */
  def searchVertices(mongoFilterJson: String): DataFrame =
    MongoFilter.where(vertices, mongoFilterJson)

  /** Point lookups (`_get_vertex_details`, mongraph.py:29-44) — the id-set
    * form is a semi-join, not the reference's per-id round-trip loop.
    */
  def vertexDetails(ids: Seq[Long]): DataFrame =
    vertices.filter(col("id").isin(ids: _*))

  /** Edge point lookups by exact (src, dst, label)
    * (`_get_edge_details`, mongraph.py:46-60).
    */
  def edgeDetails(keys: Seq[(Long, Long, String)]): DataFrame = {
    val cond = keys.map { case (s0, d0, l0) =>
      col("src") === s0 && col("dst") === d0 && col("label") === l0
    }.reduceOption(_ || _).getOrElse(lit(false))
    edges.filter(cond)
  }

  /** Compound insert (`insert_node`, mongraph.py:132-151): insert new
    * vertices AND an edge from each new vertex to an existing destination —
    * the new vertex is the edge *source* (mongraph.py:149-150).
    * `incoming` needs (label, key[, props]); every new vertex links to
    * `destinationId` with `edgeLabel`.
    */
  def insertConnected(incoming: DataFrame, destinationId: Long,
      edgeLabel: String = "resolve"): PropertyGraph = {
    val withVertices = insertVertices(incoming)
    val newEdges = incoming.select(
      xxhash64(col("label"), col("key")).as("src"),
      lit(destinationId).as("dst"),
      lit(edgeLabel).as("label"))
    withVertices.insertEdges(newEdges)
  }

  /** `find_neighbors` (mongraph.py:228-250): the neighbour vertex rows,
    * `id` first. A neighbour set held on the driver is probed in the
    * vertex scan, with no join.
    */
  def neighbors(vertexId: Long): DataFrame =
    Traverse.neighbors(edges, vertexId, Traverse.broadcastRowLimit) match {
      case Traverse.Held(ids) => vertices.filter(ids.contains(col("id")))
        .select((col("id") +: vertices.columns.filter(_ != "id").map(col)).toSeq: _*)
      case ids => ids.toDF.join(vertices, Seq("id"))
    }

  /** k-hop ego vertex set (`_explode_node` intent, mongraph.py:252-274);
    * the frontiers stay on the driver while they fit (see [[Traverse]]).
    */
  def kHop(vertexId: Long, depth: Int): DataFrame =
    Traverse.kHopIds(edges, vertexId, depth)

  /** `build_graph` (mongraph.py:276-303): depth-bounded ego subgraph as a
    * JSON document (default depth 4 as the reference hard-codes), built
    * on the driver from one vertex and one edge collect.
    */
  def buildGraphJson(rootId: Long, depth: Int = 4): String =
    Traverse.egoSubgraphJson(vertices, edges, rootId, depth)

  /** Undirected per-vertex degree. */
  def degrees: DataFrame = Traverse.degrees(vertices, edges)
}

object PropertyGraph {

  /** The canonical vertex schema; anything beyond these is a promoted
    * typed hot attribute (see [[PropertyGraph.promote]]).
    */
  val CanonicalVertexCols: Set[String] = Set("id", "label", "key", "props")

  /** Label registry — the reference's `_type_dependency` (mongraph.py:22-27)
    * plus the `owner`/`whois` labels its importer needs but forgot to
    * register (§2.3 item 6; intent over letter). Maps label → required
    * natural-key attribute.
    */
  val labelRegistry: Map[String, String] = Map(
    "domain" -> "name",
    "ip" -> "address",
    "legitimate" -> "hash",
    "malicious" -> "hash",
    "owner" -> "email",
    "whois" -> "name")

  private[model] def validateLabels(df: DataFrame, labelCol: String): DataFrame = {
    val known = labelRegistry.keys.toSeq
    // raise_error preserves the reference's throw-on-unknown-label contract
    // (mongraph.py:81-82) without a driver-side collect.
    df.withColumn(labelCol,
      when(col(labelCol).isin(known: _*), col(labelCol))
        .otherwise(raise_error(concat(lit("unregistered vertex label: "), col(labelCol)))))
  }

  /** An empty graph with canonical schemas. */
  def empty(spark: org.apache.spark.sql.SparkSession): PropertyGraph = {
    import org.apache.spark.sql.types._
    val vSchema = StructType(Seq(
      StructField("id", LongType), StructField("label", StringType),
      StructField("key", StringType),
      StructField("props", MapType(StringType, StringType))))
    val eSchema = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType),
      StructField("label", StringType),
      StructField("props", MapType(StringType, StringType))))
    PropertyGraph(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vSchema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], eSchema))
  }
}
