package graft

import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.model.{DerivedGraph, DerivedGraphSql}
import graft.ops.{MongoFilter, Traverse}

/** Graph-operator inventory over the derived property graph (SURVEY.md §2.2
  * graph rows). The DuckDB oracle reproduces each traversal as joins over
  * the base tables via [[DerivedGraphSql]].
  */
object QueriesGraph {

  private[graft] val nationSeed = DerivedGraph.NationBase + 7 // nation 7
  private[graft] val custSeed = DerivedGraph.CustomerBase + 1 // customer 1
  private[graft] val regionSeed = DerivedGraph.RegionBase // region 0

  private val mongoFilterDoc =
    """{"$or": [
      |  {"label": "region"},
      |  {"$and": [{"label": "customer"}, {"name": {"$regex": "^Customer#0000001"}}]},
      |  {"id": {"$gte": 5000000000, "$lt": 5000000050}}
      |]}""".stripMargin


  /** DF cap for the common-neighbor posting lists — a part ordered by
    * more customers than this is a hub: no similarity signal, quadratic
    * wedge cost (the Dedup.MaxGramDf discipline applied to graphs). At
    * sf0.1 the cap never bites (max df = 53; ~9.3M candidate pairs is
    * the query's honest cost, measured r7) — it exists for the scale
    * path, where df grows with the data and uncapped hubs would square.
    */
  final val CommonNeighborMaxDf: Int = 500

  /** The capped per-part customer posting lists both link-prediction
    * queries (`graph_common_neighbors`, `graph_resource_alloc`) score
    * from — session-cached and persisted like the other shared derived
    * frames (Tables/DerivedGraph): the orders⋈lineitem distinct + list
    * aggregation is identical in both, and a feature table shared by
    * multiple scorers is exactly what a production pipeline materializes
    * once. Schema: `(p, cs sorted ARRAY<BIGINT>)`, lists ≤ the DF cap.
    */
  private val postingsCache = new graft.model.SessionCache[String, org.apache.spark.sql.DataFrame]

  /** Fixed-point Adamic–Adar weight per possible capped part degree:
    * aaWeights(df − 2) = round(1e9 / ln df) for df ∈ [2, [[CommonNeighborMaxDf]]].
    * Computed once HERE and embedded as identical integer literals in
    * both engines' plans (`graph_adamic_adar`), so no logarithm is ever
    * evaluated inside either query — the libm-difference objection that
    * originally kept AA out of the inventory (see graph_resource_alloc)
    * does not apply to a shared literal table.
    */
  private[graft] lazy val aaWeights: IndexedSeq[Long] =
    (2 to CommonNeighborMaxDf).map(df => math.round(1e9 / math.log(df.toDouble)))

  /** Materialize the persisted posting-list frame — the bench warmup
    * hook, owned here next to the persist it warms (Tables convention).
    */
  def warmPostings(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    partPostings(s, d).count()
    ()
  }

  private def partPostings(s: org.apache.spark.sql.SparkSession, d: String) =
    postingsCache.getOrElseUpdate(s, d) {
      val cp = graft.Qh.t(s, d, "orders").select(col("o_custkey").as("c"), col("o_orderkey"))
        .join(graft.Qh.t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
          col("l_partkey").as("p")), "o_orderkey")
        .select("c", "p").distinct()
      cp.groupBy("p")
        .agg(sort_array(graft.functions.ArrayFunctions.bounded_collect_list(
          col("c"), CommonNeighborMaxDf + 1)).as("cs"))
        .filter(size(col("cs")) <= CommonNeighborMaxDf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Top-20 customer pairs by a per-part fixed-point weight summed over
    * their shared parts — the capped posting-list pair plan of
    * graph_resource_alloc and graph_adamic_adar. `weight` is a BIGINT
    * expression of the posting list `cs`; pairs are ranked by its exact
    * sum `units`, shown as `score` = units / 1e9.
    */
  private def weightedPairTop(s: org.apache.spark.sql.SparkSession, d: String,
      weight: org.apache.spark.sql.Column, units: String, score: String) = {
    val pairs = partPostings(s, d).filter(size(col("cs")) >= 2)
      .withColumn("w", weight)
      .select(col("w"), posexplode(col("cs")).as(Seq("__i", "a_id")), col("cs"))
      .select(col("w"), col("a_id"),
        explode(slice(col("cs"), col("__i") + 2, size(col("cs")))).as("b_id"))
    pairs.groupBy("a_id", "b_id").agg(sum(col("w")).as(units))
      .select(col("a_id"), col("b_id"), col(units),
        round(col(units).cast("double") / lit(1e9), 6).as(score))
      .orderBy(col(units).desc, col("a_id"), col("b_id")).limit(20)
  }

  val defs: ListMap[String, QueryDef] = ListMap(

    // find_neighbors (mongraph.py:228-250): undirected 1-hop, seed included.
    "neighbors_1hop" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d)
        Traverse.neighborIds(g.edges, nationSeed)
          .join(g.vertices, Seq("id")).select("id", "label", "name").orderBy("id")
      },
      s"""${DerivedGraphSql.cte},
         | ids AS (SELECT DISTINCT id FROM (
         |   SELECT a AS id FROM und WHERE a = $nationSeed
         |   UNION ALL SELECT b FROM und WHERE a = $nationSeed))
         |SELECT v.id, v.label, v.name FROM v JOIN ids ON v.id = ids.id ORDER BY v.id""".stripMargin),

    // _explode_node intent (mongraph.py:252-274): 2-hop closure with
    // visited-set dedup.
    "khop_2" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d)
        // hops ride the bucket-partitioned adjacency parquet: partition-
        // pruned per-hop reads instead of full edge re-scans (VERDICT r14 #1)
        Traverse.kHopIdsAdj(DerivedGraph.undAdjacency(s, d), custSeed, 2)
          .join(g.vertices, Seq("id")).select("id", "label", "name").orderBy("id")
      },
      s"""${DerivedGraphSql.cte},
         | h0 AS (SELECT CAST($custSeed AS BIGINT) AS id),
         | h1 AS (SELECT DISTINCT b AS id FROM und JOIN h0 ON und.a = h0.id),
         | h2 AS (SELECT DISTINCT b AS id FROM und JOIN h1 ON und.a = h1.id),
         | ids AS (SELECT id FROM h0 UNION SELECT id FROM h1 UNION SELECT id FROM h2)
         |SELECT v.id, v.label, v.name FROM v JOIN ids ON v.id = ids.id ORDER BY v.id""".stripMargin),

    // build_graph intent (mongraph.py:276-303): depth-4 ego subgraph vertex
    // set (the JSON document itself is golden-tested in EgoSubgraphSpec;
    // the oracle verifies the vertex membership, FIXTURES.md §B).
    "ego_subgraph" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d)
        Traverse.kHopIdsAdj(DerivedGraph.undAdjacency(s, d), regionSeed, 4)
          .join(g.vertices, Seq("id")).select("id", "label", "name").orderBy("id")
      },
      s"""${DerivedGraphSql.cte},
         | h0 AS (SELECT CAST($regionSeed AS BIGINT) AS id),
         | h1 AS (SELECT DISTINCT b AS id FROM und JOIN h0 ON und.a = h0.id),
         | h2 AS (SELECT DISTINCT b AS id FROM und JOIN h1 ON und.a = h1.id),
         | h3 AS (SELECT DISTINCT b AS id FROM und JOIN h2 ON und.a = h2.id),
         | h4 AS (SELECT DISTINCT b AS id FROM und JOIN h3 ON und.a = h3.id),
         | ids AS (SELECT id FROM h0 UNION SELECT id FROM h1 UNION SELECT id FROM h2
         |         UNION SELECT id FROM h3 UNION SELECT id FROM h4)
         |SELECT v.id, v.label, v.name FROM v JOIN ids ON v.id = ids.id ORDER BY v.id""".stripMargin),

    // Per-label degree statistics (adjacency model, mongraph.py:116-117).
    "degree_by_label" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d)
        Traverse.degrees(g.vertices, g.edges)
          .groupBy("label")
          .agg(count(lit(1)).as("n_vertices"), sum(col("degree")).as("total_degree"))
          .withColumn("avg_degree", col("total_degree").cast("double") / col("n_vertices"))
          .orderBy("label")
      },
      s"""${DerivedGraphSql.cte},
         | endp AS (SELECT src AS id FROM e UNION ALL SELECT dst FROM e),
         | deg AS (SELECT id, COUNT(*) AS d FROM endp GROUP BY id),
         | vd AS (SELECT v.label, COALESCE(deg.d, 0) AS d FROM v LEFT JOIN deg ON v.id = deg.id)
         |SELECT label, COUNT(*) AS n_vertices, CAST(SUM(d) AS BIGINT) AS total_degree,
         |  CAST(SUM(d) AS DOUBLE)/COUNT(*) AS avg_degree
         |FROM vd GROUP BY label ORDER BY label""".stripMargin),

    // search_vertex's Mongo filter-document surface (mongraph.py:215-226)
    // through the MongoFilter → Column compiler.
    "mongo_filter" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d)
        MongoFilter.where(g.vertices, mongoFilterDoc)
          .select("id", "label", "name").orderBy("id")
      },
      s"""${DerivedGraphSql.cte}
         |SELECT id, label, name FROM v
         |WHERE label = 'region'
         |   OR (label = 'customer' AND regexp_matches(name, '^Customer#0000001'))
         |   OR (id >= 5000000000 AND id < 5000000050)
         |ORDER BY id""".stripMargin),

    // Snapshot CDC (the useful form of change_collection, mongraph.py:62-69
    // — every mutation here is a new snapshot, so "what changed between
    // graph A and graph B" is the audit/incremental-sync primitive): diff
    // the derived vertices against a deterministically mutated copy
    // (suppliers id%7=0 removed, customers id%10=0 renamed, region_v2
    // vertices added). One full-outer key join, null-safe struct compare,
    // output = the delta only.
    "snapshot_diff" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d).vertices
        val neu = g
          .filter(!(col("label") === "supplier" && col("id") % 7 === 0))
          .withColumn("name",
            when(col("label") === "customer" && col("id") % 10 === 0,
              concat(col("name"), lit(" (vip)"))).otherwise(col("name")))
          .unionByName(Qh.t(s, d, "region").select(
            (lit(6000000000L) + col("r_regionkey")).as("id"),
            lit("region_v2").as("label"), col("r_name").as("name")))
        graft.ops.SnapshotDiff.diff(g, neu, Seq("id"))
          .select(col("id"), col("change"),
            col("old_val.label").as("old_label"), col("old_val.name").as("old_name"),
            col("new_val.label").as("new_label"), col("new_val.name").as("new_name"))
          .orderBy("id")
      },
      s"""${DerivedGraphSql.cte},
         | nv AS (
         |   SELECT id, label,
         |     CASE WHEN label = 'customer' AND id % 10 = 0 THEN name || ' (vip)'
         |          ELSE name END AS name
         |   FROM v WHERE NOT (label = 'supplier' AND id % 7 = 0)
         |   UNION ALL
         |   SELECT CAST(6000000000 AS BIGINT) + r_regionkey, 'region_v2', r_name FROM region)
         |SELECT COALESCE(v.id, nv.id) AS id,
         |  CASE WHEN nv.id IS NULL THEN 'removed'
         |       WHEN v.id IS NULL THEN 'added'
         |       ELSE 'changed' END AS change,
         |  v.label AS old_label, v.name AS old_name,
         |  nv.label AS new_label, nv.name AS new_name
         |FROM v FULL OUTER JOIN nv ON v.id = nv.id
         |WHERE nv.id IS NULL OR v.id IS NULL
         |   OR v.name IS DISTINCT FROM nv.name
         |   OR v.label IS DISTINCT FROM nv.label
         |ORDER BY id""".stripMargin),

    // Edge-side snapshot CDC (VERDICT r4 #6): the other half of a graph
    // snapshot, keyed by the full edge identity (src, dst, label) — the
    // reference's edge dedup key (mongraph.py:120-124). Every column is a
    // key column, so SnapshotDiff.diff degenerates to the membership diff
    // (added/removed only; `changed` is impossible by construction), which
    // runs as ONE hash-aggregate — no join at all (plan-spec'd in
    // SnapshotDiffSpec; ~2× the former full-outer SMJ). Mutation: a
    // supplier churn scenario — suppliers
    // with s_suppkey % 7 = 0 leave (their in_nation and supplies edges go),
    // and the surviving supplies relationships gain a reversed
    // 'supplied_by' audit edge.
    "snapshot_diff_edges" -> QueryDef(
      (s, d) => {
        val e = DerivedGraph(s, d).edges
        val gone = col("label").isin("in_nation", "supplies") &&
          col("src") >= DerivedGraph.SupplierBase && col("src") < DerivedGraph.PartBase &&
          (col("src") - DerivedGraph.SupplierBase) % 7 === 0
        val kept = e.filter(!gone)
        val neu = kept.unionByName(
          kept.filter(col("label") === "supplies")
            .select(col("dst").as("src"), col("src").as("dst"),
              lit("supplied_by").as("label")))
        graft.ops.SnapshotDiff.diff(e, neu, Seq("src", "dst", "label"))
          .select("src", "dst", "label", "change")
          .orderBy("src", "dst", "label")
      },
      s"""${DerivedGraphSql.cte},
         | kept AS (SELECT src, dst, label FROM e
         |   WHERE NOT (label IN ('in_nation', 'supplies')
         |     AND src >= ${DerivedGraph.SupplierBase} AND src < ${DerivedGraph.PartBase}
         |     AND (src - ${DerivedGraph.SupplierBase}) % 7 = 0)),
         | ne AS (SELECT src, dst, label FROM kept
         |   UNION ALL
         |   SELECT dst, src, 'supplied_by' FROM kept WHERE label = 'supplies')
         |SELECT COALESCE(e.src, ne.src) AS src, COALESCE(e.dst, ne.dst) AS dst,
         |  COALESCE(e.label, ne.label) AS label,
         |  CASE WHEN ne.src IS NULL THEN 'removed' ELSE 'added' END AS change
         |FROM e FULL OUTER JOIN ne
         |  ON e.src = ne.src AND e.dst = ne.dst AND e.label = ne.label
         |WHERE e.src IS NULL OR ne.src IS NULL
         |ORDER BY src, dst, label""".stripMargin),

    // Degree assortativity (Newman PRL 2002) of the derived graph: the
    // Pearson degree-degree correlation over the undirected edge list,
    // recomputed from exact DECIMAL power sums (the agg_stats ladder —
    // never the built-in corr). Single-row answer; negative here
    // (hub-and-spoke: customers/suppliers attach to few high-degree
    // nations/parts).
    "graph_assortativity" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d)
        graft.ops.GraphAnalytics.degreeAssortativity(g.edges)
          .orderBy("n")
      },
      s"""${DerivedGraphSql.cte},
         | deg AS (SELECT a, COUNT(*) AS d FROM und GROUP BY a),
         | xy AS (SELECT dx.d AS x, dy.d AS y
         |        FROM und JOIN deg dx ON und.a = dx.a JOIN deg dy ON und.b = dy.a),
         | st AS (SELECT COUNT(*) AS n,
         |   ${graft.Qh.dsumSql("x")} AS sx, ${graft.Qh.dsumSql("y")} AS sy,
         |   ${graft.Qh.dsumSql("x*y")} AS sxy,
         |   ${graft.Qh.dsumSql("x*x")} AS sx2, ${graft.Qh.dsumSql("y*y")} AS sy2
         |   FROM xy)
         |SELECT n, round((CAST(n AS DOUBLE)*sxy - sx*sy)
         |  / (sqrt(CAST(n AS DOUBLE)*sx2 - sx*sx)
         |     * sqrt(CAST(n AS DOUBLE)*sy2 - sy*sy)), 6) AS assortativity
         |FROM st ORDER BY n""".stripMargin),

    // Common-neighbor Jaccard over the customer–part bipartite graph —
    // the link-prediction / collaborative-filtering primitive (Liben-
    // Nowell & Kleinberg 2003: score(a,b) = |Γ(a)∩Γ(b)| normalized):
    // customers are similar when they order the same parts. Same
    // posting-list shape as dedup_ngram_jaccard — per-part customer
    // lists with a document-frequency cap (a part ordered by everyone
    // carries no similarity signal AND is the wedge-explosion hub), pair
    // generation by double explode inside each list (never an all-pairs
    // customer join), neighbor-set sizes counted over the SAME capped
    // universe so the Jaccard union is consistent. Top-20 pairs with the
    // deterministic (jac desc, a, b) tie-break; jac = one IEEE division
    // of exact ints, 6 dp.
    "graph_common_neighbors" -> QueryDef(
      (s, d) => {
        val postings = partPostings(s, d)
        val sizes = postings.select(explode(col("cs")).as("c"))
          .groupBy("c").agg(count(lit(1)).as("sz"))
        // sizes ride INSIDE the posting lists (one postings-sized join +
        // re-agg) so the pair table — ~14x the postings at this degree
        // distribution, the dominant frame — is never joined at all; the
        // r9 sf1 decade run measured the two pair-table size joins as the
        // scaling bottleneck (85M-row SMJs at sf1). Pair rows now carry
        // both sizes out of the explode, and the only pair-sized ops left
        // are the one groupBy and the TakeOrdered(20).
        // (c, sz) packed into ONE long per candidate: sz ≤ CommonNeighborMaxDf
        // (500) < 1024 so the low 10 bits hold the size and the packed sort
        // order equals the c order. The pair path below is then pure long
        // lanes (a struct-per-pair explode measured 3-8x slower at sf0.1 —
        // allocation-bound) AND the per-i slice keeps total explode traffic
        // at O(pairs · 8B) — carrying the full arrays into the pair rows
        // measured 2x slower at sf1 (27 s vs 14 s aged; O(K) bytes/pair).
        val withSz = postings
          .select(col("p"), explode(col("cs")).as("c")).join(sizes, "c")
          .groupBy("p")
          .agg(sort_array(collect_list(
            shiftleft(col("c"), 10) + col("sz"))).as("cz"))
          .select(col("cz"))
        val inter = withSz.filter(size(col("cz")) >= 2)
          .select(posexplode(col("cz")).as(Seq("__i", "a")), col("cz"))
          // slice is computed in the projection feeding the explode, so
          // pair rows carry just (a, b) — the arrays never leave the i-row
          .select(col("a"), explode(expr("slice(cz, __i + 2, size(cz))")).as("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("common"))
        inter
          .select(shiftright(col("a"), 10).as("a_id"),
            shiftright(col("b"), 10).as("b_id"), col("common"),
            round(col("common").cast("double") /
              (col("a").bitwiseAND(lit(1023L)) + col("b").bitwiseAND(lit(1023L))
                - col("common")), 6).as("jac"))
          .orderBy(col("jac").desc, col("a_id"), col("b_id")).limit(20)
      },
      s"""WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |pdf AS (SELECT p, COUNT(*) AS df FROM cp GROUP BY p),
         |g AS (SELECT cp.c, cp.p FROM cp JOIN pdf ON cp.p = pdf.p
         |      WHERE pdf.df <= $CommonNeighborMaxDf),
         |sz AS (SELECT c, COUNT(*) AS sz FROM g GROUP BY c),
         |pr AS (SELECT g1.c AS a_id, g2.c AS b_id, COUNT(*) AS common
         |       FROM g g1 JOIN g g2 ON g1.p = g2.p AND g1.c < g2.c
         |       GROUP BY 1, 2),
         |j AS (SELECT a_id, b_id, common,
         |        round(CAST(common AS DOUBLE)/(sa.sz + sb.sz - common), 6) AS jac
         |      FROM pr JOIN sz sa ON sa.c = pr.a_id JOIN sz sb ON sb.c = pr.b_id)
         |SELECT a_id, b_id, common, jac FROM j
         |ORDER BY jac DESC, a_id, b_id LIMIT 20""".stripMargin),

    // Resource-Allocation link prediction (Zhou, Lü & Zhang, EPJ B 2009):
    // score(a,b) = Σ over shared neighbors z of 1/deg(z) — like
    // Adamic–Adar but WITHOUT the log, which is exactly what makes it
    // value-checkable (ln differs across libm builds; a rational weight
    // does not). The per-part weight is FIXED-POINT: 1e9 div df as an
    // exact BIGINT, summed exactly — order-independent like every other
    // integer accumulation in the engine — and only the final display
    // division is IEEE. Same capped posting-list shape as
    // graph_common_neighbors; hubs contribute ~0 weight AND are the
    // quadratic, so the cap removes cost where the signal already
    // vanishes.
    "graph_resource_alloc" -> QueryDef(
      (s, d) => weightedPairTop(s, d, expr("1000000000L div size(cs)"),
        "ra_units", "ra"),
      s"""WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |pdf AS (SELECT p, COUNT(*) AS df FROM cp GROUP BY p),
         |g AS (SELECT cp.c, cp.p, pdf.df FROM cp JOIN pdf ON cp.p = pdf.p
         |      WHERE pdf.df <= $CommonNeighborMaxDf),
         |pr AS (SELECT g1.c AS a_id, g2.c AS b_id,
         |         CAST(SUM(1000000000 // g1.df) AS BIGINT) AS ra_units
         |       FROM g g1 JOIN g g2 ON g1.p = g2.p AND g1.c < g2.c
         |       GROUP BY 1, 2)
         |SELECT a_id, b_id, ra_units,
         |  round(CAST(ra_units AS DOUBLE) / 1e9, 6) AS ra
         |FROM pr ORDER BY ra_units DESC, a_id, b_id LIMIT 20""".stripMargin),

    // Adamic–Adar link prediction (Adamic & Adar, Social Networks 2003):
    // score(a,b) = Σ over shared neighbors z of 1/ln(deg(z)) — the
    // third classic index beside common-neighbor Jaccard and
    // Resource-Allocation. AA was previously passed over precisely
    // because ln is NOT value-checkable across engines (libm builds
    // differ in the last ulp); the fix is the generated-oracle
    // discipline: the per-degree fixed-point weight table
    // w(df) = round(1e9/ln df) for every possible capped df ∈ [2, 500]
    // is computed ONCE in [[aaWeights]] and embedded as IDENTICAL
    // integer literals in both plans (element_at lookup here, a VALUES
    // lookup join in DuckDB), so neither engine evaluates a logarithm
    // at query time and the BIGINT sums match exactly. Same capped
    // posting-list shape as graph_resource_alloc; at 100 TB the weight
    // table stays 499 constant rows while the pair stream rides the
    // DF-capped lists.
    "graph_adamic_adar" -> QueryDef(
      (s, d) => weightedPairTop(s, d,
        element_at(array(aaWeights.map(lit): _*), size(col("cs")) - 1), // index 1 ↔ df 2
        "aa_units", "aa"),
      s"""WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |pdf AS (SELECT p, COUNT(*) AS df FROM cp GROUP BY p),
         |g AS (SELECT cp.c, cp.p, pdf.df FROM cp JOIN pdf ON cp.p = pdf.p
         |      WHERE pdf.df <= $CommonNeighborMaxDf),
         |aw(df, w) AS (VALUES ${
           (2 to CommonNeighborMaxDf).zip(aaWeights)
             .map { case (df, w) => s"($df,$w)" }.mkString(",")}),
         |pr AS (SELECT g1.c AS a_id, g2.c AS b_id,
         |         CAST(SUM(aw.w) AS BIGINT) AS aa_units
         |       FROM g g1 JOIN g g2 ON g1.p = g2.p AND g1.c < g2.c
         |       JOIN aw ON aw.df = g1.df
         |       GROUP BY 1, 2)
         |SELECT a_id, b_id, aa_units,
         |  round(CAST(aa_units AS DOUBLE) / 1e9, 6) AS aa
         |FROM pr ORDER BY aa_units DESC, a_id, b_id LIMIT 20""".stripMargin),

    // Deterministic 4-step random walks from 32 customer seeds over the
    // undirected derived graph — the DeepWalk/node2vec corpus primitive
    // (ops/RandomWalks.scala scaladoc). Hop choice is the
    // minimum-affine-priority neighbor (Shuffle's Knuth–Lewis constants,
    // integer-exact in both engines, candidate-id tie-break), so the
    // oracle replays each hop as a rank-1 window over the same priority.
    "graph_walks" -> QueryDef(
      (s, d) => {
        val seeds = Qh.t(s, d, "customer")
          .filter(col("c_custkey").between(1, 32))
          .select((lit(DerivedGraph.CustomerBase) + col("c_custkey").cast("long"))
            .as("walk_id"))
        // steps ride the bucket-partitioned adjacency: each hop reads the
        // ≤32 directories the walkers stand in instead of re-decoding the
        // whole undirected view (sf100 storage=none: 48 s → see BENCHNOTES)
        graft.ops.RandomWalks
          .walksAdj(seeds, DerivedGraph.undAdjacency(s, d), steps = 4)
          .orderBy("walk_id", "step")
      },
      {
        import graft.ops.llm.Shuffle.{A, B, P}
        def stepCte(i: Int, prev: String): String =
          s"""s$i AS (SELECT walk_id, b AS node FROM (
             |   SELECT p.walk_id, und.b,
             |     row_number() OVER (PARTITION BY p.walk_id ORDER BY
             |       ($A * (((p.walk_id % $P) * 131 + ${i * 17} + (und.b % $P)) % $P) + $B) % $P,
             |       und.b) AS rk
             |   FROM $prev p JOIN und ON und.a = p.node) WHERE rk = 1)""".stripMargin
        s"""${DerivedGraphSql.cte},
           | w0 AS (SELECT CAST(3000000000 + c_custkey AS BIGINT) AS walk_id,
           |               CAST(3000000000 + c_custkey AS BIGINT) AS node
           |        FROM customer WHERE c_custkey BETWEEN 1 AND 32),
           | ${stepCte(1, "w0")},
           | ${stepCte(2, "s1")},
           | ${stepCte(3, "s2")},
           | ${stepCte(4, "s3")}
           |SELECT walk_id, CAST(step AS BIGINT) AS step, node FROM (
           |  SELECT walk_id, 0 AS step, node FROM w0
           |  UNION ALL SELECT walk_id, 1, node FROM s1
           |  UNION ALL SELECT walk_id, 2, node FROM s2
           |  UNION ALL SELECT walk_id, 3, node FROM s3
           |  UNION ALL SELECT walk_id, 4, node FROM s4)
           |ORDER BY walk_id, step""".stripMargin
      }),

    // Rich-club coefficient ladder (Zhou & Mondragón 2004; Colizza et al.
    // 2006): for each degree threshold k, the edge density among nodes
    // with degree > k — φ(k) = 2·E_k / (N_k·(N_k−1)). The structural
    // companion to graph_assortativity's single correlation number: a
    // rising φ(k) means hubs preferentially interconnect. Exact integer
    // end to end (φ in ppm via BIGINT div, the similarity_join_exact
    // rule). Shape: degrees from ONE distinct-undirected scan, the
    // 4-threshold ladder rides a tiny explode (4 rows per node/edge,
    // never 4 passes), and the only joins key on vertex id — no
    // all-pairs anything. At 100 TB the deg frame is vertex-sized and
    // the pair frame edge-sized; both shuffle on their natural keys.
    "graph_rich_club" -> QueryDef(
      (s, d) => {
        val g = DerivedGraph(s, d)
        // canonical-pair dedup instead of distinct over the DOUBLED
        // undirected view: the same simple graph falls out of one
        // |E|-row distinct (least/greatest orients each edge) rather
        // than a 2|E|-row distinct + regroup — half the shuffle volume
        // of the r13 tier-4 probe's dominant stage. Degrees then come
        // from a map-side-combinable count over the pair explode (each
        // neighbor appears exactly once per pair by construction).
        val pairs = g.edges
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        val deg = pairs
          .select(explode(array(col("a"), col("b"))).as("a"))
          .groupBy("a").agg(count(lit(1)).as("dg"))
        val ks = array(Seq(2L, 4L, 8L, 16L).map(lit): _*)
        val nodesK = deg.select(col("dg"), explode(ks).as("k"))
          .filter(col("dg") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_nodes"))
        val da = deg.select(col("a"), col("dg").as("da"))
        val db = deg.select(col("a").as("b"), col("dg").as("db"))
        val edgesK = pairs.join(da, "a").join(db, "b")
          .select(least(col("da"), col("db")).as("mn"))
          .select(explode(ks).as("k"), col("mn"))
          .filter(col("mn") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_edges"))
        nodesK.join(edgesK, Seq("k"), "left_outer")
          .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
          .withColumn("phi_ppm",
            when(col("n_nodes") > 1,
              expr("(2 * n_edges * 1000000) div (n_nodes * (n_nodes - 1))")))
          .orderBy("k")
      },
      s"""${DerivedGraphSql.cte},
         | su AS (SELECT DISTINCT a, b FROM und),
         | deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS dg FROM su GROUP BY a),
         | pr AS (SELECT a, b FROM su WHERE a < b),
         | pd AS (SELECT LEAST(dx.dg, dy.dg) AS mn
         |        FROM pr JOIN deg dx ON pr.a = dx.a JOIN deg dy ON pr.b = dy.a),
         | ks AS (SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS k),
         | nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |        FROM ks JOIN deg ON deg.dg > ks.k GROUP BY k),
         | ek AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_edges
         |        FROM ks JOIN pd ON pd.mn > ks.k GROUP BY k)
         |SELECT nk.k, nk.n_nodes,
         |  COALESCE(ek.n_edges, CAST(0 AS BIGINT)) AS n_edges,
         |  CASE WHEN nk.n_nodes > 1
         |       THEN (2 * COALESCE(ek.n_edges, CAST(0 AS BIGINT)) * 1000000)
         |            // (nk.n_nodes * (nk.n_nodes - 1)) END AS phi_ppm
         |FROM nk LEFT JOIN ek USING (k) ORDER BY nk.k""".stripMargin)
  )
}
