package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import scala.collection.immutable.ListMap
import Qh._

/** Relational operator inventory (SURVEY.md §2.2 rows `scan_project` …
  * `flatten_attrs`). Each entry names the reference behavior it generalizes
  * (file:line of /root/reference) and carries its DuckDB oracle.
  *
  * Every query ends with ORDER BY on a unique column set; every float
  * aggregate uses the exact-decimal accumulation in [[Qh.dsum]]; every
  * computed integer column is BIGINT on both sides.
  */
object QueriesRelational {

  /** Columns profiled by the `table_profile` query — one list drives both
    * the Spark aggregation and the generated oracle SQL. Declared BEFORE
    * `defs`: the oracle generator runs eagerly during `defs` construction,
    * and a val declared after it would still be null at that point (the
    * object-initialization-order gotcha documented in SURVEY §8d).
    */
  private val profiledOrderCols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
  private val profiledOrderIntCols = Set("o_orderkey", "o_custkey")

  /** Engine sketch estimates captured by the agg_sketch_calibration run,
    * keyed by dataset dir (one (grp, est_nd, est_med) triple per group).
    * The late-bound oracle embeds them as literals and DuckDB independently
    * computes the exact counts/ranks and replays the error arithmetic —
    * the `similarity_ivf_recall` pattern applied to HLL++/GK.
    */
  private val sketchCalibEst = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, Long, Double)]]()
  private val sketchCalibLastDir =
    new java.util.concurrent.atomic.AtomicReference[String]()

  /** HLL++ default relative standard deviation (Spark's
    * `approx_count_distinct` default rsd = 0.05); the calibration bound is
    * 3·rsd. GK rank-error bound for `percentile_approx(..., accuracy)` is
    * n/accuracy (+1 for the discrete rank grid).
    */
  private val HllRsd = 0.05
  private val GkAccuracy = 1000

  private def sketchCalibOracleSql(est: Seq[(String, Long, Double)]): String = {
    val values = est.map { case (g, nd, med) =>
      s"('${g.replace("'", "''")}', CAST($nd AS BIGINT), ${java.lang.Double.toString(med)})"
    }.mkString(", ")
    s"""WITH est(grp, est_nd, est_med) AS (VALUES $values),
       |ex AS (SELECT l_returnflag AS grp, COUNT(*) AS n,
       |         COUNT(DISTINCT l_partkey) AS exact_nd
       |       FROM lineitem GROUP BY 1),
       |rk AS (SELECT e.grp,
       |         COUNT(*) FILTER (WHERE l.l_quantity < e.est_med) AS lo,
       |         COUNT(*) FILTER (WHERE l.l_quantity <= e.est_med) AS hi
       |       FROM lineitem l JOIN est e ON l.l_returnflag = e.grp
       |       GROUP BY e.grp)
       |SELECT ex.grp, CAST(ex.n AS BIGINT) AS n,
       |  CAST(ex.exact_nd AS BIGINT) AS exact_nd, e.est_nd,
       |  round(abs(e.est_nd - ex.exact_nd) / CAST(ex.exact_nd AS DOUBLE), 4)
       |    AS nd_rel_err,
       |  abs(e.est_nd - ex.exact_nd) / CAST(ex.exact_nd AS DOUBLE)
       |    <= ${3 * HllRsd} AS nd_within_3rsd,
       |  e.est_med, CAST(rk.lo AS BIGINT) AS med_rank_lo,
       |  CAST(rk.hi AS BIGINT) AS med_rank_hi,
       |  CAST(CASE WHEN (ex.n + 1) // 2 < rk.lo + 1 THEN rk.lo + 1 - (ex.n + 1) // 2
       |            WHEN (ex.n + 1) // 2 > rk.hi THEN (ex.n + 1) // 2 - rk.hi
       |            ELSE 0 END AS BIGINT) AS med_rank_err,
       |  (CASE WHEN (ex.n + 1) // 2 < rk.lo + 1 THEN rk.lo + 1 - (ex.n + 1) // 2
       |        WHEN (ex.n + 1) // 2 > rk.hi THEN (ex.n + 1) // 2 - rk.hi
       |        ELSE 0 END) <= ex.n // $GkAccuracy + 1 AS med_within_gk
       |FROM ex JOIN est e ON e.grp = ex.grp JOIN rk ON rk.grp = ex.grp
       |ORDER BY ex.grp""".stripMargin
  }

  /** Generated oracle for bloom_semi_join — every constant (probe family,
    * word geometry, modulus) comes from [[graft.ops.Bloom]], so the
    * implementation and its replay cannot drift.
    */
  private lazy val bloomSemiJoinOracleSql: String = {
    import graft.ops.Bloom
    val p = Bloom.P
    val m = Bloom.BloomWords * Bloom.BloomBitsPerWord
    val w = Bloom.BloomBitsPerWord
    def x(c: String) = s"(($c % $p) + $p) % $p"
    def pos(j: Int, c: String) = {
      val (a, b) = Bloom.hashRows(j)
      s"(($a * (${x(c)}) + $b) % $p) % $m"
    }
    val kp = (0 until Bloom.BloomK)
      .map(j => s"SELECT ${pos(j, "key")} AS pos FROM k")
      .mkString("\n   UNION ALL ")
    val op = (0 until Bloom.BloomK)
      .map(j => s"SELECT o_orderkey, o_custkey, ${pos(j, "o_custkey")} AS pos FROM orders")
      .mkString("\n   UNION ALL ")
    s"""WITH k AS (SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0),
       |kp AS ($kp),
       |w AS (SELECT pos // $w AS word_idx,
       |        BIT_OR(CAST(1 AS BIGINT) << (pos % $w)) AS word
       |      FROM kp GROUP BY 1),
       |op AS ($op),
       |chk AS (SELECT o_orderkey, o_custkey,
       |    SUM(CASE WHEN w.word IS NOT NULL
       |              AND (w.word & (CAST(1 AS BIGINT) << (op.pos % $w))) <> 0
       |         THEN 1 ELSE 0 END) AS hits
       |  FROM op LEFT JOIN w ON w.word_idx = op.pos // $w
       |  GROUP BY o_orderkey, o_custkey)
       |SELECT o_orderkey, o_custkey,
       |  o_custkey IN (SELECT key FROM k) AS true_member
       |FROM chk WHERE hits = ${Bloom.BloomK}
       |ORDER BY o_orderkey""".stripMargin
  }

  /** The two-version SCD2 history over orders shared by `scd2_upsert`
    * and `scd2_point_in_time` (v1 drops %7 keys, v2 drops %5 keys and
    * patches %11 prices / %13 priorities) — one builder, one generated
    * CTE, so the upsert result and the PIT join can never disagree on
    * what the history IS.
    */
  private def scd2History(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    // fingerprint-validated disk cache (VERDICT r11 #3): the two-snapshot
    // diff join is a one-time build per SF dir; a fresh session's first
    // SCD2 query reads the committed history parquet instead of repaying
    // it (sf1 cold was ~47 s).
    graft.model.CacheDirs.cachedParquet(s, "scd2", d, "hist") {
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val a = orders.filter(col("o_orderkey") % 7 =!= 0)
      val b = orders.filter(col("o_orderkey") % 5 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 11 === 0, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 13 === 0, lit("9-SYNTH"))
            .otherwise(col("o_orderpriority")))
      graft.ops.Scd2.fromSnapshots(Seq(a -> 1L, b -> 2L), Seq("o_orderkey"))
    }

  /** DuckDB mirror of [[scd2History]], ending in a `hist` CTE. */
  private lazy val scd2HistCte: String =
    """WITH a AS (SELECT o_orderkey, o_orderpriority, o_totalprice
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |b AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 13 = 0 THEN '9-SYNTH' ELSE o_orderpriority END AS o_orderpriority,
      |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 0),
      |closed AS (
      |  SELECT a.o_orderkey, a.o_orderpriority, a.o_totalprice,
      |    CAST(1 AS BIGINT) AS valid_from,
      |    CASE WHEN b.o_orderkey IS NULL
      |           OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
      |           OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
      |         THEN CAST(2 AS BIGINT) END AS valid_to
      |  FROM a LEFT JOIN b ON a.o_orderkey = b.o_orderkey),
      |opened AS (
      |  SELECT b.o_orderkey, b.o_orderpriority, b.o_totalprice,
      |    CAST(2 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
      |  FROM b LEFT JOIN a ON a.o_orderkey = b.o_orderkey
      |  WHERE a.o_orderkey IS NULL
      |     OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
      |     OR a.o_totalprice IS DISTINCT FROM b.o_totalprice),
      |hist AS (SELECT * FROM closed UNION ALL SELECT * FROM opened)""".stripMargin

  /** Orders and lineitem keyed `k`, stored bucketed and sorted on it
    * (8 buckets) as cross-session derived copies; returns the two tables.
    */
  private def bucketedTables(s: org.apache.spark.sql.SparkSession, d: String) = (
    graft.model.CacheDirs.cachedBucketedTable(s, "buckets", d, "bk_orders", 8, "k")(
      t(s, d, "orders").select(col("o_orderkey").as("k"), col("o_orderpriority"))),
    graft.model.CacheDirs.cachedBucketedTable(s, "buckets", d, "bk_lineitem", 8, "k")(
      t(s, d, "lineitem").select(col("l_orderkey").as("k"),
        col("l_extendedprice"), col("l_discount"))))

  /** Events partitioned by `event_date` as a cross-session derived copy:
    * day-ranged queries prune directories instead of scanning the year.
    */
  private def partitionedEvents(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.model.CacheDirs.cachedParquet(s, "evpart", d, "events", Seq("event_date"))(
      t(s, d, "events").withColumn("event_date", to_date(col("ts"))))

  val defs: ListMap[String, QueryDef] = ListMap(

    // search_vertex's projection-free scan, done right: column-pruned
    // parquet read (mongraph.py:215-226 fetches whole documents).
    "scan_project" -> QueryDef(
      (s, d) => t(s, d, "part")
        .select(col("p_partkey").as("partkey"), col("p_name").as("name"),
          col("p_retailprice").as("price"))
        .orderBy("partkey"),
      """SELECT p_partkey AS partkey, p_name AS name, p_retailprice AS price
        |FROM part ORDER BY partkey""".stripMargin),

    // Compound predicate σ — the Mongo filter-document surface
    // (mongraph.py:222, 236-241) as a pushed-down Column predicate.
    "filter_pred" -> QueryDef(
      (s, d) => t(s, d, "orders")
        .filter((col("o_orderstatus").isin("F", "P") && col("o_orderpriority").like("1-%")
          || col("o_totalprice") > 200000.0) && col("o_orderdate").isNotNull)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE (o_orderstatus IN ('F','P') AND o_orderpriority LIKE '1-%'
        |       OR o_totalprice > 200000.0) AND o_orderdate IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),

    // _get_vertex_details point lookup (mongraph.py:29-44).
    "point_lookup" -> QueryDef(
      (s, d) => t(s, d, "customer").filter(col("c_custkey") === 42)
        .orderBy("c_custkey"),
      "SELECT * FROM customer WHERE c_custkey = 42 ORDER BY c_custkey"),

    // Batch id-list detail fetch (mongraph.py:38-43) — semi-join instead of
    // the reference's per-id find_one round-trip loop.
    "semi_join_ids" -> QueryDef(
      (s, d) => {
        val ids = t(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("o_custkey"))
        t(s, d, "orders").join(ids, Seq("o_custkey"), "left_semi")
          .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin),

    // Cascade-delete survivors (delete_node, mongraph.py:171-177): edges not
    // touching the deleted vertex set, as an anti-join.
    "anti_join_delete" -> QueryDef(
      (s, d) => {
        val deleted = t(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("o_custkey"))
        t(s, d, "orders").join(deleted, Seq("o_custkey"), "left_anti")
          .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
      },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin),

    // insert_vertex upsert-by-natural-key, first-write-wins
    // (mongraph.py:90-94; SURVEY §2.3 item 8): old batch beats new batch on
    // key conflict, new keys appended.
    "upsert_dedup" -> QueryDef(
      (s, d) => {
        val part = t(s, d, "part")
        val old = part.select(col("p_partkey").as("k"), col("p_name").as("v"), lit(0).as("pri"))
        val neu = part.select((col("p_partkey") + 100).as("k"),
          concat(lit("new_"), col("p_name")).as("v"), lit(1).as("pri"))
        val w = Window.partitionBy("k").orderBy("pri")
        old.union(neu).withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("k", "v").orderBy("k")
      },
      """SELECT k, v FROM (
        |  SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY pri) AS rn FROM (
        |    SELECT p_partkey AS k, p_name AS v, 0 AS pri FROM part
        |    UNION ALL
        |    SELECT p_partkey+100, 'new_' || p_name, 1 FROM part))
        |WHERE rn = 1 ORDER BY k""".stripMargin),

    // update_vertex merge-patch (mongraph.py:195-203): left-join the patch
    // set, coalesce(new, old).
    "update_patch" -> QueryDef(
      (s, d) => {
        val cust = t(s, d, "customer")
        val patch = cust.filter(col("c_acctbal") < 0)
          .select(col("c_custkey"), lit(0.0).as("newbal"))
        cust.join(patch, Seq("c_custkey"), "left")
          .select(col("c_custkey"), coalesce(col("newbal"), col("c_acctbal")).as("acctbal"))
          .orderBy("c_custkey")
      },
      """SELECT c.c_custkey, COALESCE(p.newbal, c.c_acctbal) AS acctbal
        |FROM customer c LEFT JOIN
        |  (SELECT c_custkey, CAST(0.0 AS DOUBLE) AS newbal FROM customer WHERE c_acctbal < 0) p
        |ON c.c_custkey = p.c_custkey ORDER BY c.c_custkey""".stripMargin),

    // Reference's detected_prop maliciousness aggregate — AVG of a ratio per
    // entity (graph_importer.py:108-110,130-138), modeled on lineitem.
    "detected_prop" -> QueryDef(
      (s, d) => t(s, d, "lineitem").groupBy("l_orderkey")
        .agg((sum((col("l_discount") / (lit(1.0) + col("l_tax"))).cast(DecimalType(18, 9)))
          .cast("double") / count(lit(1))).as("detected_prop"))
        .orderBy("l_orderkey"),
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_discount/(1+l_tax) AS DECIMAL(18,9))) AS DOUBLE)/COUNT(*) AS detected_prop
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    // Equi inner join (extension surface).
    "inner_join" -> QueryDef(
      (s, d) => t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name", "o_totalprice").orderBy("o_orderkey"),
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),

    // Broadcast join: fact ⋈ two small dims, dims explicitly broadcast so no
    // shuffle of lineitem at any scale.
    "broadcast_join" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name"),
      s"""SELECT n_name, ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // Left outer join with null handling.
    "outer_join" -> QueryDef(
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey")
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first),
      """SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin),

    // Non-equi band join: events of the same user within a 10-minute window.
    // Equi component (user_id) keys the shuffle; the range predicate is a
    // post-join filter — no cartesian at scale.
    "theta_range_join" -> QueryDef(
      (s, d) => {
        val e = t(s, d, "events")
        val e1 = e.select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
        val e2 = e.select(col("event_id").as("b_id"), col("user_id"), col("ts").as("b_ts"))
        e1.join(e2, Seq("user_id"))
          .filter(col("b_ts") > col("a_ts")
            && col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES"))
          .select("a_id", "b_id").orderBy("a_id", "b_id")
      },
      """SELECT e1.event_id AS a_id, e2.event_id AS b_id
        |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
        |  AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
        |ORDER BY a_id, b_id""".stripMargin),

    // Flagship TPC-H Q1-style hash aggregate (SparkEntry.entry).
    "agg_groupby" -> QueryDef(
      // NTZ literal: the scan column is TIMESTAMP_NTZ and a java.sql
      // literal would shift with the driver JVM's default timezone.
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
         |  COUNT(*) AS count_order,
         |  ${dsumSql("l_quantity")}/COUNT(*) AS avg_qty
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // count(DISTINCT) per group.
    "agg_distinct" -> QueryDef(
      (s, d) => t(s, d, "orders").groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Grouping sets: rollup over (returnflag, linestatus).
    "rollup_cube" -> QueryDef(
      (s, d) => t(s, d, "lineitem").rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // Ranking window: top-3 orders per customer, deterministic tie-break.
    "window_rank" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders").withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // Analytic window: running sum (exact decimal accumulation) + lag delta.
    "window_running" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders")
          .withColumn("run_sum", sum(col("o_totalprice").cast(DecimalType(18, 6)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
          .withColumn("delta", col("o_totalprice") - lag("o_totalprice", 1).over(w))
          .select("o_custkey", "o_orderkey", "run_sum", "delta")
          .orderBy("o_custkey", "o_orderkey")
      },
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
        |  o_totalprice - lag(o_totalprice, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Global top-k with deterministic tie-break → TakeOrderedAndProject
    // (no full sort materialization at scale).
    "sort_limit_topk" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100),
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),

    // Set operators over label-partitioned key sets (labels mongraph.py:22-27).
    "set_ops" -> QueryDef(
      (s, d) => {
        val c = t(s, d, "customer").select(col("c_nationkey").cast("long").as("nk"))
        val su = t(s, d, "supplier").select(col("s_nationkey").cast("long").as("nk"))
        c.intersect(su).withColumn("op", lit("intersect"))
          .union(c.except(su).withColumn("op", lit("except")))
          .union(c.union(su).distinct().withColumn("op", lit("union")))
          .select("op", "nk").orderBy("op", "nk")
      },
      """SELECT op, nk FROM (
        |  SELECT 'intersect' AS op, nk FROM (
        |    SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        |    INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
        |  UNION ALL SELECT 'except', nk FROM (
        |    SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        |    EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier)
        |  UNION ALL SELECT 'union', nk FROM (
        |    SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer
        |    UNION SELECT CAST(s_nationkey AS BIGINT) FROM supplier))
        |ORDER BY op, nk""".stripMargin),

    // Scalar function battery: string/date/math + the reference's anchored
    // IPv4 classifier regex (_is_ipaddress, graph_importer.py:33-34).
    "scalar_funcs" -> QueryDef(
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        substring(col("o_orderpriority"), 1, 1).as("pri"),
        upper(col("o_orderstatus")).as("status_u"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("cat"),
        floor(col("o_totalprice")).cast("long").as("price_floor"),
        abs(col("o_totalprice") * lit(-1.0)).as("price_abs"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mon_start"),
        concat(col("o_orderkey").cast("string"), lit(".0.0.1"))
          .rlike("^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$")
          .as("is_ipv4"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey, substr(o_orderpriority, 1, 1) AS pri,
        |  upper(o_orderstatus) AS status_u,
        |  o_orderstatus || '-' || o_orderpriority AS cat,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  abs(o_totalprice * -1.0) AS price_abs,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start,
        |  regexp_matches(CAST(o_orderkey AS VARCHAR) || '.0.0.1',
        |    '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$') AS is_ipv4
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // JSON field extraction from events.props (ETL JSON surface,
    // graph_importer.py:170-175).
    "json_extract" -> QueryDef(
      (s, d) => t(s, d, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),

    // Array flattening — the importer's list→columns flattening
    // (graph_importer.py:153-168) done natively: explode + group.
    "flatten_attrs" -> QueryDef(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .orderBy("doc_id", "tok"),
      """SELECT doc_id, tok, COUNT(*) AS cnt FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY doc_id, tok ORDER BY doc_id, tok""".stripMargin),

    // As-of join: each non-purchase event picks up the same user's most
    // recent strictly-prior purchase — the union+window single-shuffle
    // formulation (ops.AsOf). Timestamps exported as epoch micros so both
    // engines hash identical BIGINTs (TIMESTAMP_NS stringifies differently).
    "asof_join" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        // AsOf requires a (key, time)-unique right side; the DECLARED
        // semantics on ties is keep-min-value, applied IDENTICALLY in the
        // oracle SQL below — so a regenerated fixture with duplicate
        // (user_id, ts) purchases stays deterministic AND oracle-matched
        // instead of silently diverging.
        val purchases = graft.ops.Mutations.dedupFirst(
          ev.filter(col("event_type") === "purchase").select("user_id", "ts", "value"),
          Seq("user_id", "ts"), Seq("value"))
        val out = graft.ops.AsOf.joinStrictPrior(
          ev.filter(col("event_type") =!= "purchase")
            .select("event_id", "user_id", "ts"),
          purchases,
          keyCols = Seq("user_id"), timeCol = "ts", rightCols = Seq("ts", "value"))
        out.select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("asof_ts_us"),
          col("asof_value"))
          .orderBy("event_id")
      },
      """SELECT e.event_id, e.user_id, CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
        |  CAST(epoch_us(p.ts) AS BIGINT) AS asof_ts_us, p.value AS asof_value
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      row_number() OVER (PARTITION BY user_id, ts
        |                         ORDER BY value NULLS FIRST) AS rn
        |    FROM events WHERE event_type = 'purchase') WHERE rn = 1) p
        |  ON e.user_id = p.user_id AND e.ts > p.ts
        |ORDER BY e.event_id""".stripMargin),

    // Exact distribution statistics per group — stddev and corr recomputed
    // from order-independent DECIMAL power sums (SUM x, x², y, y², xy), so
    // Spark's partial aggregation and DuckDB's sequential scan feed the
    // SAME exact inputs into the SAME double formula. Never the built-in
    // stddev/corr: their streaming accumulation is order-dependent.
    "agg_stats" -> QueryDef(
      (s, d) => {
        // power sums via dsum: the double product is rounded into
        // DECIMAL(18,6) BEFORE the exact sum — mirroring dsumSql term for
        // term (an exact decimal×decimal product would differ from the
        // oracle's double multiply in the 7th decimal).
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        val nD = col("n").cast("double")
        t(s, d, "lineitem").groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            dsum(x).as("sx"), dsum(x * x).as("sx2"),
            dsum(y).as("sy"), dsum(y * y).as("sy2"),
            dsum(x * y).as("sxy"))
          .select(col("l_returnflag"), col("n"),
            round(col("sx") / nD, 6).as("mean_qty"),
            round(sqrt((nD * col("sx2") - col("sx") * col("sx")) / (nD * (nD - 1))), 6)
              .as("stddev_qty"),
            round((nD * col("sxy") - col("sx") * col("sy")) /
              (sqrt(nD * col("sx2") - col("sx") * col("sx")) *
                sqrt(nD * col("sy2") - col("sy") * col("sy"))), 6).as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      s"""WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sx, ${dsumSql("l_quantity*l_quantity")} AS sx2,
         |  ${dsumSql("l_extendedprice")} AS sy,
         |  ${dsumSql("l_extendedprice*l_extendedprice")} AS sy2,
         |  ${dsumSql("l_quantity*l_extendedprice")} AS sxy
         |FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, n,
         |  round(sx / CAST(n AS DOUBLE), 6) AS mean_qty,
         |  round(sqrt((CAST(n AS DOUBLE)*sx2 - sx*sx)
         |    / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1))), 6) AS stddev_qty,
         |  round((CAST(n AS DOUBLE)*sxy - sx*sy)
         |    / (sqrt(CAST(n AS DOUBLE)*sx2 - sx*sx)
         |       * sqrt(CAST(n AS DOUBLE)*sy2 - sy*sy)), 6) AS corr_qty_price
         |FROM s ORDER BY l_returnflag""".stripMargin),

    // Per-group simple linear regression (OLS y on x) from the SAME
    // order-independent DECIMAL power sums as agg_stats — the
    // feature-engineering primitive (trend per segment) that built-in
    // regr_slope/regr_intercept can't give deterministically (their
    // streaming accumulation is order-dependent). slope computed ONCE as
    // an unrounded double, reused by the intercept — op order mirrored in
    // the oracle so both engines chain the identical IEEE ops. At 100 TB
    // this is one map-side-combinable groupBy; group count = output rows.
    "regr_slope" -> QueryDef(
      (s, d) => {
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        val nD = col("n").cast("double")
        t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"),
            dsum(x).as("sx"), dsum(x * x).as("sx2"),
            dsum(y).as("sy"), dsum(x * y).as("sxy"))
          .withColumn("__slope",
            (nD * col("sxy") - col("sx") * col("sy")) /
              (nD * col("sx2") - col("sx") * col("sx")))
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            round(col("__slope"), 6).as("slope"),
            round((col("sy") - col("__slope") * col("sx")) / nD, 6)
              .as("intercept"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      s"""WITH s AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sx, ${dsumSql("l_quantity*l_quantity")} AS sx2,
         |  ${dsumSql("l_extendedprice")} AS sy,
         |  ${dsumSql("l_quantity*l_extendedprice")} AS sxy
         |FROM lineitem GROUP BY l_returnflag, l_linestatus),
         |sl AS (SELECT *, (CAST(n AS DOUBLE)*sxy - sx*sy)
         |    / (CAST(n AS DOUBLE)*sx2 - sx*sx) AS slope_raw FROM s)
         |SELECT l_returnflag, l_linestatus, n,
         |  round(slope_raw, 6) AS slope,
         |  round((sy - slope_raw*sx) / CAST(n AS DOUBLE), 6) AS intercept
         |FROM sl ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // As-of with a MAX-STALENESS bound (kdb aj0-window / QuestDB ASOF
    // TOLERANCE semantics): a prior purchase older than 30 minutes is no
    // attribution — the asof_* payload nulls as a unit. Same
    // single-shuffle window plan as asof_join; the bound is one per-row
    // projection after the carry. Oracle = the ASOF JOIN mirror with the
    // identical staleness CASE applied on exact microsecond integers.
    "asof_join_tolerance" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = graft.ops.Mutations.dedupFirst(
          ev.filter(col("event_type") === "purchase").select("user_id", "ts", "value"),
          Seq("user_id", "ts"), Seq("value"))
        val out = graft.ops.AsOf.joinStrictPriorWithin(
          ev.filter(col("event_type") =!= "purchase")
            .select("event_id", "user_id", "ts"),
          purchases,
          keyCols = Seq("user_id"), timeCol = "ts", rightCols = Seq("ts", "value"),
          toleranceMicros = 30L * 60 * 1000000)
        out.select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("asof_ts_us"),
          col("asof_value"))
          .orderBy("event_id")
      },
      """WITH m AS (
        |  SELECT e.event_id, e.user_id, CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
        |    CAST(epoch_us(p.ts) AS BIGINT) AS asof_ts_us, p.value AS asof_value
        |  FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
        |  ASOF LEFT JOIN (
        |    SELECT user_id, ts, value FROM (
        |      SELECT user_id, ts, value,
        |        row_number() OVER (PARTITION BY user_id, ts
        |                           ORDER BY value NULLS FIRST) AS rn
        |      FROM events WHERE event_type = 'purchase') WHERE rn = 1) p
        |    ON e.user_id = p.user_id AND e.ts > p.ts)
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN ts_us - asof_ts_us <= 1800000000 THEN asof_ts_us END AS asof_ts_us,
        |  CASE WHEN ts_us - asof_ts_us <= 1800000000 THEN asof_value END AS asof_value
        |FROM m ORDER BY event_id""".stripMargin),

    // Salted skew-join through the correctness gate: salt only changes
    // reducer routing, never semantics, so the salted join's aggregate
    // must hash-match the oracle's PLAIN join — which is exactly what
    // makes it safe to deploy against hot keys at 100 TB.
    "skew_salted_join" -> QueryDef(
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        val od = t(s, d, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.ops.Skew.saltedJoin(li, od, "l_orderkey", factor = 8)
          .groupBy("l_returnflag", "o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag", "o_orderpriority")
      },
      s"""SELECT l_returnflag, o_orderpriority, COUNT(*) AS n,
         |  ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY l_returnflag, o_orderpriority
         |ORDER BY l_returnflag, o_orderpriority""".stripMargin),

    // Sketch aggregates — the 100 TB path for distinct counts and
    // quantiles (HLL++ register-merge and GK quantile summaries are
    // mergeable → map-side combine, no exact-distinct shuffle explosion).
    // approx_* is banned from the oracle by the determinism rules →
    // rows-only (3 groups, cardinality deterministic).
    "agg_sketch" -> QueryDef(
      (s, d) => t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("nd_parts_hll"),
          percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("median_qty_gk"))
        .orderBy("l_returnflag"),
      None),

    // Calibration twin for agg_sketch (the similarity_ivf_recall pattern):
    // the engine-native HLL++/GK estimates are captured and embedded as
    // literals in a late-bound oracle, and DuckDB independently computes
    // the exact distinct counts and the estimated median's true rank
    // window, then replays the identical error arithmetic — so the
    // approximate aggregates are VALUE-checked against their published
    // error bounds (3·rsd for HLL++, n/accuracy+1 rank error for GK).
    // The tiny driver-side collect is 3 rows (one per group) — this is a
    // calibration harness, not a scale path; the production sketches stay
    // fully distributed in agg_sketch.
    "agg_sketch_calibration" -> QueryDef(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val estRows = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), HllRsd).as("est_nd"),
            percentile_approx(col("l_quantity"), lit(0.5), lit(GkAccuracy))
              .as("est_med"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        sketchCalibEst.put(d, estRows)
        sketchCalibLastDir.set(d)
        import s.implicits._
        val est = broadcast(estRows.toDF("grp", "est_nd", "est_med"))
        val ex = li.groupBy(col("l_returnflag").as("grp"))
          .agg(count(lit(1)).as("n"), countDistinct(col("l_partkey")).as("exact_nd"))
        val rk = li.join(est, li("l_returnflag") === est("grp"))
          .groupBy("grp")
          .agg(sum(when(col("l_quantity") < col("est_med"), 1L).otherwise(0L)).as("lo"),
            sum(when(col("l_quantity") <= col("est_med"), 1L).otherwise(0L)).as("hi"))
        val tp = ((col("n") + lit(1)) / lit(2)).cast("long")
        val rankErr = when(tp < col("lo") + 1, col("lo") + 1 - tp)
          .when(tp > col("hi"), tp - col("hi"))
          .otherwise(lit(0L)).cast("long")
        val relErr = abs(col("est_nd") - col("exact_nd")).cast("double") /
          col("exact_nd").cast("double")
        ex.join(est, Seq("grp")).join(rk, Seq("grp"))
          .select(col("grp"), col("n"), col("exact_nd"), col("est_nd"),
            round(relErr, 4).as("nd_rel_err"),
            (relErr <= lit(3 * HllRsd)).as("nd_within_3rsd"),
            col("est_med"),
            col("lo").as("med_rank_lo"), col("hi").as("med_rank_hi"),
            rankErr.as("med_rank_err"),
            (rankErr <= (col("n") / lit(GkAccuracy)).cast("long") + 1)
              .as("med_within_gk"))
          .orderBy("grp")
      },
      () => {
        val est =
          if (sketchCalibEst.size == 1) Some(sketchCalibEst.values.iterator.next())
          else Option(sketchCalibLastDir.get)
            .flatMap(d => Option(sketchCalibEst.get(d)))
        est.map(sketchCalibOracleSql)
      }),

    // The approximate count that IS value-checked: a HyperLogLog built
    // from replayable integer arithmetic only (universal 31-bit hashes,
    // trailing-zero ranks, exact scaled-power-of-two register sums), so
    // the APPROXIMATE estimate hash-matches the DuckDB oracle bit for
    // bit. agg_sketch above stays rows-only because Spark HLL++ and
    // DuckDB's sketch differ; this row shows the sketch DISCIPLINE (≤ m
    // shuffled rows per group — mergeable) under the full oracle.
    "sketch_hll_replay" -> QueryDef(
      (s, d) => graft.ops.Sketches.hllReplayable(
        t(s, d, "lineitem"), "l_returnflag", "l_orderkey")
        .orderBy("grp"),
      graft.ops.Sketches.hllOracleSql("lineitem", "l_returnflag", "l_orderkey")),

    // Set-intersection cardinality from SKETCHES — the segment-overlap
    // estimate (how many parts ship in BOTH an extreme-small- and an
    // extreme-large-quantity line; the tail thresholds make the overlap
    // genuinely partial — ~2/3 — rather than the everything-overlaps
    // degenerate case) computed without ever materializing the
    // intersection:
    // inclusion-exclusion over three replayable HLLs (est_a + est_b −
    // est_union; union sketch = the register view of the concatenated
    // stream, exactly the register-max merge). Every register is exact
    // integer arithmetic (the sketch_hll_replay discipline), so even the
    // APPROXIMATE estimates hash-match the oracle — and the exact
    // intersection count rides along as the calibration column with the
    // loose 3σ-per-sketch bound (3·1.04/√256 per estimate, summed over
    // the three, scaled by the union). The sets are part keys, not the
    // fixture's ~15 users: raw HLL needs ≥ 2.5·m distincts before the
    // linear-counting correction — which needs ln(), the one function
    // the engines round differently — so the operator keys on the
    // column whose cardinality is in the sketch's raw range at the gate
    // SF and documents the small-range limit instead of hiding it. At
    // 100 TB each sketch shuffles ≤ 256 register rows however many rows
    // stream through, vs the exact path's full distinct — this row
    // keeps both honest.
    "sketch_hll_intersect" -> QueryDef(
      (s, d) => {
        val li = t(s, d, "lineitem")
        // ONE lineitem scan feeds all three sketch streams (the a/b
        // predicates are mutually exclusive, so each qualifying line
        // emits its own label plus 'u' exactly once — multiplicity is
        // irrelevant to the max-based registers anyway). A union of
        // filtered scans read the fact table 4x (measured 2x slower at
        // the sf1 decade probe).
        val labeled = li.select(
            explode(when(col("l_quantity") <= 2, array(lit("a"), lit("u")))
              .when(col("l_quantity") >= 49, array(lit("b"), lit("u")))
              .otherwise(typedLit(Seq.empty[String]))).as("g"),
            col("l_partkey"))
        val est = graft.ops.Sketches.hllReplayable(labeled, "g", "l_partkey")
          .agg(max(when(col("grp") === "a", col("est_hll"))).as("est_a"),
            max(when(col("grp") === "b", col("est_hll"))).as("est_b"),
            max(when(col("grp") === "u", col("est_hll"))).as("est_u"))
        val exact = li.groupBy("l_partkey").agg(
            max(when(col("l_quantity") <= 2, 1L).otherwise(0L)).as("ia"),
            max(when(col("l_quantity") >= 49, 1L).otherwise(0L)).as("ib"))
          .agg(sum(col("ia")).as("n_a"), sum(col("ib")).as("n_b"),
            sum(col("ia") * col("ib")).as("n_inter"))
        exact.crossJoin(broadcast(est))
          .withColumn("est_inter",
            round(col("est_a") + col("est_b") - col("est_u"), 4))
          .withColumn("abs_err", round(abs(col("est_inter") - col("n_inter")), 4))
          .withColumn("within_bound",
            col("abs_err") <= lit(3 * 3 * 1.04 / 16.0) * col("est_u"))
          .select("n_a", "n_b", "n_inter", "est_a", "est_b", "est_u",
            "est_inter", "abs_err", "within_bound")
          .orderBy("n_a")
      },
      {
        val hll = graft.ops.Sketches.hllOracleSql(
          """(SELECT 'a' AS g, l_partkey FROM lineitem WHERE l_quantity <= 2
            |   UNION ALL
            |   SELECT 'b', l_partkey FROM lineitem WHERE l_quantity >= 49
            |   UNION ALL
            |   SELECT 'u', l_partkey FROM (
            |     SELECT l_partkey FROM lineitem WHERE l_quantity <= 2
            |     UNION ALL
            |     SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)) labeled""".stripMargin,
          "g", "l_partkey")
        s"""WITH est0 AS ($hll),
           |e1 AS (SELECT
           |    MAX(CASE WHEN grp = 'a' THEN est_hll END) AS est_a,
           |    MAX(CASE WHEN grp = 'b' THEN est_hll END) AS est_b,
           |    MAX(CASE WHEN grp = 'u' THEN est_hll END) AS est_u
           |  FROM est0),
           |ux AS (SELECT l_partkey,
           |    MAX(CASE WHEN l_quantity <= 2 THEN 1 ELSE 0 END) AS ia,
           |    MAX(CASE WHEN l_quantity >= 49 THEN 1 ELSE 0 END) AS ib
           |  FROM lineitem GROUP BY l_partkey),
           |ex AS (SELECT CAST(SUM(ia) AS BIGINT) AS n_a,
           |    CAST(SUM(ib) AS BIGINT) AS n_b,
           |    CAST(SUM(ia * ib) AS BIGINT) AS n_inter FROM ux)
           |SELECT n_a, n_b, n_inter, est_a, est_b, est_u,
           |  round(est_a + est_b - est_u, 4) AS est_inter,
           |  round(abs(round(est_a + est_b - est_u, 4) - n_inter), 4) AS abs_err,
           |  round(abs(round(est_a + est_b - est_u, 4) - n_inter), 4)
           |    <= ${3 * 3 * 1.04 / 16.0} * est_u AS within_bound
           |FROM ex CROSS JOIN e1 ORDER BY n_a""".stripMargin
      }),

    // Self-join cardinality from the CMS INNER PRODUCT (Cormode &
    // Muthukrishnan 2005 §4.2: est(|R⋈R|) = min_j Σ_w sketch[j][w]² —
    // the second moment F₂ a cost-based optimizer needs before
    // committing to a key join, and the skew detector behind the
    // skew_salted_join decision: Σ_k c(k)² is exactly the number of
    // row pairs a self-equi-join produces). The estimate is one-sided
    // (colliding keys only ADD cross terms, est ≥ exact always) with
    // the published ε·N² overcount bound (ε = e/w; 3 > e keeps the
    // bound integer). All BIGINT, fully replayed — even the APPROXIMATE
    // estimate hash-matches. At 100 TB the sketch shuffles ≤ d·w rows
    // however many rows stream through, vs the exact path's per-key
    // groupBy — the same honesty pairing as sketch_hll_intersect.
    "sketch_join_cardinality" -> QueryDef(
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_partkey"))
        val sk = graft.ops.Sketches.cmsSketch(li, "l_partkey")
        val est = sk.groupBy("j").agg(sum(col("cnt") * col("cnt")).as("ip"))
          .agg(min(col("ip")).as("est_sj"))
        val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
          .agg(sum(col("c") * col("c")).as("exact_sj"),
            sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"))
        exact.crossJoin(broadcast(est))
          .withColumn("overcount", col("est_sj") - col("exact_sj"))
          .withColumn("within_bound", col("overcount") <=
            expr(s"(3 * n_rows * n_rows) div ${graft.ops.Sketches.CmsWidth}"))
          .select("n_rows", "n_keys", "exact_sj", "est_sj", "overcount",
            "within_bound")
          .orderBy("n_rows")
      },
      {
        import graft.ops.Sketches
        val probes = (0 until Sketches.CmsDepth).map(j =>
          s"SELECT CAST($j AS BIGINT) AS j, ${Sketches.cmsBucketSql("x", j)} AS bucket FROM k")
          .mkString("\n UNION ALL ")
        s"""WITH k AS (SELECT ((l_partkey % ${Sketches.P})
           |    + ${Sketches.P}) % ${Sketches.P} AS x
           |  FROM lineitem),
           |pr AS ($probes),
           |sk AS (SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
           |  FROM pr GROUP BY j, bucket),
           |ip AS (SELECT j, CAST(SUM(cnt * cnt) AS BIGINT) AS ip
           |  FROM sk GROUP BY j),
           |est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_sj FROM ip),
           |ex0 AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM lineitem GROUP BY l_partkey),
           |ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_sj,
           |    CAST(SUM(c) AS BIGINT) AS n_rows,
           |    CAST(COUNT(*) AS BIGINT) AS n_keys FROM ex0)
           |SELECT n_rows, n_keys, exact_sj, est_sj,
           |  est_sj - exact_sj AS overcount,
           |  est_sj - exact_sj <= (3 * n_rows * n_rows) // ${Sketches.CmsWidth}
           |    AS within_bound
           |FROM ex CROSS JOIN est ORDER BY n_rows""".stripMargin
      }),

    // Declarative data-quality verification (Schelter et al., "Automating
    // Large-Scale Data Quality Verification", VLDB 2018 — the Deequ /
    // Great-Expectations shape): six constraints over orders — row count,
    // key uniqueness, completeness, value range, domain membership,
    // referential integrity — evaluated as ONE aggregation pass of
    // conditional counts (every check an exact BIGINT violation count,
    // map-side combinable) plus one anti-join for the FK orphan count,
    // unpivoted to a row per constraint. The land-then-gate primitive a
    // pipeline runs before promoting a 100 TB batch; at scale this is
    // one scan + one key join however many row-level checks ride along.
    "data_quality_checks" -> QueryDef(
      (s, d) => {
        val o = t(s, d, "orders")
        val base = o.agg(
          count(lit(1)).as("n"),
          countDistinct(col("o_orderkey")).as("du"),
          count(col("o_custkey")).as("cc"),
          sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("neg"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("dom"))
        val rowChecks = base.select(explode(array(
          struct(lit("row_count_positive").as("chk"),
            col("n").as("observed"), (col("n") > 0).as("passed")),
          struct(lit("unique_orderkey").as("chk"),
            (col("n") - col("du")).as("observed"), (col("n") === col("du")).as("passed")),
          struct(lit("complete_custkey").as("chk"),
            (col("n") - col("cc")).as("observed"), (col("n") === col("cc")).as("passed")),
          struct(lit("nonnegative_totalprice").as("chk"),
            col("neg").as("observed"), (col("neg") === 0).as("passed")),
          struct(lit("status_in_domain").as("chk"),
            col("dom").as("observed"), (col("dom") === 0).as("passed")))).as("c"))
          .select(col("c.chk").as("chk"), col("c.observed").as("observed"),
            col("c.passed").as("passed"))
        val fk = o.select(col("o_custkey"))
          .join(t(s, d, "customer").select(col("c_custkey").as("o_custkey")),
            Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphans"))
          .select(lit("fk_custkey_exists").as("chk"), col("orphans").as("observed"),
            (col("orphans") === 0).as("passed"))
        rowChecks.unionByName(fk).orderBy("chk")
      },
      """WITH base AS (SELECT COUNT(*) AS n,
        |    COUNT(DISTINCT o_orderkey) AS du, COUNT(o_custkey) AS cc,
        |    SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS neg,
        |    SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS dom
        |  FROM orders),
        |fk AS (SELECT COUNT(*) AS orphans FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL)
        |SELECT chk, CAST(observed AS BIGINT) AS observed, passed FROM (
        |  SELECT 'row_count_positive' AS chk, n AS observed, n > 0 AS passed FROM base
        |  UNION ALL SELECT 'unique_orderkey', n - du, n = du FROM base
        |  UNION ALL SELECT 'complete_custkey', n - cc, n = cc FROM base
        |  UNION ALL SELECT 'nonnegative_totalprice', neg, neg = 0 FROM base
        |  UNION ALL SELECT 'status_in_domain', dom, dom = 0 FROM base
        |  UNION ALL SELECT 'fk_custkey_exists', orphans, orphans = 0 FROM fk)
        |ORDER BY chk""".stripMargin),

    // Bloom-filter semi-join pruning through the correctness gate: build
    // an 8 KB replayable filter over the dim keys (negative-balance
    // customers — the semi_join_ids key set), broadcast it, and keep the
    // orders rows whose custkey MIGHT be a member — false positives
    // included, because they are a pure function of the published
    // constants and both engines compute the identical bit arithmetic.
    // The exact verdict rides along as `true_member` (a fp shows up as
    // false — zero false NEGATIVES is the Bloom contract, asserted per
    // row in BloomSpec). At scale this prunes the fact side BEFORE its
    // shuffle — the explicit form of runtime bloom-pruned joins.
    "bloom_semi_join" -> QueryDef(
      (s, d) => {
        val keys = t(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("key"))
        val bloom = graft.ops.Bloom.build(keys, "key")
        val probe = t(s, d, "orders").select("o_orderkey", "o_custkey")
        graft.ops.Bloom.mightContain(probe, bloom, "o_custkey")
          .join(keys.distinct().select(col("key").as("o_custkey"),
            lit(1).as("__m")), Seq("o_custkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"),
            col("__m").isNotNull.as("true_member"))
          .orderBy("o_orderkey")
      },
      bloomSemiJoinOracleSql),

    // Pareto frontier (the Skyline operator, Börzsönyi ICDE 2001) of
    // parts minimizing (retail price, size) — the multi-criteria "best
    // tradeoffs" cut. One ordered running-min pass instead of the
    // textbook O(n²) self-anti-join, realized WITHOUT a global
    // single-partition window (two-level bucket prefix-min — the
    // globalRowNumber discipline); the oracle is the plain global-window
    // spelling, so equality with the distributed form is the graded
    // claim. Frontier x values are strictly increasing → unique ORDER BY.
    "skyline_pareto" -> QueryDef(
      (s, d) => graft.ops.Skyline.skyline2D(
        t(s, d, "part"), "p_retailprice", "p_size")
        .orderBy("p_retailprice"),
      graft.ops.Skyline.skylineOracleSql("part", "p_retailprice", "p_size")
        + "\nORDER BY p_retailprice"),

    // Z-order layout clustering through the correctness gate: Morton
    // -interleave (l_partkey, l_suppkey), tile by the top z-bits
    // (bucket = z div 4096 → 6 free bits per dimension), and profile each
    // tile's min/max span in BOTH dimensions — the rectangle property
    // (span < 64 × 64, provable and spec-asserted) that makes parquet
    // min/max pruning work for 2-D predicates after a z-sorted write
    // (ops.ZOrder.clusterByZ is the write-side form). Pure replayable bit
    // arithmetic; the oracle interleaves with the identical expression.
    "layout_zorder" -> QueryDef(
      (s, d) => {
        // keys are min-max normalized into the 16-bit cell domain with
        // exact integer arithmetic BEFORE interleaving — raw keys only fit
        // 16 bits by accident of the small SFs (the sf1 scale run caught
        // exactly that: shifted key spaces blew the interleave16 guard).
        // The stats pass is a 1-row broadcast; cell = (v−lo)·2¹⁶ div
        // (hi−lo+1) < 2¹⁶ always. Bucket min/max spans stay in raw key space.
        val li = t(s, d, "lineitem")
          .select(col("l_partkey").cast("long").as("x"),
            col("l_suppkey").cast("long").as("y"))
        val stats = li.agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        li.crossJoin(broadcast(stats))
          .withColumn("cx", expr("((x - x0) * 65536) div (x1 - x0 + 1)"))
          .withColumn("cy", expr("((y - y0) * 65536) div (y1 - y0 + 1)"))
          .withColumn("z", graft.ops.ZOrder.interleave16(col("cx"), col("cy")))
          // z now spans the full 2^32 cell plane; div 4^13 keeps the same
          // 64-tile profile as before normalization (t=13 free bits/dim)
          .withColumn("bucket", expr("z div 67108864"))
          .groupBy("bucket").agg(count(lit(1)).as("n"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .orderBy("bucket")
      },
      s"""WITH s AS (SELECT MIN(CAST(l_partkey AS BIGINT)) AS x0,
         |    MAX(CAST(l_partkey AS BIGINT)) AS x1,
         |    MIN(CAST(l_suppkey AS BIGINT)) AS y0,
         |    MAX(CAST(l_suppkey AS BIGINT)) AS y1 FROM lineitem),
         |c AS (SELECT CAST(l_partkey AS BIGINT) AS x,
         |    CAST(l_suppkey AS BIGINT) AS y,
         |    ((CAST(l_partkey AS BIGINT) - s.x0) * 65536) // (s.x1 - s.x0 + 1) AS cx,
         |    ((CAST(l_suppkey AS BIGINT) - s.y0) * 65536) // (s.y1 - s.y0 + 1) AS cy
         |  FROM lineitem, s),
         |z AS (SELECT x, y,
         |    ${graft.ops.ZOrder.interleave16Sql("cx", "cy")} AS zv
         |  FROM c)
         |SELECT zv // 67108864 AS bucket, COUNT(*) AS n,
         |  MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin),

    // Two-pass z-score outlier screen over the events stream table: exact
    // per-type mean/σ from DECIMAL power sums (the agg_stats formula —
    // never the built-in stddev, whose streaming accumulation is
    // order-dependent), broadcast back as a tiny dim, flag |v−μ| > 2σ.
    // The standard anomaly-detection shape: the stats pass is map-side-
    // combinable, the filter pass is a pure broadcast-join projection —
    // nothing shuffles the events themselves at any scale.
    "outlier_zscore" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val nD = col("n").cast("double")
        val stats = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            dsum(col("value")).as("sx"),
            dsum(col("value") * col("value")).as("sx2"))
          .select(col("event_type"),
            (col("sx") / nD).as("__mean"),
            sqrt((nD * col("sx2") - col("sx") * col("sx")) / (nD * (nD - 1)))
              .as("__std"))
        ev.join(broadcast(stats), Seq("event_type"))
          .filter(abs(col("value") - col("__mean")) > lit(2.0) * col("__std"))
          .select(col("event_id"), col("event_type"), col("value"),
            round((col("value") - col("__mean")) / col("__std"), 4).as("z"))
          .orderBy("event_id")
      },
      s"""WITH s AS (SELECT event_type, COUNT(*) AS n,
         |  ${dsumSql("value")} AS sx, ${dsumSql("value*value")} AS sx2
         |  FROM events GROUP BY event_type),
         |st AS (SELECT event_type, sx / CAST(n AS DOUBLE) AS m,
         |         sqrt((CAST(n AS DOUBLE)*sx2 - sx*sx)
         |           / (CAST(n AS DOUBLE)*(CAST(n AS DOUBLE)-1))) AS sd
         |       FROM s)
         |SELECT event_id, event_type, value, round((value - m) / sd, 4) AS z
         |FROM events JOIN st USING (event_type)
         |WHERE abs(value - m) > 2 * sd
         |ORDER BY event_id""".stripMargin),

    // Incremental view maintenance of a JOIN through the correctness
    // gate — incremental_agg's sibling for the other big maintained-view
    // class. Late-arriving batches ΔO (orderkey % 101 = 0) and ΔL
    // (orderkey % 103 = 0) are folded into the materialized join via the
    // standard disjoint delta decomposition
    //   J(O', L') = J(O,L) ∪ (ΔO ⋈ L') ∪ (O ⋈ ΔL)
    // (O' = O∪ΔO, L' = L∪ΔL; the ΔO term takes the PRIMED right side so
    // the ΔO⋈ΔL corner lands exactly once), and the maintained result
    // must hash-match the oracle's FULL RECOMPUTE over O'⋈L' — per-term
    // row counts surface as columns so a missing/duplicated corner fails
    // loudly. Refresh cost rides the delta: both delta terms broadcast
    // their Δ side against the big table; only the base join is
    // fact-sized, and in a real view it is the stored result, not
    // recomputed. Revenue on the exact DECIMAL ladder.
    "incremental_join" -> QueryDef(
      (s, d) => {
        val o = t(s, d, "orders")
        val l = t(s, d, "lineitem")
        val oB = o.filter(col("o_orderkey") % 101 =!= 0)
        val oD = o.filter(col("o_orderkey") % 101 === 0)
        val lB = l.filter(col("l_orderkey") % 103 =!= 0)
        val lD = l.filter(col("l_orderkey") % 103 === 0)
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        def term(left: org.apache.spark.sql.DataFrame,
            right: org.apache.spark.sql.DataFrame, tag: String) =
          left.join(right, col("o_orderkey") === col("l_orderkey"))
            .select(col("o_orderpriority"), rev.as("rev"), lit(tag).as("tag"))
        term(oB, lB, "base")
          .unionByName(term(broadcast(oD), l, "delta"))
          .unionByName(term(oB, broadcast(lD), "delta"))
          .groupBy("o_orderpriority")
          .agg(sum(when(col("tag") === "base", 1L).otherwise(0L)).as("n_base"),
            sum(when(col("tag") === "delta", 1L).otherwise(0L)).as("n_delta"),
            dsum(col("rev")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      s"""SELECT o_orderpriority,
         |  CAST(SUM(CASE WHEN o_orderkey % 101 <> 0 AND l_orderkey % 103 <> 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |  CAST(SUM(CASE WHEN o_orderkey % 101 = 0 OR l_orderkey % 103 = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |  ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Incremental view maintenance through the correctness gate: the
    // maintained aggregate (old snapshot's aggregate + SnapshotDiff delta
    // merged via ops.Incremental — added/removed/changed rows as signed
    // DECIMAL contributions, group migration included) must hash-match the
    // oracle's FULL RECOMPUTE over the new snapshot. That equality is the
    // whole point of CDC at 100 TB: refresh cost scales with the delta,
    // never the snapshot — and it only holds because sums accumulate in
    // DECIMAL (an abelian group), not IEEE doubles.
    "incremental_agg" -> QueryDef(
      (s, d) => {
        val orders = t(s, d, "orders")
        val a = orders.filter(col("o_orderkey") % 7 =!= 0)
        // the "new" snapshot: some rows gone (%5), some prices patched
        // (%11), some rows migrated to a new group (%13) — adds, removes,
        // in-place changes, and group migration all exercised.
        val b = orders.filter(col("o_orderkey") % 5 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 11 === 0, col("o_totalprice") + lit(10.0))
              .otherwise(col("o_totalprice")))
          .withColumn("o_orderpriority",
            when(col("o_orderkey") % 13 === 0, lit("9-SYNTH"))
              .otherwise(col("o_orderpriority")))
        val oldAgg = graft.ops.Incremental.groupAgg(a, "o_orderpriority", "o_totalprice")
        val delta = graft.ops.SnapshotDiff.diff(a, b, Seq("o_orderkey"))
        graft.ops.Incremental.mergeGroupAgg(oldAgg, delta, "o_orderpriority", "o_totalprice")
          .select(col("o_orderpriority"), col("n"),
            col("s").cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      """WITH b AS (SELECT
        |    CASE WHEN o_orderkey % 13 = 0 THEN '9-SYNTH' ELSE o_orderpriority END AS o_orderpriority,
        |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM b GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // SCD Type-2 temporal upsert — the MERGE INTO-style history the
    // incremental_agg/snapshot_diff CDC pair was missing: the same
    // A→B orders delta folded into a row-versioned dimension history
    // (valid_from/valid_to half-open intervals, deletions close rows).
    // The oracle rebuilds the same history set-wise (closed = A rows
    // left-joined against B for change/absence; opened = B rows new or
    // changed vs A) — the interval algebra must agree row for row.
    "scd2_upsert" -> QueryDef(
      (s, d) => scd2History(s, d)
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("o_orderkey", "valid_from"),
      s"""$scd2HistCte
        |SELECT o_orderkey, o_orderpriority, o_totalprice, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM hist ORDER BY o_orderkey, valid_from""".stripMargin),

    // Point-in-time (PIT) join against the SCD2 dimension — THE
    // warehouse temporal primitive: each fact resolves the dimension row
    // that was valid AT ITS OWN as-of version (here 1 + linenumber % 2,
    // a deterministic mix of both versions), via
    // valid_from ≤ v < coalesce(valid_to, ∞) on top of the key equi-join.
    // asof_join's event-stream sibling on validity INTERVALS instead of
    // nearest timestamps. Inner semantics: a fact whose key has no valid
    // row at its version (inserted later / deleted earlier) drops — the
    // "no fact without a dimension" contract; the per-version counts
    // make those drops visible. Shares one scd2History builder (and one
    // generated CTE) with scd2_upsert.
    "scd2_point_in_time" -> QueryDef(
      (s, d) => {
        val facts = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"),
            expr("CAST(1 + l_linenumber % 2 AS BIGINT)").as("asof_v"))
        facts.join(scd2History(s, d),
            col("l_orderkey") === col("o_orderkey") &&
              col("valid_from") <= col("asof_v") &&
              (col("valid_to").isNull || col("asof_v") < col("valid_to")))
          .groupBy("o_orderpriority", "asof_v")
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("o_orderpriority", "asof_v")
      },
      s"""$scd2HistCte,
        |f AS (SELECT l_orderkey, l_extendedprice,
        |    CAST(1 + l_linenumber % 2 AS BIGINT) AS asof_v FROM lineitem)
        |SELECT o_orderpriority, asof_v, CAST(COUNT(*) AS BIGINT) AS n,
        |  ${dsumSql("l_extendedprice")} AS revenue
        |FROM f JOIN hist ON o_orderkey = l_orderkey
        |  AND valid_from <= asof_v AND (valid_to IS NULL OR asof_v < valid_to)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Schema-evolution merge: two "file versions" of the orders table —
    // v1 lacking a later-added column, v2 having dropped an old one —
    // unioned by NAME with missing columns null-filled
    // (unionByName(allowMissingColumns)), then aggregated across the
    // seam. The lakehouse schema-drift shape; the oracle replays it as a
    // NULL-cast UNION ALL. Spark sorts NULLS FIRST on asc — mirrored
    // explicitly (the §2.2 determinism rule).
    "schema_evolution" -> QueryDef(
      (s, d) => {
        val o = t(s, d, "orders")
        val v1 = o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val v2 = o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
        v1.unionByName(v2, allowMissingColumns = true)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("n_with_cust"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      s"""SELECT o_orderpriority, COUNT(*) AS n, COUNT(o_custkey) AS n_with_cust,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM (
         |  SELECT o_orderkey, o_custkey, o_totalprice,
         |    CAST(NULL AS VARCHAR) AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 2 = 0
         |  UNION ALL
         |  SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 2 = 1)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST""".stripMargin),

    // The INVERSE of flatten_attrs: nest rows INTO sorted arrays — one row
    // per customer carrying their full order-key list. The
    // denormalization shape that builds nested training examples /
    // document-with-context records; `sort_array` makes the list a pure
    // function of the group (collect_list alone is arrival-ordered and
    // could never hash-match). One combinable-ish groupBy whose buffers
    // are bounded by per-customer order counts. The list is emitted as a
    // canonical comma-joined STRING rather than ARRAY<BIGINT>: the sorted
    // list is the same pure function of the group either way, but a flat
    // string is hashable by any external comparator (an ARRAY column broke
    // the round-6 oracle harness on the driver side).
    "nest_collect" -> QueryDef(
      (s, d) => t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          concat_ws(",", sort_array(collect_list(col("o_orderkey"))))
            .as("order_keys"))
        .orderBy("o_custkey"),
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // Per-column data profile of the orders table (null counts, exact
    // distinct cardinalities, integral min/max) in ONE aggregation pass,
    // unpivoted to a row per column — the land-then-look primitive.
    // Oracle generated from the same column lists (ops.Profiling).
    "table_profile" -> QueryDef(
      (s, d) => graft.ops.Profiling.profile(t(s, d, "orders"),
        profiledOrderCols, profiledOrderIntCols).orderBy("col_name"),
      graft.ops.Profiling.profileOracleSql("orders",
        profiledOrderCols, profiledOrderIntCols)),

    // The two remaining distribution window functions (window_ntile's
    // family): percent_rank = (rank−1)/(n−1) and cume_dist = ties-aware
    // rank/n — both IEEE divisions of exact window-integer inputs with
    // the same expression on both engines (built-in percent_rank /
    // cume_dist are used directly: their definitions are fixed by the
    // SQL standard, so the engines agree bit for bit on the same total
    // order). Deterministic (value, event_id) order; 6 dp.
    "window_percent_rank" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        t(s, d, "events")
          .select(col("event_id"), col("event_type"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("event_id")
      },
      """SELECT event_id, event_type,
        |  round(percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS pr,
        |  round(cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS cd
        |FROM events ORDER BY event_id""".stripMargin),

    // Data-drift report — table_profile's temporal companion (the check a
    // pipeline runs when a NEW snapshot lands: did the distribution move?):
    // profile both snapshot versions (same one-pass profiler) and join on
    // column name, emitting per-column deltas of row count, null count,
    // distinct cardinality, and integral min/max. The A→B mutation is the
    // incremental_agg scenario, so the drift surfaces real signals: row
    // deletions (%5), a new o_orderpriority domain value ('9-SYNTH'),
    // price-distinct movement from the %11 patch. All deltas exact
    // BIGINTs; NULL−NULL stays NULL for non-integral min/max.
    "profile_drift" -> QueryDef(
      (s, d) => {
        val orders = t(s, d, "orders")
        val a = orders.filter(col("o_orderkey") % 7 =!= 0)
        val b = orders.filter(col("o_orderkey") % 5 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 11 === 0, col("o_totalprice") + lit(10.0))
              .otherwise(col("o_totalprice")))
          .withColumn("o_orderpriority",
            when(col("o_orderkey") % 13 === 0, lit("9-SYNTH"))
              .otherwise(col("o_orderpriority")))
        val pa = graft.ops.Profiling.profile(a, profiledOrderCols, profiledOrderIntCols)
        val pb = graft.ops.Profiling.profile(b, profiledOrderCols, profiledOrderIntCols)
          .select(col("col_name"), col("n_rows").as("b_rows"), col("n_nulls").as("b_nulls"),
            col("n_distinct").as("b_distinct"), col("min_long").as("b_min"),
            col("max_long").as("b_max"))
        pa.join(pb, "col_name")
          .select(col("col_name"),
            (col("b_rows") - col("n_rows")).as("d_rows"),
            (col("b_nulls") - col("n_nulls")).as("d_nulls"),
            (col("b_distinct") - col("n_distinct")).as("d_distinct"),
            (col("b_min") - col("min_long")).as("d_min"),
            (col("b_max") - col("max_long")).as("d_max"))
          .orderBy("col_name")
      },
      s"""WITH a AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
         |b AS (SELECT o_orderkey, o_custkey, o_orderstatus,
         |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
         |    o_orderdate,
         |    CASE WHEN o_orderkey % 13 = 0 THEN '9-SYNTH' ELSE o_orderpriority END AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 5 <> 0),
         |pa AS (${graft.ops.Profiling.profileOracleBody("a", profiledOrderCols, profiledOrderIntCols)}),
         |pb AS (${graft.ops.Profiling.profileOracleBody("b", profiledOrderCols, profiledOrderIntCols)})
         |SELECT pa.col_name,
         |  pb.n_rows - pa.n_rows AS d_rows,
         |  pb.n_nulls - pa.n_nulls AS d_nulls,
         |  pb.n_distinct - pa.n_distinct AS d_distinct,
         |  pb.min_long - pa.min_long AS d_min,
         |  pb.max_long - pa.max_long AS d_max
         |FROM pa JOIN pb ON pa.col_name = pb.col_name
         |ORDER BY pa.col_name""".stripMargin),

    // Quartile distribution summary: ntile(4) per event type over
    // (value, event_id) — the deterministic total order makes the tile
    // boundaries identical on both engines — then count + exact sum per
    // tile. The distribution-sketching window family (ntile/percent_rank)
    // that window_rank/window_running don't cover.
    "window_ntile" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        t(s, d, "events")
          .withColumn("quartile", ntile(4).over(w).cast("long"))
          .groupBy("event_type", "quartile")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type", "quartile")
      },
      s"""SELECT event_type, CAST(quartile AS BIGINT) AS quartile,
         |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM (SELECT event_type, value,
         |        ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
         |      FROM events)
         |GROUP BY event_type, quartile ORDER BY event_type, quartile""".stripMargin),

    // Pivot to wide: per-linestatus quantity totals, one column per return
    // flag (explicit value list → no distinct-scan planning pass).
    "pivot_wide" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 6))))
        .select(col("l_linestatus"),
          col("A").cast("double").as("qty_a"),
          col("N").cast("double").as("qty_n"),
          col("R").cast("double").as("qty_r"))
        .orderBy("l_linestatus"),
      """SELECT l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (l_returnflag = 'A') AS DOUBLE) AS qty_a,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (l_returnflag = 'N') AS DOUBLE) AS qty_n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (l_returnflag = 'R') AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // CDC apply — collapse a Debezium-style change stream to final table
    // state: per key, the LAST change by the total (ts, event_id) version
    // order wins; a tombstone ('view' modeled as DELETE) removes the key,
    // any other change upserts its value. This is the merge every
    // lakehouse sink runs on a CDC feed, and it generalizes upsert_dedup
    // (first-write-wins identity, the reference's insert_vertex) and
    // scd2_upsert (history kept) to op-typed changes with deletes. One
    // key shuffle serves both the rank and the per-key change count
    // (same partitioning, one sort); at 100 TB this is the standard
    // rank-1 merge, skew-safe because keys are users.
    "cdc_apply" -> QueryDef(
      (s, d) => {
        val wv = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val wc = Window.partitionBy("user_id")
        t(s, d, "events")
          .withColumn("__rk", row_number().over(wv))
          .withColumn("n_changes", count(lit(1)).over(wc))
          .filter(col("__rk") === 1 && col("event_type") =!= "view")
          .select(col("user_id"), col("value").as("final_value"),
            col("ts").as("last_ts"), col("n_changes"))
          .orderBy("user_id")
      },
      """WITH r AS (SELECT user_id, event_type, value, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM events)
        |SELECT user_id, value AS final_value, ts AS last_ts,
        |  CAST(n_changes AS BIGINT) AS n_changes
        |FROM r WHERE rk = 1 AND event_type <> 'view'
        |ORDER BY user_id""".stripMargin),

    // Unpivot/melt — the inverse of pivot_wide and the other half of the
    // reshape surface: four lineitem measures to (key, measure, value)
    // long form, the shape feature stores and plotting/ML pipelines
    // ingest. Pure per-row Generate (explode of a 4-struct array) — no
    // shuffle at any scale; values are INPUT doubles carried, never
    // recomputed. The oracle is the equivalent 4-way UNION ALL.
    "unpivot_long" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(array(
            struct(lit("quantity").as("measure"), col("l_quantity").as("value")),
            struct(lit("extendedprice").as("measure"), col("l_extendedprice").as("value")),
            struct(lit("discount").as("measure"), col("l_discount").as("value")),
            struct(lit("tax").as("measure"), col("l_tax").as("value")))).as("m"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("m.measure").as("measure"), col("m.value").as("value"))
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
        |WHERE l_orderkey <= 2000
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin),

    // Robust outlier screen via median absolute deviation — the
    // heavy-tail-safe twin of outlier_zscore (mean/stddev break down when
    // the outliers themselves inflate the spread; MAD's 50% breakdown
    // point doesn't — Hampel 1974). Both medians are LOWER medians
    // (rank (n+1) div 2), i.e. input VALUES selected by rank-1 joins, so
    // the only floating-point arithmetic is one exact-rounded subtraction,
    // one multiply-by-3 threshold and one divide — no interpolation ladder
    // needed. Scale shape: two windows partitioned by event_type plus two
    // broadcast joins of the |types|-row stats frames; at 100 TB the
    // exact per-type rank pass is the calibration path and the GK-sketch
    // quantile (sketch_quantile_hist) is the one-pass production path.
    "outlier_mad" -> QueryDef(
      (s, d) => {
        val ev = t(s, d, "events")
        val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        val w1 = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
        val med = ev.withColumn("rk", row_number().over(w1).cast("long"))
          .join(broadcast(n), "event_type")
          .filter(col("rk") === expr("(n + 1) div 2"))
          .select(col("event_type"), col("value").as("med"))
        val dev = ev.join(broadcast(med), Seq("event_type"))
          .withColumn("dev", abs(col("value") - col("med")))
        val w2 = Window.partitionBy("event_type").orderBy(col("dev"), col("event_id"))
        val mad = dev.withColumn("rk", row_number().over(w2).cast("long"))
          .join(broadcast(n), "event_type")
          .filter(col("rk") === expr("(n + 1) div 2"))
          .select(col("event_type"), col("dev").as("mad"))
        dev.join(broadcast(mad), Seq("event_type"))
          .filter(col("dev") > lit(3.0) * col("mad"))
          .select(col("event_id"), col("event_type"), col("value"),
            round(col("dev") / col("mad"), 4).as("rz"))
          .orderBy("event_id")
      },
      """WITH n AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type),
        |r1 AS (SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk
        |       FROM events),
        |med AS (SELECT r1.event_type, r1.value AS med FROM r1 JOIN n USING (event_type)
        |        WHERE rk = (n + 1) // 2),
        |d AS (SELECT e.event_id, e.event_type, e.value,
        |        abs(e.value - med.med) AS dev
        |      FROM events e JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, event_id, dev,
        |         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rk
        |       FROM d),
        |mad AS (SELECT r2.event_type, r2.dev AS mad FROM r2 JOIN n USING (event_type)
        |        WHERE rk = (n + 1) // 2)
        |SELECT d.event_id, d.event_type, d.value, round(d.dev / mad.mad, 4) AS rz
        |FROM d JOIN mad USING (event_type)
        |WHERE d.dev > 3 * mad.mad
        |ORDER BY d.event_id""".stripMargin),

    // Poisson-bootstrap confidence intervals (Chamandy et al., Google
    // 2012, "Estimating Uncertainty for Massive Data Streams"; Efron
    // 1979 underneath) — the error bar every aggregate report should
    // carry, in the ONLY bootstrap shape that works on distributed data:
    // instead of drawing N rows with replacement (impossible without a
    // global pass), each row independently gets a Poisson(1) replication
    // weight per resample — here DETERMINISTIC, inverse-CDF over the
    // shared affine hash of (row key, resample), pmf thresholds at 1/1000
    // resolution — so 32 resample means per group need one explode + one
    // combinable (grp, r) aggregation. CI = order statistics 2 and 31 of
    // the 32 means (a ~94% interval), picked by a window over the
    // 96-row means table. Weighted sums ride the exact DECIMAL ladder;
    // the only doubles are the final per-resample divisions of identical
    // exact inputs. At 100 TB the 32x explode is the honest cost of
    // bootstrap; the shuffle carries only (grp, r) partials — 96 cells.
    "bootstrap_ci" -> QueryDef(
      (s, d) => {
        import graft.ops.llm.Shuffle
        val li = t(s, d, "lineitem").select(col("l_returnflag").as("grp"),
          col("l_quantity").as("x"),
          (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("key"))
        // 32x ROW explode, then one combinable (grp, r) aggregation. The
        // measured-and-rejected alternative: all 32 resamples as 64 agg
        // COLUMNS in one scan (no row blowup) read 52.9 s aged at sf1 vs
        // 10.9 s for this form — 64 decimal aggregation buffers plus 32
        // un-shared hash/CASE chains per row cost far more than the row
        // multiplication the explode pays; partial aggregation collapses
        // the exploded rows map-side into 96 (grp, r) cells either way.
        val rs = li.select(col("grp"), col("x"), col("key"),
            explode(array((0 until 32).map(r => lit(r.toLong)): _*)).as("r"))
          .withColumn("h",
            (lit(Shuffle.A) * (col("key") * 37 + col("r")) + lit(Shuffle.B))
              % Shuffle.P % 1000)
          .withColumn("w", when(col("h") < 368, 0L).when(col("h") < 736, 1L)
            .when(col("h") < 920, 2L).when(col("h") < 981, 3L)
            .when(col("h") < 996, 4L).when(col("h") < 999, 5L).otherwise(6L))
        val means = rs.groupBy("grp", "r")
          .agg(sum(col("w")).as("wn"),
            sum(col("w") * col("x").cast(DecimalType(18, 6))).as("wx"))
          .filter(col("wn") > 0)
          .withColumn("mean_r", col("wx").cast("double") / col("wn").cast("double"))
        val wRk = Window.partitionBy("grp").orderBy(col("mean_r"), col("r"))
        val ci = means.withColumn("rk", row_number().over(wRk))
          .groupBy("grp").agg(
            count(lit(1)).as("n_resamples"),
            round(max(when(col("rk") === 2, col("mean_r"))), 6).as("ci_lo"),
            round(max(when(col("rk") === 31, col("mean_r"))), 6).as("ci_hi"))
        li.groupBy("grp").agg(count(lit(1)).as("n"),
            round(dsum(col("x")) / count(lit(1)), 6).as("mean_x"))
          .join(ci, "grp").orderBy("grp")
      },
      {
        import graft.ops.llm.Shuffle
        s"""WITH li AS (SELECT l_returnflag AS grp, l_quantity AS x,
           |    l_orderkey * 8 + l_linenumber AS key FROM lineitem),
           |rs AS (SELECT grp, x, key, CAST(unnest(range(0, 32)) AS BIGINT) AS r
           |  FROM li),
           |hw AS (SELECT grp, x, r,
           |    ((${Shuffle.A} * (key * 37 + r) + ${Shuffle.B})
           |      % ${Shuffle.P}) % 1000 AS h FROM rs),
           |w8 AS (SELECT grp, x, r,
           |    CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1 WHEN h < 920 THEN 2
           |         WHEN h < 981 THEN 3 WHEN h < 996 THEN 4 WHEN h < 999 THEN 5
           |         ELSE 6 END AS w FROM hw),
           |mn AS (SELECT grp, r, CAST(SUM(w) AS BIGINT) AS wn,
           |    SUM(w * CAST(x AS DECIMAL(18,6))) AS wx FROM w8 GROUP BY grp, r),
           |m2 AS (SELECT grp, r, CAST(wx AS DOUBLE) / CAST(wn AS DOUBLE) AS mean_r
           |  FROM mn WHERE wn > 0),
           |rk AS (SELECT grp, r, mean_r,
           |    row_number() OVER (PARTITION BY grp ORDER BY mean_r, r) AS rk FROM m2),
           |ci AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_resamples,
           |    round(MAX(CASE WHEN rk = 2 THEN mean_r END), 6) AS ci_lo,
           |    round(MAX(CASE WHEN rk = 31 THEN mean_r END), 6) AS ci_hi
           |  FROM rk GROUP BY grp),
           |ba AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
           |    round(${dsumSql("x")} / COUNT(*), 6) AS mean_x
           |  FROM li GROUP BY grp)
           |SELECT ba.grp AS grp, n, mean_x, n_resamples, ci_lo, ci_hi
           |FROM ba JOIN ci USING (grp) ORDER BY grp""".stripMargin
      }),

    // Bucketed anti-entropy digest — "did the replica drift?" answered
    // WITHOUT shipping rows (the Merkle-tree reconciliation primitive of
    // Dynamo/Cassandra repair, flattened to one level): every row folds
    // to a hash of its CANONICAL string (all-integer rendering — cents,
    // epoch days — because float/timestamp formatting is engine-
    // specific), per-key-range buckets keep (count, SUM of row hashes) —
    // an ORDER-INDEPENDENT abelian digest, so partitioning never changes
    // it — and only buckets whose (n, digest) pairs differ surface, with
    // the drift class (count vs content vs one-sided). The mutations are
    // SPARSE (delete %101, patch +1 cent %97) so the diff output is the
    // point of the op: a handful of dirty buckets out of hundreds, which
    // at 100 TB is exactly what's re-shipped for repair — bucket-sized
    // row sets, never the table. One scan per side, one bucket-keyed
    // combinable agg each, a bucket-count-sized full join.
    "table_diff_digest" -> QueryDef(
      (s, d) => {
        import graft.ops.llm.Dedup
        def digest(src: org.apache.spark.sql.DataFrame) = src
          .withColumn("row_str", concat_ws("|",
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("cents"),
            datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
              .cast("long"),
            col("o_orderpriority")))
          .withColumn("h", graft.functions.TextHash.poly_fold(col("row_str"), Dedup.P))
          .groupBy(expr("o_orderkey div 64").as("bucket"))
          .agg(count(lit(1)).as("n"), sum(col("h")).as("dig"))
        val o = t(s, d, "orders").withColumn("cents",
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))
        val a = digest(o)
        val b = digest(o.filter(col("o_orderkey") % 101 =!= 0)
          .withColumn("cents", when(col("o_orderkey") % 97 === 0,
            col("cents") + 1).otherwise(col("cents"))))
        a.select(col("bucket"), col("n").as("n_a"), col("dig").as("dig_a"))
          .join(b.select(col("bucket"), col("n").as("n_b"), col("dig").as("dig_b")),
            Seq("bucket"), "full_outer")
          .filter(col("n_a").isNull || col("n_b").isNull ||
            col("n_a") =!= col("n_b") || col("dig_a") =!= col("dig_b"))
          .withColumn("change",
            when(col("n_a").isNull, "only_b").when(col("n_b").isNull, "only_a")
              .when(col("n_a") =!= col("n_b"), "count").otherwise("content"))
          .orderBy("bucket")
      },
      {
        def canon(filter: String, patch: Boolean) = {
          val cents = if (patch)
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END"
          else "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
          s"""SELECT o_orderkey // 64 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(${QueriesLlm.duckFold("concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
            s"$cents, date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)), o_orderpriority)")}) AS BIGINT) AS dig
             |FROM orders $filter GROUP BY bucket""".stripMargin
        }
        s"""WITH a AS (${canon("", patch = false)}),
           |b AS (${canon("WHERE o_orderkey % 101 <> 0", patch = true)})
           |SELECT COALESCE(a.bucket, b.bucket) AS bucket,
           |  a.n AS n_a, b.n AS n_b, a.dig AS dig_a, b.dig AS dig_b,
           |  CASE WHEN a.bucket IS NULL THEN 'only_b'
           |       WHEN b.bucket IS NULL THEN 'only_a'
           |       WHEN a.n <> b.n THEN 'count' ELSE 'content' END AS change
           |FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
           |WHERE a.bucket IS NULL OR b.bucket IS NULL
           |   OR a.n <> b.n OR a.dig <> b.dig
           |ORDER BY bucket""".stripMargin
      }),

    // RFM customer segmentation (Hughes 1994; the classic marketing
    // cohort cube): per customer, Recency = days from last order to the
    // dataset horizon, Frequency = order count, Monetary = exact cents
    // through the DECIMAL ladder; each metric quintiled 1-5 (R inverted:
    // 5 = most recent) and customers rolled up by their 3-digit RFM
    // code. The quintile needs a GLOBAL rank per metric — the scale
    // hazard — so ranks come from Shuffle.globalRowNumber's two-level
    // prefix-sum (range-bucketed key, per-bucket windows, the one
    // unpartitioned window on the ≤64-row bucket-count table), never a
    // single-partition window over all customers. Quintile boundaries
    // are exact rank arithmetic (1 + (5·(rank−1)) div n), so the oracle
    // replays them from plain row_number.
    "rfm_segment" -> QueryDef(
      (s, d) => {
        import graft.ops.llm.Shuffle
        val rfm = t(s, d, "orders").groupBy("o_custkey").agg(
          min(datediff(lit("1998-12-31").cast("date"), col("o_orderdate").cast("date")))
            .cast("long").as("recency_days"),
          count(lit(1)).as("frequency"),
          (sum(col("o_totalprice").cast(DecimalType(18, 2))) * 100)
            .cast("long").as("monetary_cents"))
        val ranked = Shuffle.globalRowNumber(
          Shuffle.globalRowNumber(
            Shuffle.globalRowNumber(rfm, "recency_days", "o_custkey", 4000L, 64)
              .withColumnRenamed("pos", "r_rank"),
            "frequency", "o_custkey", 1000000L, 64)
            .withColumnRenamed("pos", "f_rank"),
          "monetary_cents", "o_custkey", 1000000000000L, 64)
          .withColumnRenamed("pos", "m_rank")
        val tot = rfm.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("segment", expr(
            """(5 - ((5 * (r_rank - 1)) div n)) * 100 +
              |(1 + ((5 * (f_rank - 1)) div n)) * 10 +
              |(1 + ((5 * (m_rank - 1)) div n))""".stripMargin))
          .groupBy("segment").agg(
            count(lit(1)).as("n_customers"),
            sum(col("monetary_cents")).as("monetary_cents"))
          .orderBy("segment")
      },
      """WITH rfm AS (SELECT o_custkey,
        |    CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31'))
        |      AS BIGINT) AS recency_days,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS monetary_cents
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT monetary_cents,
        |    CAST(row_number() OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_rank,
        |    CAST(row_number() OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_rank,
        |    CAST(row_number() OVER (ORDER BY monetary_cents, o_custkey) AS BIGINT) AS m_rank,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM rfm),
        |q AS (SELECT monetary_cents,
        |    (5 - ((5 * (r_rank - 1)) // n)) * 100 +
        |    (1 + ((5 * (f_rank - 1)) // n)) * 10 +
        |    (1 + ((5 * (m_rank - 1)) // n)) AS segment
        |  FROM r)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(monetary_cents) AS BIGINT) AS monetary_cents
        |FROM q GROUP BY segment ORDER BY segment""".stripMargin),

    // TPC-H Q5-shaped 6-table star with the LOCAL-supplier predicate
    // (customer and supplier share a nation) — the join-ordering stress
    // test of the relational surface: two broadcast dims (nation,
    // region), a selective region + order-year filter that must push
    // into the scans, and the fact⋈orders⋈customer⋈supplier chain left
    // to Catalyst/AQE to order. Revenue on the exact DECIMAL ladder;
    // deterministic (revenue desc, n_name) output.
    "star_local_revenue" -> QueryDef(
      (s, d) => t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(year(col("o_orderdate")) === 1995),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name")),
      s"""SELECT n_name,
         |  ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND EXTRACT(year FROM o_orderdate) = 1995
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // Market-basket association rules (Agrawal-Imielinski-Swami 1993) over
    // orders-as-baskets: top-20 co-purchased part pairs with support,
    // both directional confidences and lift — the cross-sell screen and
    // the classic frequent-itemset primitive at pair depth. Pair
    // generation by double explode inside each order's sorted item list
    // (baskets are naturally small — ~7 lines in TPC-H — so no DF cap is
    // needed; a cap would go on the LIST SIZE if baskets could grow),
    // never an all-pairs part join; metrics are IEEE divisions of exact
    // BIGINTs in the same op order on both engines.
    "basket_rules" -> QueryDef(
      (s, d) => {
        val items = t(s, d, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        val baskets = items.groupBy("o")
          .agg(sort_array(collect_list(col("p"))).as("ps"))
        val pairs = baskets.filter(size(col("ps")) >= 2)
          .select(posexplode(col("ps")).as(Seq("__i", "a")), col("ps"))
          .select(col("a"),
            explode(expr("slice(ps, __i + 2, size(ps))")).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        val top = pairs.orderBy(col("n_ab").desc, col("a"), col("b")).limit(20)
        val cnt = items.groupBy("p").agg(count(lit(1)).as("n"))
        val nOrders = items.select(col("o")).distinct().count()
        top
          .join(cnt.select(col("p").as("a"), col("n").as("n_a")), "a")
          .join(cnt.select(col("p").as("b"), col("n").as("n_b")), "b")
          .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
            round(col("n_ab").cast("double") / lit(nOrders.toDouble), 6).as("support"),
            round(col("n_ab").cast("double") / col("n_a"), 6).as("conf_a_b"),
            round(col("n_ab").cast("double") / col("n_b"), 6).as("conf_b_a"),
            round(col("n_ab").cast("double") * lit(nOrders.toDouble) /
              (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
          .orderBy(col("n_ab").desc, col("a"), col("b"))
      },
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pr AS (SELECT i1.p AS a, i2.p AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |       FROM items i1 JOIN items i2 ON i1.o = i2.o AND i1.p < i2.p
        |       GROUP BY 1, 2),
        |top AS (SELECT * FROM pr ORDER BY n_ab DESC, a, b LIMIT 20),
        |cnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY p),
        |no AS (SELECT CAST(COUNT(DISTINCT o) AS DOUBLE) AS nord FROM items)
        |SELECT a, b, n_ab, ca.n AS n_a, cb.n AS n_b,
        |  round(CAST(n_ab AS DOUBLE) / nord, 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / ca.n, 6) AS conf_a_b,
        |  round(CAST(n_ab AS DOUBLE) / cb.n, 6) AS conf_b_a,
        |  round(CAST(n_ab AS DOUBLE) * nord / (CAST(ca.n AS DOUBLE) * cb.n), 6) AS lift
        |FROM top JOIN cnt ca ON ca.p = top.a JOIN cnt cb ON cb.p = top.b
        |CROSS JOIN no ORDER BY n_ab DESC, a, b""".stripMargin),

    // TPC-H Q17-shaped correlated-subquery decorrelation: per-brand
    // yearly revenue from SMALL-QUANTITY line items (quantity below 20%
    // of the part's own average) — the "would we save by dropping
    // small-lot orders?" screen, and the optimizer shape where a
    // correlated per-part average MUST become a pre-aggregation joined
    // back (one extra partkey-keyed shuffle) instead of a per-row
    // subquery. The threshold compare clears the average's denominator:
    // qty < 0.2·(sumq/cnt) ⟺ 5·qty·cnt < sumq — exact BIGINTs, no
    // IEEE boundary anywhere (quantities are integral). Revenue on the
    // exact DECIMAL ladder; only the final /7.0 is IEEE, identical both
    // engines.
    "small_qty_revenue" -> QueryDef(
      (s, d) => {
        val pf = t(s, d, "part")
          .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
          .select(col("p_partkey"), col("p_brand"))
        // brand filter FIRST (broadcast), so the per-part threshold table
        // rides only qualifying parts — the decorrelated agg never
        // aggregates the parts the outer query will drop
        val li = t(s, d, "lineitem")
          .join(broadcast(pf), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("p_brand"),
            col("l_quantity").cast("long").as("qty"), col("l_extendedprice"))
        val th = li.groupBy("l_partkey")
          .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sumq"))
        li.join(th, "l_partkey")
          .filter(lit(5L) * col("qty") * col("cnt") < col("sumq"))
          .groupBy("p_brand")
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            count(lit(1)).as("n_items"),
            (dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
          .orderBy("p_brand")
      },
      s"""WITH pf AS (SELECT p_partkey, p_brand FROM part
         |  WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')),
         |li AS (SELECT l_partkey, p_brand, CAST(l_quantity AS BIGINT) AS qty,
         |    l_extendedprice
         |  FROM lineitem JOIN pf ON l_partkey = p_partkey),
         |th AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(qty) AS BIGINT) AS sumq
         |  FROM li GROUP BY 1)
         |SELECT p_brand, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM li JOIN th USING (l_partkey)
         |WHERE 5 * qty * cnt < sumq
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // TPC-H Q2-shaped correlated-MIN decorrelation: for each small part,
    // the suppliers who quoted its minimum observed price — the
    // "= (SELECT MIN ...)" correlated-equality shape, decorrelated into
    // a per-part MIN joined back with an equality filter (ties all
    // qualify, each supplier counted once per part via the pair
    // distinct). Completes the decorrelation trio: threshold-vs-average
    // (Q17), double EXISTS (Q21), correlated equality (this).
    // Deterministic (wins desc, suppkey) cut; price equality compares
    // the STORED doubles — no arithmetic, no boundary.
    "cheapest_supplier" -> QueryDef(
      (s, d) => {
        val li = t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")
            .filter(col("p_size") <= 5).select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
        val mn = li.groupBy("l_partkey").agg(min(col("l_extendedprice")).as("mn"))
        li.join(mn, "l_partkey")
          .filter(col("l_extendedprice") === col("mn"))
          .select(col("l_partkey"), col("l_suppkey")).distinct()
          .groupBy("l_suppkey").agg(count(lit(1)).as("wins"))
          .join(broadcast(t(s, d, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("wins"))
          .orderBy(col("wins").desc, col("s_suppkey")).limit(20)
      },
      """WITH li AS (SELECT l_partkey, l_suppkey, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 5),
        |mn AS (SELECT l_partkey, MIN(l_extendedprice) AS mn FROM li GROUP BY 1),
        |w AS (SELECT DISTINCT li.l_partkey, l_suppkey
        |      FROM li JOIN mn ON mn.l_partkey = li.l_partkey
        |      WHERE l_extendedprice = mn),
        |c AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS wins FROM w GROUP BY 1)
        |SELECT s_suppkey, s_name, wins
        |FROM c JOIN supplier ON s_suppkey = l_suppkey
        |ORDER BY wins DESC, s_suppkey LIMIT 20""".stripMargin),

    // Partition-pruned scan over a DATE-PARTITIONED copy of events — the
    // other half of the storage-layout story next to
    // bucket_join_colocated: at 100 TB, partition pruning is how a
    // one-day query skips 99% of the table before a single row is read.
    // The events copy is written partitioned by event date once per
    // dataset and reused by later sessions and JVMs (CacheDirs); the
    // query filters one calendar week and the plan pin asserts the
    // filter lands in PartitionFilters (directory pruning), not as a
    // post-scan predicate over every file. Values equal the plain
    // filtered aggregate; the oracle computes from the base table.
    "partition_pruned_scan" -> QueryDef(
      (s, d) => {
        partitionedEvents(s, d)
          .filter(col("event_date").between("2024-01-08", "2024-01-14"))
          .groupBy("event_date", "event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_date", "event_type")
      },
      s"""SELECT CAST(ts AS DATE) AS event_date, event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n, ${dsumSql("value")} AS sum_value
         |FROM events
         |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Co-located fact⋈fact join over BUCKETED tables — the 100 TB answer
    // to "this join shuffles both sides every night": both tables are
    // written bucketed+sorted on the join key once per dataset (8
    // buckets, a CacheDirs copy reused across sessions — parquet's
    // analog of the reference's absent secondary indexes), and every
    // join on that key reads pre-partitioned scans: the ONLY exchange left in the plan is
    // the final 5-row aggregate's (plan-pinned — a shuffled join here is
    // a silent 2× nightly cost). Values identical to the plain join by
    // construction; the oracle computes it from the base tables.
    "bucket_join_colocated" -> QueryDef(
      (s, d) => {
        val (orders, lineitem) = bucketedTables(s, d)
        orders.join(lineitem, "k")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"))
          .orderBy("o_orderpriority")
      },
      s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${dsumSql("l_extendedprice*(1-l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q13-shaped customer distribution: how many customers placed
    // exactly k orders, INCLUDING the zero-order customers — the shape
    // whose whole point is the LEFT OUTER join feeding a double
    // aggregation (an inner join silently drops the k=0 bucket, the
    // largest one in any real funnel). Priority filter on the orders
    // side (inside the outer join, not a post-filter — semantics
    // differ); all counts BIGINT; deterministic (custdist desc, k desc)
    // order.
    "cust_order_dist" -> QueryDef(
      (s, d) => {
        val per = t(s, d, "customer")
          .join(t(s, d, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
        per.groupBy("c_count").agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      """WITH per AS (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM per GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q21-shaped double correlation: suppliers who were the SOLE
    // late supplier on a finished multi-supplier order — the classic
    // EXISTS (another supplier) + NOT EXISTS (another late supplier)
    // pair over the same fact, decorrelated into ONE per-order
    // aggregation: n_suppliers ≥ 2 ∧ n_late_suppliers = 1 is exactly
    // the two correlated subqueries' conjunction, and the sole late
    // supplier surfaces as max(late ? suppkey) under that guard.
    // Lateness = shipped > 60 days after order date, exact timestamp
    // arithmetic; all counts BIGINT; deterministic (numwait desc,
    // suppkey) cut.
    "late_sole_supplier" -> QueryDef(
      (s, d) => {
        val j = t(s, d, "lineitem")
          .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
              .as("late"))
        // collapse to (order, supplier) pairs FIRST — one combinable agg;
        // a double countDistinct over the raw fact would run the
        // two-phase distinct expansion twice over every line item
        val pairs = j.groupBy("l_orderkey", "l_suppkey")
          .agg(max(col("late")).as("late"))
        val per = pairs.groupBy("l_orderkey").agg(
          count(lit(1)).as("ns"),
          sum(when(col("late"), 1L).otherwise(0L)).as("nl"),
          max(when(col("late"), col("l_suppkey"))).as("late_supp"))
        per.filter(col("ns") >= 2 && col("nl") === 1)
          .join(broadcast(t(s, d, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("late_supp") === col("s_suppkey"))
          .groupBy("s_suppkey", "s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey")).limit(20)
      },
      """WITH j AS (SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |per AS (SELECT l_orderkey,
        |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ns,
        |    CAST(COUNT(DISTINCT CASE WHEN late THEN l_suppkey END) AS BIGINT) AS nl,
        |    MAX(CASE WHEN late THEN l_suppkey END) AS late_supp
        |  FROM j GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM per JOIN supplier ON late_supp = s_suppkey
        |WHERE ns >= 2 AND nl = 1
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin)
  )
}
