package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared engine query: the Spark implementation plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL the driver's t2 gate
  * hash-compares against (SURVEY.md §2.2).
  *
  * The oracle is a THUNK, evaluated when [[SparkEntry.oracleSql]] is
  * dumped — after every query has run. Most oracles are plain strings
  * (wrapped by the apply overloads below); late-bound oracles replay a
  * FITTED model (e.g. the IVF centroids) by embedding the fitted values
  * as exact literals into generated SQL, which only exist post-run.
  *
  * `fn` is not guaranteed lazy: iterative operators that drive their own
  * loop (k-hop's per-hop frontier counts, graph_walks' one up-front seed
  * count) run Spark jobs AT CONSTRUCTION time — the returned frame
  * is the final iterate, not a deferred plan (ADVICE r15 #5). Callers
  * must treat `fn(spark, dir)` itself as potentially expensive and time
  * construction + action together (Bench/Verify/ScaleProbe all do).
  * A fully lazy DPP hop form measured slower than the per-hop bucket
  * collect (BENCHNOTES r17 lazy DPP entry).
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracleGen: () => Option[String]) {
  def oracle: Option[String] = oracleGen()
}

object QueryDef {
  def apply(fn: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    QueryDef(fn, () => Some(oracle))
  def apply(fn: (SparkSession, String) => DataFrame, oracle: Option[String]): QueryDef =
    QueryDef(fn, () => oracle)
}

/** Shared helpers enforcing the oracle-determinism rules (SURVEY.md §2.2):
  * float aggregates go through exact DECIMAL accumulation (order-independent)
  * and only then back to DOUBLE, so Spark's parallel partial aggregation and
  * DuckDB's sequential scan produce bit-identical results; computed integer
  * columns are always BIGINT on both sides.
  */
object Qh {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.model.Tables(spark, sfDir, name)

  /** Order-independent exact sum of a double expression: cast each value to
    * DECIMAL(18,scale), sum exactly, cast the total back to double. The
    * DuckDB mirror is `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`.
    */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** DuckDB fragment matching [[dsum]]. */
  def dsumSql(x: String, scale: Int = 6): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,$scale))) AS DOUBLE)"
}
