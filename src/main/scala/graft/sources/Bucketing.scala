package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support: co-located joins and aggregations without a
  * shuffle (SURVEY.md §4.3 "repartition/bucketing for co-located joins").
  *
  * At 100 TB the dominant cost of a fact⋈fact join is shuffling both sides
  * on the key; writing both tables bucketed (and sorted) by that key makes
  * every subsequent join/aggregation on it shuffle-free — the scan itself
  * delivers the partitioning. This is the parquet-table analog of the
  * reference's (absent) secondary indexes.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed parquet table. */
  def saveBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Join two tables bucketed on `key` — planner sees compatible output
    * partitioning on both scans and elides the exchanges.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
