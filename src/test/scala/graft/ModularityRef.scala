package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DataFrame form of graph_modularity, the reference
  * [[graft.ops.GraphAnalytics.modularityDF]] is checked against: joins
  * and aggregates over the member edges and the labels.
  */
object ModularityRef {

  /** Newman's Q per community of the labels `lbl` (id, community) over
    * the member edges `member` (src, dst), in exact 4m² units.
    */
  def modularity(member: DataFrame, lbl: DataFrame): DataFrame = {
    val m = member.count() // one scalar, the |E| every Q term shares
    val deg = member.select(col("src").as("a"))
      .unionAll(member.select(col("dst").as("a")))
      .groupBy("a").agg(count(lit(1)).as("d"))
    val eIn = member
      .join(lbl.select(col("id").as("src"), col("community").as("ca")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val ds = lbl.join(deg, lbl("id") === deg("a"), "left")
      .groupBy("community").agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("d"), lit(0L))).as("d_sum"))
    ds.join(eIn, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        (lit(4L * m) * coalesce(col("e_in"), lit(0L))
          - col("d_sum") * col("d_sum")).as("q_units"))
      .withColumn("q", round(col("q_units").cast("double")
        / lit((4L * m * m).toDouble), 6))
      .orderBy("community")
  }
}
