package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: materialize the once-per-dataset derived caches (fact-edge
  * parquet, bucketed undirected adjacency) for a dataset, printing
  * per-entry build seconds — so probe sessions measure SERVE cost against committed caches and the
  * build cost is recorded explicitly (the BENCHNOTES build/serve split,
  * VERDICT r14 #7 discipline applied to the probe tiers).
  *
  * Usage: BuildCaches <sfDir> [steps=graph,adj]
  */
object BuildCaches {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val steps = args.lift(1).map(_.split(",").toSet).getOrElse(Set("graph", "adj"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAXPART", "134217728"))
      .config("spark.sql.session.timeZone", "UTC")
      // near-limit traversal frontiers (Traverse.broadcastRowLimit = 25M
      // ids ≈ 400-600 MB collected) exceed the 1g default (ADVICE r15 #1)
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
    // GRAFT_BUILD_ZSTD=1: zstd for shuffle AND the written parquet — the
    // d3-tier cache builds are disk-bound on a single host (the sf100
    // adjacency's 2.4B-row exchange wrote 35 GB lz4 + ~16 GB snappy
    // output against ~50 GB free and died); zstd cuts both ~35%. Readers
    // auto-detect parquet compression per page, so consumers are
    // unaffected. Off by default: probe/bench sessions stay on lz4.
    val spark = (if (sys.env.contains("GRAFT_BUILD_ZSTD"))
      builder.config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[build] $name%-10s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
    }
    if (steps("graph"))
      timed("graph")(graft.model.DerivedGraph.warm(spark, sfDir))
    if (steps("adj"))
      timed("adj")(graft.model.DerivedGraph.undAdjacency(spark, sfDir)
        .byBucket.count())
    spark.stop()
  }
}
