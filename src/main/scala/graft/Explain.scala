package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Plan-audit tool: prints the formatted physical plan of selected queries
  * (all, if no names given) so pushdown/broadcast/codegen properties can be
  * inspected. `runMain graft.Explain <sfDir> [name...]`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Queries.all.keys.toSeq
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(Queries.all(n).fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case NonFatal(e) => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
