package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge for third-party Catalyst expressions: Spark 4 made the
  * Column↔Expression adapters `private[sql]`, so extension libraries expose
  * them through a shim in this package — the conventional pattern for
  * Spark-native extensions.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Session-scoped SQL function registration (sessionState is
    * `private[sql]` in Spark 4's classic API).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A frame over `rows` that declares them range-partitioned and sorted
    * ascending on the column `key`: every key of partition i is below
    * every key of partition i + 1, and each partition is sorted. An
    * `orderBy` on the key then plans no exchange and no sort, and a
    * groupBy on it no exchange. The caller guarantees the layout; a wrong
    * declaration returns wrong rows.
    */
  def rangeSortedFrame(spark: SparkSession, schema: StructType, rows: RDD[InternalRow],
      key: String): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val output = DataTypeUtils.toAttributes(schema)
    val order = Seq(SortOrder(output.find(_.name == key).get, Ascending))
    classic.Dataset.ofRows(s,
      LogicalRDD(output, rows, RangePartitioning(order, rows.getNumPartitions), order)(s))
  }

  /** Up to `p` − 1 strictly increasing bounds that cut the weighted
    * `samples` into `p` ranges of near-equal weight, as Spark's
    * `RangePartitioner` cuts its sample.
    */
  def rangeBounds(samples: Array[(Long, Float)], p: Int): Array[Long] =
    org.apache.spark.RangePartitioner.determineBounds(
      scala.collection.mutable.ArrayBuffer.from(samples), p)

  /** The error of Spark's ANSI division by zero, `[DIVIDE_BY_ZERO]`: a
    * SparkThrowable, so a task that throws it fails the job under its own
    * name.
    */
  def divideByZero(): ArithmeticException = errors.QueryExecutionErrors.divideByZeroError(null)
}
