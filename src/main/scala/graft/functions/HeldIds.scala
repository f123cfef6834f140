package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType}

/** A BIGINT id set held on the driver as one sorted, distinct primitive
  * array — the traversal frontier and visited set while they fit the
  * broadcast limit ([[graft.ops.Traverse]]). Executors see it through one
  * broadcast variable made on first use: a binary search inside a scan
  * ([[contains]]) or the set itself as a one-column frame ([[toDF]]).
  * Neither runs a Spark job, unlike a broadcast join of a local relation,
  * whose exchange first runs a job to collect the relation.
  */
final class HeldIds private (spark: SparkSession, val ids: Array[Long]) {

  def rows: Long = ids.length.toLong

  private lazy val listed: Broadcast[Array[Long]] = spark.sparkContext.broadcast(ids)

  /** `c IN ids` as one binary search per row; NULL stays NULL. */
  def contains(c: Column): Column =
    GraftShim.column(LongSetContains(GraftShim.expression(c), listed))

  /** The set as an `id` column: a range of array indexes mapped through
    * the broadcast array, so the planner sees an exact row count. */
  def toDF: DataFrame = {
    val slices = math.max(1, (ids.length / HeldIds.RowsPerSlice).toInt)
    spark.range(0L, ids.length.toLong, 1L, slices).select(GraftShim.column(
      LongArrayAt(GraftShim.expression(col("id")), listed)).as("id"))
  }

  /** The ids not in `other` (a sorted merge). */
  def diff(other: HeldIds): HeldIds = {
    val (a, b) = (ids, other.ids)
    val out = new Array[Long](a.length)
    var (i, j, n) = (0, 0, 0)
    while (i < a.length) {
      while (j < b.length && b(j) < a(i)) j += 1
      if (j >= b.length || b(j) != a(i)) { out(n) = a(i); n += 1 }
      i += 1
    }
    new HeldIds(spark, java.util.Arrays.copyOf(out, n))
  }

  /** The ids in this set or in `other` (a sorted merge). */
  def union(other: HeldIds): HeldIds = {
    val (a, b) = (ids, other.ids)
    val out = new Array[Long](a.length + b.length)
    var (i, j, n) = (0, 0, 0)
    while (i < a.length || j < b.length) {
      val x = if (j >= b.length || (i < a.length && a(i) <= b(j))) a(i) else b(j)
      if (i < a.length && a(i) == x) i += 1
      if (j < b.length && b(j) == x) j += 1
      out(n) = x; n += 1
    }
    new HeldIds(spark, java.util.Arrays.copyOf(out, n))
  }
}

object HeldIds {

  /** Indexes per partition of [[HeldIds.toDF]]. */
  private val RowsPerSlice: Long = 1L << 20

  /** The distinct ids of `xs`, sorted in place. */
  def apply(spark: SparkSession, xs: Array[Long]): HeldIds = {
    java.util.Arrays.sort(xs)
    var n = 0
    for (i <- xs.indices) if (i == 0 || xs(i) != xs(i - 1)) { xs(n) = xs(i); n += 1 }
    new HeldIds(spark, if (n == xs.length) xs else java.util.Arrays.copyOf(xs, n))
  }
}

/** `child IN set` for a broadcast sorted id array. The generated code
  * reads the broadcast value once per task into a field. */
case class LongSetContains(child: Expression, set: Broadcast[Array[Long]])
    extends UnaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"long_set_contains expects BIGINT input, got ${t.sql}")
  }

  override def prettyName: String = "long_set_contains"

  @transient private lazy val values = set.value

  override def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(values, v.asInstanceOf[Long]) >= 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("heldIds", set, classOf[Broadcast[_]].getName)
    val values = ctx.addMutableState("long[]", "heldIdValues",
      v => s"$v = (long[]) $ref.value();")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($values, $c) >= 0")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `arr[child]` for a broadcast id array and an in-range BIGINT index. */
case class LongArrayAt(child: Expression, arr: Broadcast[Array[Long]])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"long_array_at expects a BIGINT index, got ${t.sql}")
  }

  override def prettyName: String = "long_array_at"

  @transient private lazy val values = arr.value

  override def nullSafeEval(i: Any): Any = values(i.asInstanceOf[Long].toInt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("heldIds", arr, classOf[Broadcast[_]].getName)
    val values = ctx.addMutableState("long[]", "heldIdValues",
      v => s"$v = (long[]) $ref.value();")
    defineCodeGen(ctx, ev, i => s"$values[(int) $i]")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
