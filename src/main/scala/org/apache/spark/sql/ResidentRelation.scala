package org.apache.spark.sql

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** A driver-resident relation: an immutable driver value held by
  * reference as Spark's own `LogicalRDD` leaf, so Catalyst plans it like
  * any scanned relation and never sees its rows.
  *
  *  - Statistics come from the row count, so a join against it can
  *    broadcast.
  *  - Up to [[RowsPerSlice]] rows it is one `SinglePartition` slice, so an
  *    aggregate or a join of two such leaves needs no exchange.
  *  - Building the frame runs no job and converts nothing: the rows become
  *    `UnsafeRow` slices when a job first scans the leaf.
  *  - [[valueOf]] returns the value from the analyzed plan, with no
  *    collect and no job, so a reader decides its route for free.
  *
  * `LogicalRDD` compares by RDD identity, so two frames over one value are
  * the same relation only when they share the leaf. Lives in this package
  * for `classic.Dataset.ofRows`.
  */
object ResidentRelation {

  /** Rows per partition: a smaller relation scans as one task, a larger
    * one spreads up to the default parallelism. */
  val RowsPerSlice: Int = 1 << 16

  /** A frame over `value`, whose `rowCount` rows (in `schema`'s external
    * types) `rows` yields when a job first scans it. */
  def apply(spark: SparkSession, value: AnyRef, schema: StructType, rowCount: Long)(
      rows: => Iterator[Row]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val sc = session.sparkContext
    val slices = math.max(1L, math.min(sc.defaultParallelism.toLong, rowCount / RowsPerSlice + 1)).toInt
    val output = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(
      sizeInBytes = (EstimationUtils.getSizePerRow(output) * rowCount).max(1),
      rowCount = Some(BigInt(rowCount)))
    val leaf = LogicalRDD(output, new ResidentRDD(sc, value, schema, slices, () => rows),
      if (slices == 1) SinglePartition else UnknownPartitioning(slices))(session, Some(stats))
    classic.Dataset.ofRows(session, leaf)
  }

  /** The value `df` holds when it is exactly a resident relation; no job. */
  def valueOf(df: Dataset[_]): Option[AnyRef] = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd match {
      case r: ResidentRDD => Some(r.value)
      case _ => None
    }
    case _ => None
  }
}

/** The RDD under a [[ResidentRelation]]: holds the driver value, and on
  * first use converts its rows into `slices` partitions of `UnsafeRow`s.
  * Only a partition's own rows travel with its task. */
private[sql] final class ResidentRDD(sc: SparkContext, @transient val value: AnyRef,
    schema: StructType, slices: Int, @transient rows: () => Iterator[Row])
    extends RDD[InternalRow](sc, Nil) {

  override protected def getPartitions: Array[Partition] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val project = UnsafeProjection.create(schema)
    val all = rows().map(r => project(toCatalyst(r).asInstanceOf[InternalRow]).copy()).toArray
    val per = (all.length + slices - 1) / slices
    Array.tabulate[Partition](slices)(i =>
      new ResidentRDD.Slice(i, all.slice(i * per, math.min(all.length, (i + 1) * per))))
  }

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    split.asInstanceOf[ResidentRDD.Slice].rows.iterator
}

private[sql] object ResidentRDD {
  final class Slice(val index: Int, val rows: Array[UnsafeRow]) extends Partition
}
