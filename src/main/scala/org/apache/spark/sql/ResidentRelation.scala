package org.apache.spark.sql

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{Filter, HintInfo, JoinHint, LogicalPlan,
  Repartition, SHUFFLE_HASH, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** A driver-resident relation: an immutable driver value held by
  * reference as Spark's own `LogicalRDD` leaf, so Catalyst plans it like
  * any scanned relation and never sees its rows.
  *
  *  - Statistics come from the row count.
  *  - Up to [[RowsPerSlice]] rows it is one `SinglePartition` slice, so an
  *    aggregate over it needs no exchange, and [[oneStageJoins]] runs
  *    equi-joins over such leaves in one stage, with no exchange and no
  *    broadcast.
  *  - Building the frame runs no job and converts nothing: the rows become
  *    `UnsafeRow` slices when a job first scans the leaf.
  *  - [[valueOf]] returns the value from the analyzed plan, with no
  *    collect and no job, so a reader decides its route for free;
  *    [[filtered]] does the same under deterministic filters and hands
  *    the reader their key values and their condition.
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

  /** `df` with each equi-join whose sides read only one-slice resident
    * leaves hinted as a shuffled hash join on the side with fewer leaf rows
    * that its join type can build: it runs in its scans' stage with no
    * exchange and no broadcast job. A side that joins or unions is coalesced
    * to one partition, as Spark re-shuffles a nested join's partitioning. */
  def oneStageJoins(df: DataFrame): DataFrame = {
    def rows(side: LogicalPlan): Option[BigInt] = {
      val leaves = side.collectLeaves()
      val oneSlice = leaves.forall {
        case l: LogicalRDD => l.rdd.isInstanceOf[ResidentRDD] && l.outputPartitioning == SinglePartition
        case _ => false
      }
      if (oneSlice) Some(leaves.flatMap(_.stats.rowCount).sum) else None
    }
    def single(side: LogicalPlan): LogicalPlan =
      if (side.exists(_.children.size > 1)) Repartition(1, shuffle = false, side) else side
    val (build, shuffleHash) = (new JoinSelectionHelper {}, Some(HintInfo(Some(SHUFFLE_HASH))))
    val plan = df.queryExecution.analyzed
    val hinted = plan.transformUp {
      case j @ ExtractEquiJoinKeys(joinType, _, _, _, _, left, right, JoinHint.NONE) =>
        (rows(left), rows(right)) match {
          case (Some(l), Some(r)) =>
            val (canLeft, canRight) = (build.canBuildShuffledHashJoinLeft(joinType),
              build.canBuildShuffledHashJoinRight(joinType))
            val hint = if (canLeft && (l <= r || !canRight)) Some(JoinHint(shuffleHash, None))
              else if (canRight) Some(JoinHint(None, shuffleHash)) else None
            hint.fold(j)(h => j.copy(left = single(left), right = single(right), hint = h))
          case _ => j
        }
    }
    if (hinted eq plan) df
    else classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession], hinted)
  }

  /** The value `df` holds when it is exactly a resident relation; no job. */
  def valueOf(df: Dataset[_]): Option[AnyRef] =
    filtered(df).collect { case f if f.conditions.isEmpty => f.value }

  /** `df` when its analyzed plan is a chain of deterministic,
    * subquery-free `Filter`s (possibly none) over a resident relation;
    * no job. */
  def filtered(df: Dataset[_]): Option[Filtered] = {
    @annotation.tailrec
    def walk(p: LogicalPlan, conds: List[Expression]): Option[Filtered] = p match {
      case Filter(c, child) if c.deterministic && !SubqueryExpression.hasSubquery(c) =>
        walk(child, c :: conds)
      case l: LogicalRDD => l.rdd match {
        case r: ResidentRDD => Some(new Filtered(r.value, l.output, conds))
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.analyzed, Nil)
  }

  /** A resident relation's value under the filter `conditions` (over the
    * leaf's `output`) that [[filtered]] read off a plan. */
  final class Filtered private[ResidentRelation] (val value: AnyRef, output: Seq[Attribute],
      private[ResidentRelation] val conditions: Seq[Expression]) {

    /** The string values that the conjuncts `column = 'v'` and
      * `column IN ('v', ...)` pin `column` to, intersected; None when no
      * conjunct pins it. Every row that passes the filters has its
      * `column` in the set, so the set only narrows. */
    def keys(column: String): Option[Set[String]] =
      output.find(a => a.name == column && a.dataType == StringType).flatMap { k =>
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conjuncts(l) ++ conjuncts(r)
          case o => Seq(o)
        }
        def pins(a: Attribute, vs: Seq[Expression]): Option[Set[Any]] =
          if (a.semanticEquals(k) && vs.forall {
            case l: Literal => l.dataType == StringType
            case _ => false
          }) Some(vs.map(_.eval()).toSet)
          else None
        conditions.flatMap(conjuncts).flatMap {
          case EqualTo(a: Attribute, l: Literal) => pins(a, Seq(l))
          case EqualTo(l: Literal, a: Attribute) => pins(a, Seq(l))
          case In(a: Attribute, ls) => pins(a, ls)
          case InSet(a: Attribute, hs) if a.semanticEquals(k) => Some(hs)
          case _ => None
        }.reduceOption(_ intersect _)
          .map(_.collect { case s: org.apache.spark.unsafe.types.UTF8String => s.toString })
      }

    /** The whole filter condition, interpreted, as a test of a row in the
      * leaf's schema (external types); always true without filters. */
    def test: Row => Boolean = conditions.reduceOption(And) match {
      case None => _ => true
      case Some(c) =>
        val p = Predicate.createInterpreted(BindReferences.bindReference(c, output))
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(
          DataTypeUtils.fromAttributes(output))
        r => p.eval(toCatalyst(r).asInstanceOf[InternalRow])
    }
  }

  /** A column's value and type when it is a literal (Spark 4's `Column`
    * holds a `ColumnNode`, not an expression). */
  def literalOf(c: Column): Option[(Any, DataType)] =
    classic.ColumnNodeToExpressionConverter(c.node) match {
      case l: Literal => Some((CatalystTypeConverters.convertToScala(l.value, l.dataType), l.dataType))
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
