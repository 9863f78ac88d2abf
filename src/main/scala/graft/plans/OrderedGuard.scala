package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, InterpretedOrdering, NullsFirst, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** A verified ordering ASSERTION node (round 13, incremental sorted
  * compaction): declares to the planner that its input is already
  * sorted by `order` (ascending, nulls first — `sortWithinPartitions`
  * semantics) within every partition, and PROVES it at execution time
  * by checking each row against its predecessor while streaming
  * through. The first out-of-order pair aborts the job with
  * [[OrderedGuardViolation]] — the claim can never silently poison a
  * downstream consumer (e.g. a manifest ordering report over files
  * that are not actually sorted).
  *
  * Why it exists: a storage-partitioned full-outer sort-merge resolve
  * over a pk-sorted base emits every partition already in
  * (constant-bucket, pk) order, but Catalyst cannot see that — the SMJ
  * reports (pk…, bucket) while the partitioned parquet write requires
  * (bucket) first, so the writer plans a REDUNDANT per-partition sort
  * whose spill-merge does not even preserve the pk order of equal
  * bucket keys. This node re-states the ordering in the
  * bucket-first form the write needs; `RemoveRedundantSorts` then
  * elides the writer's SortExec. Verification costs one small key
  * projection + comparison per row — O(rows) CPU against the O(rows
  * log rows) spill-prone sort it replaces, and it turns a planner
  * surprise (a hash join where the merge join was expected) into a
  * loud typed failure instead of a corrupt table.
  */
class OrderedGuardViolation(message: String)
    extends IllegalStateException(message)

case class OrderedGuardNode(child: LogicalPlan, order: Seq[Attribute])
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): OrderedGuardNode =
    copy(child = newChild)
}

class OrderedGuardStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case OrderedGuardNode(child, order) =>
      OrderedGuardExec(order, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Pass-through exec: claims `order` as its output ordering, keeps the
  * child's partitioning, and verifies the claim row-by-row. No
  * required child ordering — requiring it would make EnsureRequirements
  * insert exactly the sort this node exists to avoid.
  */
case class OrderedGuardExec(order: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    order.map(a => SortOrder(a, Ascending, NullsFirst, Seq.empty))

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = order.map(a =>
      BindReferences.bindReference(a: org.apache.spark.sql.catalyst.expressions.Expression,
        childOutput))
    val keyNames = order.map(_.name)
    child.execute().mapPartitions { it =>
      // compare on a narrow key projection (copied — sort/scan
      // iterators reuse row buffers), never the full row
      val keyProj = UnsafeProjection.create(keyExprs)
      val keyOrdering = new InterpretedOrdering(
        order.zipWithIndex.map { case (a, i) =>
          SortOrder(BoundReference(i, a.dataType, a.nullable),
            Ascending, NullsFirst, Seq.empty)
        })
      var prev: InternalRow = null
      it.map { row =>
        val key = keyProj(row)
        if (prev != null && keyOrdering.compare(prev, key) > 0)
          throw new OrderedGuardViolation(
            s"OrderedGuard(${keyNames.mkString(", ")}): partition " +
              s"${org.apache.spark.TaskContext.getPartitionId()} is not " +
              s"sorted — row with key $key follows a row with key $prev. " +
              "The upstream plan did not produce the ordering this write " +
              "assumed; falling back to an explicit sort is required.")
        prev = key.copy()
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OrderedGuardExec =
    copy(child = newChild)
}

object OrderedGuard {

  /** Assert (and verify at runtime) that `df` is already sorted by
    * `cols` within every partition. The returned frame plans with that
    * ordering; a false claim fails the job with
    * [[OrderedGuardViolation]] instead of writing misordered output.
    */
  def assertSorted(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    graft.core.GraftExtensions.requireStrategy(spark, classOf[OrderedGuardStrategy],
      "ordering assertions")
    val plan = df.queryExecution.analyzed
    val attrs = cols.map(c => plan.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"OrderedGuard: no column '$c' in (${plan.output.map(_.name).mkString(", ")})")))
    org.apache.spark.sql.graft.Bridge.ofRows(spark, OrderedGuardNode(plan, attrs))
  }
}
