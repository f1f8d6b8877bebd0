package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/**
 * Whole-operator custom plan (SURVEY §4.3 / builder brief preference (c)):
 * top-k rows per group as a first-class operator — LogicalPlan node +
 * planner Strategy + physical exec; [[TopKPerGroup.apply]] adds the
 * strategy to the session's extraStrategies.
 *
 * Why it exists: the Window(row_number) ≤ k formulation must fully SORT
 * every group (O(n log n) per group, full materialization before the
 * filter). This exec keeps a k-element bounded heap per group — O(n log k)
 * time, O(groups × k) memory — the shape that survives groups with millions
 * of rows at 100 TB. Distribution requirement is ClusteredDistribution on
 * the group keys, so EnsureRequirements inserts exactly one hash shuffle,
 * same as the window formulation.
 */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroup {
  /** DataFrame-level entry: top `k` rows of `df` per `groupCols`, ranked by
    * `orderBy` (column name, ascending?) with later columns as tiebreaks.
    * Equivalent to row_number() over (partition by g order by o) <= k. */
  def apply(df: DataFrame, groupCols: Seq[String],
            orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy
    }
    val g = groupCols.map(UnresolvedAttribute(_))
    val o = orderBy.map { case (c, asc) =>
      SortOrder(UnresolvedAttribute(c), if (asc) Ascending else Descending)
    }
    GraftShims.ofRows(spark, TopKPerGroup(g, o, k, GraftShims.analyzedPlan(df)))
  }
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val orderCopy = order
    val groupCopy = groupExprs
    val kCopy = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupCopy, schema)
      // codegen'd total ordering implementing the SortOrder semantics
      val ordering: Ordering[InternalRow] = new LazilyGeneratedOrdering(orderCopy, schema)
      // max-heap under `ordering`: head = worst retained row of the group
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(heap) =>
            if (heap.size < kCopy) heap += row.copy()
            else if (ordering.lt(row, heap.head)) { heap.dequeue(); heap += row.copy() }
          case None =>
            val heap = mutable.PriorityQueue.empty[InternalRow](ordering)
            heap += row.copy()
            heaps.put(key.copy(), heap)
        }
      }
      heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}
