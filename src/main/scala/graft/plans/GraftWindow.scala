package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** The logical contract of the ordered-window operators (rank,
  * running aggregate, offset, sliding, range-sliding): the child's
  * rows plus one column per function, over `part` keys (possibly
  * empty) and a non-empty `order`. Each node supplies the attributes
  * it appends (same exprIds as the window expressions its rewrite
  * replaced, so downstream references bind unchanged) and what its
  * functions read from the child. */
trait GraftWindowNode extends UnaryNode {
  def part: Seq[Expression]
  def order: Seq[SortOrder]
  def fnAttrs: Seq[Attribute]
  /** The function inputs. The functions live in case classes that
    * QueryPlan's product scan does not descend into, so without them
    * in [[references]] ColumnPruning would drop input columns that are
    * neither part nor order keys. */
  def fnReferences: AttributeSet

  override def output: Seq[Attribute] = child.output ++ fnAttrs
  override def producedAttributes: AttributeSet = AttributeSet(fnAttrs)
  override def references: AttributeSet =
    AttributeSet(part.flatMap(_.references)) ++
      AttributeSet(order.flatMap(_.references)) ++ fnReferences
  override def maxRows: Option[Long] = child.maxRows
}

/** The physical contract of the same five operators. Partition keys
  * are promoted Ascending/NullsFirst ahead of the frame order
  * (direction is irrelevant to results: groups only need co-location
  * and contiguity), so every member requires the identical
  * `OrderedDistribution(part-asc ++ order)` and a stack of them (a
  * [[WindowSplit]] pile) shares ONE range exchange. At zero keys this
  * is the global form's `OrderedDistribution(order)`. */
trait GraftWindowExec extends UnaryExecNode {
  def part: Seq[Expression]
  def order: Seq[SortOrder]
  def fnAttrs: Seq[Attribute]

  private def fullOrder: Seq[SortOrder] = part.map(SortOrder(_, Ascending)) ++ order

  override def output: Seq[Attribute] = child.output ++ fnAttrs
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(fullOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(fullOrder)
  override def outputOrdering: Seq[SortOrder] = fullOrder
  override def outputPartitioning: Partitioning = child.outputPartitioning
}

/** Plans every graft logical node (the one strategy
  * [[graft.functions.GraftExtensions]] registers). */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(group, order, k, rankAttr, child, ties) =>
      val partial = TopKPartialExec(group, order, k, planLater(child), ties)
      TopKFinalExec(group, order, k, rankAttr, partial, ties) :: Nil
    case GroupedRankNode(part, order, fns, child) =>
      GroupedRankExec(part, order, fns, planLater(child)) :: Nil
    case GroupedRunningAggNode(part, order, fns, child) =>
      GroupedRunningAggExec(part, order, fns, planLater(child)) :: Nil
    case GroupedOffsetNode(part, order, fns, child) =>
      GroupedOffsetExec(part, order, fns, planLater(child)) :: Nil
    case SlidingAggNode(part, order, fns, child) =>
      SlidingAggExec(part, order, fns, planLater(child)) :: Nil
    case RangeSlidingAggNode(part, order, fns, child) =>
      RangeSlidingAggExec(part, order, fns, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** The graft rewrites have no on/off confs: a rule is turned off
  * through Spark's own `spark.sql.optimizer.excludedRules`, a
  * comma-separated list of `Rule.ruleName`s such as
  * `graft.plans.GroupedRankRewrite`, which the optimizer reads on
  * every run. */
object ExcludedRules {
  val Key: String = SQLConf.OPTIMIZER_EXCLUDED_RULES.key

  private def names(value: Option[String]): Seq[String] =
    value.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Whether the session excludes `rule` (a rule that builds another
    * rule's nodes, like [[WindowSplit]], asks this first). */
  def contains(rule: Rule[_]): Boolean =
    names(SQLConf.get.optimizerExcludedRules).contains(rule.ruleName)

  /** The exclusion list `value` with `rules` added. */
  def plus(value: Option[String], rules: Seq[Rule[_]]): String =
    (names(value) ++ rules.map(_.ruleName)).distinct.mkString(",")
}
