package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window => LogicalWindow, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Grouped top-k as a first-class operator (SURVEY §2 engine
  * components; the §3 "custom LogicalPlan + Rule + SparkStrategy +
  * SparkPlan" tier): the `filter(row_number().over(partitionBy(g)
  * .orderBy(o)) <= k)` idiom is rewritten by [[TopKRewrite]] into
  * [[TopKPerGroupNode]], planned by [[GraftStrategy]] as a two-phase
  * heap-based physical operator.
  *
  * Why it scales better than the window form: WindowExec must SORT
  * every group completely (O(n log n) per partition, full
  * materialization) before row_number can be filtered; Spark 4's
  * built-in WindowGroupLimit pre-filter still requires that sort on
  * both sides of the shuffle. The heap form keeps only k rows per
  * group at any moment — O(n log k) comparisons, O(groups × k) memory,
  * no sort buffer — and [[TopKPartialExec]] runs BEFORE the shuffle,
  * so at 100 TB the exchange carries at most k rows per (group,
  * input-partition) instead of the full fact table.
  *
  * The rewrite fires on `row_number` and on `rank` (tie-aware: a row
  * qualifies for `rank() <= k` iff fewer than k rows are strictly
  * better, so the kernel keeps boundary ties — the kept set can
  * exceed k rows exactly when the output itself does — and the final
  * phase emits SQL rank semantics with gaps), only on a literal
  * bound, and is turned off by excluding `graft.plans.TopKRewrite`
  * (`spark.sql.optimizer.excludedRules`, the A/B lever the
  * equivalence spec uses).
  */
object TopKRewrite extends Rule[LogicalPlan] {

  /** Integer-valued rank-bound literal: the native Int case, plus the
    * Long literal the analyzer coerces comparisons to when the
    * longRank conf has widened the rank column. */
  private object BoundLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  /** k such that `cond` implies rank <= k, if cond bounds `rank`.
    * None when the bound exceeds Int.MaxValue — a heap of 2^31 rows
    * per group is not a top-k plan; such filters stay on the full
    * ranking operators. */
  private def bound(cond: Expression, rank: Attribute): Option[Int] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val bounds = conjuncts(cond).flatMap {
      case LessThanOrEqual(a: Attribute, BoundLit(v)) if a.semanticEquals(rank) => Some(v)
      case LessThan(a: Attribute, BoundLit(v)) if a.semanticEquals(rank) => Some(v - 1)
      case EqualTo(a: Attribute, BoundLit(v)) if a.semanticEquals(rank) => Some(v)
      case EqualTo(BoundLit(v), a: Attribute) if a.semanticEquals(rank) => Some(v)
      case GreaterThanOrEqual(BoundLit(v), a: Attribute) if a.semanticEquals(rank) => Some(v)
      case GreaterThan(BoundLit(v), a: Attribute) if a.semanticEquals(rank) => Some(v - 1)
      case _ => None
    }
    if (bounds.isEmpty) None
    else Some(bounds.min).filter(_ <= Int.MaxValue.toLong).map(_.toInt)
  }

  /** Matches a Window computing exactly one row_number or rank with
    * the default running row frame; yields (rankAttr, rankLike=ties,
    * partition, order, child). */
  private object RankingWindow {
    def unapply(p: LogicalPlan): Option[(Attribute, Boolean, Seq[Expression], Seq[SortOrder], LogicalPlan)] = p match {
      case LogicalWindow(
          Seq(alias @ Alias(WindowExpression(rankFn,
            WindowSpecDefinition(part, order,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)),
          _, _, child, _) if order.nonEmpty =>
        val ties = rankFn match {
          case RowNumber() => Some(false)
          case _: Rank     => Some(true)
          // the LongType variants the longRank conf swaps in: same
          // kept-set semantics, the final exec emits a 64-bit rank
          // (keyed off the alias attribute's LongType)
          case _: graft.functions.LongRowNumber => Some(false)
          case _: graft.functions.LongRank      => Some(true)
          case _           => None // dense_rank etc.: kept set is unbounded
        }
        ties.map { t =>
          // Spark's own InsertWindowGroupLimit may already have wrapped
          // the child; strip it — its pre-filter pass requires the very
          // sort this operator exists to avoid.
          val grandchild = child match {
            case WindowGroupLimit(_, _, _, _, c) => c
            case c => c
          }
          (alias.toAttribute, t, part, order, grandchild)
        }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case f @ Filter(cond, RankingWindow(rank, ties, part, order, child)) =>
        bound(cond, rank) match {
          case Some(k) if k >= 1 =>
            Filter(cond, TopKPerGroupNode(part, order, k, rank, child, ties))
          case _ => f
        }
      case f @ Filter(cond, Project(projList, RankingWindow(rank, ties, part, order, child)))
          if projList.forall(_.isInstanceOf[Attribute]) =>
        bound(cond, rank) match {
          case Some(k) if k >= 1 =>
            Filter(cond, Project(projList, TopKPerGroupNode(part, order, k, rank, child, ties)))
          case _ => f
        }
    }
  }
}

/** Logical grouped top-k: child's rows, at most k per group in
  * `order`, plus the 1-based `rankAttr` (same exprId as the
  * row_number the rewrite replaced, so downstream references bind). */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan,
    rankLike: Boolean = false) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

/** Shared heap kernel: bounded per-group top-k over a partition.
  * Returns group key → the (unsorted) kept rows.
  *
  * row_number mode (`ties=false`): exactly min(k, n) rows per group —
  * a worse incoming row is dropped, a better one evicts the current
  * worst in O(log k).
  *
  * rank mode (`ties=true`): a row qualifies iff fewer than k rows are
  * strictly better (SQL rank ≤ k), so rows tying the k-th best are
  * kept too. Invariant maintained per group: the heap holds exactly
  * the currently-qualifying rows. An incoming row strictly worse than
  * the heap max (with ≥ k rows held) has ≥ k strict betters → drop; a
  * boundary tie keeps the strict-better count unchanged → keep; a
  * strictly better row is inserted and then whole worst-tie-groups
  * are pruned while ≥ k rows beat them. Memory is k plus the boundary
  * tie group — the size of the operator's own output, the inherent
  * floor for rank semantics. */
private[plans] object TopKKernel {
  def topk(
      it: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ord: Ordering[InternalRow],
      k: Int,
      ties: Boolean): mutable.LinkedHashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]] = {
    // PriorityQueue dequeues the MAX of `ord` = the worst-ranked kept
    // row, so a better incoming row evicts it in O(log k).
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    while (it.hasNext) {
      val row = it.next()
      val key = keyProj(row)
      heaps.get(key) match {
        case None =>
          val pq = mutable.PriorityQueue.empty[InternalRow](ord)
          pq.enqueue(row.copy())
          heaps.put(key.copy(), pq)
        case Some(pq) =>
          if (pq.size < k) pq.enqueue(row.copy())
          else {
            val cmp = ord.compare(row, pq.head)
            if (cmp < 0) {
              if (ties) { pq.enqueue(row.copy()); pruneRank(pq, ord, k) }
              else { pq.dequeue(); pq.enqueue(row.copy()) }
            } else if (cmp == 0 && ties) pq.enqueue(row.copy())
          }
      }
    }
    heaps
  }

  /** Drop whole worst-tie-groups while at least k kept rows are
    * strictly better than them. */
  private def pruneRank(
      pq: mutable.PriorityQueue[InternalRow],
      ord: Ordering[InternalRow],
      k: Int): Unit = {
    var done = false
    while (!done && pq.size > k) {
      val top = pq.dequeue()
      val group = mutable.ArrayBuffer(top)
      while (pq.nonEmpty && ord.compare(pq.head, top) == 0) group += pq.dequeue()
      if (pq.size < k) { // the tie group still qualifies — restore it
        group.foreach(pq.enqueue(_))
        done = true
      } // else: ≥ k strict betters → rank > k → stay dropped, re-check new max
    }
  }
}

/** Map-side phase: shrinks each input partition to ≤ k rows per group
  * before the exchange. No distribution requirement, no rank output —
  * pure data reduction (top-k merge is associative, like a partial
  * aggregate). */
case class TopKPartialExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    rankLike: Boolean = false) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] = {
    val out = child.output
    val group = groupExprs
    val ord = order
    val kk = k
    val ties = rankLike
    child.execute().mapPartitions ({ it =>
      val keyProj = UnsafeProjection.create(group, out)
      val rowOrd = RowOrdering.create(ord, out)
      val toUnsafe = UnsafeProjection.create(out, out)
      TopKKernel.topk(it, keyProj, rowOrd, kk, ties).iterator
        .flatMap(_._2.iterator)
        .map(toUnsafe)
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

/** Reduce-side phase: groups are co-located (clustered distribution →
  * EnsureRequirements inserts the single shuffle), merge the partial
  * top-ks, emit each group's kept rows in rank order with the 1-based
  * rank column — consecutive for row_number, SQL gap semantics
  * (tied rows share a rank, the next distinct value skips) when
  * `rankLike`. */
case class TopKFinalExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan,
    rankLike: Boolean = false) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val out = output
    val group = groupExprs
    val ord = order
    val kk = k
    val ties = rankLike
    // LongType when the longRank conf widened the rank attribute
    val longRank = rankAttr.dataType == LongType
    child.execute().mapPartitions ({ it =>
      val keyProj = UnsafeProjection.create(group, childOut)
      val rowOrd = RowOrdering.create(ord, childOut)
      val toUnsafe = UnsafeProjection.create(out, out)
      val rankRow = new SpecificInternalRow(Seq(if (longRank) LongType else IntegerType))
      val joined = new JoinedRow
      TopKKernel.topk(it, keyProj, rowOrd, kk, ties).iterator.flatMap { case (_, pq) =>
        // dequeue yields worst-first; fill the array back-to-front so
        // index order is rank order
        val rows = new Array[InternalRow](pq.size)
        var i = pq.size - 1
        while (i >= 0) { rows(i) = pq.dequeue(); i -= 1 }
        val ranks = new Array[Int](rows.length)
        var j = 0
        while (j < rows.length) {
          ranks(j) =
            if (ties && j > 0 && rowOrd.compare(rows(j), rows(j - 1)) == 0) ranks(j - 1)
            else j + 1
          j += 1
        }
        rows.iterator.zipWithIndex.map { case (row, idx) =>
          if (longRank) rankRow.setLong(0, ranks(idx).toLong)
          else rankRow.setInt(0, ranks(idx))
          toUnsafe(joined(row, rankRow))
        }
      }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}
