package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Splits MIXED-function empty-PARTITION-BY Window nodes so the
  * global-window operator family composes automatically — the
  * inverse of CollapseWindow for the one shape where collapsing is a
  * scale pessimization.
  *
  * The most natural phrasing of a corpus-global report,
  *
  * {{{ SELECT rank() OVER (ORDER BY d), sum(x) OVER (ORDER BY d) … }}}
  *
  * analyzes to ONE Window node holding both functions (the analyzer
  * groups window expressions by spec). Each family rewrite
  * ([[GlobalRankRewrite]], [[GroupedRunningAggRewrite]],
  * [[GroupedOffsetRewrite]], [[GlobalAggRewrite]]) fires only when
  * EVERY expression in the node belongs to its class — a deliberate
  * guard (a half-rewritten node would compute the rest natively over
  * a second funnel) — so the mixed node matches none of them and the
  * whole corpus funnels through a single task: exactly the
  * scale-killer the family exists to delete, reachable by the most
  * common query phrasing.
  *
  * This rule runs in the same fixed-point batch and splits such a
  * node by FUNCTION CLASS, emitting the family's logical nodes
  * directly — one [[GlobalRankNode]] / zero-key
  * [[GroupedRunningAggNode]] / zero-key [[GroupedOffsetNode]] per
  * present class, stacked over the child.
  * Emitting custom nodes rather than single-class Window nodes is
  * load-bearing: CollapseWindow runs in the same batch and would
  * re-merge adjacent spec-compatible Window nodes, fighting the
  * split to a fixed-point standoff; the custom nodes are invisible
  * to it. The one exception is the full-frame aggregate class
  * (`sum(x) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
  * UNBOUNDED FOLLOWING)` — order-insensitive by construction), which
  * is re-emitted as an order-FREE `Window(…, Nil, Nil, …)` at the
  * BOTTOM of the stack: [[GlobalAggRewrite]] consumes that shape in
  * a later iteration of the same batch, and bottom placement keeps
  * its subtree duplication to the raw child rather than replaying
  * the stacked operators in the aggregate leg. (No Window adjacent
  * to it shares its empty spec, so CollapseWindow cannot re-merge
  * it either.) Since r18 the bounded SLIDING ROWS class stacks
  * [[SlidingAggNode]] into the same pile — its exec requires the
  * identical `OrderedDistribution(order)`, and the split honors its
  * minBytes lever and boundary-VALUE traffic guard.
  *
  * All three custom execs require `OrderedDistribution(order)` over
  * the SAME order, so the stack shares ONE range exchange (the q45
  * composition, produced automatically); the r16 tie-chaining makes
  * that sharing safe under any legal finer partitioning. A Project
  * restores the original output column order (the stack groups
  * columns by class; downstream references bind by exprId, but the
  * node may be the query's top, where schema column ORDER is
  * user-visible).
  *
  * Tie contract: the tie-STABLE functions (rank/dense_rank/
  * percent_rank/cume_dist, RANGE-frame running aggregates, full-frame
  * aggregates) are bit-identical to the native mixed node under any
  * ties. The tie-ARBITRARY functions (row_number/ntile/lag/lead)
  * keep their per-function contract — a valid-but-arbitrary choice
  * within each tie group, the same contract the native plan and the
  * single-class operators already carry (TieSplitSpec pins it) — but
  * the split gives up CROSS-function tie consistency: the native
  * single task evaluates every function over one incidental row
  * order, while the split's operators each re-stream the shared
  * shuffle in separate passes whose equal-key merge order may
  * differ, so `row_number()` and `lag(x)` in one SELECT may resolve
  * the same tie differently. No SQL contract promises that
  * consistency (it is unspecified even across two separate native
  * queries), and any query needing it should make the order total —
  * which also makes every function deterministic.
  *
  * Scope guards: the split fires only when every window expression
  * is claimed by exactly one class AND that class's own rewrite is
  * enabled (splitting a class that would stay native just adds
  * exchanges in front of the same funnel) AND ≥ 2 distinct classes
  * are present (single-class nodes are the family rewrites' own
  * match, untouched here). Per-class support predicates are the
  * family rewrites' OWN matchers — the split can never claim an
  * expression the downstream rewrite would then bail on. Order and
  * subtree determinism and the non-streaming child requirement are
  * the family's standing two-jobs-one-shuffle guards; the boundary
  * byte-traffic guard ([[PlanGuards.boundaryTrafficOk]]) applies as
  * it does in each family rewrite, and the value-shipping classes keep
  * their own minBytes levers and boundary-VALUE guards (the offset
  * class's is [[GroupedOffsetRewrite.trafficOk]], the very function its
  * single-class rewrite calls). Kill switch:
  * `spark.graft.globalWindowSplit.enabled=false`.
  */
object GlobalWindowSplit extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.globalWindowSplit.enabled"

  private def confOn(key: String): Boolean =
    SQLConf.get.getConfString(key, "true").toBoolean

  private def sameExprs(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.semanticEquals(y) }

  private val FullRowFrame =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)

  /** The full-frame VALUE must be provably ORDER-INSENSITIVE before
    * the split may drop the node's order from its spec: Catalyst's
    * `deterministic` flag is NOT sufficient — First/Last/collect_list
    * all report deterministic=true while their value depends on input
    * order (their scaladocs say so; the flag only tracks rand()-style
    * nondeterminism), so `first(x) OVER (ORDER BY o ROWS BETWEEN
    * UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)` rewritten
    * order-free would aggregate in arbitrary partition order and
    * CHANGE the result. Whitelist of commutative-merge aggregates
    * whose value is a pure function of the input MULTISET (float
    * summation associativity remains the documented GlobalAgg
    * caveat); everything else keeps the whole node native. Shared
    * with [[GroupedAggRewrite]]/[[GroupedWindowSplit]] (r18), whose
    * grouped full-frame class must prove the same property before
    * dropping the node's order. */
  private[plans] def orderInsensitive(fn: AggregateFunction): Boolean = fn match {
    case _: Sum | _: Count | _: Min | _: Max | _: Average => true
    case _: CentralMomentAgg | _: Corr | _: Covariance => true
    case _: BitAggregate => true
    case _: HyperLogLogPlusPlus => true
    case _ => false
  }

  /** GlobalAggRewrite's class, phrased WITH the node's order: a
    * deterministic, non-DISTINCT, unfiltered, ORDER-INSENSITIVE
    * aggregate over the full-partition frame. The value then ignores
    * the order entirely (the frame covers the whole partition and the
    * multiset is all that matters), so the split re-emits it on an
    * order-free spec with a normalized ROWS full frame — exactly the
    * shape [[GlobalAggRewrite.apply]] consumes. */
  private def fullAgg(e: NamedExpression, order: Seq[SortOrder]): Option[NamedExpression] =
    e match {
      case a @ Alias(WindowExpression(ae: AggregateExpression,
          WindowSpecDefinition(Nil, o2,
            SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing))), _)
          if sameExprs(o2, order) && !ae.isDistinct && ae.filter.isEmpty &&
            ae.deterministic && orderInsensitive(ae.aggregateFunction) =>
        Some(a.copy(child = WindowExpression(ae,
          WindowSpecDefinition(Nil, Nil, FullRowFrame)))(
          exprId = a.exprId, qualifier = a.qualifier,
          explicitMetadata = a.explicitMetadata,
          nonInheritableMetadataKeys = a.nonInheritableMetadataKeys))
      case _ => None
    }

  /** One window expression claimed by exactly one family class, or
    * None (unsupported anywhere → the whole node stays native). */
  private sealed trait Claimed
  private case class CRank(fn: (Attribute, GlobalRankFn)) extends Claimed
  private case class CRunning(fn: RunningFn) extends Claimed
  private case class COffset(fn: OffsetFn) extends Claimed
  private case class CFullAgg(e: NamedExpression) extends Claimed
  private case class CSliding(fn: SlidingFn) extends Claimed
  private case class CRangeSliding(fn: RangeSlidingFn) extends Claimed

  private def classify(
      e: NamedExpression,
      order: Seq[SortOrder],
      offsetCap: Int,
      extentCap: Int): Option[Claimed] =
    RankFnMatch.supported(e, Nil, order, allowLong = true).map(CRank.apply)
      .orElse(GroupedRunningAggRewrite.supported(e, Nil, order).map(CRunning.apply))
      .orElse(GroupedOffsetRewrite.supported(e, Nil, order, offsetCap).map(COffset.apply))
      .orElse(fullAgg(e, order).map(CFullAgg.apply))
      // r18: bounded sliding ROWS frames — SlidingAggExec requires the
      // same OrderedDistribution(order), so the class stacks on the
      // shared exchange like the rest (structurally disjoint matchers:
      // literal bounds vs UnboundedPreceding vs full frames vs
      // frame-less offsets)
      .orElse(SlidingAggRewrite.supported(e, Nil, order, extentCap).map(CSliding.apply))
      // r19: bounded RANGE-VALUE frames — the row-halo operator shares
      // the same OrderedDistribution(order); claimable only when the
      // node's order is in the operator's recorded scope (single ASC
      // NULLS FIRST integral/date/timestamp), else the member stays
      // unclaimed and the whole node native
      .orElse(RangeSlidingAggRewrite.supported(e, Nil, order)
        .filter(_ => RangeSlidingAggRewrite.orderOk(order)).map(CRangeSliding.apply))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!confOn(ConfKey)) return plan
    val offsetCap = GroupedOffsetRewrite.maxOffset
    val extentCap =
      SQLConf.get.getConfString(SlidingAggRewrite.MaxExtentKey, "128").toInt
    plan.transformUp {
      case w @ LogicalWindow(wexprs, Nil, order, child, _)
          if order.nonEmpty && wexprs.length >= 2 && !child.isStreaming &&
            order.forall(_.deterministic) &&
            PlanGuards.subtreeDeterministic(child) &&
            PlanGuards.boundaryTrafficOk(order) =>
        val claims = wexprs.map(classify(_, order, offsetCap, extentCap))
        if (claims.exists(_.isEmpty)) w
        else {
          val claimed = claims.flatten
          val ranks = claimed.collect { case CRank(f) => f }
          val runnings = claimed.collect { case CRunning(f) => f }
          val offsets = claimed.collect { case COffset(f) => f }
          val fullAggs = claimed.collect { case CFullAgg(e) => e }
          val slidings = claimed.collect { case CSliding(f) => f }
          val rangeSlidings = claimed.collect { case CRangeSliding(f) => f }
          val classes = Seq[Seq[Any]](ranks, runnings, offsets, fullAggs,
            slidings, rangeSlidings).count(_.nonEmpty)
          val allEnabled =
            (ranks.isEmpty || confOn(GlobalRankRewrite.ConfKey)) &&
              (runnings.isEmpty || confOn(GroupedRunningAggRewrite.ConfKey)) &&
              (offsets.isEmpty || confOn(GroupedOffsetRewrite.ConfKey)) &&
              (fullAggs.isEmpty || confOn(GlobalAggRewrite.ConfKey)) &&
              (slidings.isEmpty || confOn(SlidingAggRewrite.ConfKey)) &&
              (rangeSlidings.isEmpty || confOn(RangeSlidingAggRewrite.ConfKey))
          // the sliding class carries its own minBytes lever and
          // boundary-VALUE traffic guard — the split must not force
          // the operator past either (the single-class node would
          // have stayed native there)
          val slidingOk = slidings.isEmpty || {
            val extent = slidings.map(f => math.max(0, -f.lo)).max +
              slidings.map(f => math.max(0, f.hi)).max
            child.stats.sizeInBytes >= SlidingAggRewrite.minBytes &&
              PlanGuards.valueTrafficOk("GlobalWindowSplit/sliding",
                slidings.flatMap(_.fn.references.toSeq).distinct, Nil,
                math.max(extent, 1))
          }
          // A full-agg class is only worth splitting out if
          // GlobalAggRewrite will actually consume the re-emitted
          // Window — its one structural bail is a child the exprId
          // freshener cannot deep-copy (subquery expressions,
          // unknown produced-attribute nodes). Splitting past that
          // bail would leave a NATIVE AllTuples Window at the stack
          // bottom: the funnel survives AND the operators above pay
          // a new exchange — strictly worse than not splitting. The
          // check mirrors the rewrite exactly: peel first (r19).
          val fullAggPlannable = fullAggs.isEmpty || ExprIdFreshener.freshen(
            AggLegPeel.peel(child, AttributeSet(fullAggs.flatMap(_.references)))
          ).isDefined
          // the RANGE-value and running classes honor their own
          // minBytes levers
          val rangeOk = rangeSlidings.isEmpty ||
            child.stats.sizeInBytes >= RangeSlidingAggRewrite.minBytes
          val runningOk = runnings.isEmpty ||
            child.stats.sizeInBytes >= GroupedRunningAggRewrite.minBytes
          // the offset class honors its r21 small-input gate and its
          // boundary-VALUE traffic guard — past either the single-class
          // node would stay native, so the split must not force the
          // operator (the grouped split's rule)
          val offsetOk = offsets.isEmpty ||
            (child.stats.sizeInBytes >= GroupedOffsetRewrite.minBytes &&
              GroupedOffsetRewrite.trafficOk("GlobalWindowSplit/offset", offsets, Nil))
          if (classes < 2 || !allEnabled || !fullAggPlannable || !slidingOk ||
              !rangeOk || !runningOk || !offsetOk) w
          else {
            logInfo(s"GlobalWindowSplit: splitting a mixed global window " +
              s"(${ranks.size} rank, ${runnings.size} running-agg, " +
              s"${offsets.size} offset, ${fullAggs.size} full-frame-agg, " +
              s"${slidings.size} sliding, ${rangeSlidings.size} range-sliding " +
              s"functions) into $classes stacked operator nodes")
            var cur: LogicalPlan = child
            if (fullAggs.nonEmpty) cur = LogicalWindow(fullAggs, Nil, Nil, cur)
            if (rangeSlidings.nonEmpty) cur = RangeSlidingAggNode(Nil, order, rangeSlidings, cur)
            if (slidings.nonEmpty) cur = SlidingAggNode(Nil, order, slidings, cur)
            if (runnings.nonEmpty) cur = GroupedRunningAggNode(Nil, order, runnings, cur)
            if (offsets.nonEmpty) cur = GroupedOffsetNode(Nil, order, offsets, cur)
            if (ranks.nonEmpty) cur = GlobalRankNode(order, ranks, cur)
            Project(w.output, cur)
          }
        }
    }
  }
}
