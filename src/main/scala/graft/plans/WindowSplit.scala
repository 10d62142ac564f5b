package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Splits MIXED-function Window nodes, with or without partition keys,
  * so the window-operator family composes automatically — the inverse
  * of CollapseWindow for the one shape where collapsing is a scale
  * pessimization.
  *
  * The most natural phrasing of a corpus-global or per-key report,
  *
  * {{{ SELECT rank()   OVER ([PARTITION BY g] ORDER BY o),
  *            sum(x)   OVER ([PARTITION BY g] ORDER BY o) … }}}
  *
  * analyzes to ONE Window node holding both functions (the analyzer
  * groups window expressions by spec). Each family rewrite
  * ([[GroupedRankRewrite]], [[GroupedRunningAggRewrite]],
  * [[GroupedOffsetRewrite]], [[GroupedAggRewrite]],
  * [[SlidingAggRewrite]], [[RangeSlidingAggRewrite]]) fires only when
  * EVERY expression in the node belongs to its class — a deliberate
  * guard (a half-rewritten node would compute the rest natively over a
  * second funnel) — so the mixed node matches none of them and plans
  * fully native: the single-task AllTuples funnel without keys, the
  * group-count ceiling with the largest group through one task with
  * keys — exactly the shapes the family exists to delete, reachable by
  * the most common query phrasing.
  *
  * This rule runs in the same fixed-point batch and splits such a node
  * by FUNCTION CLASS, emitting the family's logical nodes directly —
  * one [[GroupedRankNode]] / [[GroupedRunningAggNode]] /
  * [[GroupedOffsetNode]] / [[SlidingAggNode]] / [[RangeSlidingAggNode]]
  * per present class, stacked over the child. Emitting custom nodes
  * rather than single-class Window nodes is load-bearing:
  * CollapseWindow runs in the same batch and would re-merge adjacent
  * spec-compatible Window nodes, fighting the split to a fixed-point
  * standoff; the custom nodes are invisible to it. The one exception
  * is the full-frame aggregate class (`sum(x) OVER ([PARTITION BY g]
  * ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
  * FOLLOWING)`, order-insensitive by construction), which is
  * re-emitted as an order-FREE `Window(…, part, Nil, …)` at the BOTTOM
  * of the stack: [[GroupedAggRewrite]] consumes that shape in a later
  * iteration of the same batch, and bottom placement keeps its
  * duplicated aggregate leg to the raw child rather than replaying the
  * stacked operators. (No Window adjacent to it shares its order-free
  * spec, so CollapseWindow cannot re-merge it either.)
  *
  * Every stacked exec requires the IDENTICAL
  * `OrderedDistribution(part-asc ++ order)` (each canonicalizes the
  * partition keys to Ascending/NullsFirst ahead of the frame order), so
  * the stack shares ONE range exchange (the q45 composition, produced
  * automatically); the tie-chaining of every operator makes that
  * sharing safe under any legal finer partitioning. A Project restores
  * the original output column order (the stack groups columns by
  * class; downstream references bind by exprId, but the node may be the
  * query's top, where schema column ORDER is user-visible).
  *
  * Tie contract: the tie-STABLE functions (rank/dense_rank/
  * percent_rank/cume_dist, RANGE-frame running aggregates, full-frame
  * aggregates) are bit-identical to the native mixed node under any
  * ties. The tie-ARBITRARY functions (row_number/ntile/lag/lead,
  * ROWS-frame running first/min-by-order idioms) keep their
  * per-function contract — a valid-but-arbitrary choice within each
  * tie run, the same contract the native plan and the single-class
  * operators already carry (TieSplitSpec pins it) — but the split
  * gives up CROSS-function tie consistency: the native single task
  * evaluates every function over one incidental row order, while the
  * split's operators each re-stream the shared shuffle in separate
  * passes whose equal-key merge order may differ, so `row_number()` and
  * `lag(x)` in one SELECT may resolve the same tie differently. No SQL
  * contract promises that consistency (it is unspecified even across
  * two separate native queries), and a total ORDER BY restores it
  * (README documents the caveat next to the rule's exclusion).
  *
  * Scope guards are the families' own, conjoined: every window
  * expression claimed by exactly one class via the family rewrites'
  * OWN matchers (the split can never claim an expression the
  * downstream rewrite would then bail on); at least TWO classes
  * present (single-class nodes are the family rewrites' own match);
  * no PRESENT class's rewrite in `spark.sql.optimizer.excludedRules`
  * (splitting a class that would stay native just adds exchanges in
  * front of the same funnel); the family's ordered-window guard
  * ([[PlanGuards.OrderedWindow]]); the boundary
  * byte-traffic guard ([[PlanGuards.boundaryTrafficOk]]) on
  * (part ++ order); the child must clear every present family's
  * `minBytes` threshold — below it the single-class node would stay
  * native, so the split forcing the operator would override the
  * deployment's own cost lever; the value-shipping classes keep their
  * boundary-VALUE guards (the offset class's is
  * [[GroupedOffsetRewrite.trafficOk]], the very function its
  * single-class rewrite calls); and a full-agg class additionally
  * requires the child to be exprId-freshenable ([[ExprIdFreshener]]) —
  * splitting past the agg rewrite's one structural bail would leave a
  * NATIVE window at the stack bottom: the funnel survives AND the
  * operators above pay a new exchange, strictly worse than not
  * splitting. Excluding `graft.plans.WindowSplit` turns the split off.
  */
object WindowSplit extends Rule[LogicalPlan] {

  private val FullRowFrame =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)

  /** One window expression claimed by exactly one family class, or
    * None (unsupported anywhere → the whole node stays native). */
  private sealed trait Claimed
  private case class CRank(fn: (Attribute, GlobalRankFn)) extends Claimed
  private case class CRunning(fn: RunningFn) extends Claimed
  private case class COffset(fn: OffsetFn) extends Claimed
  private case class CFullAgg(e: NamedExpression) extends Claimed
  private case class CSliding(fn: SlidingFn) extends Claimed
  private case class CRangeSliding(fn: RangeSlidingFn) extends Claimed

  /** The full-frame aggregate class, re-emitted on an order-free spec
    * with a normalized ROWS full frame — exactly the shape
    * [[GroupedAggRewrite]] consumes.
    * Order-insensitivity is proven by the multiset whitelist inside
    * [[GroupedAggRewrite.supported]], so dropping the node's order
    * here cannot change the value. */
  private def fullAgg(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder]): Option[NamedExpression] =
    GroupedAggRewrite.supported(e, part, order).map { case (a, ae) =>
      a.copy(child = WindowExpression(ae,
        WindowSpecDefinition(part, Nil, FullRowFrame)))(
        exprId = a.exprId, qualifier = a.qualifier,
        explicitMetadata = a.explicitMetadata,
        nonInheritableMetadataKeys = a.nonInheritableMetadataKeys)
    }

  /** The matchers are structurally disjoint (rank-family functions vs
    * running frames vs frame-less offsets vs full frames vs literal
    * bounds vs RANGE-value bounds). */
  private def classify(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder],
      offsetCap: Int,
      extentCap: Int): Option[Claimed] =
    RankFnMatch.supported(e, part, order, allowLong = part.isEmpty).map(CRank.apply)
      .orElse(GroupedRunningAggRewrite.supported(e, part, order).map(CRunning.apply))
      .orElse(GroupedOffsetRewrite.supported(e, part, order, offsetCap).map(COffset.apply))
      .orElse(fullAgg(e, part, order).map(CFullAgg.apply))
      .orElse(SlidingAggRewrite.supported(e, part, order, extentCap).map(CSliding.apply))
      // bounded RANGE-VALUE frames are claimable only when the node's
      // order is in the operator's recorded scope (single ASC NULLS
      // FIRST integral/date/timestamp), else the member stays
      // unclaimed and the whole node native
      .orElse(RangeSlidingAggRewrite.supported(e, part, order)
        .filter(_ => RangeSlidingAggRewrite.orderOk(order)).map(CRangeSliding.apply))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformUp {
      case w @ PlanGuards.OrderedWindow(wexprs, part, order, child)
          if wexprs.length >= 2 && PlanGuards.boundaryTrafficOk(order, part) =>
        val extentCap =
          SQLConf.get.getConfString(SlidingAggRewrite.MaxExtentKey, "128").toInt
        val offsetCap = GroupedOffsetRewrite.maxOffset
        val claims = wexprs.map(classify(_, part, order, offsetCap, extentCap))
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
          val allEnabled = Seq[(Seq[Any], Rule[LogicalPlan])](
            ranks -> GroupedRankRewrite, runnings -> GroupedRunningAggRewrite,
            offsets -> GroupedOffsetRewrite, fullAggs -> GroupedAggRewrite,
            slidings -> SlidingAggRewrite, rangeSlidings -> RangeSlidingAggRewrite)
            .forall { case (fns, rule) => fns.isEmpty || !ExcludedRules.contains(rule) }
          // each present family's OWN accessor, so a family's default
          // (e.g. the offset class's `auto` gate) cannot drift between
          // its single-class rewrite and the split
          val bigEnough = child.stats.sizeInBytes >= Seq(
            if (ranks.nonEmpty) GroupedRankRewrite.minBytes else 0L,
            if (runnings.nonEmpty) GroupedRunningAggRewrite.minBytes else 0L,
            if (offsets.nonEmpty) GroupedOffsetRewrite.minBytes else 0L,
            if (fullAggs.nonEmpty) GroupedAggRewrite.minBytes else 0L,
            if (slidings.nonEmpty) SlidingAggRewrite.minBytes else 0L,
            if (rangeSlidings.nonEmpty) RangeSlidingAggRewrite.minBytes else 0L).max
          // mirrors the agg rewrite's own bail exactly: peel the
          // would-be aggregate leg first (r19)
          val fullAggPlannable = fullAggs.isEmpty || ExprIdFreshener.freshen(
            AggLegPeel.peel(child,
              AttributeSet(part.flatMap(_.references)) ++
                AttributeSet(fullAggs.flatMap(_.references)))).isDefined
          // the sliding class's own boundary-VALUE traffic guard — the
          // split must not force the operator past it
          val slidingOk = slidings.isEmpty || {
            val extent = slidings.map(f => math.max(0, -f.lo)).max +
              slidings.map(f => math.max(0, f.hi)).max
            PlanGuards.valueTrafficOk("WindowSplit/sliding",
              slidings.flatMap(_.fn.references.toSeq).distinct, part,
              math.max(extent, 1))
          }
          // the offset class's own boundary-VALUE traffic guard — the
          // single-class rewrite's, ignoreNulls rings included
          val offsetOk = offsets.isEmpty ||
            GroupedOffsetRewrite.trafficOk("WindowSplit/offset", offsets, part)
          if (classes < 2 || !allEnabled || !bigEnough || !fullAggPlannable ||
              !slidingOk || !offsetOk) w
          else {
            logInfo(s"WindowSplit: splitting a mixed window " +
              s"(${ranks.size} rank, ${runnings.size} running-agg, " +
              s"${offsets.size} offset, ${fullAggs.size} full-frame-agg, " +
              s"${slidings.size} sliding, ${rangeSlidings.size} range-sliding " +
              s"functions over ${part.size} partition keys) into $classes " +
              "stacked operator nodes")
            var cur: LogicalPlan = child
            if (fullAggs.nonEmpty) cur = LogicalWindow(fullAggs, part, Nil, cur)
            if (rangeSlidings.nonEmpty) cur = RangeSlidingAggNode(part, order, rangeSlidings, cur)
            if (slidings.nonEmpty) cur = SlidingAggNode(part, order, slidings, cur)
            if (runnings.nonEmpty) cur = GroupedRunningAggNode(part, order, runnings, cur)
            if (offsets.nonEmpty) cur = GroupedOffsetNode(part, order, offsets, cur)
            if (ranks.nonEmpty) cur = GroupedRankNode(part, order, ranks, cur)
            Project(w.output, cur)
          }
        }
    }
  }
}
