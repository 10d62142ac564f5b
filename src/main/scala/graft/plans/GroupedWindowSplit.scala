package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Splits MIXED-function GROUPED Window nodes onto the two grouped
  * operators — [[GlobalWindowSplit]]'s sibling for nodes WITH
  * partition keys (r18), closing the last window-surface scale hole.
  *
  * The most natural grouped-report phrasing,
  *
  * {{{ SELECT rank()   OVER (PARTITION BY g ORDER BY o),
  *            sum(x)   OVER (PARTITION BY g ORDER BY o) … }}}
  *
  * analyzes to ONE Window node holding both functions.
  * [[GroupedRankRewrite]] and [[GroupedRunningAggRewrite]] each fire
  * only when EVERY expression in the node belongs to their class (a
  * half-rewritten node would still hash-funnel the remainder), so the
  * mixed node matched neither and planned fully native:
  * `ClusteredDistribution(part)` — the GROUP-COUNT parallelism
  * ceiling with the largest group's bytes through one task, the exact
  * shape both operators were built to delete, reachable by a per-key
  * leaderboard-plus-cumulative report.
  *
  * The r14 "mixed grouped stays native" decision predates
  * GroupedRunningAgg: its argument — the non-rank remainder had no
  * operator, so a split pays a second exchange and still funnels —
  * held until r17 gave the running-aggregate class its grouped
  * operator. Since then BOTH grouped execs require the IDENTICAL
  * `OrderedDistribution(part-asc ++ order)` (each canonicalizes the
  * partition keys to Ascending/NullsFirst ahead of the frame order),
  * so a rank+running mix stacks [[GroupedRankNode]] over
  * [[GroupedRunningAggNode]] on ONE shared range exchange — the
  * GlobalWindowSplit composition, grouped. Since r18 the grouped
  * FULL-FRAME aggregate class (`sum(x) OVER (PARTITION BY g)`) splits
  * too: it is re-emitted as an order-FREE grouped Window at the stack
  * BOTTOM, exactly the shape [[GroupedAggRewrite]] consumes in a
  * later iteration of the same fixed-point batch (aggregate +
  * null-safe join-back; bottom placement keeps its duplicated
  * aggregate leg to the raw child rather than replaying the stacked
  * operators), and the bounded SLIDING ROWS class stacks
  * [[SlidingAggNode]] into the same pile — its exec requires the
  * identical `OrderedDistribution(part-asc ++ order)`, and the split
  * honors its minBytes lever and boundary-VALUE traffic guard. Since
  * r20 the OFFSET class (grouped lag/lead) stacks
  * [[GroupedOffsetNode]] too — the r14 "offset-bearing mixes stay
  * native" era ended when the class got its operator (the r19
  * verdict's #1); its exec shares the identical
  * `OrderedDistribution(part-asc ++ order)` and the split honors its
  * maxOffset cap, minBytes lever and boundary-VALUE traffic guard.
  *
  * Emitting the custom logical nodes directly (not single-class
  * Window nodes) is load-bearing for the same reason as in
  * [[GlobalWindowSplit]]: CollapseWindow runs in the same fixed-point
  * batch and would re-merge adjacent spec-compatible Window nodes;
  * the custom nodes are invisible to it. A Project restores the
  * user's output column order (the stack groups columns by class;
  * downstream references bind by exprId, but the node may be the
  * query top where schema order is user-visible).
  *
  * Tie contract — [[GlobalWindowSplit]]'s, scoped per group: the
  * tie-STABLE members (rank/dense_rank/percent_rank/cume_dist,
  * RANGE-frame running aggregates over exact types) are bit-identical
  * to the native mixed node under any ties; tie-ARBITRARY members
  * (row_number/ntile, ROWS-frame running first/min-by-order idioms)
  * keep their per-function contract but give up CROSS-function tie
  * consistency, because the two operators re-stream the shared
  * shuffle in separate passes. No SQL contract promises that
  * consistency; a total ORDER BY restores it (README documents the
  * caveat next to the kill switch).
  *
  * Scope guards are the families' own, conjoined: every window
  * expression claimed by exactly one of the grouped classes via
  * the family rewrites' OWN matchers (the split can never claim an
  * expression the downstream operator would bail on); at least TWO
  * classes present (single-class nodes are the family rewrites' own
  * match); every PRESENT class's family conf enabled; partition keys
  * deterministic AND orderable (they are promoted into
  * RangePartitioning); order and subtree deterministic, non-streaming
  * child (two jobs per operator, one shuffle); the boundary
  * byte-traffic guard on (part ++ order); the child must clear every
  * present family's `minBytes` threshold — below a family's threshold
  * its single-class node would stay native, so the split forcing the
  * operator would override the deployment's own cost lever; and a
  * full-agg class additionally requires the child to be
  * exprId-freshenable ([[ExprIdFreshener]]) — splitting past
  * GroupedAggRewrite's one structural bail would leave a NATIVE
  * hash-clustered Window at the stack bottom: the funnel survives AND
  * the operators above pay a new exchange, strictly worse than not
  * splitting. Kill switch:
  * `spark.graft.groupedWindowSplit.enabled=false`.
  */
object GroupedWindowSplit extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.groupedWindowSplit.enabled"

  private def confOn(key: String): Boolean =
    SQLConf.get.getConfString(key, "true").toBoolean

  /** One window expression claimed by exactly one grouped class, or
    * None (unsupported anywhere → the whole node stays native). The
    * two matchers are structurally disjoint (rank-family window
    * functions vs aggregate/NthValue(,1) running frames); rank is
    * tried first for symmetry with GlobalWindowSplit. allowLong=false:
    * LongRankWiden is a global-window escape hatch — GroupedRankExec
    * emits Int (a 2^31-row GROUP is a pathological key distribution,
    * per its scaladoc). */
  private sealed trait Claimed
  private case class CRank(fn: (Attribute, GlobalRankFn)) extends Claimed
  private case class CRunning(fn: RunningFn) extends Claimed
  private case class COffset(fn: OffsetFn) extends Claimed
  private case class CFullAgg(e: NamedExpression) extends Claimed
  private case class CSliding(fn: SlidingFn) extends Claimed
  private case class CRangeSliding(fn: RangeSlidingFn) extends Claimed

  private val FullRowFrame =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)

  /** [[GroupedAggRewrite]]'s class, re-emitted on an order-free grouped
    * spec with a normalized ROWS full frame — exactly the shape that
    * rewrite consumes. Order-insensitivity is proven by the shared
    * multiset whitelist inside [[GroupedAggRewrite.supported]], so
    * dropping the node's order here cannot change the value. */
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

  private def classify(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder],
      extentCap: Int,
      offsetCap: Int): Option[Claimed] =
    RankFnMatch.supported(e, part, order).map(CRank.apply)
      .orElse(GroupedRunningAggRewrite.supported(e, part, order).map(CRunning.apply))
      // r20: grouped lag/lead — GroupedOffsetExec requires the
      // identical OrderedDistribution(part-asc ++ order), stacking on
      // the shared exchange; ends the r14 "any offset member keeps
      // the whole node native" era now the class has its operator
      .orElse(GroupedOffsetRewrite.supported(e, part, order, offsetCap).map(COffset.apply))
      .orElse(fullAgg(e, part, order).map(CFullAgg.apply))
      // r18: bounded sliding ROWS frames — SlidingAggExec requires the
      // identical OrderedDistribution(part-asc ++ order), stacking on
      // the shared exchange like the two grouped operators
      .orElse(SlidingAggRewrite.supported(e, part, order, extentCap).map(CSliding.apply))
      // r19: bounded RANGE-VALUE frames — the row-halo operator shares
      // the identical OrderedDistribution(part-asc ++ order); claimable
      // only when the node's order is in the operator's recorded scope
      .orElse(RangeSlidingAggRewrite.supported(e, part, order)
        .filter(_ => RangeSlidingAggRewrite.orderOk(order)).map(CRangeSliding.apply))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!confOn(ConfKey)) return plan
    plan.transformUp {
      case w @ LogicalWindow(wexprs, part, order, child, _)
          if part.nonEmpty && order.nonEmpty && wexprs.length >= 2 &&
            !child.isStreaming &&
            part.forall(e => e.deterministic && RowOrdering.isOrderable(e.dataType)) &&
            order.forall(_.deterministic) &&
            PlanGuards.subtreeDeterministic(child) &&
            PlanGuards.boundaryTrafficOk(order, part) =>
        val extentCap =
          SQLConf.get.getConfString(SlidingAggRewrite.MaxExtentKey, "128").toInt
        val offsetCap = GroupedOffsetRewrite.maxOffset
        val claims = wexprs.map(classify(_, part, order, extentCap, offsetCap))
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
            (ranks.isEmpty || confOn(GroupedRankRewrite.ConfKey)) &&
              (runnings.isEmpty || confOn(GroupedRunningAggRewrite.ConfKey)) &&
              (offsets.isEmpty || confOn(GroupedOffsetRewrite.ConfKey)) &&
              (fullAggs.isEmpty || confOn(GroupedAggRewrite.ConfKey)) &&
              (slidings.isEmpty || confOn(SlidingAggRewrite.ConfKey)) &&
              (rangeSlidings.isEmpty || confOn(RangeSlidingAggRewrite.ConfKey))
          // each present family's OWN accessor, so a family's default
          // (e.g. the offset class's r21 `auto` gate) cannot drift
          // between its single-class rewrite and the split
          val bigEnough = child.stats.sizeInBytes >= Seq(
            if (ranks.nonEmpty) GroupedRankRewrite.minBytes else 0L,
            if (runnings.nonEmpty) GroupedRunningAggRewrite.minBytes else 0L,
            if (offsets.nonEmpty) GroupedOffsetRewrite.minBytes else 0L,
            if (fullAggs.nonEmpty) GroupedAggRewrite.minBytes else 0L,
            if (slidings.nonEmpty) SlidingAggRewrite.minBytes else 0L,
            if (rangeSlidings.nonEmpty) RangeSlidingAggRewrite.minBytes else 0L).max
          // mirrors GroupedAggRewrite's own bail exactly: peel the
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
            PlanGuards.valueTrafficOk("GroupedWindowSplit/sliding",
              slidings.flatMap(_.fn.references.toSeq).distinct, part,
              math.max(extent, 1))
          }
          // the offset class's own boundary-VALUE traffic guard — the
          // single-class rewrite's, ignoreNulls rings included
          val offsetOk = offsets.isEmpty ||
            GroupedOffsetRewrite.trafficOk("GroupedWindowSplit/offset", offsets, part)
          if (classes < 2 || !allEnabled || !bigEnough || !fullAggPlannable ||
              !slidingOk || !offsetOk) w
          else {
            logInfo(s"GroupedWindowSplit: splitting a mixed grouped window " +
              s"(${ranks.size} rank, ${runnings.size} running-agg, " +
              s"${offsets.size} offset, " +
              s"${fullAggs.size} full-frame-agg, ${slidings.size} sliding, " +
              s"${rangeSlidings.size} range-sliding " +
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
