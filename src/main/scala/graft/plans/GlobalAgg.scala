package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, HintInfo, Join, JoinHint, LogicalPlan, Project, UnaryNode, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** The zero-key rank operator's sibling for the OTHER
  * empty-PARTITION-BY funnel: the
  * share-of-total pattern `sum(x) OVER ()` / `count(*) OVER ()` —
  * an aggregate window with no partition, no order and an unbounded
  * frame. Spark plans it as AllTuples: every row shuffles into ONE
  * partition so each can see the global total. But the value is the
  * same for every row, so the scale-correct plan is to aggregate
  * ONCE (distributed, partial aggregation map-side) and broadcast
  * the single-row result back as a cross join — this rewrite does
  * exactly that, as a pure logical transform (no custom exec):
  *
  *   Window([agg OVER ()], Nil, Nil, child)
  *     ==>  child CROSS JOIN broadcast(Aggregate(Nil, [agg], child))
  *
  * The duplicated child subtree is collapsed by ReuseExchange /
  * ReuseSubquery where an exchange sits below, and column pruning
  * strips the aggregate branch to the aggregated columns only.
  *
  * Scope guards: every window expression in the node must be a
  * deterministic, non-DISTINCT, unfiltered AggregateExpression over
  * the full-partition frame (ROWS or RANGE BETWEEN UNBOUNDED
  * PRECEDING AND UNBOUNDED FOLLOWING); streaming children bail (a
  * global aggregate + join has different semantics under a
  * watermark). Floating-point sums: the rewrite folds partial sums
  * in distributed order rather than one task's row order — the same
  * nondeterminism ANY Spark shuffle introduces for float addition;
  * exact (integral/decimal/long) aggregates are bit-identical, which
  * is what the equivalence spec pins. Disable with
  * `spark.graft.globalAgg.enabled=false`.
  *
  * Mixed-SPEC composition (r19): when the full-frame member is phrased
  * on its OWN spec alongside ordered windows in the same SELECT —
  * `SELECT rank() OVER (ORDER BY o), sum(v) OVER ()` — the analyzer
  * emits a SEPARATE order-free Window node stacked with the ordered
  * one. The aggregate leg then does not need the ordered node's
  * columns at all, so before freshening, [[AggLegPeel]] strips
  * row-preserving window-operator nodes (native Window nodes, the
  * graft operator nodes, pass-through Projects) whose produced
  * columns the aggregate never references. That keeps the duplicated
  * leg to the raw child — no replayed ranking work — and, because the
  * peeled leg contains no custom nodes, the freshener's disjointness
  * proof holds even when the ordered sibling was already
  * family-rewritten beneath this node (the r18 composition hole).
  * The rule additionally runs BEFORE the split/family rewrites in the
  * injection order, so in the common case it fires while the sibling
  * is still a native Window (which the freshener copies directly —
  * the path `sum(rankCol) OVER ()` needs, where the window output IS
  * the aggregated column and nothing can be peeled).
  */
object GlobalAggRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.globalAgg.enabled"

  private def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "true").toBoolean

  private def fullFrame(f: WindowFrame): Boolean = f match {
    case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => true
    case _ => false
  }

  private def rewritable(e: NamedExpression): Option[NamedExpression] = e match {
    case a @ Alias(WindowExpression(ae: AggregateExpression,
        WindowSpecDefinition(Nil, Nil, frame)), name)
        if fullFrame(frame) && !ae.isDistinct && ae.filter.isEmpty &&
          ae.deterministic =>
      Some(Alias(ae, name)(exprId = a.exprId))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // PlanGuards: the rewrite DUPLICATES the child subtree (one
      // instance feeds the rows, one the total) — a nondeterministic
      // child would evaluate differently in the two instances, making
      // the broadcast total disagree with the joined rows.
      case w @ LogicalWindow(wexprs, Nil, Nil, child, _)
          if wexprs.nonEmpty && !child.isStreaming &&
            PlanGuards.subtreeDeterministic(child) =>
        val aggs = wexprs.map(rewritable)
        if (aggs.forall(_.isDefined)) {
          val needed = AttributeSet(aggs.flatten.flatMap(_.references))
          // The aggregate leg re-evaluates the child, so its subtree is
          // duplicated — but with FRESH exprIds throughout (leaf
          // relations re-instanced, every Alias re-minted), upholding
          // Catalyst's exprId-uniqueness invariant the same way Spark's
          // own subtree-duplicating rules do: a verbatim copy fails
          // LogicalPlanIntegrity's same-exprId-not-reused check
          // (spark.sql.planChangeValidation=true aborts the query) and
          // is fragile against exprId-keyed rules. Only the TOP-LEVEL
          // aliases keep the window expressions' exprIds, so downstream
          // references bind unchanged; those ids exist nowhere else.
          // ReuseExchange still collapses the two evaluations where an
          // exchange sits below — reuse keys on canonicalized plans,
          // which normalize exprIds positionally.
          ExprIdFreshener.freshen(AggLegPeel.peel(child, needed)) match {
            case Some((aggChild, idMap)) =>
              val rebased = aggs.flatten.map(_.transformUp {
                case ar: AttributeReference if idMap.contains(ar.exprId) =>
                  ar.withExprId(idMap(ar.exprId))
              }.asInstanceOf[NamedExpression])
              val total = Aggregate(Nil, rebased, aggChild)
              // the hint goes straight into JoinHint — EliminateResolvedHint
              // has already run by the time extended optimizer rules fire
              Join(child, total, Cross, None,
                JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
            case None => w // can't prove disjoint ids: keep the native window
          }
        } else w
    }
  }
}

/** Deep-copies a logical subtree with fresh exprIds: leaf relations go
  * through `MultiInstanceRelation.newInstance()` (Spark's own self-join
  * dedup mechanism), every Alias is re-minted, and all attribute
  * references are rebased bottom-up. Returns the freshened plan plus
  * the old→new id map, or None when the subtree contains a node class
  * whose produced attributes this walk cannot re-mint (Generate/Expand
  * style nodes) — callers must then fall back rather than emit a plan
  * with duplicate ids. */
private[plans] object ExprIdFreshener {
  def freshen(plan: LogicalPlan): Option[(LogicalPlan, Map[ExprId, ExprId])] = {
    // Subquery expressions carry a NESTED plan this walk does not
    // descend into, and the output-disjointness proof below only
    // inspects node outputs — so a scalar/IN subquery under the
    // child would share its inner plan's exprIds/alias ids between
    // the two copies UNDETECTED. Bail like the Generate/Expand case:
    // callers keep the native window.
    if (plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))))
      return None
    val idMap = mutable.HashMap.empty[ExprId, ExprId]
    val fresh = plan.transformUp {
      case m: LogicalPlan with MultiInstanceRelation =>
        val ni = m.newInstance()
        m.output.zip(ni.output).foreach { case (o, n) => idMap(o.exprId) = n.exprId }
        ni
      case node =>
        node.transformExpressionsUp {
          case ar: AttributeReference if idMap.contains(ar.exprId) =>
            ar.withExprId(idMap(ar.exprId))
          case a: Alias =>
            val nid = NamedExpression.newExprId
            idMap(a.exprId) = nid
            Alias(a.child, a.name)(exprId = nid, qualifier = a.qualifier,
              explicitMetadata = Some(a.metadata),
              nonInheritableMetadataKeys = a.nonInheritableMetadataKeys)
        }
    }
    // Disjointness proof: no output exprId of the copy may survive from
    // the original (a node producing attributes outside the relation/
    // alias classes — Generate, Expand, … — would slip through the walk).
    val before = plan.collect { case n => n.output.map(_.exprId) }.flatten.toSet
    val after = fresh.collect { case n => n.output.map(_.exprId) }.flatten.toSet
    if (after.exists(before.contains)) None else Some((fresh, idMap.toMap))
  }
}

/** Strips the top of a to-be-duplicated aggregate leg down to what the
  * aggregate actually reads (r19, closing the mixed-SPEC composition
  * hole): window-operator nodes are ROW-PRESERVING — they annotate
  * each input row with extra columns and never filter, duplicate or
  * merge rows — so a full-frame aggregate over only the CHILD's
  * columns computes the identical multiset whether or not the
  * annotating node sits in between. Peeled while unneeded:
  *
  *   - native [[LogicalWindow]] nodes (no window output referenced);
  *   - the graft operator nodes ([[GroupedRankNode]],
  *     [[GroupedRunningAggNode]], [[GroupedOffsetNode]],
  *     [[SlidingAggNode]],
  *     [[RangeSlidingAggNode]] — none of their produced attributes
  *     referenced). These are also exactly the nodes
  *     [[ExprIdFreshener]] cannot deep-copy (their fn payloads are
  *     opaque to the expression walk), so peeling them is what lets
  *     [[GlobalAggRewrite]]/[[GroupedAggRewrite]] fire ABOVE a
  *     family-rewritten stack instead of leaving a native funnel
  *     window on top of it;
  *   - [[Project]]s, NARROWED to the needed columns: the unneeded
  *     entries — including subquery-bearing aliases, which are what
  *     make the freshener refuse a leg — are dropped, and the peel
  *     recurses below with the kept expressions' references. A needed
  *     column that itself carries a nested plan stops the walk (the
  *     freshener will then bail, correctly).
  *
  * Limit/Filter/Aggregate/joins etc. stop the walk: they change the
  * row multiset, so the aggregate's value genuinely depends on them.
  *
  * `needed` must contain every attribute the caller's rebased
  * aggregate (and, grouped, its partition keys) references. */
private[plans] object AggLegPeel {
  def peel(plan: LogicalPlan, needed: AttributeSet): LogicalPlan = plan match {
    case w: LogicalWindow
        if needed.intersect(
          AttributeSet(w.windowExpressions.map(_.toAttribute))).isEmpty =>
      peel(w.child, needed)
    case n: UnaryNode
        if isGraftWindowOp(n) && needed.intersect(n.producedAttributes).isEmpty =>
      peel(n.child, needed)
    case p: Project
        if needed.subsetOf(AttributeSet(p.projectList.map(_.toAttribute))) =>
      val keep = p.projectList.filter(e => needed.contains(e.toAttribute))
      if (keep.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))) p
      else {
        val below = peel(p.child, AttributeSet(keep.flatMap(_.references)))
        if (keep.length == p.projectList.length && below.fastEquals(p.child)) p
        else Project(keep, below)
      }
    case other => other
  }

  private def isGraftWindowOp(n: LogicalPlan): Boolean = n match {
    case _: GroupedRankNode | _: GroupedRunningAggNode |
         _: GroupedOffsetNode | _: SlidingAggNode | _: RangeSlidingAggNode => true
    case _ => false
  }
}
