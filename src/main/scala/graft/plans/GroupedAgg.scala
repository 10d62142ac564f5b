package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, HintInfo, Join, JoinHint, LogicalPlan, Project, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** The full-frame aggregate window class, with or without partition
  * keys: share-of-total `sum(x) OVER ()` / `count(*) OVER ()` and
  * share-of-group `sum(x) OVER (PARTITION BY g)` (and the explicit
  * `ROWS/RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING`
  * phrasings). Reference surface: the reference's tables are keyed
  * (inverter, time) (tables.sql), and its reports put each reading
  * against the whole fleet and against its own group.
  *
  * Natively the zero-key form plans as AllTuples — every row shuffles
  * into ONE partition so each can see the total — and the keyed form
  * as `ClusteredDistribution(part)` + a sort + WindowExec buffering
  * EACH WHOLE GROUP in one task: parallelism capped at the group
  * count, the largest group through (and spilling from) one task. But
  * a full-frame aggregate is ONE VALUE PER GROUP (the corpus is the
  * single group at zero keys), not per row, so the scale-correct plan
  * is a distributed aggregate (map-side partial combine) joined back
  * to the rows — a pure logical transform, no custom exec:
  *
  *   Window([agg OVER (PARTITION BY p …)], p, o, child)
  *     ==>  Project(out,
  *            child JOIN Aggregate(p, [p, agg], child')
  *              ON child.p <=> agg.p)
  *
  * The key count picks only the join:
  *   - zero keys: the aggregate is one row, so the join is a `Cross`
  *     with no condition and a broadcast hint on the total (`Cross`
  *     rather than a condition-less `Inner`, so the rewrite still plans
  *     under `spark.sql.crossJoin.enabled=false`; the hint goes
  *     straight into JoinHint — EliminateResolvedHint has already run
  *     by the time extended optimizer rules fire);
  *   - keys: a null-safe `Inner` join on the keys and no forced hint —
  *     group count is unknown at rewrite time, so the strategy is left
  *     to Catalyst + AQE: a few/bounded-group side broadcasts at runtime
  *     (the rows then never shuffle at all), a very-many-groups side
  *     falls back to an equi-join co-partitioned on the keys, which
  *     still STREAMS a giant group instead of buffering it. `<=>` keeps
  *     the NULL group matched to its own aggregate (PARTITION BY, GROUP
  *     BY and `<=>` all treat NULL keys as one group) and is a
  *     first-class equi-join key; NaN/-0.0 float keys normalize
  *     consistently on both sides (NormalizeFloatingNumbers runs after
  *     this batch).
  * The QUALIFY idiom `count(*) OVER (PARTITION BY k) <= cap` gets a
  * second win: the filter lands above the join on the aggregate leg's
  * column only, so pushdown drops capped-out groups before the join.
  *
  * Scope guards ([[supported]]): every window expression in the node a
  * deterministic, non-DISTINCT, unfiltered AggregateExpression over the
  * full-partition frame on the node's own spec, whose function is
  * provably ORDER-INSENSITIVE ([[orderInsensitive]], the multiset
  * whitelist) — or any such aggregate on an EMPTY spec (no keys, no
  * order), where the native funnel folds rows in arrival order anyway,
  * so `first(x) OVER ()` is claimed while `first(x) OVER (PARTITION BY
  * g)` and `first(x) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING
  * AND UNBOUNDED FOLLOWING)` stay native. Partition keys deterministic
  * and orderable; order deterministic; deterministic non-streaming
  * child ([[PlanGuards]]: the child is DUPLICATED, and a global
  * aggregate joined to its own input has different semantics under a
  * watermark). Float sums: the aggregate leg folds partial sums in
  * distributed order rather than one task's row order — the same
  * nondeterminism any Spark shuffle introduces; exact
  * (integral/decimal/long) aggregates are bit-identical, which is what
  * the equivalence specs pin.
  *
  * The duplicated child gets fresh exprIds ([[ExprIdFreshener]]; an
  * un-freshenable child bails native) after [[AggLegPeel]] strips the
  * row-preserving window/operator nodes whose columns the aggregate and
  * keys never read. Mixed-SPEC composition: `rank() OVER (ORDER BY o),
  * sum(v) OVER ()` analyzes into a separate order-free node stacked
  * with the ordered one, so the peel keeps the leg to the raw child
  * even above an already-family-rewritten stack. The rule traverses
  * TOP-DOWN: where full-frame nodes stack (q51: `OVER (PARTITION BY p)`
  * above `OVER ()` above a rank window), the upper leg is peeled past
  * the lower nodes while they are still native Windows — bottom-up, the
  * lower node would already be a Join, which stops the peel and makes
  * the upper leg replay the lower join and the ranking under it. The
  * rule is also injected BEFORE the split/family rewrites, so in the
  * common case it fires while an ordered sibling is still a native
  * Window, which the freshener copies directly (the path
  * `sum(rankCol) OVER ()` needs: the window output IS the aggregated
  * column and nothing can be peeled).
  *
  * `spark.graft.fullAgg.minBytes` (default 0 = always fire — a group
  * that outgrows a task is an unbounded single-task spill-storm, while
  * the nearly-distinct-keys regime's tax is a bounded constant; README
  * "Window-operator cost levers" has the measured table) skips the
  * rewrite below the threshold; excluding `graft.plans.GroupedAggRewrite`
  * (`spark.sql.optimizer.excludedRules`) turns it off.
  */
object GroupedAggRewrite extends Rule[LogicalPlan] {
  import CombineSupport.sameExprs

  val MinBytesKey = "spark.graft.fullAgg.minBytes"

  private[plans] def minBytes: Long =
    SQLConf.get.getConfString(MinBytesKey, "0").toLong

  /** The full-frame VALUE must be provably ORDER-INSENSITIVE before
    * the node's order (or, with keys, the within-group row order) may
    * be dropped: Catalyst's `deterministic` flag is NOT sufficient —
    * First/Last/collect_list all report deterministic=true while their
    * value depends on input order (their scaladocs say so; the flag
    * only tracks rand()-style nondeterminism), so `first(x) OVER (ORDER
    * BY o ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)`
    * rewritten order-free would aggregate in arbitrary partition order
    * and CHANGE the result. Whitelist of commutative-merge aggregates
    * whose value is a pure function of the input MULTISET (float
    * summation associativity remains the documented caveat). */
  private def orderInsensitive(fn: AggregateFunction): Boolean = fn match {
    case _: Sum | _: Count | _: Min | _: Max | _: Average => true
    case _: CentralMomentAgg | _: Corr | _: Covariance => true
    case _: BitAggregate => true
    case _: HyperLogLogPlusPlus => true
    case _ => false
  }

  private def fullFrame(f: WindowFrame): Boolean = f match {
    case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => true
    case _ => false
  }

  /** The full-frame aggregate class: claimed when the frame covers the
    * whole partition, the spec matches the node's own (part, order) and
    * the aggregate's value is a pure function of the group's MULTISET —
    * or the spec is empty (no keys, no order), where any deterministic
    * aggregate is claimed. Shared with [[WindowSplit]], whose full-agg
    * class (always on an ordered node, so never the empty-spec case)
    * re-emits exactly the order-free shape [[apply]] consumes. */
  private[plans] def supported(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder]): Option[(Alias, AggregateExpression)] = e match {
    case a @ Alias(WindowExpression(ae: AggregateExpression,
        WindowSpecDefinition(p2, o2, frame)), _)
        if fullFrame(frame) && sameExprs(p2, part) && sameExprs(o2, order) &&
          !ae.isDistinct && ae.filter.isEmpty && ae.deterministic &&
          (orderInsensitive(ae.aggregateFunction) || (part.isEmpty && order.isEmpty)) =>
      Some((a, ae))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformDown {
      case w @ LogicalWindow(wexprs, part, order, child, _) if wexprs.nonEmpty =>
        // the expression matcher first: most windows are another class,
        // and the subtree walk and size estimate below are not free
        val matched = wexprs.map(supported(_, part, order))
        if (matched.exists(_.isEmpty) || child.isStreaming ||
            !part.forall(e => e.deterministic && RowOrdering.isOrderable(e.dataType)) ||
            !order.forall(_.deterministic) ||
            !PlanGuards.subtreeDeterministic(child) ||
            child.stats.sizeInBytes < minBytes) w
        else {
          val needed = AttributeSet(part.flatMap(_.references)) ++
            AttributeSet(matched.flatten.flatMap(_._2.references))
          // The aggregate leg re-evaluates the child with FRESH exprIds
          // throughout (leaf relations re-instanced, every Alias
          // re-minted), upholding Catalyst's exprId-uniqueness invariant
          // the way Spark's own subtree-duplicating rules do: a verbatim
          // copy fails LogicalPlanIntegrity's same-exprId-not-reused
          // check (spark.sql.planChangeValidation=true aborts the query).
          // ReuseExchange still collapses the two evaluations where an
          // exchange sits below — reuse keys on canonicalized plans,
          // which normalize exprIds positionally.
          ExprIdFreshener.freshen(AggLegPeel.peel(child, needed)) match {
            case Some((aggChild, idMap)) =>
              def rebase(ex: Expression): Expression = ex.transformUp {
                case ar: AttributeReference if idMap.contains(ar.exprId) =>
                  ar.withExprId(idMap(ar.exprId))
              }
              logInfo(s"GroupedAggRewrite: rewriting a ${wexprs.length}-function " +
                s"full-frame window over ${part.size} partition keys " +
                "to a distributed aggregate + join-back")
              val partRebased = part.map(rebase)
              // the keys must be output by the aggregate leg for the join
              // condition; the top Project drops them again
              val keys = partRebased.zipWithIndex.map { case (e, i) =>
                Alias(e, s"_gagg_key$i")()
              }
              // top-level aliases keep the window expressions' exprIds so
              // downstream references bind unchanged; those ids exist
              // nowhere else
              val aggAliases = matched.flatten.map { case (a, ae) =>
                Alias(rebase(ae), a.name)(exprId = a.exprId,
                  qualifier = a.qualifier,
                  explicitMetadata = a.explicitMetadata,
                  nonInheritableMetadataKeys = a.nonInheritableMetadataKeys)
              }
              val agg = Aggregate(partRebased, keys ++ aggAliases, aggChild)
              val join =
                if (part.isEmpty) Join(child, agg, Cross, None,
                  JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
                else Join(child, agg, Inner, Some(part.zip(keys).map { case (p, k) =>
                  EqualNullSafe(p, k.toAttribute): Expression
                }.reduce(And.apply)), JoinHint.NONE)
              Project(w.output, join)
            case None => w // can't prove disjoint ids: keep the native window
          }
        }
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
  *     [[GroupedAggRewrite]] fire ABOVE a
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
  * aggregate and partition keys reference. */
private[plans] object AggLegPeel {
  def peel(plan: LogicalPlan, needed: AttributeSet): LogicalPlan = plan match {
    case w: LogicalWindow
        if needed.intersect(
          AttributeSet(w.windowExpressions.map(_.toAttribute))).isEmpty =>
      peel(w.child, needed)
    case n: GraftWindowNode if needed.intersect(n.producedAttributes).isEmpty =>
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
}
