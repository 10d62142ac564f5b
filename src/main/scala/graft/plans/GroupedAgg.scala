package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** [[GlobalAggRewrite]]'s sibling for the GROUPED share-of-group
  * funnel: full-frame aggregate windows WITH partition keys —
  * `sum(x) OVER (PARTITION BY g)` / `count(*) OVER (PARTITION BY g)`
  * (and the explicit `ROWS/RANGE BETWEEN UNBOUNDED PRECEDING AND
  * UNBOUNDED FOLLOWING` phrasings) — the last grouped window class
  * with no scale path (r18; reference surface: the ClickHouse
  * share-of-group reports the reference's per-inverter table layout
  * invites — tables.sql keys the MergeTree on (inverter, time), and
  * solarman.py's per-inverter rollups imply "my share of the group"
  * analytics over that key).
  *
  * The native plan is `ClusteredDistribution(part)` + a sort on the
  * partition keys + WindowExec buffering EACH WHOLE GROUP in one
  * task's window buffer: parallelism is capped at the group count and
  * the largest group's bytes stream through (and spill from) a single
  * task — 5 segments × 100 TB is terabytes per task, the same funnel
  * [[GroupedRankRewrite]]/[[GroupedRunningAggRewrite]] delete for
  * their classes. But a full-frame aggregate is ONE VALUE PER GROUP,
  * not per row: the scale-correct plan is a distributed aggregate
  * (map-side partial combine — the agg leg's shuffle carries one row
  * per group per map task, not the corpus) joined back to the rows
  * null-safely on the partition keys:
  *
  *   Window([agg OVER (PARTITION BY p …)], p, o, child)
  *     ==>  Project(out,
  *            child INNER JOIN Aggregate(p, [p, agg], child')
  *              ON child.p <=> agg.p)
  *
  * No broadcast hint is forced (unlike GlobalAgg's 1-row total):
  * group count is unknown at rewrite time, so join strategy is left
  * to Catalyst + AQE — post-shuffle the aggregated side is one row
  * per group, so the common few/bounded-group reports broadcast at
  * runtime (child then never shuffles AT ALL — strictly cheaper than
  * the native exchange+sort), while a very-many-groups side falls
  * back to an equi-join co-partitioned on the keys, which still
  * STREAMS the giant group through its task instead of buffering it.
  * Null-safe equality (`<=>`) keeps the NULL group matched to its own
  * aggregate — PARTITION BY, GROUP BY and `<=>` all treat NULL keys
  * as one group, and Catalyst extracts `<=>` as a first-class
  * equi-join key. NaN/-0.0 float keys normalize consistently on both
  * sides (NormalizeFloatingNumbers runs after this batch).
  *
  * The QUALIFY idiom `count(*) OVER (PARTITION BY k) <= cap` gets a
  * second structural win: the filter lands above the join referencing
  * only the aggregate leg's column, so predicate pushdown drops
  * capped-out groups BEFORE the join — the native plan materializes
  * the count for every row first.
  *
  * Scope guards: every window expression in the node must be a
  * deterministic, non-DISTINCT, unfiltered AggregateExpression over
  * the full-partition frame whose function is provably
  * ORDER-INSENSITIVE ([[GroupedAggRewrite.orderInsensitive]] — the
  * r17-audited multiset whitelist; `first(x) OVER (PARTITION BY g)`
  * stays native even though both plans would be "arbitrary", keeping
  * the rewrite's contract bit-exact for everything it claims).
  * Partition keys deterministic and orderable; deterministic
  * non-streaming child. The child subtree is DUPLICATED into the
  * aggregate leg with fresh exprIds ([[ExprIdFreshener]] — the
  * GlobalAgg machinery; an un-freshenable child bails native), after
  * [[AggLegPeel]] strips row-preserving window/operator nodes whose
  * produced columns the aggregate and keys never reference (r19 —
  * this is what lets the rewrite fire on the separate-spec phrasing
  * `rank() OVER (PARTITION BY g ORDER BY o), sum(x) OVER (PARTITION
  * BY g)` even above an already-family-rewritten stack, and keeps the
  * duplicated leg to the raw child).
  * Float summation order: the aggregate leg folds partial sums in
  * distributed order rather than one task's row order — the same
  * nondeterminism any Spark shuffle introduces; exact
  * (integral/decimal/long) aggregates are bit-identical, which is
  * what the equivalence spec pins.
  *
  * Cost lever, mirroring the grouped family discipline:
  * `spark.graft.groupedAgg.minBytes` (default 0 = always fire — a
  * group that outgrows a task is an unbounded single-task spill-storm,
  * while the nearly-distinct-keys regime's tax is a bounded constant;
  * README "Window-operator cost levers" has the measured table) skips
  * the rewrite below the threshold; kill switch
  * `spark.graft.groupedAgg.enabled=false`.
  */
object GroupedAggRewrite extends Rule[LogicalPlan] {
  import CombineSupport.sameExprs

  val ConfKey = "spark.graft.groupedAgg.enabled"
  val MinBytesKey = "spark.graft.groupedAgg.minBytes"

  private def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "true").toBoolean

  private[plans] def minBytes: Long =
    SQLConf.get.getConfString(MinBytesKey, "0").toLong

  /** The full-frame VALUE must be provably ORDER-INSENSITIVE before
    * the node's order may be dropped from its spec: Catalyst's
    * `deterministic` flag is NOT sufficient — First/Last/collect_list
    * all report deterministic=true while their value depends on input
    * order (their scaladocs say so; the flag only tracks rand()-style
    * nondeterminism), so `first(x) OVER (ORDER BY o ROWS BETWEEN
    * UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)` rewritten
    * order-free would aggregate in arbitrary partition order and
    * CHANGE the result. Whitelist of commutative-merge aggregates
    * whose value is a pure function of the input MULTISET (float
    * summation associativity remains the documented GlobalAgg
    * caveat); everything else keeps the whole node native. */
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

  /** The grouped full-frame aggregate class: claimed when the frame
    * covers the whole partition, the spec matches the node's own
    * (part, order) and the aggregate's value is a pure function of the
    * group's MULTISET (so the node's ORDER BY — if any — is
    * irrelevant to the value and the join-back may ignore it).
    * Shared with [[WindowSplit]], whose full-agg class re-emits
    * exactly the order-free shape [[apply]] and, at zero keys,
    * [[GlobalAggRewrite]] consume. */
  private[plans] def supported(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder]): Option[(Alias, AggregateExpression)] = e match {
    case a @ Alias(WindowExpression(ae: AggregateExpression,
        WindowSpecDefinition(p2, o2, frame)), _)
        if fullFrame(frame) && sameExprs(p2, part) && sameExprs(o2, order) &&
          !ae.isDistinct && ae.filter.isEmpty && ae.deterministic &&
          orderInsensitive(ae.aggregateFunction) =>
      Some((a, ae))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case w @ LogicalWindow(wexprs, part, order, child, _)
          if part.nonEmpty && wexprs.nonEmpty && !child.isStreaming &&
            part.forall(e => e.deterministic && RowOrdering.isOrderable(e.dataType)) &&
            order.forall(_.deterministic) &&
            PlanGuards.subtreeDeterministic(child) &&
            child.stats.sizeInBytes >= minBytes =>
        val matched = wexprs.map(supported(_, part, order))
        if (matched.exists(_.isEmpty)) w
        else {
          val needed = AttributeSet(part.flatMap(_.references)) ++
            AttributeSet(matched.flatten.flatMap(_._2.references))
          ExprIdFreshener.freshen(AggLegPeel.peel(child, needed)) match {
            case Some((aggChild, idMap)) =>
              def rebase(ex: Expression): Expression = ex.transformUp {
                case ar: AttributeReference if idMap.contains(ar.exprId) =>
                  ar.withExprId(idMap(ar.exprId))
              }
              logInfo(s"GroupedAggRewrite: rewriting a ${wexprs.length}-function " +
                s"full-frame grouped window over ${part.size} partition keys " +
                "to a distributed aggregate + null-safe join-back")
              val partRebased = part.map(rebase)
              // the keys must be output by the aggregate leg for the join
              // condition; the top Project drops them again
              val keys = partRebased.zipWithIndex.map { case (e, i) =>
                Alias(e, s"_gagg_key$i")()
              }
              // top-level aliases keep the window expressions' exprIds so
              // downstream references bind unchanged (GlobalAgg's contract)
              val aggAliases = matched.flatten.map { case (a, ae) =>
                Alias(rebase(ae), a.name)(exprId = a.exprId,
                  qualifier = a.qualifier,
                  explicitMetadata = a.explicitMetadata,
                  nonInheritableMetadataKeys = a.nonInheritableMetadataKeys)
              }
              val agg = Aggregate(partRebased, keys ++ aggAliases, aggChild)
              val cond = part.zip(keys).map { case (p, k) =>
                EqualNullSafe(p, k.toAttribute): Expression
              }.reduce(And.apply)
              Project(w.output, Join(child, agg, Inner, Some(cond), JoinHint.NONE))
            case None => w // can't prove disjoint ids: keep the native window
          }
        }
    }
  }
}
