package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, First}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType

/** RUNNING aggregates (`sum(x) OVER ([PARTITION BY g] ORDER BY …)` —
  * cumulative sums/counts/min-max, ClickHouse `runningAccumulate`,
  * per-key cumulative curves) as ONE first-class operator over a key
  * list that may be empty. A running aggregate is a PREFIX SCAN, and
  * prefix scans distribute. The native plan does not: with keys it
  * hash-clusters whole groups (`ClusteredDistribution(part)`), so
  * parallelism stops at the GROUP COUNT and the largest group goes
  * through one task; without keys (the corpus-global form) every row
  * funnels through ONE task. This operator requires
  * `OrderedDistribution(part-asc ++ order)` — ONE range exchange,
  * row-balanced regardless of group sizes — and runs a boundary-segment
  * discipline with an aggregation-buffer kit:
  *
  *   - pass 1 folds each partition's FIRST and LAST group segments
  *     into aggregation buffers (interior groups are wholly local and
  *     ship nothing) plus, when a RANGE frame is present, the
  *     segment's first/last order keys and its first TIE RUN's own
  *     buffer — O(partitions) buffer/key rows to the driver, never
  *     data rows;
  *   - the driver walks partitions in order, chaining same-group
  *     boundary segments (empty partitions pass through): each
  *     partition learns its first group's PREFIX buffer (the aggregate
  *     state of that group's rows in earlier partitions), and order-tie
  *     RUNS split across a boundary get their true end state computed
  *     from pass-1 buffers alone (prefix ⊕ first-run buffer) and
  *     shipped as a final-flush override to the earlier fragments —
  *     tie runs are NOT assumed co-located, because a pre-existing
  *     FINER range exchange (legal under the OrderedDistribution
  *     common-prefix rule) can split them (TieSplitSpec);
  *   - pass 2 re-streams each sorted partition once (shuffle reuse),
  *     seeds the first group from its prefix, restarts the kit at
  *     every group change, and emits — ROWS frames per row, RANGE
  *     frames per tie run via the one-run buffer (memory bounds at the
  *     partition slice, never the group).
  *
  * ZERO KEYS are the global form, not a second operator: every
  * non-empty partition is one segment of one spanning group, so the
  * chain buffer is the corpus prefix and the tie-run chain is the
  * global one. The group gate ([[GroupGate]]) is switched off there,
  * so no per-row key projection or compare runs, and the plan displays
  * as `GlobalRunningAgg` instead of `GroupedRunningAgg`.
  *
  * GENERIC over any [[DeclarativeAggregate]]: the exec drives the
  * function's own initialValues/updateExpressions/mergeExpressions/
  * evaluateExpression as projections (the AggregationIterator
  * discipline), so sum/count/min/max/avg/first/stddev/… need no
  * per-function code, and exact-type arithmetic (decimal overflow
  * checks included) is bit-identical to the native window's because it
  * IS the same expressions (the graded q44 pins this through the
  * DuckDB gate). Floating-point sums associate partition-wise here —
  * the [[GroupedAggRewrite]] caveat; exact types are the contract.
  *
  * Scope guards: every window expression a deterministic, non-DISTINCT,
  * unfiltered aggregate over a DECLARATIVE function with a running
  * frame on the node's own (part, order) — see [[supported]] for
  * first()/NthValue(x, 1); partition keys deterministic AND orderable
  * (they are promoted into RangePartitioning); order and subtree
  * deterministic; non-streaming child (two jobs, one shuffle); the
  * boundary byte-traffic guard on (part ++ order). Mixed nodes are the
  * split rules' business. Excluding `graft.plans.GroupedRunningAggRewrite`
  * (`spark.sql.optimizer.excludedRules`) turns the rewrite off;
  * `spark.graft.runningAgg.minBytes` (default 0 = always fire)
  * skips the rewrite for small inputs in deployments dominated by
  * many-small-group windows, where the native one-pass plan costs
  * less and nothing is at scale risk.
  */
object GroupedRunningAggRewrite extends Rule[LogicalPlan] {
  import CombineSupport.sameExprs

  val MinBytesKey = "spark.graft.runningAgg.minBytes"

  private[plans] def minBytes: Long =
    SQLConf.get.getConfString(MinBytesKey, "0").toLong

  /** The plan's display name by key count. */
  private[plans] def opName(part: Seq[Expression]): String =
    if (part.isEmpty) "GlobalRunningAgg" else "GroupedRunningAgg"

  /** One supported running aggregate over the node's own
    * (part, order) spec: output attribute, the declarative function,
    * whether the frame is the RANGE (peers share the value) variant.
    * Shared with [[WindowSplit]].
    *
    * first/last: with the DEFAULT RANGE frame they stay First/Last
    * aggregates and ride the generic declarative path — correct
    * because the exec streams each partition in sorted order and the
    * driver folds partials in partition order, so "first/last of the
    * prefix" is evaluated in exactly the native row order. */
  private[plans] def supported(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder]): Option[RunningFn] = e match {
    case a @ Alias(WindowExpression(ae: AggregateExpression,
        WindowSpecDefinition(p2, o2,
          SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _)
        if sameExprs(p2, part) && sameExprs(o2, order) &&
          !ae.isDistinct && ae.filter.isEmpty && ae.deterministic =>
      ae.aggregateFunction match {
        case da: DeclarativeAggregate =>
          Some(RunningFn(a.toAttribute, da, ft == RangeFrame))
        case _ => None // imperative/typed aggregates: bail
      }
    // `first_value(x) OVER ([PARTITION BY …] ORDER BY … ROWS UNBOUNDED
    // PRECEDING → CURRENT ROW)`: Spark's OptimizeWindowFunctions
    // converts running-ROW-frame first() to NthValue(x, 1) (RANGE
    // frames keep the First aggregate and land in the case above),
    // which is an OffsetWindowFunction no family class owned — the
    // one first-value phrasing that still funneled. The value of
    // nth_value(x, 1) over a running frame IS the running First
    // aggregate — 1st (non-null under ignoreNulls) row of the prefix,
    // and for the RANGE variant the tie-group-end evaluation sees the
    // same frame — so it maps onto the exec's generic declarative
    // path with zero new machinery. k > 1 has no aggregate equivalent
    // (it would need a global-row-number gate) and stays native.
    case a @ Alias(WindowExpression(
        NthValue(input, Literal(1, IntegerType), ign),
        WindowSpecDefinition(p2, o2,
          SpecifiedWindowFrame(ft, UnboundedPreceding, CurrentRow))), _)
        if sameExprs(p2, part) && sameExprs(o2, order) && input.deterministic =>
      Some(RunningFn(a.toAttribute, First(input, ign), ft == RangeFrame))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case w @ PlanGuards.OrderedWindow(wexprs, part, order, child)
        if PlanGuards.boundaryTrafficOk(order, part) &&
          child.stats.sizeInBytes >= minBytes =>
      val fns = wexprs.map(supported(_, part, order))
      if (fns.forall(_.isDefined)) GroupedRunningAggNode(part, order, fns.flatten, child)
      else w
  }
}

private[plans] case class RunningFn(
    attr: Attribute, fn: DeclarativeAggregate, rangeFrame: Boolean)

/** Merges ADJACENT running-aggregate nodes over the same (part,
  * order) into one multi-function node (r21 — [[CombineOffsetNodes]]'
  * sibling for the running class). The withColumn-chain idiom
  * (s21's four `last(...) OVER (w)` fill columns) analyzes into a
  * tower of single-function Window nodes that CollapseWindow merges
  * only pairwise, so the running rewrites produced STACKS of operator
  * nodes — s21's graded plan carried three, each paying its own
  * pass-1 prefix job and pass-2 stream.
  *
  * Equivalence: the inner node is 1:1 row-preserving in the same
  * (part, order) stream, so an outer running aggregate whose input
  * does not reference the inner node's produced columns folds the
  * same prefix of rows either way — CollapseWindow's independence
  * condition. The execs are multi-function by design (each fn keeps
  * its own ROWS/RANGE flag); pass-1 traffic for the merged node is
  * the SUM of the stacked nodes' buffer widths, i.e. unchanged. */
object CombineRunningNodes extends Rule[LogicalPlan] {
  import CombineSupport._

  private def independent(outer: Seq[RunningFn], inner: LogicalPlan): Boolean = {
    val produced = inner.outputSet -- inner.children.head.outputSet
    outer.forall(_.fn.references.intersect(produced).isEmpty)
  }

  private def inline(fns: Seq[RunningFn],
      aliases: AttributeMap[Expression]): Seq[RunningFn] =
    if (aliases.isEmpty) fns
    else fns.map(f => f.copy(fn = f.fn.transform {
      case a: Attribute if aliases.contains(a) => aliases(a)
    }.asInstanceOf[DeclarativeAggregate]))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case GroupedRunningAggNode(p1, o1, fns1,
        inner @ GroupedRunningAggNode(p2, o2, fns2, child))
        if sameExprs(p1, p2) && sameExprs(o1, o2) && independent(fns1, inner) =>
      GroupedRunningAggNode(p1, o1, fns2 ++ fns1, child)
    // towers with a TRANSPARENT Project in between (a withColumn
    // chain pre-computing the next aggregate's input — s21's fill
    // columns): inline the aliases into the outer functions, merge,
    // and reproduce the Project's columns on top. CollapseProject
    // then folds the reproduced Project with any outer one, so the
    // fixed point converges towers of any height.
    case keep @ GroupedRunningAggNode(p1, o1, fns1,
        Project(projList, inner @ GroupedRunningAggNode(p2, o2, fns2, child)))
        if sameExprs(p1, p2) && sameExprs(o1, o2) =>
      transparentAliases(projList) match {
        case Some(aliases) =>
          val fns1i = inline(fns1, aliases)
          if (independent(fns1i, inner))
            Project(projList ++ fns1.map(_.attr),
              GroupedRunningAggNode(p1, o1, fns2 ++ fns1i, child))
          else keep
        case None => keep
      }
  }
}

/** Shared helpers of the window rewrites: the one spec-equality test
  * (a SortOrder is an Expression, so it compares order lists too) and
  * the r21 tower-merge rules' projection check. */
private[plans] object CombineSupport {
  def sameExprs(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.semanticEquals(y) }

  /** Some(alias → expression) when the projection is TRANSPARENT —
    * every item an Attribute or a deterministic Alias — so a node
    * above it can be merged below it by inlining the aliases its
    * functions reference. None for anything else (reordering and
    * pruning are fine; computed items must be deterministic). */
  def transparentAliases(
      projList: Seq[NamedExpression]): Option[AttributeMap[Expression]] =
    if (projList.forall {
      case _: Attribute => true
      case a: Alias => a.child.deterministic
      case _ => false
    }) Some(AttributeMap(projList.collect {
      case a: Alias => a.toAttribute -> a.child
    }))
    else None
}

case class GroupedRunningAggNode(
    part: Seq[Expression],
    order: Seq[SortOrder],
    fns: Seq[RunningFn],
    child: LogicalPlan) extends GraftWindowNode {
  override def nodeName: String = GroupedRunningAggRewrite.opName(part) + "Node"
  override def fnAttrs: Seq[Attribute] = fns.map(_.attr)
  override def fnReferences: AttributeSet = AttributeSet(fns.flatMap(_.fn.references))
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedRunningAggNode =
    copy(child = newChild)
}

/** The combined-buffer projection kit for a set of declarative
  * aggregates — initialize / update(row) / merge(partial) / evaluate,
  * all driven through the functions' OWN Catalyst expressions. Built
  * fresh per task (and once on the driver for the prefix fold). */
private[plans] class RunningKit(fns: Seq[DeclarativeAggregate], childOut: Seq[Attribute]) {
  private val bufferAttrs: Seq[AttributeReference] = fns.flatMap(_.aggBufferAttributes)
  val buffer = new SpecificInternalRow(bufferAttrs.map(_.dataType))

  private val initProj =
    MutableProjection.create(fns.flatMap(_.initialValues), Nil).target(buffer)
  private val updateProj =
    MutableProjection.create(
      fns.flatMap(_.updateExpressions), bufferAttrs ++ childOut).target(buffer)
  private val mergeProj =
    MutableProjection.create(
      fns.flatMap(_.mergeExpressions),
      bufferAttrs ++ fns.flatMap(_.inputAggBufferAttributes)).target(buffer)
  private val evalProj =
    UnsafeProjection.create(fns.map(_.evaluateExpression), bufferAttrs)
  private val bufUnsafe = UnsafeProjection.create(bufferAttrs, bufferAttrs)
  private val joined = new JoinedRow

  def init(): Unit = initProj(InternalRow.empty)
  def update(row: InternalRow): Unit = updateProj(joined(buffer, row))
  def merge(partial: InternalRow): Unit = mergeProj(joined(buffer, partial))
  /** Current aggregate values (one column per fn); caller copies. */
  def evaluate(): UnsafeRow = evalProj(buffer)
  /** Immutable snapshot of the buffer (for shipping / seeding). */
  def snapshot(): UnsafeRow = bufUnsafe(buffer).copy()
}

/** The group gate of a keyed operator: projects a row's evaluated
  * partition keys and tells whether two key rows are the same group.
  * At ZERO keys (the global form) the gate is switched off — every row
  * shares one immutable empty key and no per-row projection or compare
  * runs (SlidingAgg's `keyOrd = null`). Built per task. */
private[plans] final class GroupGate(part: Seq[Expression], childOut: Seq[Attribute]) {
  private val keyed = part.nonEmpty
  private val proj = UnsafeProjection.create(part, childOut)
  private val ord =
    if (!keyed) null
    else RowOrdering.create(part.zipWithIndex.map { case (e, i) =>
      SortOrder(BoundReference(i, e.dataType, e.nullable), Ascending)
    }, Seq.empty)
  private val noKey = if (keyed) null else proj(InternalRow.empty).copy()

  /** The row's key; reused buffer when keyed — copy to retain. */
  def key(row: InternalRow): UnsafeRow = if (keyed) proj(row) else noKey
  /** The row's key, safe to retain. */
  def keyCopy(row: InternalRow): UnsafeRow = if (keyed) proj(row).copy() else noKey
  def same(a: UnsafeRow, b: UnsafeRow): Boolean = !keyed || ord.compare(a, b) == 0
}

/** One boundary-group segment of a partition: group key, the combined
  * aggregation buffer over the whole segment, and — RANGE frames
  * only, else nulls — the segment's first/last projected order keys
  * plus the buffer over its FIRST tie run alone (the driver
  * tie-chain's seed; equals `buf` for single-run segments). */
private[plans] case class RunSeg(
    key: UnsafeRow, buf: UnsafeRow,
    firstOrd: UnsafeRow, firstRunBuf: UnsafeRow, lastOrd: UnsafeRow)

/** Pass-1 result for one partition: first/last group segments (the
  * same object when the partition holds a single group) and the group
  * count. Driver data stays O(partitions). */
private[plans] case class RunPartSummary(first: RunSeg, last: RunSeg, nGroups: Long)

case class GroupedRunningAggExec(
    part: Seq[Expression],
    order: Seq[SortOrder],
    fns: Seq[RunningFn],
    child: SparkPlan) extends GraftWindowExec {

  override def nodeName: String = GroupedRunningAggRewrite.opName(part)
  override def fnAttrs: Seq[Attribute] = fns.map(_.attr)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val partExprs = part
    val ord = order
    val out = output // localized: closures must not capture `this`
    val aggFns: Seq[DeclarativeAggregate] = fns.map(_.fn)
    val rangeMask: Array[Boolean] = fns.map(_.rangeFrame).toArray
    val anyRange = rangeMask.exists(identity)
    val valueTypes = fns.map(_.fn.dataType).toArray
    val rdd = child.execute()
    // boundary KEYS ship when there are group keys or RANGE order keys;
    // a zero-key ROWS node ships buffers only
    if (part.nonEmpty || anyRange)
      PlanGuards.runtimeBoundaryWarn(nodeName, rdd.getNumPartitions, ord, part)

    // Pass 1: boundary-group segment buffers only — O(partitions) to
    // the driver. The input is (group, order)-sorted, so segment
    // changes and first-run capture are streaming O(1); the kit is
    // re-initialized per segment (same underlying buffer).
    // A SINGLE post-exchange partition (AQE coalescing on a small
    // input) has no boundary segments to chain — the driver stitch's
    // outputs are identically null (a one-member chain never
    // overrides), so the whole job is skipped; `None` is the same
    // neutral element an empty partition produces (r21 fixed-cost
    // trim).
    val summaries: Array[Option[RunPartSummary]] =
      if (rdd.getNumPartitions <= 1) Array.fill(rdd.getNumPartitions)(None)
      else rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val gate = new GroupGate(partExprs, childOut)
        val (oProj, oCmp) = GroupedRankExec.keyTools(ord, childOut)
        val kit = new RunningKit(aggFns, childOut)
        var first: RunSeg = null
        var nGroups = 0L
        var curKey: UnsafeRow = null
        var firstOrd: UnsafeRow = null
        var prevOrd: UnsafeRow = null
        var firstRunBuf: UnsafeRow = null
        def closeSeg(): RunSeg = {
          val buf = kit.snapshot()
          RunSeg(curKey, buf, firstOrd,
            if (firstRunBuf == null) buf else firstRunBuf, prevOrd)
        }
        while (it.hasNext) {
          val row = it.next()
          val gk = gate.key(row)
          if (curKey == null || !gate.same(curKey, gk)) {
            if (curKey != null && nGroups == 1L) first = closeSeg()
            nGroups += 1
            curKey = gk.copy()
            kit.init()
            firstOrd = null
            prevOrd = null
            firstRunBuf = null
          }
          if (anyRange) {
            val ok = oProj(row)
            if (prevOrd == null || oCmp.compare(prevOrd, ok) != 0) {
              if (prevOrd != null && firstRunBuf == null) firstRunBuf = kit.snapshot()
              prevOrd = ok.copy()
              if (firstOrd == null) firstOrd = prevOrd
            }
          }
          kit.update(row)
        }
        if (curKey == null) None
        else {
          val last = closeSeg()
          Some(RunPartSummary(if (nGroups == 1L) last else first, last, nGroups))
        }
      })

    // Driver chain IN PARTITION ORDER: same-group boundary segments
    // merge into the group's running chain buffer; each continuation
    // partition learns its first group's PREFIX buffer. RANGE frames
    // additionally chain boundary TIE RUNS inside a spanning group:
    // when the run's true end is discovered (it closes inside a later
    // segment, at a boundary, at the group's end, or at the corpus
    // end), the evaluated end-state values override every earlier
    // member's final flush.
    val nParts = summaries.length
    val contBuf = new Array[UnsafeRow](nParts) // null → first group starts fresh
    val lastOv = new Array[UnsafeRow](nParts) // evaluated values; null → no override
    locally {
      val gate = new GroupGate(partExprs, childOut)
      val (_, oCmp) = GroupedRankExec.keyTools(ord, childOut)
      def mergeBufs(bufs: UnsafeRow*): UnsafeRow = {
        val kit = new RunningKit(aggFns, childOut)
        kit.init()
        bufs.foreach(b => if (b != null) kit.merge(b))
        kit.snapshot()
      }
      def evalState(bufs: UnsafeRow*): UnsafeRow = {
        val kit = new RunningKit(aggFns, childOut)
        kit.init()
        bufs.foreach(b => if (b != null) kit.merge(b))
        kit.evaluate().copy()
      }
      var openKey: UnsafeRow = null // open group's key
      var chainBuf: UnsafeRow = null // its accumulated buffer through prior partitions
      var openOrd: UnsafeRow = null // its final order key so far (RANGE)
      val runMembers = ArrayBuffer.empty[Int] // partitions whose final flush is the open run
      def overrideRun(vals: UnsafeRow): Unit = {
        runMembers.foreach(q => lastOv(q) = vals)
        runMembers.clear()
      }
      var p = 0
      while (p < nParts) {
        summaries(p) match {
          case None => // empty partition: chains pass through
          case Some(s) =>
            val isChained = openKey != null && gate.same(openKey, s.first.key)
            // RANGE boundary-run facts for THIS edge (false when !anyRange)
            val ordCont = isChained && anyRange && openOrd != null &&
              s.first.firstOrd != null &&
              oCmp.compare(openOrd, s.first.firstOrd) == 0
            val firstSegMultiRun = anyRange && s.first.firstOrd != null &&
              oCmp.compare(s.first.firstOrd, s.first.lastOrd) != 0
            if (isChained) {
              contBuf(p) = chainBuf
              if (anyRange) {
                if (ordCont) {
                  if (firstSegMultiRun) {
                    // the boundary run closes inside p's first segment
                    overrideRun(evalState(chainBuf, s.first.firstRunBuf))
                  } else if (s.nGroups > 1L) {
                    // single-run first segment AND the group ends
                    // inside p: the run reaches the group's end
                    overrideRun(evalState(chainBuf, s.first.buf))
                  }
                  // else: p wholly continues the run — stays open
                } else {
                  // the boundary run closed exactly at the previous
                  // edge; the chain's last member's own flush already
                  // held the full state, earlier members did not
                  if (runMembers.length > 1) overrideRun(evalState(chainBuf))
                  else runMembers.clear()
                }
              }
              chainBuf = mergeBufs(chainBuf, s.first.buf)
            } else {
              // the open group (if any) ended at the previous edge
              if (anyRange && runMembers.length > 1) overrideRun(evalState(chainBuf))
              else runMembers.clear()
              contBuf(p) = null
            }
            // advance the open context to p's LAST segment
            if (s.nGroups == 1L) {
              if (!isChained) {
                openKey = s.first.key
                chainBuf = s.first.buf
              } // chained: openKey unchanged, chainBuf accumulated above
              if (anyRange && !(ordCont && !firstSegMultiRun)) {
                // a new final run context begins inside p
                openOrd = s.first.lastOrd
                runMembers.clear()
              } // else the boundary run is still the final run: keep members
            } else {
              openKey = s.last.key
              chainBuf = s.last.buf
              if (anyRange) {
                openOrd = s.last.lastOrd
                runMembers.clear()
              }
            }
            if (anyRange) runMembers += p
        }
        p += 1
      }
      // the final open group's final run ends at the corpus end
      if (anyRange && runMembers.length > 1) overrideRun(evalState(chainBuf))
    }

    // Pass 2: re-stream each sorted partition (shuffle reuse, local
    // sort re-runs); first group seeds from its prefix, every group
    // change re-initializes the kit. ROWS values per row; RANGE values
    // per tie run via the one-run buffer, with the partition's FINAL
    // flush overridden by the driver chain when its run extends on.
    rdd.mapPartitionsWithIndex({ (pid, it) =>
      val gate = new GroupGate(partExprs, childOut)
      val kit = new RunningKit(aggFns, childOut)
      val toUnsafe = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      var curKey: UnsafeRow = null
      var groupIdx = 0L
      val seed = contBuf(pid)

      def startGroup(gk: UnsafeRow): Unit = {
        groupIdx += 1
        curKey = gk.copy()
        kit.init()
        if (groupIdx == 1L && seed != null) kit.merge(seed)
      }

      if (!anyRange) {
        it.map { row =>
          val gk = gate.key(row)
          if (curKey == null || !gate.same(curKey, gk)) startGroup(gk)
          kit.update(row)
          toUnsafe(joined(row, kit.evaluate()))
        }
      } else {
        val (oProj, oCmp) = GroupedRankExec.keyTools(ord, childOut)
        val rangeOv = lastOv(pid)
        val mixed = new GenericInternalRow(rangeMask.length)
        new Iterator[InternalRow] {
          // (row, ROWS-frame values at that row)
          private val buf = ArrayBuffer.empty[(InternalRow, UnsafeRow)]
          private var outIt: Iterator[InternalRow] = Iterator.empty
          private var prevOrd: UnsafeRow = null

          private def flush(atEnd: Boolean): Iterator[InternalRow] = {
            val rangeVals =
              if (atEnd && rangeOv != null) rangeOv
              else kit.evaluate().copy()
            val rows = buf.toArray
            buf.clear()
            rows.iterator.map { case (r, rowVals) =>
              var j = 0
              while (j < rangeMask.length) {
                mixed.update(j,
                  if (rangeMask(j)) rangeVals.get(j, valueTypes(j))
                  else rowVals.get(j, valueTypes(j)))
                j += 1
              }
              toUnsafe(joined(r, mixed))
            }
          }

          @annotation.tailrec private def advance(): Unit = {
            if (outIt.hasNext) ()
            else if (it.hasNext) {
              val row = it.next()
              val gk = gate.key(row)
              val newGroup = curKey == null || !gate.same(curKey, gk)
              val ok = oProj(row)
              val newRun = newGroup || prevOrd == null ||
                oCmp.compare(prevOrd, ok) != 0
              if (newRun) {
                // evaluate the pending run BEFORE any kit reset
                val pending = if (buf.nonEmpty) flush(atEnd = false) else Iterator.empty
                if (newGroup) startGroup(gk)
                prevOrd = ok.copy()
                kit.update(row)
                buf += ((row.copy(), kit.evaluate().copy()))
                outIt = pending
                advance()
              } else {
                kit.update(row)
                buf += ((row.copy(), kit.evaluate().copy()))
                advance()
              }
            } else if (buf.nonEmpty) outIt = flush(atEnd = true)
          }
          override def hasNext: Boolean = { advance(); outIt.hasNext }
          override def next(): InternalRow = { advance(); outIt.next() }
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedRunningAggExec =
    copy(child = newChild)
}
