package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}

/** Corpus-global ranking as a first-class operator (SURVEY §2 engine
  * components; the "custom LogicalPlan + Rule + SparkStrategy +
  * SparkPlan" tier, TopKPerGroup's sibling).
  *
  * `row_number()/rank()/dense_rank()/percent_rank()/ntile(n) OVER
  * (ORDER BY …)` with an EMPTY partition clause is the classic Spark
  * scale killer: the planner requires AllTuples, so every row funnels
  * through ONE partition and one task sorts the corpus. The repo's
  * queries avoid it by hand (t20/q23/m11's range-partition ranking
  * idiom: range repartition → per-partition local ranks → bounded
  * offset join). [[GlobalRankRewrite]] generalizes that idiom into the
  * optimizer so ANY query gets the scale-correct plan:
  *
  *   - the logical Window is replaced by [[GlobalRankNode]];
  *   - [[GlobalRankStrategy]] plans [[GlobalRankExec]], whose
  *     required distribution is `OrderedDistribution(order)` — the
  *     SAME requirement a global sort has, so EnsureRequirements
  *     inserts one RANGE exchange + per-partition sorts and nothing
  *     funnels to a single task;
  *   - doExecute runs the two-pass zipWithIndex discipline ON THE
  *     SAME shuffle output: pass 1 collects per-partition (row count,
  *     distinct-key count) — two longs per partition to the driver —
  *     and pass 2 streams each sorted partition once, emitting global
  *     ranks as `partition offset + local rank`. No offset join, no
  *     second shuffle, no per-group state: O(1) memory per task.
  *
  * Correct across partition boundaries for ANY partitioning Spark
  * may legally hand the exec. Under the exec's own exchange,
  * RangePartitioning assigns EQUAL keys to the same partition, so a
  * tie group never spans partitions and the per-partition offsets
  * compose directly. But `OrderedDistribution(order)` is also
  * satisfied — by RangePartitioning's common-PREFIX rule — by a
  * pre-existing FINER range exchange (an `orderBy(k, id)` below a
  * window ordered by `k` alone, a stacked finer window), and a finer
  * partitioner happily splits coarse-key tie groups at partition
  * boundaries. Pass 1 therefore also ships each partition's FIRST
  * and LAST order keys plus boundary tie-run sizes (O(partitions)
  * key rows), and the driver CHAINS split tie groups across
  * boundaries — continuation partitions seed rank/dense state from
  * the chain instead of restarting it, and cume_dist tie ends are
  * overridden with the chain's global end (GroupedRank's
  * segment-chaining discipline, applied to the order-key tie
  * dimension; TieSplitSpec pins the hazardous shapes). percent_rank,
  * cume_dist and ntile are closed forms over
  * (global rank, tie-group end, global row number, total N) — the
  * formulas mirror Spark's own definitions, so results are
  * bit-identical to the built-in window (the equivalence spec pins
  * all six functions, with ties, nulls, descending keys and
  * NaN/-0.0 doubles). cume_dist needs each tie group's END before
  * any member emits, so its presence switches pass 2 to a
  * one-tie-group buffer — memory bounds at the largest tie-group
  * FRAGMENT within a partition (the exec's own exchange co-locates
  * groups whole, the same inherent floor the native range frame
  * pays; a finer reused exchange only shrinks the fragments), never
  * the corpus.
  *
  * Scope guards: fires only when EVERY window expression in the node
  * is one of the six supported rank functions over the node's own
  * order (the function's own running frame, literal ntile bucket
  * count). Stacked on [[TopKRewrite]]: a `filter(rank <= k)` over a global
  * window is consumed by the heap operator first (better: it never
  * materializes the full ranking); this rule catches the bare
  * windows. Disable with `spark.graft.globalRank.enabled=false`
  * (the A/B lever the equivalence spec uses);
  * `spark.graft.globalRank.longRank=true` widens the Int-family
  * ranks to LongType past the 2^31 ceiling (see [[RankRange]] and
  * the conf's scaladoc for the soundness/fallback contract).
  *
  * The rewrite re-executes the sorted child RDD once per pass; below
  * it sits the (reused) shuffle, so pass 2 re-reads shuffle blocks
  * and re-sorts rather than recomputing the plan. Two distributed
  * O(n/p log n/p) sorts replace one single-task O(n log n) sort —
  * at 100 TB the former is a plan, the latter an OOM.
  */
sealed trait GlobalRankFn extends Serializable { def dataType: DataType }
case object GRowNumber extends GlobalRankFn { val dataType: DataType = IntegerType }
case object GRank extends GlobalRankFn { val dataType: DataType = IntegerType }
case object GDenseRank extends GlobalRankFn { val dataType: DataType = IntegerType }
case object GPercentRank extends GlobalRankFn { val dataType: DataType = DoubleType }
case object GCumeDist extends GlobalRankFn { val dataType: DataType = DoubleType }
case class GNTile(buckets: Int) extends GlobalRankFn { val dataType: DataType = IntegerType }

/** Shared matcher for the six rank-family window functions over a
  * node's own (partition, order) spec — used by [[GlobalRankRewrite]]
  * (empty partition) and [[GroupedRankRewrite]] (non-empty). */
private[plans] object RankFnMatch {

  private def sameExprs(a: Seq[Expression], b: Seq[Expression]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.semanticEquals(y) }

  private val RunningRowFrame =
    SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow)
  private val RunningRangeFrame =
    SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow)

  def supported(
      e: NamedExpression,
      part: Seq[Expression],
      order: Seq[SortOrder],
      allowLong: Boolean = false): Option[(Attribute, GlobalRankFn)] = e match {
    case a @ Alias(WindowExpression(fn, WindowSpecDefinition(p2, o2, frame)), _)
        if sameExprs(p2, part) && sameExprs(o2, order) =>
      // each rank function carries its own fixed frame: the running
      // ROW frame for the RowNumber/Rank family, the running RANGE
      // frame for cume_dist (ties included via the range bound)
      (fn, frame) match {
        case (_: RowNumber, RunningRowFrame) => Some(a.toAttribute -> GRowNumber)
        case (_: Rank, RunningRowFrame) => Some(a.toAttribute -> GRank)
        case (_: DenseRank, RunningRowFrame) => Some(a.toAttribute -> GDenseRank)
        case (_: PercentRank, RunningRowFrame) => Some(a.toAttribute -> GPercentRank)
        case (_: CumeDist, RunningRangeFrame) => Some(a.toAttribute -> GCumeDist)
        case (NTile(Literal(b: Int, IntegerType)), RunningRowFrame) if b > 0 =>
          Some(a.toAttribute -> GNTile(b))
        // the LongType variants LongRankWiden swaps in under the
        // longRank conf (global windows only — GroupedRankRewrite
        // passes allowLong=false, its exec emits Int): the exec keys
        // its emission width off the attribute's LongType
        case (_: graft.functions.LongRowNumber, RunningRowFrame) if allowLong =>
          Some(a.toAttribute -> GRowNumber)
        case (_: graft.functions.LongRank, RunningRowFrame) if allowLong =>
          Some(a.toAttribute -> GRank)
        case (_: graft.functions.LongDenseRank, RunningRowFrame) if allowLong =>
          Some(a.toAttribute -> GDenseRank)
        case _ => None
      }
    case _ => None
  }
}

object GlobalRankRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.globalRank.enabled"

  /** Escape hatch past the IntegerType rank ceiling (default false):
    * `row_number`/`rank`/`dense_rank` are IntegerType by Spark's own
    * definition, so past 2^31 input rows a corpus-global ranking has
    * NO representable value and the exec fails loudly — which is
    * exactly the scale this operator exists for. With the conf on,
    * [[graft.functions.LongRankWiden]] swaps the three for LongType
    * window functions AT ANALYSIS TIME (a documented schema
    * divergence; percent_rank/cume_dist are doubles and ntile is
    * bounded by its bucket count, so they keep native types at any
    * N); this rewrite then recognizes the Long variants and the exec
    * emits 64-bit ranks. Analysis-time is a correctness requirement,
    * not a convenience: Dataset.schema/encoders read the ANALYZED
    * plan, and downstream consumers re-coerce against the Long column
    * in the same resolution fixed-point. */
  val LongRankKey = "spark.graft.globalRank.longRank"

  private def enabled: Boolean =
    SQLConf.get.getConfString(ConfKey, "true").toBoolean

  private def supported(
      e: NamedExpression,
      order: Seq[SortOrder]): Option[(Attribute, GlobalRankFn)] =
    RankFnMatch.supported(e, Nil, order, allowLong = true)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // PlanGuards: the exec runs TWO jobs over the child RDD; without
      // an exchange below, a nondeterministic child could recompute
      // differently between the passes and break the offset stitch.
      // The node's OWN orderSpec must be deterministic too: keyTools
      // re-evaluates the order expressions independently in each pass
      // (and the range partitioner hashed a third evaluation), so a
      // `rank() OVER (ORDER BY rand())` shuffle idiom would produce
      // mutually inconsistent offsets/ties — it stays native.
      case w @ LogicalWindow(wexprs, Nil, order, child, _)
          if order.nonEmpty && wexprs.nonEmpty &&
            order.forall(_.deterministic) &&
            PlanGuards.subtreeDeterministic(child) &&
            PlanGuards.boundaryTrafficOk(order) =>
        val fns = wexprs.map(supported(_, order))
        if (fns.forall(_.isDefined)) GlobalRankNode(order, fns.flatten, child)
        else w
    }
  }
}

/** Logical global ranking: child's rows plus one column per rank
  * function (same exprIds as the window expressions the rewrite
  * replaced, so downstream references bind unchanged). */
case class GlobalRankNode(
    order: Seq[SortOrder],
    fns: Seq[(Attribute, GlobalRankFn)],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ fns.map(_._1)
  override def producedAttributes: AttributeSet = AttributeSet(fns.map(_._1))
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalRankNode =
    copy(child = newChild)
}

object GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRankNode(order, fns, child) =>
      GlobalRankExec(order, fns, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Pass-1 result for one [[GlobalRankExec]] partition: row and
  * distinct-key counts plus the boundary facts the driver tie-chain
  * needs — first/last projected order key (null when the partition is
  * empty) and the row counts of the first/last tie runs. */
private[plans] case class RankPartStats(
    n: Long, d: Long, firstKey: UnsafeRow, lastKey: UnsafeRow,
    firstN: Long, lastN: Long)

case class GlobalRankExec(
    order: Seq[SortOrder],
    fns: Seq[(Attribute, GlobalRankFn)],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ fns.map(_._1)
  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val ord = order
    val out = output // localized: the closures must not capture `this`
    val fnSpecs: Array[GlobalRankFn] = fns.map(_._2).toArray
    // emission width per column: LongType when the longRank conf
    // widened the attribute at rewrite time, IntegerType natively
    val fnLong: Array[Boolean] = fns.map(_._1.dataType == LongType).toArray
    val needsCume = fnSpecs.contains(GCumeDist)
    val rdd = child.execute()
    PlanGuards.runtimeBoundaryWarn("GlobalRank", rdd.getNumPartitions, ord)

    // r22 fixed-cost trim (the r21 verdict's #1, the one family left
    // out of the r21 wave): on ONE post-exchange partition (AQE
    // coalescing on small inputs) every pass-1 boundary fact is
    // vacuous — offsets are 0 and no tie run can split — so when no
    // function needs the corpus TOTALS the boundary job is not
    // scheduled. Fn-conditional by necessity: percent_rank/cume_dist/
    // ntile close over totalN before their first row can emit, so
    // their presence keeps pass 1 at any partition count. The
    // RankRange overflow guard, which pass 1 also fed, moves INLINE
    // into pass 2 under the skip (checked at the exact row that would
    // wrap, before it emits — see the guards in `step`).
    val skipPassOne = rdd.getNumPartitions <= 1 && fnSpecs.forall {
      case GRowNumber | GRank | GDenseRank => true
      case _ => false
    }

    // Pass 1: per partition, row/distinct counts plus the boundary
    // tie-run facts the driver chain needs — first/last order key and
    // the row counts of the first/last tie runs. O(partitions) key
    // rows to the driver; the input is sorted, so everything is
    // streaming O(1). All shipped facts are statistics of the
    // ORDER-KEY sequence, insensitive to tie-permutation between the
    // two passes.
    val stats: Array[RankPartStats] =
      if (skipPassOne)
        Array.fill(rdd.getNumPartitions)(RankPartStats(0L, 0L, null, null, 0L, 0L))
      else rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
        val (keyProj, cmp) = GlobalRankExec.keyTools(ord, childOut)
        var n = 0L
        var d = 0L
        var prev: UnsafeRow = null
        var firstKey: UnsafeRow = null
        var firstN = 0L // rows in the first tie run
        var runN = 0L // rows in the current (ultimately last) tie run
        while (it.hasNext) {
          val k = keyProj(it.next())
          if (prev == null || cmp.compare(prev, k) != 0) {
            if (d == 1L) firstN = runN // the first run just closed
            d += 1
            prev = k.copy()
            if (firstKey == null) firstKey = prev
            runN = 0L
          }
          runN += 1
          n += 1
        }
        if (d == 1L) firstN = runN // single-run partition
        RankPartStats(n, d, firstKey, prev, firstN, runN)
      })

    // Driver stitch: walk partitions in order. Besides the row /
    // distinct prefix offsets, chain tie groups that SPLIT across
    // partition boundaries (possible when a finer pre-existing range
    // exchange satisfied the prefix rule; impossible under the exec's
    // own exchange, where all corrections below are no-ops): a
    // partition whose first key equals the previous non-empty
    // partition's last key continues that tie group, so it inherits
    // the group's rank (the chain's start row number) and dense rank
    // instead of restarting them, the distinct prefix stops double-
    // counting the group, and — for cume_dist — every partition whose
    // LAST tie run extends into later partitions learns the run's
    // true global end.
    val nParts = stats.length
    val rowOffsets = new Array[Long](nParts)
    val denseOffsets = new Array[Long](nParts)
    val chained = new Array[Boolean](nParts)
    val chainRank = new Array[Long](nParts) // global rn of the boundary group's first row
    val lastTieEndOv = new Array[Long](nParts) // 0 = no override
    var accN = 0L
    var accD = 0L
    locally {
      val (_, cmp) = GlobalRankExec.keyTools(ord, childOut)
      var openKey: UnsafeRow = null // last tie group's key, if any partition seen
      var openStartRn = 0L // global rn of that group's first row
      val openParts = scala.collection.mutable.ArrayBuffer.empty[Int]
      var p = 0
      while (p < nParts) {
        rowOffsets(p) = accN
        denseOffsets(p) = accD
        val st = stats(p)
        if (st.n > 0L) {
          val isChained = openKey != null && cmp.compare(openKey, st.firstKey) == 0
          chained(p) = isChained
          if (isChained) {
            chainRank(p) = openStartRn
            accD += st.d - 1L // the boundary group was already counted
            if (st.d > 1L) {
              // the open group ends inside p: its last run ends at
              // global rn rowOffsets(p) + firstN
              val end = accN + st.firstN
              openParts.foreach(q => lastTieEndOv(q) = end)
              openParts.clear()
            }
          } else {
            // the open group ended exactly at the previous boundary
            openParts.foreach(q => lastTieEndOv(q) = accN)
            openParts.clear()
            accD += st.d
          }
          if (!(isChained && st.d == 1L)) {
            // p's LAST group starts a fresh open chain
            openKey = st.lastKey
            openStartRn = accN + st.n - st.lastN + 1L
            openParts.clear()
          }
          openParts += p
          accN += st.n
        }
        p += 1
      }
      // the final open group runs to the corpus end
      openParts.foreach(q => lastTieEndOv(q) = accN)
    }
    val totalN = accN
    // Per-function overflow guards (RankRange): an Int-typed
    // row_number/rank caps at 2^31-1 rows, an Int-typed dense_rank at
    // 2^31-1 DISTINCT keys; LongType ranks (the longRank conf),
    // percent_rank/cume_dist (doubles) and ntile (≤ bucket count)
    // have no row ceiling. Fail loudly before pass 2 rather than wrap
    // to negatives (native Spark can't reach these counts at all: its
    // single sort task dies first).
    val rankRemedy =
      s"; set ${GlobalRankRewrite.LongRankKey}=true for LongType ranks " +
        "(documented schema divergence) or pre-aggregate before ranking"
    RankRange.check("GlobalRank", "input rows",
      fnSpecs.zip(fnLong), totalN, accD, rankRemedy)
    // under the pass-1 skip the totals above are the placeholder 0s:
    // the same per-function ceilings are enforced inline in pass 2
    // instead (cost: one predictable compare per row, only on the
    // skip path and only when an Int-typed rank is present)
    val inlineNCheck = skipPassOne && fnSpecs.zip(fnLong).exists {
      case (GRowNumber | GRank, false) => true
      case _ => false
    }
    val inlineDCheck = skipPassOne && fnSpecs.zip(fnLong).exists {
      case (GDenseRank, false) => true
      case _ => false
    }

    // Pass 2: stream each sorted partition once; the shuffle below is
    // reused, only the partition-local sort re-runs.
    rdd.mapPartitionsWithIndex ({ (pid, it) =>
      val (keyProj, cmp) = GlobalRankExec.keyTools(ord, childOut)
      val toUnsafe = UnsafeProjection.create(out, out)
      val extra = new SpecificInternalRow(
        fnSpecs.zip(fnLong).map { case (f, l) => if (l) LongType else f.dataType }.toSeq)
      val joined = new JoinedRow
      var rn = rowOffsets(pid)
      // a chained partition's first tie run CONTINUES the boundary
      // group: it must not claim a fresh dense rank (init at -1; the
      // first run's increment then lands back on the group's own
      // dense rank) and its rank is the chain's start row number, not
      // the local one
      val isChained = chained(pid)
      val contRank = chainRank(pid)
      val tieEndOv = lastTieEndOv(pid)
      var dr = denseOffsets(pid) - (if (isChained) 1L else 0L)
      var curRank = 0L
      var runsSeen = 0L
      var prev: UnsafeRow = null

      // tieEnd = global row number of the LAST member of the row's tie
      // group — cume_dist's numerator; unused (0) on the streaming path.
      def emit(row: InternalRow, rrn: Long, rank: Long, rdr: Long,
          tieEnd: Long): InternalRow = {
        var j = 0
        while (j < fnSpecs.length) {
          fnSpecs(j) match {
            case GRowNumber =>
              if (fnLong(j)) extra.setLong(j, rrn) else extra.setInt(j, rrn.toInt)
            case GRank =>
              if (fnLong(j)) extra.setLong(j, rank) else extra.setInt(j, rank.toInt)
            case GDenseRank =>
              if (fnLong(j)) extra.setLong(j, rdr) else extra.setInt(j, rdr.toInt)
            case GPercentRank =>
              extra.setDouble(j,
                if (totalN > 1L) (rank - 1L).toDouble / (totalN - 1L).toDouble
                else 0.0d)
            case GCumeDist =>
              extra.setDouble(j, tieEnd.toDouble / totalN.toDouble)
            case GNTile(b) =>
              // Spark's NTile fill rule: q = N/b rows per bucket, the
              // first r = N%b buckets take one extra row.
              val q = totalN / b
              val r = totalN % b
              val big = q + 1L
              val t = r * big
              val tile =
                if (rrn <= t) (rrn - 1L) / big + 1L
                else r + (rrn - 1L - t) / q + 1L
              extra.setInt(j, tile.toInt)
          }
          j += 1
        }
        toUnsafe(joined(row, extra))
      }

      // shared per-row rank step: continuation-aware tie detection
      def step(row: InternalRow): UnsafeRow = {
        rn += 1
        if (inlineNCheck && rn > Int.MaxValue.toLong)
          RankRange.check("GlobalRank", "input rows",
            fnSpecs.zip(fnLong), rn, dr, rankRemedy)
        val k = keyProj(row)
        if (prev == null || cmp.compare(prev, k) != 0) {
          runsSeen += 1
          curRank = if (runsSeen == 1L && isChained) contRank else rn
          dr += 1
          if (inlineDCheck && dr > Int.MaxValue.toLong)
            RankRange.check("GlobalRank", "input rows",
              fnSpecs.zip(fnLong), rn, dr, rankRemedy)
          prev = k.copy()
        }
        k
      }

      if (!needsCume) {
        // streaming: one key copy per tie group, O(1) memory
        it.map { row =>
          step(row)
          emit(row, rn, curRank, dr, 0L)
        }
      } else {
        // cume_dist needs the tie group's END before any member can be
        // emitted, so buffer ONE tie group (full-row copies) and flush
        // it when the next key arrives. Memory is the largest tie-group
        // fragment in this partition — under the exec's own exchange a
        // whole group (the same inherent floor native WindowExec pays
        // for its range frame), under a finer reused exchange less —
        // never the corpus.
        new Iterator[InternalRow] {
          private val buf =
            scala.collection.mutable.ArrayBuffer.empty[(InternalRow, Long, Long, Long)]
          private var outIt: Iterator[InternalRow] = Iterator.empty
          // atEnd: the partition's LAST tie run may extend into later
          // partitions (finer-exchange split) — the driver chain then
          // supplies the run's true global end
          private def flush(atEnd: Boolean): Iterator[InternalRow] = {
            val tieEnd =
              if (atEnd && tieEndOv > 0L) tieEndOv else buf.last._2
            val emitted = buf.toArray
            buf.clear()
            emitted.iterator.map { case (r, a, b, c) => emit(r, a, b, c, tieEnd) }
          }
          @annotation.tailrec private def advance(): Unit = {
            if (outIt.hasNext) ()
            else if (it.hasNext) {
              val row = it.next()
              val wasNew = {
                val before = runsSeen
                step(row)
                runsSeen != before
              }
              if (wasNew) {
                val pending = if (buf.nonEmpty) flush(atEnd = false) else Iterator.empty
                buf += ((row.copy(), rn, curRank, dr))
                outIt = pending
                advance()
              } else {
                buf += ((row.copy(), rn, curRank, dr))
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

  override protected def withNewChildInternal(newChild: SparkPlan): GlobalRankExec =
    copy(child = newChild)
}

object GlobalRankExec {
  /** Per-task tie-detection tools: project the order keys, compare
    * key rows with the SORT'S OWN semantics (RowOrdering over the
    * SortOrders rebound to the key row). Binary key equality would
    * be wrong for floats — -0.0 and 0.0 (and NaN bit patterns) sort
    * equal but differ as bytes — and full-row compare+copy would
    * drag every payload column through the detector; this copies a
    * few key columns once per tie group. */
  private[plans] def keyTools(
      order: Seq[SortOrder],
      childOut: Seq[Attribute]): (UnsafeProjection, BaseOrdering) = {
    val proj = UnsafeProjection.create(order.map(_.child), childOut)
    val bound = order.zipWithIndex.map { case (so, i) =>
      so.copy(child = BoundReference(i, so.child.dataType, so.child.nullable))
    }
    (proj, RowOrdering.create(bound, Seq.empty))
  }
}

/** Per-function overflow guards for the rank-family output columns,
  * shared by [[GlobalRankExec]] (corpus totals) and [[GroupedRankExec]]
  * (per-group maxima). Refined per function rather than a blanket row
  * cap, because the ceiling is a property of the OUTPUT TYPE, not the
  * operator: an Int-typed row_number/rank has no representable value
  * past 2^31-1 rows and an Int-typed dense_rank past 2^31-1 DISTINCT
  * keys, while LongType ranks (the longRank conf), percent_rank and
  * cume_dist (doubles) and ntile (bounded by its literal bucket count)
  * are valid at any N — a 100 TB corpus can ntile/percent_rank
  * globally with NO escape hatch needed. Factored out so the specs
  * exercise the 2^31 boundary with synthetic totals (three longs), not
  * 2^31 real rows. */
private[graft] object RankRange {
  /** @param fns   each rank function with whether it emits LongType
    * @param n     rows in the checked scope (corpus / largest group)
    * @param d     distinct order keys in the checked scope
    * @param remedy appended to the failure message (operator-specific) */
  def check(op: String, scope: String, fns: Seq[(GlobalRankFn, Boolean)],
      n: Long, d: Long, remedy: String): Unit =
    fns.foreach {
      case (GRowNumber | GRank, false) =>
        require(n <= Int.MaxValue.toLong,
          s"$op: $n $scope exceed the IntegerType rank range (2^31-1)$remedy")
      case (GDenseRank, false) =>
        require(d <= Int.MaxValue.toLong,
          s"$op: $d distinct keys over $scope exceed the IntegerType " +
            s"dense_rank range (2^31-1)$remedy")
      case _ => () // LongType ranks, ntile (≤ buckets), percent_rank/cume_dist
    }
}

/** Shared guards of the window-operator rewrites (rank, running,
  * offset, sliding, full-frame aggregate; global or grouped).
  * [[subtreeDeterministic]] is true iff no expression anywhere in the
  * subtree is nondeterministic: every rewrite evaluates (parts of) the
  * child more than once — the agg rewrites duplicate the subtree
  * outright, the two-pass operators run two jobs over their RDD — so
  * a rand()-derived column or sampling filter could diverge between
  * evaluations; those stay native. The byte guards below bound the
  * pass-1 driver traffic. */
object PlanGuards extends org.apache.spark.internal.Logging {
  def subtreeDeterministic(p: LogicalPlan): Boolean =
    p.find(n => !n.expressions.forall(_.deterministic)).isEmpty

  /** Byte guard on pass-1 boundary-KEY driver traffic, the family
    * analogue of the offset class's maxOffset cap. GlobalRank,
    * GroupedRank and GroupedRunningAgg (with group keys or a RANGE
    * frame) each ship two projected key rows per partition to the
    * driver — O(partitions × key bytes), which
    * is trivial for the numeric/date keys real rankings use but has
    * no cap of its own: a wide-string order key at 10^5+ partitions
    * would make pass 1 driver-bound. Projected traffic is estimated
    * CONSERVATIVELY at rewrite time as
    * `numShufflePartitions × 2 keys × Σ per-column width`, with
    * variable-width columns (strings/binaries/nested types) assumed
    * 256 bytes regardless of their optimistic defaultSize — past
    * `spark.graft.globalWindow.maxBoundaryBytes` (default 64 MB) the
    * window stays native with a log line, the same
    * weigh-it-deliberately contract as raising maxOffset. The
    * estimate uses the shuffle-partition conf (an upper bound on the
    * range exchange's width; AQE only coalesces downward). */
  val MaxBoundaryBytesKey = "spark.graft.globalWindow.maxBoundaryBytes"

  private def widthOf(dt: org.apache.spark.sql.types.DataType): Long = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BinaryType => 256L
    case _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.MapType |
         _: org.apache.spark.sql.types.StructType =>
      math.max(dt.defaultSize.toLong, 256L)
    case other => other.defaultSize.toLong
  }

  private def capBytes: Long = SQLConf.get
    .getConfString(MaxBoundaryBytesKey, (64L * 1024 * 1024).toString).toLong

  private def keyBytesOf(order: Seq[SortOrder], part: Seq[Expression]): Long =
    (order.map(_.child.dataType) ++ part.map(_.dataType)).map(widthOf).sum

  /** Plan-time guard. SCOPE CAVEAT (r18, from the r17 advisory): the
    * shuffle-partition conf bounds only the exec's OWN rewrite-
    * inserted exchange — the operators deliberately REUSE pre-existing
    * finer exchanges (the OrderedDistribution prefix rule), and a
    * `repartitionByRange(N)` with N far above the conf is invisible
    * here. [[runtimeBoundaryWarn]] is the runtime backstop for that
    * configuration. */
  def boundaryTrafficOk(order: Seq[SortOrder], part: Seq[Expression] = Nil): Boolean = {
    val cap = capBytes
    val parts = SQLConf.get.numShufflePartitions.toLong
    val keyBytes = keyBytesOf(order, part)
    val projected = parts * 2L * keyBytes
    val ok = projected <= cap
    if (!ok) logInfo(s"global-window rewrite bails to the native plan: " +
      s"projected pass-1 boundary-key driver traffic ($parts partitions × " +
      s"2 keys × $keyBytes bytes = $projected B) exceeds " +
      s"$MaxBoundaryBytesKey=$cap")
    ok
  }

  /** Runtime backstop for [[boundaryTrafficOk]]'s blind spot: called
    * by each key-shipping exec immediately before its pass-1 runJob
    * with the child RDD's ACTUAL partition count, which may come from
    * a reused pre-existing finer exchange the plan-time estimate never
    * saw. The plan is fixed at this point, so there is nothing sound
    * to fall back to mid-execution — instead the breach is logged
    * LOUDLY (warning level) with the numbers and the conf name, so a
    * driver-memory incident is attributable and the fix (raise the
    * cap consciously, or coarsen the pre-partitioning) is named
    * before the OOM rather than after. The estimate stays
    * conservative (256 B floor for variable-width keys); actual
    * traffic is usually far smaller. */
  def runtimeBoundaryWarn(op: String, nParts: Int,
      order: Seq[SortOrder], part: Seq[Expression] = Nil): Unit = {
    val cap = capBytes
    val keyBytes = keyBytesOf(order, part)
    val projected = nParts.toLong * 2L * keyBytes
    if (projected > cap) logWarning(s"$op pass 1 will ship an estimated " +
      s"$projected B of boundary keys to the driver ($nParts actual " +
      s"partitions × 2 keys × $keyBytes B) — above $MaxBoundaryBytesKey=" +
      s"$cap, which the plan-time guard could not see because the " +
      s"operator reused a pre-existing finer exchange. If the driver " +
      s"OOMs here, coarsen the upstream repartitioning or raise the cap " +
      s"deliberately.")
  }

  /** [[boundaryTrafficOk]]'s sibling for ring-shipping operators
    * (SlidingAgg): pass 1 ships `extent` projected VALUE tuples (+
    * evaluated part keys) per partition instead of 2 key rows, so the
    * projected traffic is partitions × extent × Σ column width,
    * against the same cap and with the same conservative
    * variable-width floor. */
  def valueTrafficOk(op: String, values: Seq[Expression],
      part: Seq[Expression], extent: Int): Boolean = {
    val cap = capBytes
    val parts = SQLConf.get.numShufflePartitions.toLong
    val width = (values.map(_.dataType) ++ part.map(_.dataType)).map(widthOf).sum
    val projected = parts * extent.toLong * width
    val ok = projected <= cap
    if (!ok) logInfo(s"$op rewrite bails to the native plan: projected " +
      s"pass-1 boundary-value driver traffic ($parts partitions × $extent " +
      s"values × $width bytes = $projected B) exceeds $MaxBoundaryBytesKey=$cap")
    ok
  }

  /** [[runtimeBoundaryWarn]]'s sibling for ring-shipping operators —
    * the same loud-warning runtime backstop over the ACTUAL partition
    * count of a reused finer exchange, with the extent in the
    * message so the remedy (lower the frame extent cap, coarsen the
    * pre-partitioning, or raise the byte cap deliberately) is named
    * before a driver OOM rather than after. */
  def runtimeValueTrafficWarn(op: String, nParts: Int, values: Seq[Expression],
      part: Seq[Expression], extent: Int): Unit = {
    val cap = capBytes
    val width = (values.map(_.dataType) ++ part.map(_.dataType)).map(widthOf).sum
    val projected = nParts.toLong * extent.toLong * width
    if (projected > cap) logWarning(s"$op pass 1 will ship an estimated " +
      s"$projected B of boundary values to the driver ($nParts actual " +
      s"partitions × $extent values × $width B) — above " +
      s"$MaxBoundaryBytesKey=$cap, which the plan-time guard could not see " +
      s"because the operator reused a pre-existing finer exchange. If the " +
      s"driver OOMs here, coarsen the upstream repartitioning, lower the " +
      s"frame-extent conf, or raise the cap deliberately.")
  }
}
