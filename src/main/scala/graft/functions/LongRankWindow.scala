package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType}

/** LongType rank-family window functions — the 2^31 escape hatch for
  * CORPUS-GLOBAL ranking (the zero-key form of plans/GroupedRank.scala).
  *
  * `row_number()`/`rank()`/`dense_rank()` are IntegerType by Spark's
  * definition, so past 2^31-1 rows a global ranking has no
  * representable value at all. These three are drop-in declarative
  * [[AggregateWindowFunction]]s with LongType state and output; with
  * `spark.graft.rank.longRank=true`, [[LongRankWiden]] swaps
  * them in for the built-ins at ANALYSIS time — the only sound place
  * to change an output type: the Dataset's schema, encoders and every
  * downstream expression (type coercion re-runs in the same
  * fixed-point) all see LongType consistently. (The r15 first cut
  * widened in the OPTIMIZER instead; `Dataset.schema` reads the
  * analyzed plan, so the API boundary kept claiming IntegerType over
  * Long-valued rows — analysis-time is not a convenience but a
  * correctness requirement.)
  *
  * Scoped to EMPTY-partition windows only: that is where the ceiling
  * binds at exactly the scale the zero-key rank operator targets (a
  * 100 TB corpus IS >2^31 rows). Grouped windows keep IntegerType — a
  * single 2^31-row GROUP is a pathological key distribution, not a
  * scale milestone (see the GroupedRankRewrite.LongRankKey scaladoc).
  *
  * Evaluation paths: GroupedRankRewrite recognizes all three at zero
  * keys (RankFnMatch) and emits Long ranks from its two-pass exec;
  * TopKRewrite matches LongRowNumber/LongRank too, so
  * `filter(rank <= k)` keeps the bounded heap plan (emitting a
  * 64-bit rank); when both rewrites bail (e.g. nondeterministic
  * order), the native WindowExec evaluates them like any declarative
  * aggregate window function, so the conf never strands a query.
  * (Spark's own WindowGroupLimit pre-filter pattern-matches the
  * built-in classes only — irrelevant here since TopKRewrite strips
  * it anyway.)
  */
abstract class LongRankLike extends AggregateWindowFunction {
  def order: Seq[Expression]
  override def children: Seq[Expression] = order
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  protected val rankAttr = AttributeReference("lrank", LongType, nullable = false)()
  protected val rowNumAttr = AttributeReference("lrow", LongType, nullable = false)()
  protected val orderAttrs: Seq[AttributeReference] =
    order.map(e => AttributeReference("ord", e.dataType)())

  /** True iff the current row's order keys equal the buffered ones.
    * EqualNullSafe makes genuine null==null ties tie; the rowNum > 0
    * conjunct makes the FIRST row (whose buffered keys are the null
    * inits) always start a fresh rank, so a leading null key is not
    * mistaken for a tie with the initializer. */
  private def sameOrder: Expression =
    order.zip(orderAttrs)
      .map { case (e, a) => EqualNullSafe(e, a): Expression }
      .foldLeft(GreaterThan(rowNumAttr, Literal(0L)): Expression)(And(_, _))

  /** Rank assigned when the order keys CHANGE (rank: the 1-based row
    * position; dense_rank: previous rank + 1). */
  protected def nextRank: Expression

  override val aggBufferAttributes: Seq[AttributeReference] =
    rankAttr +: rowNumAttr +: orderAttrs
  override lazy val initialValues: Seq[Expression] =
    Literal(0L) +: Literal(0L) +: order.map(e => Literal.create(null, e.dataType))
  override lazy val updateExpressions: Seq[Expression] =
    If(sameOrder, rankAttr, nextRank) +:
      Add(rowNumAttr, Literal(1L)) +:
      order
  override lazy val evaluateExpression: Expression = rankAttr
}

case class LongRowNumber() extends AggregateWindowFunction {
  override def children: Seq[Expression] = Nil
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  private val n = AttributeReference("lrn", LongType, nullable = false)()
  override val aggBufferAttributes: Seq[AttributeReference] = n :: Nil
  override lazy val initialValues: Seq[Expression] = Literal(0L) :: Nil
  override lazy val updateExpressions: Seq[Expression] = Add(n, Literal(1L)) :: Nil
  override lazy val evaluateExpression: Expression = n
  override def prettyName: String = "long_row_number"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongRowNumber = this
}

case class LongRank(order: Seq[Expression]) extends LongRankLike {
  // rank semantics: ties share, gaps follow — the new rank is the
  // 1-based position (old rowNum + 1)
  override protected def nextRank: Expression = Add(rowNumAttr, Literal(1L))
  override def prettyName: String = "long_rank"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongRank = copy(order = newChildren)
}

case class LongDenseRank(order: Seq[Expression]) extends LongRankLike {
  // dense semantics: no gaps — the new rank is the previous rank + 1
  override protected def nextRank: Expression = Add(rankAttr, Literal(1L))
  override def prettyName: String = "long_dense_rank"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongDenseRank = copy(order = newChildren)
}

/** Conf-gated analyzer rule: swap the built-in Int rank functions for
  * the Long variants on EMPTY-partition window specs.
  *
  * Runs in the resolution fixed-point, on RESOLVED Window nodes (so
  * the window frame and order are final), via
  * `transformUpWithNewOutput`: each swapped window expression gets a
  * FRESH Long-typed alias and the framework rewrites every upstream
  * reference to it — an in-place expression swap would leave parents
  * holding stale Int-typed AttributeReferences for the same exprId
  * (already "resolved", so the analyzer would never revisit them; the
  * first cut did exactly that and Dataset.schema kept claiming
  * integer). Downstream consumers of the new Long attribute re-enter
  * type coercion in the same fixed-point (e.g. `rank <= 10` gains a
  * cast). The rank's order children are taken from the SPEC — Spark's
  * ResolveWindowOrder fills them only for its own RankLike classes. */
object LongRankWiden extends Rule[LogicalPlan] {
  def enabled: Boolean =
    SQLConf.get.getConfString(
      graft.plans.GroupedRankRewrite.LongRankKey, "false").toBoolean

  private def swap(fn: Expression, order: Seq[Expression]): Option[Expression] =
    fn match {
      case _: RowNumber => Some(LongRowNumber())
      case _: Rank => Some(LongRank(order))
      case _: DenseRank => Some(LongDenseRank(order))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUpWithNewOutput {
      case w: logical.Window if w.partitionSpec.isEmpty && w.resolved &&
          w.windowExpressions.exists {
            case Alias(WindowExpression(fn, _), _) => swap(fn, Nil).isDefined
            case _ => false
          } =>
        val mapping = Seq.newBuilder[(Attribute, Attribute)]
        val newExprs = w.windowExpressions.map {
          case a @ Alias(we @ WindowExpression(fn, spec), name) =>
            swap(fn, spec.orderSpec.map(_.child)) match {
              case Some(nf) =>
                val na = Alias(we.copy(windowFunction = nf), name)()
                mapping += (a.toAttribute -> na.toAttribute)
                na
              case None => a
            }
          case other => other
        }
        (w.copy(windowExpressions = newExprs), mapping.result())
    }
  }
}
