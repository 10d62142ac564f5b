package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.StringType

/** SQL registration of the custom expressions via the public
  * SparkSessionExtensions API — install with
  * `SparkSession.builder.withExtensions(GraftExtensions)` (done by
  * [[graft.Tables.session]]) or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  *
  * After installation the operators are first-class SQL:
  * {{{
  *   SELECT simhash64(text), minhash_sig(text, 12, 5) FROM documents
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  *   SELECT winnow(text, 5, 4) FROM documents
  * }}}
  */
object GraftExtensions extends SparkSessionExtensionsProvider {

  private def intArg(fn: String, pos: Int, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  private def longArg(fn: String, pos: Int, e: Expression): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Every rule below is an optimizer rule with no on/off conf of its
    // own: `spark.sql.optimizer.excludedRules` (e.g.
    // `graft.plans.GroupedRankRewrite,graft.plans.WindowSplit`) turns
    // rules off, and with it unset the optimizer runs them all. ONE
    // planner strategy plans every graft logical node.
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    // Grouped top-k: optimizer rule rewrites the filter(row_number <= k)
    // idiom into the heap-based two-phase operator.
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // Full-frame aggregate windows, with or without keys — share-of-
    // total (sum(x) OVER ()) and share-of-group (sum(x) OVER
    // (PARTITION BY g)) — aggregate once, distributed (map-side partial
    // combine), and join back: the one-row total as a broadcast cross
    // join, the per-group side null-safely on the keys (AQE broadcasts
    // it when small), instead of funnelling every row through one
    // partition or a whole group through one window task. Injected
    // BEFORE the split/family rewrites (r19): when the full-frame
    // member sits on its OWN spec in a stacked pair — `rank() OVER
    // (ORDER BY o), sum(v) OVER ()` — the rewrite must see the sibling
    // while it is still a NATIVE Window (which ExprIdFreshener can copy
    // into the aggregate leg); after a family rewrite it is a custom
    // node the freshener refuses. AggLegPeel makes the common case
    // order-independent (the unneeded sibling is peeled from the leg
    // entirely), but `sum(rankCol) OVER ()` — aggregating the window
    // OUTPUT — is only distributable on this ordering. The rule walks
    // top-down, so stacked full-frame nodes (q51's group total above
    // its corpus total) each peel the nodes below them while those are
    // still native. MixedSpecAggSpec pins both the ordering and the
    // plans.
    ext.injectOptimizerRule(_ => graft.plans.GroupedAggRewrite)
    // Mixed-function windows, with or without keys (rank()+sum()+lag()
    // OVER the same [PARTITION BY/]ORDER BY in ONE select analyze into
    // ONE Window node), are split by function class into the stacked
    // operator nodes below over ONE shared range exchange, so the
    // family composes automatically instead of the mixed node bailing
    // every rewrite and funneling natively; otherwise-unsupported
    // mixes keep the whole node native.
    ext.injectOptimizerRule(_ => graft.plans.WindowSplit)
    // Ranking: rank-family windows, global or per key, are rewritten to
    // the range-partitioned two-pass operator, so neither the corpus
    // (no keys) nor a group larger than a task (keys) funnels into one
    // task (the operator form of t20/q23/m11's hand idiom; TopKRewrite
    // runs first, so filter(rank <= k) keeps the cheaper heap path;
    // this catches the full rankings).
    ext.injectOptimizerRule(_ => graft.plans.GroupedRankRewrite)
    // The 2^31 escape hatch (spark.graft.rank.longRank=true): an
    // ANALYZER rule swaps row_number/rank/dense_rank on global
    // windows for LongType variants — analysis-time so the Dataset
    // schema/encoders and downstream coercion all agree on the type;
    // GroupedRankRewrite then recognizes them at zero keys, and the
    // native WindowExec evaluates them whenever the rewrite bails.
    ext.injectResolutionRule(_ => LongRankWiden)
    // RUNNING aggregates (sum(x) OVER ([PARTITION BY g] ORDER BY …)),
    // global or grouped: the native window funnels the corpus through
    // one task (no keys) or stops at the group count (keys); the
    // operator range-partitions (group, order) and chains boundary
    // segments — a distributed prefix scan, zero keys included.
    ext.injectOptimizerRule(_ => graft.plans.GroupedRunningAggRewrite)
    // OFFSET windows (lag/lead OVER ([PARTITION BY g] ORDER BY …) —
    // runningDifference/neighbor, global or per key): rewritten to the
    // range exchange + key-gated boundary-VALUE rings instead of the
    // all-rows single-task (or group-count-bound) native window.
    ext.injectOptimizerRule(_ => graft.plans.GroupedOffsetRewrite)
    // Adjacent offset nodes over the same (part, order) merge into
    // ONE multi-function node (r21): the withColumn-chain idiom
    // analyzes into a window tower CollapseWindow only partially
    // merges, and a stacked offset pile pays pass-1 + pass-2 PER
    // node. Same fixed-point batch as the rewrites and
    // CollapseProject, so towers of any height converge.
    ext.injectOptimizerRule(_ => graft.plans.CombineOffsetNodes)
    // Pre-CBO, AFTER the fixed point settles (so towers are already
    // merged): a LONE offset node whose input sits below the family's
    // small-input gate (minBytes, default `auto` = the advisory
    // partition size) demotes back to ONE native window — the
    // operator's fixed extra jobs buy nothing on an input that
    // coalesces to a single post-exchange task. Stacked members never
    // demote (they share the family's one range exchange). Running
    // here cannot loop with the rewrite (separate batch, Once).
    ext.injectPreCBORule(_ => graft.plans.DemoteSmallOffsetNodes)
    // Adjacent running-agg nodes over the same (part, order) merge
    // into ONE multi-function node (r21 — CombineOffsetNodes' sibling
    // for the running class; s21's fill columns planned THREE stacked
    // nodes, each with its own prefix job and stream pass).
    ext.injectOptimizerRule(_ => graft.plans.CombineRunningNodes)
    // Bounded SLIDING ROWS frames (moving averages / trailing totals,
    // global or grouped): one operator closing both the AllTuples
    // single-task funnel and the group-count ceiling — boundary-VALUE
    // rings (the offset operator's machinery) + per-frame aggregate
    // re-folds.
    ext.injectOptimizerRule(_ => graft.plans.SlidingAggRewrite)
    // Bounded RANGE-VALUE sliding frames (trailing-30-day style
    // value windows, global or grouped): the row-halo operator — a
    // distributed executor-to-executor halo shuffle of the
    // boundary-reach rows, closing the last window-frame class with
    // no scale path (the per-window ROW count is unbounded, so the
    // driver-ring discipline doesn't apply).
    ext.injectOptimizerRule(_ => graft.plans.RangeSlidingAggRewrite)
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    ext.injectFunction((
      FunctionIdentifier("winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "winnow"),
      (args: Seq[Expression]) =>
        Winnow(args(0), intArg("winnow", 1, args(1)), intArg("winnow", 2, args(2)))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) =>
        MinHashSig(args(0), intArg("minhash_sig", 1, args(1)), intArg("minhash_sig", 2, args(2)))))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      (args: Seq[Expression]) =>
        MinHashAgg(args(0), intArg("minhash_agg", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("approx_topk"),
      new ExpressionInfo(classOf[ApproxTopKAgg].getName, "approx_topk"),
      (args: Seq[Expression]) =>
        ApproxTopKAgg(args(0), intArg("approx_topk", 1, args(1)),
          intArg("approx_topk", 2, args(2)))))
    ext.injectFunction((
      FunctionIdentifier("approx_topk_weighted"),
      new ExpressionInfo(classOf[ApproxTopKAgg].getName, "approx_topk_weighted"),
      (args: Seq[Expression]) =>
        ApproxTopKAgg(args(0), intArg("approx_topk_weighted", 2, args(2)),
          intArg("approx_topk_weighted", 3, args(3)), weight = args(1),
          weighted = true)))
    ext.injectFunction((
      FunctionIdentifier("uniq_up_to"),
      new ExpressionInfo(classOf[UniqUpToAgg].getName, "uniq_up_to"),
      (args: Seq[Expression]) =>
        UniqUpToAgg(args(0), intArg("uniq_up_to", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAgg].getName, "bloom_agg"),
      (args: Seq[Expression]) =>
        BloomFilterAgg(args(0), intArg("bloom_agg", 1, args(1)),
          intArg("bloom_agg", 2, args(2)))))
    ext.injectFunction((
      FunctionIdentifier("qdigest_quantiles"),
      new ExpressionInfo(classOf[QDigestAgg].getName, "qdigest_quantiles"),
      (args: Seq[Expression]) => {
        val qs = args(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString.split(",").toSeq.map(_.trim.toDouble)
          case other => throw new IllegalArgumentException(
            "qdigest_quantiles: argument 2 must be a comma-separated " +
              s"string literal of quantiles, got $other")
        }
        QDigestAgg(args(0), qs,
          intArg("qdigest_quantiles", 2, args(2)),
          intArg("qdigest_quantiles", 3, args(3)))
      }))
    ext.injectFunction((
      FunctionIdentifier("qdigest_state"),
      new ExpressionInfo(classOf[QDigestStateAgg].getName, "qdigest_state"),
      (args: Seq[Expression]) =>
        QDigestStateAgg(args(0), intArg("qdigest_state", 1, args(1)),
          intArg("qdigest_state", 2, args(2)))))
    ext.injectFunction((
      FunctionIdentifier("qdigest_merge_quantiles"),
      new ExpressionInfo(classOf[QDigestMergeAgg].getName, "qdigest_merge_quantiles"),
      (args: Seq[Expression]) => {
        val qs = args(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            s.toString.split(",").toSeq.map(_.trim.toDouble)
          case other => throw new IllegalArgumentException(
            "qdigest_merge_quantiles: argument 2 must be a comma-separated " +
              s"string literal of quantiles, got $other")
        }
        QDigestMergeAgg(args(0), qs,
          intArg("qdigest_merge_quantiles", 2, args(2)),
          intArg("qdigest_merge_quantiles", 3, args(3)))
      }))
    ext.injectFunction((
      FunctionIdentifier("adaptive_histogram"),
      new ExpressionInfo(classOf[HistogramAgg].getName, "adaptive_histogram"),
      (args: Seq[Expression]) =>
        HistogramAgg(args(0), intArg("adaptive_histogram", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("gram_rep_stats"),
      new ExpressionInfo(classOf[GramRepStats].getName, "gram_rep_stats"),
      (args: Seq[Expression]) =>
        GramRepStats(args(0), intArg("gram_rep_stats", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("dsir_pairs"),
      new ExpressionInfo(classOf[DsirPairs].getName, "dsir_pairs"),
      (args: Seq[Expression]) =>
        DsirPairs(args(0), longArg("dsir_pairs", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("anchor_grams"),
      new ExpressionInfo(classOf[AnchorGrams].getName, "anchor_grams"),
      (args: Seq[Expression]) =>
        AnchorGrams(args(0), intArg("anchor_grams", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("gram_h60_distinct"),
      new ExpressionInfo(classOf[GramH60Distinct].getName, "gram_h60_distinct"),
      (args: Seq[Expression]) =>
        GramH60Distinct(args(0), intArg("gram_h60_distinct", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("shingle_h60_set"),
      new ExpressionInfo(classOf[ShingleH60Set].getName, "shingle_h60_set"),
      (args: Seq[Expression]) =>
        ShingleH60Set(args(0), intArg("shingle_h60_set", 1, args(1)))))
    ext.injectFunction((
      FunctionIdentifier("l2_sq_slice"),
      new ExpressionInfo(classOf[L2SqSlice].getName, "l2_sq_slice"),
      (args: Seq[Expression]) =>
        L2SqSlice(args(0), args(1), args(2), intArg("l2_sq_slice", 3, args(3)))))
    ext.injectFunction((
      FunctionIdentifier("qdot"),
      new ExpressionInfo(classOf[QDot].getName, "qdot"),
      (args: Seq[Expression]) => QDot(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("fdot"),
      new ExpressionInfo(classOf[FDot].getName, "fdot"),
      (args: Seq[Expression]) => FDot(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("adc_sum"),
      new ExpressionInfo(classOf[AdcSum].getName, "adc_sum"),
      (args: Seq[Expression]) => AdcSum(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "bloom_contains"),
      (args: Seq[Expression]) => BloomContains(args(0), args(1))))
  }
}

/** Column-API wrappers (resolve through the registered SQL functions,
  * so a session with [[GraftExtensions]] installed is required). */
object GraftFunctions {
  import org.apache.spark.sql.functions.lit
  def simhash64(c: Column): Column = call_function("simhash64", c)
  def winnow(c: Column, k: Int, w: Int): Column =
    call_function("winnow", c, lit(k), lit(w))
  def minhashSig(c: Column, k: Int, shingleLen: Int): Column =
    call_function("minhash_sig", c, lit(k), lit(shingleLen))
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def minhashAgg(shingle: Column, k: Int): Column =
    call_function("minhash_agg", shingle, lit(k))
  def approxTopK(item: Column, k: Int, w: Int): Column =
    call_function("approx_topk", item, lit(k), lit(w))
  def approxTopKWeighted(item: Column, weight: Column, k: Int, w: Int): Column =
    call_function("approx_topk_weighted", item, weight, lit(k), lit(w))
  def uniqUpTo(x: Column, n: Int): Column =
    call_function("uniq_up_to", x, lit(n))
  def bloomAgg(x: Column, numBits: Int, k: Int): Column =
    call_function("bloom_agg", x, lit(numBits), lit(k))
  def bloomContains(filter: Column, x: Column): Column =
    call_function("bloom_contains", filter, x)
  def qdigestQuantiles(x: Column, qs: Seq[Double], bits: Int, k: Int): Column =
    call_function("qdigest_quantiles", x, lit(qs.mkString(",")), lit(bits), lit(k))
  def adaptiveHistogram(x: Column, bins: Int): Column =
    call_function("adaptive_histogram", x, lit(bins))
  def qdigestState(x: Column, bits: Int, k: Int): Column =
    call_function("qdigest_state", x, lit(bits), lit(k))
  def qdigestMergeQuantiles(st: Column, qs: Seq[Double], bits: Int, k: Int): Column =
    call_function("qdigest_merge_quantiles", st, lit(qs.mkString(",")), lit(bits), lit(k))
  def gramRepStats(t: Column, n: Int): Column =
    call_function("gram_rep_stats", t, lit(n))
  def dsirPairs(t: Column, buckets: Long): Column =
    call_function("dsir_pairs", t, lit(buckets))
  def anchorGrams(t: Column, n: Int): Column =
    call_function("anchor_grams", t, lit(n))
  def gramH60Distinct(t: Column, n: Int): Column =
    call_function("gram_h60_distinct", t, lit(n))
  def shingleH60Set(text: Column, n: Int): Column =
    call_function("shingle_h60_set", text, lit(n))
  def l2SqSlice(a: Column, b: Column, m: Column, dsub: Int): Column =
    call_function("l2_sq_slice", a, b, m, lit(dsub))
  def qdot(a: Column, b: Column): Column = call_function("qdot", a, b)
  def fdot(a: Column, b: Column): Column = call_function("fdot", a, b)
  def adcSum(tables: Column, codes: Column): Column =
    call_function("adc_sum", tables, codes)
}
