package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the plan properties PLANS.md documents —
  * the scale behaviors (pushdown, join shape, shared sorts) that
  * correctness oracles can't see. Each assertion reads the physical
  * plan the optimizer actually produced. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, SfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q6: every predicate reaches the parquet scan; schema pruned to referenced columns") {
    // AQE wraps stages in QueryStageExec leaves that tree collection
    // does not descend into; the scan properties are static, so audit
    // the non-adaptive plan.
    val s = spark
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      SparkEntry.queries("q6_forecast")(s, SfDir)
        .queryExecution.executedPlan.collectWithSubqueries {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
        }
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.nonEmpty, "expected a parquet scan")
    val meta = scans.head.metadata
    val pushed = meta("PushedFilters")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("LessThan(l_quantity,24"),
      s"all predicates must be pushed, got $pushed")
    val readSchema = meta("ReadSchema")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"scan must prune to referenced columns, got $readSchema")
  }

  test("q17: lineitem is semi-join-filtered BEFORE the per-partkey aggregate") {
    val p = plan("q17_avg_subquery")
    val semiIdx = p.indexOf("LeftSemi")
    assert(semiIdx >= 0, "expected a left-semi join against the Brand#1 part keys")
  }

  test("e5: the as-of join carries all columns through ONE window over one sort") {
    // the atomicity property: all payload columns flow through exactly
    // ONE window-class node over one sort. Since r17 the composition's
    // `last(payload) IGNORE NULLS` running window plans on the
    // GroupedRunningAgg operator (range-partitioned, no per-key
    // clustering ceiling) — count whichever form planned, require one.
    val p = plan("e5_asof_join")
    val windows = "\\bWindow\\b".r.findAllIn(p).size +
      "\\bGroupedRunningAgg\\b".r.findAllIn(p).size
    assert(windows == 1, s"as-of composition must use exactly one window node, got $windows:\n$p")
  }

  test("d3: LSH self-join is sort-merge (shared exchange), not broadcast") {
    val p = plan("d3_minhash_lsh")
    assert(p.contains("SortMergeJoin"), "banded self-join must be sort-merge for ReuseExchange")
    assert(!p.contains("BroadcastHashJoin"), "a broadcast side would evaluate the signature twice")
  }

  test("v2: the k-NN top-k plans as the heap operator, not a window sort") {
    val p = plan("v2_knn_batch")
    assert(p.contains("TopKFinal") && p.contains("TopKPartial"),
      s"expected the grouped top-k operator:\n$p")
  }

  test("codegen: custom expressions are native (no CodegenFallback); scan-rate gates stay fused") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // The custom expression tier must stay inside whole-stage codegen:
    // a CodegenFallback mixin silently drops the hot path to
    // per-row interpreted eval — exactly the regression this pins.
    Seq(classOf[functions.SimHash64], classOf[functions.Winnow],
      classOf[functions.MinHashSig], classOf[functions.CosineSim],
      classOf[functions.BloomContains]).foreach { c =>
      assert(!classOf[CodegenFallback].isAssignableFrom(c),
        s"${c.getSimpleName} must implement doGenCode, not CodegenFallback")
    }
    // Scan-rate map-side queries (decode, PII scrub, quality rules)
    // must execute inside WholeStageCodegen with NO fallback
    // expression anywhere in the executed plan — their whole point is
    // scan-rate codegen'd projection work.
    // AQE wraps stages in lazily-planned QueryStageExec nodes that an
    // unexecuted plan's tree walk cannot descend into (the q6
    // precedent) — audit the non-adaptive physical plan.
    val s = spark
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try for (name <- Seq("s1_decode", "t15_pii_redact", "t24_gopher_rules")) {
      val exec = SparkEntry.queries(name)(s, SfDir).queryExecution.executedPlan
      val hasWsc = exec.collectWithSubqueries {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.nonEmpty
      assert(hasWsc, s"$name: expected WholeStageCodegen spans")
      // Spark's built-in higher-order array functions (ArrayFilter,
      // ArrayTransform, …) are CodegenFallback BY DESIGN upstream —
      // the lambda is interpreted per row inside an otherwise
      // codegen'd stage. That is Spark's contract for array lambdas,
      // not a regression this repo can fix; the assertion pins that
      // nothing ELSE (custom expressions, UDF wrappers) falls back.
      val builtinHof = Set("ArrayFilter", "ArrayTransform", "ArrayAggregate",
        "ArraySort", "ArrayExists", "ArrayForAll", "ZipWith", "MapFilter",
        "TransformKeys", "TransformValues")
      val fallbacks = exec.collectWithSubqueries { case p => p }
        .flatMap(_.expressions)
        .flatMap(e => e +: e.children)
        .collect { case f: CodegenFallback => f.getClass.getSimpleName }
        .distinct.filterNot(builtinHof)
      assert(fallbacks.isEmpty,
        s"$name: CodegenFallback expressions in the hot path: $fallbacks")
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("red-flag sweep: no query in the whole surface plans a CartesianProduct") {
    // Cross joins exist (k-NN query sides) but must always be
    // broadcast nested-loop against a bounded side, never an unbounded
    // cartesian shuffle product.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, SfDir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("comparator contract: no oracled query emits array/map/struct output columns") {
    // The driver's pandas comparator sorts and hashes cell values;
    // array-typed cells raise `unhashable type: 'numpy.ndarray'` and
    // silently cost the round a green row (the s25 lesson). Schema-only
    // check — analysis, no execution.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (SparkEntry.oracleSql.contains(name)) {
        val bad = fn(spark, SfDir).schema.fields.filter(_.dataType match {
          case _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        })
        assert(bad.isEmpty,
          s"$name emits non-scalar graded columns [${bad.map(_.name).mkString(", ")}] — " +
            "stringify or explode them; the driver comparator cannot hash arrays")
      }
    }
  }

  test("d3/d8: raw-text repartition is GATED on scan splits — absent when the scan is already parallel") {
    // Locally the corpus is one parquet split, so the local-split fix
    // round-robins the docs across cores (auto mode fires). But on a
    // cluster — modeled here by shrinking maxPartitionBytes until the
    // scan yields >= defaultParallelism splits — the same code must NOT
    // full-shuffle the corpus text: the gate sees enough splits and
    // skips the exchange. `off` must also never repartition.
    def roundRobins(name: String): Int =
      "RoundRobinPartitioning".r
        .findAllIn(SparkEntry.queries(name)(spark, SfDir)
          .queryExecution.executedPlan.toString).size
    for (name <- Seq("d3_minhash_lsh", "d8_sig_agg", "d2_shingle_stats")) {
      assert(roundRobins(name) > 0,
        s"$name: single-split local scan should trigger the parallelism fix")
      val mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      try assert(roundRobins(name) == 0,
        s"$name: a many-split scan (cluster shape) must not repartition raw text")
      finally spark.conf.set("spark.sql.files.maxPartitionBytes", mpb)
      spark.conf.set("spark.graft.localSplitFix", "off")
      try assert(roundRobins(name) == 0, s"$name: localSplitFix=off must disable the exchange")
      finally spark.conf.unset("spark.graft.localSplitFix")
    }
  }

  test("splitProbe memo: a grown corpus dir re-probes instead of serving a stale split count") {
    // The probe memo is keyed on a (#files, bytes) fingerprint of the
    // scan's FileIndex: in a long-lived session a dir that gains files
    // between builder calls must see a fresh split count — a stale
    // small count would force the full-text repartition the gate
    // exists to prevent.
    import java.nio.file.{Files, Paths}
    val src = Paths.get(SfDir, "documents.parquet")
    val dir = Files.createTempDirectory("graft-splitprobe")
    Files.copy(src, dir.resolve("part-000.parquet"))
    def docs = spark.read.parquet(dir.toString)
    val first = graft.dedup.Dedup.probedSplits(spark, docs)
    (1 to 8).foreach(i => Files.copy(src, dir.resolve(f"part-$i%03d.parquet")))
    val second = graft.dedup.Dedup.probedSplits(spark, docs)
    assert(second > first,
      s"grown dir must re-probe, not reuse the memo: first=$first second=$second")
  }

  test("d6: AQE stage reuse computes each corpus-side kernel ONCE in the final plan") {
    // PLANS.md asserts the two candidate→sh joins share one evaluation
    // of the corpus shingle-hash set (and d3's banded self-join one
    // evaluation of the MinHash signatures) via AQE stage reuse. Pin
    // it: execute, then count kernel subtrees in the FINAL adaptive
    // plan — a future change that breaks exchange canonicalization
    // would silently double the corpus-side hash work.
    val df = SparkEntry.queries("d6_ngram_jaccard")(spark, SfDir)
    df.collect() // drive AQE to its final plan
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), "expected an executed adaptive plan")
    val fin = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    // r22: the shingle-hash set is the shingle_h60_set kernel (wave 9)
    val shingleKernels = "shingle_h60_set\\(".r.findAllIn(fin).size
    assert(shingleKernels == 1,
      s"corpus shingle-hash set must be computed once, found $shingleKernels evaluations:\n$fin")
    val minhashKernels = "minhash_sig\\(".r.findAllIn(fin).size
    assert(minhashKernels == 1,
      s"MinHash signature must be computed once across the banded self-join, found $minhashKernels:\n$fin")
    assert(fin.contains("ReusedExchange"),
      "expected at least one ReusedExchange carrying the shared corpus stage")
  }

  test("s12: the global rank() window plans as the tie-aware heap operator, no WindowExec") {
    val p = plan("s12_top_inverters")
    assert(p.contains("TopKFinal") && p.contains("TopKPartial"),
      s"expected the grouped top-k operator on the global rank window:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window ("),
      s"no single-partition window sort may remain:\n$p")
  }

  test("red-flag sweep: no query plans a global (single-partition) window") {
    // A WindowExec with an empty partition spec funnels its whole
    // input through ONE task — the classic silent scale-killer. s12
    // was the last one (closed by the r9 rank-mode TopKRewrite); this
    // sweep keeps the property across every graded query. AQE off so
    // collectWithSubqueries can see through the whole tree.
    val s = spark
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val globals = fn(s, SfDir).queryExecution.executedPlan.collectWithSubqueries {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        assert(globals.isEmpty, s"$name plans a global single-partition window")
      }
    } finally s.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s20/s21 share the persisted slot grid; s21 needs NO descending grid sort") {
    // r15 rework: memoization is delegated to the session's
    // CacheManager (Tables.persistOnce — canonicalized-plan keyed, so
    // both fills' independently built grid plans hit ONE entry and a
    // suite run materializes the grid once; nothing JVM-global pins a
    // session, unlike the r13 weak map whose values strongly
    // referenced their keys). s21's forward neighbor is precomputed
    // on reading rows by a readings-only lead() — the r12 form's
    // second full-grid slot-DESC window sort must not reappear.
    val p20 = SparkEntry.queries("s20_gap_fill")(spark, SfDir)
      .queryExecution.executedPlan.toString
    val p21 = SparkEntry.queries("s21_interpolate")(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(p20.contains("InMemoryTableScan") && p21.contains("InMemoryTableScan"),
      "both fills must read the shared persisted grid")
    assert(!"""slot#\d+L? DESC""".r.findFirstIn(p21).isDefined,
      s"s21 must not sort the grid descending:\n$p21")
  }

  test("v15: the plainSum production path drops the fold and stays rank-stable") {
    // The graded path folds per-dst contributions in sorted-src order
    // for bit-reproducibility; spark.graft.v15.plainSum=true is the
    // 100 TB relaxation — a plain combine-enabled sum, O(1) per-dst
    // state. Pin both halves of that contract: (a) the conf'd plan
    // contains NO CollectList anywhere, (b) the scores differ from
    // the graded path only at IEEE-addition-order level (≤ 1e-12
    // relative), so the ranking a consumer reads is unchanged.
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    val s = spark
    val graded = SparkEntry.queries("v15_pagerank")(s, SfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    s.conf.set("spark.graft.v15.plainSum", "true")
    try {
      val df = SparkEntry.queries("v15_pagerank")(s, SfDir)
      val folds = df.queryExecution.optimizedPlan
        .collect { case p => p }.flatMap(_.expressions)
        .flatMap(_.collect { case c: CollectList => c })
      assert(folds.isEmpty, "plainSum path must not build per-dst lists")
      val plain = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(plain.keySet === graded.keySet)
      val maxRel = plain.map { case (k, v) =>
        math.abs(v - graded(k)) / math.max(math.abs(graded(k)), 1e-300) }.max
      assert(maxRel <= 1e-12,
        s"plainSum may drift only by addition order, got rel err $maxRel")
    } finally s.conf.unset("spark.graft.v15.plainSum")
  }

  test("bounded-state sweep: collect_list only over groups with bounded cardinality domains") {
    // The r12 scale-killer class: sort_array(collect_list(...)) where
    // the GROUP's member count grows with the corpus (d15's per-decile
    // candidate pairs, t26's per-language kept docs, v12's per-cell
    // vectors) builds a corpus-sized aggregation-buffer row → executor
    // OOM at 100 TB. Those three are fixed (v16-style quantized int64
    // sums / cluster self-join); this sweep pins the class shut: any
    // query whose OPTIMIZED plan contains a CollectList aggregate must
    // be on the allowlist of genuinely bounded folds, each justified.
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    val allowed = Map(
      // per-doc folds: group = one document, state bounded by doc length
      "t23_dsir" -> "per-doc hashed-feature fold (≤ doc length)",
      "t26_importance_resample" -> "inherits t23's per-doc fold ONLY (the per-lang corpus fold was replaced by quantized int64 sums, r13)",
      "d11_substring_dup" -> "per-doc sorted position list (≤ doc length)",
      "m7_phash_dedup" -> "exact-hash duplicate groups (dup-group-bounded; degenerate buckets gated by the oversized-bucket cap)",
      "s37_exp_decay" -> "per-inverter decay buckets (k ≤ 62, ≤ 63 slots)",
      // per-clock-grid folds: group = bounded calendar slots
      "s25_summap" -> "per-inverter hour-of-day map (≤ 24 slots)",
      "s38_anova" -> "per-(inverter,month) group stats (bounded cells)",
      "s44_sparkbar" -> "per-inverter day-of-month bar (≤ 31 slots)",
      // contingency / bounded-category cells
      "q28_cramers_v" -> "priority×month contingency cells (bounded)",
      "q35_cramers_corrected" -> "same contingency cells",
      "q38_contingency" -> "same contingency cells",
      // per-user/session event timelines (funnel semantics need order;
      // per-user event counts are application-bounded, the standard
      // funnel-engine contract)
      "e7_top_sequences" -> "per-session event list (session-bounded)",
      "e12_sequence_match" -> "per-user timeline (user-bounded)",
      "e18_funnel_strict" -> "per-user timeline (user-bounded)",
      "e21_funnel_inc" -> "per-user timeline (user-bounded)",
      "e29_funnel_dedup" -> "per-user timeline (user-bounded)",
      // documented sequential-algorithm contracts
      "s32_lttb" -> "LTTB is sequential per series (documented contract; ClickHouse matches)",
      "s39_autocorr" -> "per-series lag fold (series-bounded, same contract)",
      "s31_linreg" -> "per-inverter day series (span-bounded)",
      // k-bounded or centroid-bounded array builds
      "v6_pq_adc" -> "per-(query,code) ADC table (256-bounded)",
      "v8_ivf_pq" -> "same 256-bounded codebook build",
      "v19_pq_recall" -> "replays v6's 256-bounded codebook builds verbatim",
      "v15_pagerank" -> "per-dst contribution fold (in-degree ≤ cell size; plain-sum relaxation conf'd)",
      "m8_modality_report" -> "per-modality percentile grid (bounded grid)",
      "d7_dup_clusters" -> "star-contraction neighbor fold (edge-list bounded per node)",
      "q27_mann_whitney" -> "per-(flag) rank fold over priority classes (bounded classes)",
      "q34_ks_test" -> "two-sample ECDF merge (bounded sample classes)")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, SfDir).queryExecution.optimizedPlan.collect { case p => p }
        .flatMap(_.expressions)
        .flatMap(_.collect { case c: CollectList => c })
        .size
      if (n > 0) Some(name) else None
    }
    val unexpected = offenders.filterNot(allowed.contains)
    assert(unexpected.isEmpty,
      s"collect_list over a non-allowlisted group (corpus-scale state risk): $unexpected — " +
        "use the v16 quantized-int64-sum discipline or a self-join + TopKPerGroup, " +
        "or justify boundedness in the allowlist")
  }

  test("IVF assignment subtree pays NO exchange: the map-side fold replaced the vec_id window") {
    // r13's assignment (crossJoin(broadcast(centroids)) + row_number
    // OVER (PARTITION BY vec_id) + rn=1) heap-rewrote to ~N rows but
    // still shuffled the whole embedding corpus (vectors included)
    // once per pipeline. r14 computes the argmax as lloydStep's
    // zero-shuffle array_max fold over the literal centroid set, so
    // no plan in the family may hash-partition on vec_id anymore —
    // the only exchanges left are the consumers' own (cluster joins,
    // cell-bounded groupBys, query-side top-k heaps).
    // The assignment's signature was a SOLE-KEY vec_id partition (the
    // per-vector argmax window / its heap rewrite). Multi-key vec_id
    // exchanges remain legitimate (v8's per-(vec_id, cluster, m) PQ
    // code assembly groups on vec_id plus more).
    val soleKey = "hashpartitioning\\(vec_id#\\d+L?, \\d+\\)".r
    for (name <- Seq("v3_ivf_ann", "v8_ivf_pq", "v12_knn_graph",
        "v16_ivf_stats", "v18_recall_nprobe")) {
      val p = plan(name)
      assert(soleKey.findFirstIn(p).isEmpty,
        s"$name: the corpus assignment must not exchange on vec_id alone:\n${p.take(3000)}")
    }
    // v16's whole plan is now window-free (its only window WAS the
    // assignment); its corpus-sized work is one combine-enabled
    // (cluster) aggregate.
    val v16 = plan("v16_ivf_stats")
    assert(!v16.contains("Window") && !v16.contains("TopKPartial"),
      s"v16 must be pure map-side fold + bounded aggregates:\n${v16.take(3000)}")
  }

  test("v12: cluster self-join plans the top-k heap over the map-side assignment") {
    // The r12 cell-collect form held every member vector of an IVF
    // cell in one aggregation-buffer row. The self-join remedy is only
    // scale-sound if the per-src top-3 plans as the TopKPerGroup heap
    // (3 rows of state per source, partials before the exchange).
    // Until r13 this test also pinned ReusedExchange between the two
    // join branches — the assignment subtree ended in a corpus
    // exchange, so evaluating it twice meant running the quantizer
    // window twice. The r14 map-side fold removed that exchange
    // entirely: each branch is now a pure scan + codegen'd argmax
    // (nothing to reuse, nothing corpus-sized to repeat), and the
    // only exchanges left are the join's own cluster exchanges — or
    // none on the build side when AQE elects a broadcast, as it does
    // at spec scale.
    val df = SparkEntry.queries("v12_knn_graph")(spark, SfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKFinal") && p.contains("TopKPartial"),
      s"v12 per-src top-k must plan as the heap operator:\n$p")
    df.collect() // drive AQE to the final plan
    val full = df.queryExecution.executedPlan.toString
    val fin = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i  => full.substring(0, i)
    }
    assert(!fin.contains("WindowExec"),
      s"no window may survive anywhere in the kNN-graph build:\n${fin.take(3000)}")
  }

  test("e32: the TIMELINE is sorted exactly once — lag on GroupedOffset, max_by consuming its output order sort-free") {
    // r13 ranked the last purchase with a (ts DESC, event_id DESC)
    // row_number: same user_id exchange as the lag window, but a
    // second Sort + second window pass. r14 derives it with max_by
    // over the (ts, event_id) struct on the ascending pass, so the
    // timeline is sorted exactly once per user. r20 replans the lag
    // onto GroupedOffset (row-balanced (user, ts, id) range exchange
    // instead of the per-user hash clustering): the partial max_by
    // consumes the operator's output ordering with NO second timeline
    // sort; the final merge adds one hash exchange + key-only sort of
    // the PARTIAL rows (one per user per partition — aggregate-sized,
    // not timeline-sized). e32 is the many-small-groups regime, so
    // this is the family's documented asymmetric-cost default
    // (README cost levers: raise offset.minBytes to prefer
    // the native one-exchange plan when no group can outgrow a task).
    val p = plan("e32_prev_node")
    assert(p.contains("GroupedOffset"),
      s"the lag must plan on the operator:\n${p.take(3000)}")
    assert(!p.contains("Window ["),
      s"no native window may survive:\n${p.take(3000)}")
    // the full (user_id, ts, event_id) timeline sort appears exactly
    // once — under the operator's range exchange
    val timelineSorts = "Sort \\[user_id[^\\n]*ts".r.findAllIn(p).size
    assert(timelineSorts == 1,
      s"the per-user timeline must be sorted exactly once, got $timelineSorts:\n${p.take(3000)}")
  }

  test("q5: broadcast HINTS only on fixed-cardinality dims (region, nation)") {
    // At tiny SFs the planner may broadcast everything from file-size
    // estimates — that's AQE's runtime call, not ours. What must hold
    // in the CODE is that only bounded-cardinality tables carry an
    // explicit hint: exactly 2 here (region + nation); customer/
    // supplier/orders/lineitem are left to the optimizer.
    val df = SparkEntry.queries("q5_local_supplier")(spark, SfDir)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 2, s"expected exactly 2 broadcast hints, got ${hints.size}")
  }
}
