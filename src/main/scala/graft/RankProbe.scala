package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: A/B the window-operator rewrites against Spark's native
  * window (the single-task funnel globally, the group-count ceiling
  * with keys).
  * `runMain graft.RankProbe [nRows] [rank|agg|grouped [nGroups]|offset]`
  * (default 50M, rank).
  * `rank` probes the rank operator at zero keys (GlobalRank in the
  * plan) on a corpus-global ranking;
  * `agg` probes the full-frame agg rewrite ([[graft.plans.GroupedAggRewrite]])
  * at zero keys on a `sum OVER ()` share-of-total;
  * `grouped` probes the same operator with keys (GroupedRank) on a
  * FEW-HUGE-GROUPS ranking (default 4 groups — the q23-per-nation
  * shape where the native hash window funnels each group through one
  * task; many-small-groups is the regime where the operator costs
  * instead, measured per query at sf0.1 by `runMain graft.FlipProbe
  * <query> spark.graft.rank.enabled`);
  * `offset` probes the offset operator at zero keys (GlobalOffset in
  * the plan) on a corpus-global lag/lead pair (the e33
  * runningDifference shape); `offsetnn` on a corpus-global
  * ignoreNulls forward fill next to a plain lag;
  * `groupedoffset` probes the same operator with keys on the q54
  * shape — per-group lag/lead over few huge interleaved groups (the
  * native hash window's group-count parallelism ceiling);
  * `groupedoffsetchained` runs it over a pre-existing FINER
  * (g, o, id) exchange whose 200 boundaries split every group's
  * series, exercising the key-gated stitched rings at 50M;
  * `groupedoffsetwide` probes the s22-EMA shape — fifteen lag depths
  * in ONE node over few huge groups, the multi-function regime the
  * scratch-array pass 2 exists for;
  * `running` probes the running-aggregate operator at zero keys
  * (GlobalRunningAgg in the plan) on a corpus-global cumulative
  * sum+count (the q44 shape);
  * `chained` probes the r16 tie-chaining path AT SCALE: a FINER
  * pre-existing range exchange (repartitionByRange(d, fine)) under
  * rank/dense_rank/cume_dist + a RANGE running sum ordered by `d`
  * alone, with 1000 × 50k-row tie groups so every partition boundary
  * splits a group — the exact-long checksum equality between rule-on
  * and rule-off is the 50M-row correctness witness for the driver
  * chain (TieSplitSpec pins the same shapes at spec size).
  * `mixed` probes the WindowSplit rule at zero keys on the q46 shape —
  * ONE select mixing all four family classes (rank + cume_dist,
  * running RANGE sum, lag, full-frame total) over the same global
  * total order, which the analyzer merges into ONE Window node: off =
  * the pre-r17 single-task mixed funnel, on = the split four-operator
  * stack on one shared range exchange; exact-long checksums equal
  * across both is the 50M correctness witness.
  * `mixedchained` composes the r17 split with the r16 tie chain: the
  * same mixed select over a pre-existing FINER exchange that splits
  * every order tie group — split + chained operators on the reused
  * exchange vs the native mixed funnel.
  * `groupedrunning` probes the same operator with keys on the
  * q47 shape (few huge groups — the native hash window's parallelism
  * ceiling); `groupedrunningchained` runs it over a pre-existing
  * FINER (g, d, fine) exchange that splits both group segments and
  * tie runs — the exec's driver chain at 50M.
  * `groupedmixed` probes the WindowSplit rule with keys on the q48
  * shape — ONE select mixing rank family and running RANGE aggregates
  * over the SAME grouped window, few huge groups: off = the pre-r18
  * native hash window at the group-count ceiling, on = GroupedRank +
  * GroupedRunningAgg stacked on one shared (g, order) range exchange.
  * `groupedmixedchained` composes the split with BOTH driver chains:
  * the same mixed select over a pre-existing FINER (g, d, fine)
  * exchange whose boundaries split group segments and order-tie runs.
  * `groupedagg` probes the same rewrite with keys on the q49 shape —
  * share-of-group full-frame aggregates over few huge groups: off =
  * the native hash window buffering each WHOLE group in one task, on
  * = distributed aggregate + broadcast join-back (the facts never
  * shuffle). `groupedaggmany` measures the rewrite's TAX regime —
  * n/10 ten-row groups, where the join-back degenerates to an
  * equi-join as large as the input (the README cost-lever row).
  * `mixedspec` probes the r19 composition fix on the judge's probe-D3
  * shape — the full-frame total on its OWN order-free spec above a
  * rank+running ordered node (`rank() OVER (ORDER BY …), sum(x) OVER
  * (ORDER BY …), sum(x) OVER ()` in one select): off = the PRE-r19
  * behavior (only the full-agg rewrite disabled — the family operators
  * still fire, and the total survives as a NATIVE AllTuples window ON
  * TOP of the operator stack); on = the agg rewrite peels the stack
  * out of its aggregate leg and broadcasts the total.
  * `groupedmixedspec` is the grouped analog (judge probe A): `sum(x)
  * OVER (PARTITION BY g)` above the grouped rank+running stack, off =
  * a native hash-clustered full-frame window at the group-count
  * ceiling on top of the operators. Mod-prime per-row checksums: a
  * row with the wrong total flips the sum — 50M correctness witness.
  * `rangesliding` probes the r19 RangeSlidingAgg row-halo operator on
  * the q52 shape — trailing + centered RANGE-VALUE frames over the
  * global value order (natively the AllTuples one-task funnel);
  * `rangeslidinggrouped` the same frames over nGroups huge
  * interleaved groups (the group-count ceiling). Peer runs are 3 rows
  * wide, so tie handling is live throughout; mod-prime per-row
  * checksums are the 50M correctness witness.
  * `rangeslidingwide` probes the WIDE-frame consolidation regime —
  * heavy peer runs (25k rows per distinct value) under a frame whose
  * value span covers ~5 partitions, the 100-TB q52 shape where each
  * partition holds a couple of distinct days: on = single-key source
  * partitions contained in every target frame ship ONE merged buffer
  * per frame group; off (`spark.graft.rangeSlidingAgg.consolidate=
  * false`) = per-row halo copies to every reached partition. The
  * operator itself is live in BOTH branches; mod-prime per-row
  * checksums are the correctness witness for the merge path.
  * `rangemixedspec` composes the two r19 waves: the full-frame total
  * on its OWN order-free spec above a bounded RANGE-VALUE member
  * (`sum(x) OVER (ORDER BY o RANGE -20..0), sum(x) OVER ()` in one
  * select) — RangeSlidingAgg stays live in BOTH branches; only the
  * total toggles between the broadcast rewrite (on) and a native
  * AllTuples window stacked above the operator (off).
  * `sliding` probes the r18 SlidingAgg operator on the q50 shape —
  * trailing/centered bounded ROWS frames over the global order: off =
  * the AllTuples single-task funnel, on = the boundary-VALUE-ring
  * two-pass exec. `slidinggrouped` runs the same frames over nGroups
  * huge interleaved groups (the group-count ceiling).
  * Prints wall seconds for rule-on vs rule-off and the speedup — the
  * PLANS.md "global ranking"/"global aggregate"/"grouped ranking"/
  * "global offset" probe rows come from here. */
object RankProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000000L
    val mode = if (args.length > 1) args(1) else "rank"
    val nGroups = if (args.length > 2) args(2).toInt else 4
    val s = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Tables.applyEnvConfs(s) // e.g. the r21 spill-threshold probe
    import s.implicits._
    val df = s.range(n).select($"id",
      pmod($"id" * 2654435761L, lit(1000000007L)).as("k"))
    val w = Window.orderBy($"k", $"id")
    val confKey = mode match {
      case "agg" | "groupedagg" | "groupedaggmany" | "mixedspec" | "rangemixedspec" |
          "groupedmixedspec" => graft.plans.GroupedAggRewrite.ConfKey
      case "groupedrunning" | "groupedrunningchained" =>
        graft.plans.GroupedRunningAggRewrite.ConfKey
      case "groupedmixed" | "groupedmixedchained" => graft.plans.WindowSplit.ConfKey
      case "rangesliding" | "rangeslidinggrouped" =>
        graft.plans.RangeSlidingAggRewrite.ConfKey
      case "rangeslidingwide" => graft.plans.RangeSlidingAggRewrite.ConsolidateKey
      case "sliding" | "slidinggrouped" | "slidingchained" =>
        graft.plans.SlidingAggRewrite.ConfKey
      case "offset" | "offsetnn" | "groupedoffset" | "groupedoffsetchained" |
          "groupedoffsetwide" | "groupedoffsetnn" =>
        graft.plans.GroupedOffsetRewrite.ConfKey
      case "running" => graft.plans.GroupedRunningAggRewrite.ConfKey
      case _ => graft.plans.GroupedRankRewrite.ConfKey
    }
    if (mode == "chained" || mode == "mixedchained" ||
        mode == "groupedrunningchained" || mode == "groupedmixedchained" ||
        mode == "slidingchained" || mode == "groupedoffsetchained")
      s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    def run(on: Boolean): Double = {
      s.conf.set(confKey, on.toString)
      // the chained stack exercises BOTH operators in one plan
      if (mode == "chained")
        s.conf.set(graft.plans.GroupedRunningAggRewrite.ConfKey, on.toString)
      // the mixed split plans all four families out of one node: the
      // off branch must silence every one of them to get the true
      // pre-r17 native mixed funnel
      if (mode == "mixed" || mode == "mixedchained")
        Seq(graft.plans.WindowSplit.ConfKey,
          graft.plans.GroupedRankRewrite.ConfKey,
          graft.plans.GroupedRunningAggRewrite.ConfKey,
          graft.plans.GroupedOffsetRewrite.ConfKey,
          graft.plans.GroupedAggRewrite.ConfKey)
          .foreach(k => s.conf.set(k, on.toString))
      // the grouped split plans both grouped families out of one
      // node: the off branch silences both to get the true pre-r18
      // native hash funnel
      if (mode == "groupedmixed" || mode == "groupedmixedchained")
        Seq(graft.plans.WindowSplit.ConfKey,
          graft.plans.GroupedRankRewrite.ConfKey,
          graft.plans.GroupedRunningAggRewrite.ConfKey)
          .foreach(k => s.conf.set(k, on.toString))
      val t0 = System.nanoTime()
      val r = mode match {
        case "chained" =>
          // FINER pre-existing exchange under d-ordered windows:
          // every one of the 200 range partitions splits a 50k-row d
          // tie group, so the driver chain is live for every
          // boundary. The running-agg node chains RANGE sums; the
          // rank node stacks above it and reuses the same finer
          // partitioning (outputPartitioning is preserved), chaining
          // rank/dense/cume state. Exact-long checksums touch every
          // row; cume_dist is the same double division in both
          // engines, so the x1e6 fixed-point is bit-stable.
          val groups = 1000L
          val sz = math.max(n / groups, 1L)
          val tied = s.range(n).select($"id",
              floor($"id" / sz).cast("long").as("d"),
              pmod($"id" * 2654435761L, lit(97L)).as("fine"))
            .repartitionByRange(200, $"d", $"fine")
          val wd = Window.orderBy($"d")
          tied.select($"d", $"fine", sum($"fine").over(wd).as("gs"))
            .select($"fine", $"gs",
              rank().over(wd).as("r"),
              dense_rank().over(wd).as("dr"),
              cume_dist().over(wd).as("cd"))
            .agg((sum($"gs") + sum($"r".cast("long")) + sum($"dr".cast("long")) +
              sum(($"cd" * 1000000).cast("long"))).as("chk")).head()
        case "mixed" =>
          // q46 at scale: rank+cume (rank class), running RANGE sum
          // (running class), lag (offset class) and the corpus total
          // (full-frame class), all in ONE select over the (k, id)
          // total order; exact-long checksums touch every row,
          // cume_dist fixed-point is the same double division in both
          // engines
          df.select($"k",
              rank().over(w).as("r"),
              cume_dist().over(w).as("cd"),
              sum($"k").over(w).as("run"),
              lag($"k", 1, 0L).over(w).as("pk"),
              sum($"k").over(w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)).as("tot"))
            .agg((sum($"r".cast("long")) + sum(($"cd" * 1000000).cast("long")) +
              max($"run") + sum($"pk") + min($"tot")).as("chk")).head()
        case "mixedchained" =>
          // the r17 split × r16 chain COMPOSITION at scale: one mixed
          // select (rank family + running RANGE sum) ordered by `d`
          // alone over a pre-existing FINER (d, fine) exchange whose
          // 200 boundaries split every one of the 1000 d tie groups —
          // the split must fire AND both emitted operators must chain
          // boundary tie state on the reused exchange. Exact-long
          // checksums (rank/dense are tie-stable; the RANGE sum is
          // tie-stable) equal across on/off is the correctness
          // witness for the stacked chained configuration.
          val groups = 1000L
          val sz = math.max(n / groups, 1L)
          val tied = s.range(n).select($"id",
              floor($"id" / sz).cast("long").as("d"),
              pmod($"id" * 2654435761L, lit(97L)).as("fine"))
            .repartitionByRange(200, $"d", $"fine")
          val wd = Window.orderBy($"d")
          tied.select($"fine",
              rank().over(wd).as("r"),
              dense_rank().over(wd).as("dr"),
              cume_dist().over(wd).as("cd"),
              sum($"fine").over(wd).as("gs"),
              count(lit(1)).over(wd).as("gc"))
            .agg((sum($"gs") + max($"gc") + sum($"r".cast("long")) +
              sum($"dr".cast("long")) +
              sum(($"cd" * 1000000).cast("long"))).as("chk")).head()
        case "agg" =>
          // exact-long shares: every row reads the broadcast total;
          // the min/max aggregate touches every emitted row
          df.select($"k", sum($"k").over(Window.partitionBy()).as("t"))
            .select(($"t" - $"k").as("rest"))
            .agg(min($"rest") + max($"rest")).head()
        case "grouped" =>
          // few huge groups: group = id % nGroups (interleaved, so
          // every group is ~n/nGroups rows); rank + ntile exercise
          // the boundary-chain stitch AND the group-total buffering
          val wg = Window.partitionBy($"g").orderBy($"k", $"id")
          df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
            .select($"g", rank().over(wg).as("r"), ntile(100).over(wg).as("c"))
            .groupBy($"g", $"c").agg(max($"r").as("mr")).agg(sum($"mr")).head()
        case "offset" =>
          // the e33 shape: corpus-global neighbor delta + a lead, the
          // aggregate touches every emitted value (exact longs)
          df.select(($"k" - lag($"k", 1, 0L).over(w)).as("dk"),
              lead($"k", 2, 0L).over(w).as("nk"))
            .agg(sum($"dk") + min($"nk") + max($"nk")).head()
        case "groupedoffset" =>
          // the q54 shape at scale (r20): per-group neighbor delta +
          // a lead over FEW HUGE GROUPS (default 4 ≈ n/4 rows each) —
          // the regime where the native hash window's parallelism
          // ceiling is the group count; exact-long checksums touch
          // every emitted value in every group
          val wg = Window.partitionBy($"g").orderBy($"k", $"id")
          df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
            .select(($"k" - lag($"k", 1, 0L).over(wg)).as("dk"),
              lead($"k", 2, 0L).over(wg).as("nk"))
            .agg(sum($"dk") + min($"nk") + max($"nk")).head()
        case "offsetnn" =>
          // r22 ignoreNulls lag: corpus-global forward fill over a
          // SPARSE column (~1 non-null in 1000 — most range partitions
          // ship empty rings and the driver chain hops) next to a
          // plain lag; exact-long checksums touch every emitted value
          val sparse = when(pmod($"id", lit(1000L)) === 0L, $"k")
          df.select($"id", $"k", sparse.as("sp"))
            .select(coalesce(lag($"sp", 1, null, true).over(w), lit(0L)).as("ff"),
              lag($"k", 1, 0L).over(w).as("l1"))
            .agg(sum($"ff") + min($"l1") + max($"l1")).head()
        case "groupedoffsetnn" =>
          // r22 grouped ignoreNulls lag over few huge groups (the
          // forward-fill-per-device idiom at the group-count-ceiling
          // scale): depth 1 and 2 rings, key-gated at group edges
          val wg = Window.partitionBy($"g").orderBy($"k", $"id")
          df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
            .withColumn("sp", when(pmod($"id", lit(1000L)) === 0L, $"k"))
            .select(coalesce(lag($"sp", 1, null, true).over(wg), lit(0L)).as("ff"),
              coalesce(lag($"sp", 2, null, true).over(wg), lit(-1L)).as("ff2"),
              lag($"k", 1, 0L).over(wg).as("l1"))
            .agg(sum($"ff") + sum($"ff2") + min($"l1") + max($"l1")).head()
        case "groupedoffsetwide" =>
          // the s22-EMA shape at scale: FIFTEEN lag depths in one
          // node over few huge groups — the multi-function regime the
          // scratch-array pass-2 and the project-at-end pass-1 exist
          // for (per-row cost maxLag scan steps, not Σ depths; pass 1
          // copies rows, projecting only the O(maxOffset) survivors)
          val wg15 = Window.partitionBy($"g").orderBy($"k", $"id")
          val base15 = df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
          val lags = (1 to 15).map(j => lag($"k", j, 0L).over(wg15))
          base15.select(pmod(lags.reduce(_ + _) + $"k", lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "groupedoffsetchained" =>
          // the key-gated rings over a REUSED pre-existing FINER
          // (g, o, id) 200-partition exchange: every boundary splits
          // a group's series mid-window, so every lookup near an edge
          // crosses into the stitched tail/head with the key gate
          // live. (o, id) is tie-free per group → exact checksum
          // equality on/off is the 50M chained-correctness witness.
          val t = s.range(n).select($"id",
              pmod($"id", lit(4L)).as("g"),
              ($"id" / 4L).as("o"),
              pmod($"id" * 2654435761L, lit(1000000007L)).as("k2"))
            .repartitionByRange(200, $"g", $"o", $"id")
          val wc = Window.partitionBy($"g").orderBy($"o", $"id")
          t.select(($"k2" - lag($"k2", 1, 0L).over(wc)).as("dk"),
              lead($"k2", 3, 0L).over(wc).as("nk"))
            .agg(sum($"dk") + min($"nk") + max($"nk")).head()
        case "groupedrunning" =>
          // the q47 shape at scale: per-group cumulative sum + count
          // over FEW HUGE GROUPS (default 4 ≈ n/4 rows each) — the
          // regime where the native hash window's parallelism ceiling
          // is the group count; exact-long checksums touch every
          // prefix value in every group
          val wg = Window.partitionBy($"g").orderBy($"k", $"id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
            .select($"g",
              sum($"k").over(wg).as("cs"),
              count(lit(1)).over(wg).as("cc"))
            .groupBy($"g").agg((max($"cs") + min($"cs") + max($"cc")).as("m"))
            .agg(sum($"m")).head()
        case "groupedrunningchained" =>
          // the exec's most adversarial path at scale: 4 spanning
          // groups × 125 tie runs each over a FINER pre-existing
          // (g, d, fine) exchange whose 200 boundaries split both
          // group segments AND tie runs — the driver chains prefix
          // buffers per group and overrides split-run flushes.
          // Exact-long RANGE sums/counts are tie-stable, so checksum
          // equality rule-on/off is the 50M chained-correctness
          // witness for the grouped exec.
          val runs = 500L
          val sz = math.max(n / runs, 1L)
          val tied = s.range(n).select($"id",
              floor($"id" / sz).cast("long").as("r0"),
              pmod($"id" * 2654435761L, lit(97L)).as("fine"))
            .select($"id", ($"r0" % 4L).as("g"), ($"r0" / 4L).as("d"), $"fine")
            .repartitionByRange(200, $"g", $"d", $"fine")
          val wg = Window.partitionBy($"g").orderBy($"d")
          tied.select($"g", $"fine",
              sum($"fine").over(wg).as("gs"),
              count(lit(1)).over(wg).as("gc"))
            .groupBy($"g").agg((sum($"gs") + sum($"gc")).as("m"))
            .agg(sum($"m")).head()
        case "groupedmixed" =>
          // the q48 shape at scale: rank family + running RANGE
          // aggregates over the SAME grouped total (k, id) order in
          // ONE select, few huge interleaved groups. Exact-long
          // checksums sum over every emitted row; all five functions
          // are tie-stable (the order is total anyway).
          val wg = Window.partitionBy($"g").orderBy($"k", $"id")
          df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
            .select($"g",
              rank().over(wg).as("r"),
              dense_rank().over(wg).as("dr"),
              cume_dist().over(wg).as("cd"),
              sum($"k").over(wg).as("cs"),
              count(lit(1)).over(wg).as("cc"))
            .groupBy($"g").agg((max($"r".cast("long")) + max($"dr".cast("long")) +
              sum(($"cd" * 1000000).cast("long")) + max($"cs") + min($"cs") +
              max($"cc")).as("m"))
            .agg(sum($"m")).head()
        case "slidingchained" =>
          // the halo machinery over a REUSED pre-existing FINER
          // (g, o, id) 200-partition exchange: every boundary splits a
          // group's series mid-frame, so the rings stitch on the
          // reused exchange for every partition. (o, id) is tie-free
          // per group → exact checksum equality on/off is the 50M
          // correctness witness for the chained configuration.
          val t = s.range(n).select($"id",
              pmod($"id", lit(4L)).as("g"),
              ($"id" / 4L).as("o"),
              pmod($"id" * 2654435761L, lit(1000000007L)).as("k2"))
            .repartitionByRange(200, $"g", $"o", $"id")
          val wc = Window.partitionBy($"g").orderBy($"o", $"id")
          t.select($"k2",
              sum($"k2").over(wc.rowsBetween(-7, 0)).as("t"),
              count(lit(1)).over(wc.rowsBetween(-7, 0)).as("c"),
              min($"k2").over(wc.rowsBetween(-3, 3)).as("m"))
            .select(pmod($"t" + $"c" + $"m" + $"k2", lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "sliding" | "slidinggrouped" =>
          // bounded sliding ROWS frames (q50's shape): trailing 8-row
          // sum/count + a centered 7-row min over the tie-free (k, id)
          // order — global (the AllTuples single-task funnel) or over
          // nGroups huge interleaved groups (the group-count ceiling).
          // Exact mod-prime per-ROW checksums: a row with the wrong
          // frame flips the sum.
          val wS =
            if (mode == "sliding") Window.orderBy($"k", $"id")
            else Window.partitionBy($"g").orderBy($"k", $"id")
          val base =
            if (mode == "sliding") df
            else df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
          base.select($"k",
              sum($"k").over(wS.rowsBetween(-7, 0)).as("t"),
              count(lit(1)).over(wS.rowsBetween(-7, 0)).as("c"),
              min($"k").over(wS.rowsBetween(-3, 3)).as("m"))
            .select(pmod($"t" + $"c" + $"m" + $"k", lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "mixedspec" =>
          // the r19 fix (judge probe D3): three specs in one select —
          // the ordered pair goes to GlobalRank+GlobalRunningAgg in
          // BOTH branches; only the separate-spec total toggles
          // between the broadcast rewrite (on) and the native
          // AllTuples window stacked above the operators (off = the
          // pre-r19 funnel). Mod-prime per-row checksum.
          df.select($"k",
              rank().over(w).as("r"),
              sum($"k").over(w).as("run"),
              sum($"k").over(Window.partitionBy()).as("tot"))
            .select(pmod($"r".cast("long") + $"run" + $"tot" + $"k",
              lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "groupedmixedspec" =>
          // the grouped analog (judge probe A): the separate-spec
          // group total above the GroupedRank+GroupedRunningAgg stack
          // over few huge interleaved groups; off = a native
          // hash-clustered full-frame window at the group-count
          // ceiling on top of the operators.
          val wg = Window.partitionBy($"g").orderBy($"k", $"id")
          val wp = Window.partitionBy($"g")
          df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
            .select($"g", $"k",
              rank().over(wg).as("r"),
              sum($"k").over(wg).as("run"),
              sum($"k").over(wp).as("tot"))
            .select(pmod($"r".cast("long") + $"run" + $"tot" + $"k",
              lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "rangemixedspec" =>
          // the two r19 waves composed: the separate-spec corpus total
          // above the RANGE-VALUE trailing member. The RANGE operator
          // fires in both branches (its conf never toggles); off = the
          // total surviving as a native AllTuples window ON TOP of the
          // RangeSlidingAgg stack — the funnel the composition fix
          // deletes. Mod-prime per-row checksum: a row with the wrong
          // trail OR total flips the sum.
          val base0 = s.range(n).select($"id",
            floor($"id" / 3L).cast("long").as("o"),
            pmod($"id" * 2654435761L, lit(1000000007L)).as("k2"))
          val wR = Window.orderBy($"o")
          base0.select($"k2",
              sum($"k2").over(wR.rangeBetween(-20, 0)).as("t"),
              sum($"k2").over(Window.partitionBy()).as("tot"))
            .select(pmod($"t" + pmod($"tot", lit(1000000007L)) + $"k2",
              lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "rangeslidingwide" =>
          // heavy peers (2000 distinct values regardless of n, so the
          // frame always spans ~5 of the 32 partitions — the 100-TB
          // day-granular regime) under ONE trailing frame group, whose
          // aligned bounds let the consolidation cover every reached
          // partition except the straddling one. The operator runs in
          // BOTH branches; only the consolidate conf toggles (off =
          // per-row wide halo, ~5 copies per row).
          val peers = math.max(n / 2000L, 1L)
          val base0 = s.range(n).select($"id",
            floor($"id" / peers).cast("long").as("o"),
            pmod($"id" * 2654435761L, lit(1000000007L)).as("k2"))
          val wR = Window.orderBy($"o")
          base0.select($"k2",
              sum($"k2").over(wR.rangeBetween(-300, 0)).as("t"),
              count(lit(1)).over(wR.rangeBetween(-300, 0)).as("c"),
              min($"k2").over(wR.rangeBetween(-300, 0)).as("m"))
            .select(pmod($"t" + $"c" + $"m" + $"k2", lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "rangesliding" | "rangeslidinggrouped" =>
          // the r19 row-halo operator (q52/q25's class): trailing and
          // centered RANGE-VALUE frames over a dense value axis with
          // 3-row peer runs — global (natively the AllTuples one-task
          // funnel) or over nGroups huge interleaved groups (the
          // group-count ceiling). Mod-prime per-ROW checksums: a row
          // with the wrong frame flips the sum.
          // floor-div keeps `o` LongType — the DSL's `/` is double
          // division, which would bail the operator on order type
          val base0 = s.range(n).select($"id",
            pmod($"id", lit(nGroups.toLong)).as("g"),
            floor($"id" / 3L).cast("long").as("o"),
            pmod($"id" * 2654435761L, lit(1000000007L)).as("k2"))
          val wR =
            if (mode == "rangesliding") Window.orderBy($"o")
            else Window.partitionBy($"g").orderBy($"o")
          base0.select($"k2",
              sum($"k2").over(wR.rangeBetween(-20, 0)).as("t"),
              count(lit(1)).over(wR.rangeBetween(-8, 8)).as("c"))
            .select(pmod($"t" + $"c" + $"k2", lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "groupedagg" | "groupedaggmany" =>
          // share-of-group full-frame aggregates; the checksum folds
          // every ROW's joined-back values (mod a prime to stay in
          // long range), so a row receiving the wrong group's
          // aggregate flips it — the 50M correctness witness for the
          // join-back. `groupedagg` = few huge interleaved groups
          // (the funnel the rewrite deletes); `groupedaggmany` = n/10
          // ten-row groups (the rewrite's tax regime, README lever).
          val g = if (mode == "groupedagg") lit(nGroups.toLong)
                  else lit(math.max(n / 10L, 1L))
          val wg = Window.partitionBy($"g")
          df.withColumn("g", pmod($"id", g))
            .select($"g", $"k",
              sum($"k").over(wg).as("t"),
              count(lit(1)).over(wg).as("c"),
              max($"k").over(wg).as("m"))
            .select(pmod($"t" + $"c" + $"m" + $"k", lit(1000000007L)).as("x"))
            .agg(sum($"x")).head()
        case "groupedmixedchained" =>
          // split × BOTH driver chains at scale: 4 spanning groups ×
          // 125 wide tie runs each, mixed rank family + running RANGE
          // aggregates ordered by `d` per group, over a pre-existing
          // FINER (g, d, fine) exchange whose 200 boundaries split
          // group segments AND order-tie runs — the split must fire
          // and the two stacked operators must chain rank/cume state
          // and prefix/override buffers on the ONE reused exchange.
          // All functions tie-stable → checksum equality on/off is
          // the 50M correctness witness for the stacked chained
          // configuration.
          val runs = 500L
          val sz = math.max(n / runs, 1L)
          val tied = s.range(n).select($"id",
              floor($"id" / sz).cast("long").as("r0"),
              pmod($"id" * 2654435761L, lit(97L)).as("fine"))
            .select($"id", ($"r0" % 4L).as("g"), ($"r0" / 4L).as("d"), $"fine")
            .repartitionByRange(200, $"g", $"d", $"fine")
          val wg = Window.partitionBy($"g").orderBy($"d")
          tied.select($"g", $"fine",
              rank().over(wg).as("r"),
              dense_rank().over(wg).as("dr"),
              cume_dist().over(wg).as("cd"),
              sum($"fine").over(wg).as("gs"),
              count(lit(1)).over(wg).as("gc"))
            .groupBy($"g").agg((sum($"r".cast("long")) + sum($"dr".cast("long")) +
              sum(($"cd" * 1000000).cast("long")) + sum($"gs") + max($"gc")).as("m"))
            .agg(sum($"m")).head()
        case "running" =>
          // the q44 shape: cumulative sum + count on the ROWS frame,
          // exact-long checksum touching every prefix value
          val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          df.select(sum($"k").over(wr).as("cs"),
              count(lit(1)).over(wr).as("cc"))
            .agg(max($"cs") + min($"cs") + max($"cc")).head()
        case _ =>
          // rank + ntile exercise both the offset stitch and the
          // totals; the aggregate keeps the result tiny without
          // skipping any row
          df.select(rank().over(w).as("r"), ntile(100).over(w).as("c"))
            .groupBy($"c").agg(max($"r").as("mr")).agg(sum($"mr")).head()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(s"$confKey=$on n=$n sum=${r} ${f"$dt%.1f"}s")
      dt
    }
    // warm BOTH code paths (codegen/JIT), then take the min of three
    // INTERLEAVED samples per path — a 50M-row single-task sort leaves
    // enough GC/memory pressure behind to inflate whatever runs next,
    // so back-to-back ordering biases either direction
    run(on = true)
    run(on = false)
    val samples = (1 to 3).map(_ => (run(on = true), run(on = false)))
    val tOn = samples.map(_._1).min
    val tOff = samples.map(_._2).min
    println(f"n=$n operator=${tOn}%.1fs native=${tOff}%.1fs speedup=${tOff / tOn}%.1fx")
    s.stop()
  }
}
