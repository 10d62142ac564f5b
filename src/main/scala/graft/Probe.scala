package graft

import graft.plans.{ExcludedRules, GroupedAggRewrite => FullAgg,
  GroupedOffsetRewrite => Offset, GroupedRankRewrite => Rank, GroupedRunningAggRewrite => Running,
  RangeSlidingAggRewrite => RangeSliding, SlidingAggRewrite => Sliding, WindowSplit => Split}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Dev entry point: query timings, plans and A/B probes.
  *
  * `runMain graft.Probe <subcommand> [args]`:
  *  - `bench <name...>` times graded queries with [[BenchCore.measure]]
  *    (noop sink, warmup, min of three load-sentineled runs);
  *  - `explain <name>` prints the formatted static plan, or with
  *    `SPARK_GRAFT_EXPLAIN_EXEC=1` runs the query and prints the FINAL
  *    adaptive plan (where AQE's skew/reuse decisions show);
  *  - `flip <name> <confSpec...>` A/Bs one graded query under conf
  *    flips: a bare `<key>` is true on and false off (boolean confs
  *    such as the consolidate lever); `<key>=<onVal>|<offVal>` flips
  *    between two values (the minBytes `auto|0` gate pairs, and rules
  *    as `spark.sql.optimizer.excludedRules=|graft.plans.GroupedRankRewrite`);
  *  - `window [nRows] <mode> [nGroups]` A/Bs a window operator against
  *    Spark's native window on one synthetic shape of [[shapes]]
  *    (default 50M rows, 4 groups) and exits 1 when an operator-on
  *    checksum differs from an operator-off one;
  *  - `scale [name...]` times queries on the base corpus and on a
  *    blown-up copy of it ([[ScaleCorpus]]) and prints the ratios.
  *
  * Every subcommand starts the same session: `SPARK_GRAFT_CPUS` local
  * threads (default 32) and the runtime confs of `SPARK_GRAFT_CONF`
  * (`k=v;k=v`, shared by both A/B branches; [[Tables.applyEnvConfs]]).
  * The ones that read tables take the scale-factor directory from
  * `SPARK_GRAFT_SF_DIR`. `flip` and `window` share one A/B loop
  * ([[interleaved]]); each times its samples its own way. */
object Probe {
  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.drop(1)
    // parse and validate everything before paying session start-up
    val body: SparkSession => Boolean = args.headOption match {
      case Some("bench") =>
        val names = queryNames(rest, atLeast = 1)
        s => { bench(s, sfDir, names); true }
      case Some("explain") =>
        val name = queryNames(rest.take(1), atLeast = 1).head
        s => { explain(s, sfDir, name); true }
      case Some("flip") =>
        val name = queryNames(rest.take(1), atLeast = 1).head
        val specs = rest.drop(1).map { spec =>
          spec.split("=", 2) match {
            case Array(k, vs) if vs.contains('|') =>
              val Array(onV, offV) = vs.split("\\|", 2)
              (k, onV, offV)
            case _ => (spec, "true", "false")
          }
        }
        require(specs.nonEmpty, "flip <name> <confSpec> [confSpec...]")
        s => { flip(s, sfDir, name, specs); true }
      case Some("window") =>
        val (n, tail) = rest.headOption.flatMap(_.toLongOption) match {
          case Some(v) => (v, rest.drop(1))
          case None => (50000000L, rest)
        }
        val mode = tail.headOption.getOrElse(usage())
        require(shapes.contains(mode),
          s"unknown mode: $mode (valid: ${shapes.keys.toSeq.sorted.mkString(", ")})")
        val nGroups = tail.lift(1).map(_.toInt).getOrElse(4)
        s => window(s, n, mode, nGroups)
      case Some("scale") =>
        val names = queryNames(rest, atLeast = 0)
        s => { ScaleCorpus.probe(s, sfDir, names); true }
      case _ => usage()
    }
    val s = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Tables.applyEnvConfs(s)
    val ok = try body(s) finally s.stop()
    if (!ok) sys.exit(1)
  }

  private def usage(): Nothing =
    throw new IllegalArgumentException("usage: Probe bench <name...> | explain <name> | " +
      "flip <name> <confSpec...> | window [nRows] <mode> [nGroups] | scale [name...]")

  private def queryNames(names: Seq[String], atLeast: Int): Seq[String] = {
    if (names.size < atLeast) usage()
    names.filterNot(SparkEntry.queries.contains) match {
      case Seq() => names
      case bad => throw new IllegalArgumentException(s"unknown query: ${bad.mkString(", ")} " +
        s"(valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
    }
  }

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a scale-factor directory"))

  private def bench(s: SparkSession, dir: String, names: Seq[String]): Unit = {
    BenchCore.initBaseline(s)
    for (name <- names)
      println(f"$name: ${BenchCore.measure(s, dir, SparkEntry.queries(name))}%.3f s")
  }

  private def explain(s: SparkSession, dir: String, name: String): Unit = {
    val df = SparkEntry.queries(name)(s, dir)
    if (sys.env.get("SPARK_GRAFT_EXPLAIN_EXEC").contains("1")) {
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    } else df.explain("formatted")
  }

  /** Warm both branches, then take three interleaved (on, off) samples
    * and keep each branch's minimum: a heavy run leaves GC/memory
    * pressure behind that inflates whatever runs next, so back-to-back
    * ordering would bias either branch. `sample(on)` returns seconds
    * and a result; the results of all eight runs are returned too. */
  private def interleaved[R](sample: Boolean => (Double, R))
  : (Double, Double, Seq[R], Seq[R]) = {
    val runs = (0 to 3).map(_ => (sample(true), sample(false)))
    (runs.tail.map(_._1._1).min, runs.tail.map(_._2._1).min, runs.map(_._1._2), runs.map(_._2._2))
  }

  private def flip(s: SparkSession, dir: String, name: String,
                   specs: Seq[(String, String, String)]): Unit = {
    BenchCore.initBaseline(s)
    val keys = specs.map(_._1).mkString(",")
    val (tOn, tOff, _, _) = interleaved { on =>
      specs.foreach { case (k, onV, offV) => s.conf.set(k, if (on) onV else offV) }
      val t = BenchCore.measure(s, dir, SparkEntry.queries(name))
      println(f"$name $keys=$on: $t%.3f s")
      (t, ())
    }
    println(f"$name on=$tOn%.3f s off=$tOff%.3f s ratio(off/on)=${tOff / tOn}%.2f")
  }

  /** One timed collect per sample; false when the checksums differ. */
  private def window(s: SparkSession, n: Long, mode: String, nGroups: Int): Boolean = {
    val shape = shapes(mode)
    if (shape.noCoalesce) s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val synth = new Synth(s, n, nGroups)
    // the off branch adds the shape's rules to any exclusion
    // SPARK_GRAFT_CONF already set; the on branch keeps that exclusion
    val onRules = s.conf.getOption(ExcludedRules.Key)
    val offRules = ExcludedRules.plus(onRules, shape.rules)
    val flipped = (shape.rules.map(_.ruleName) ++ shape.keys).mkString(",")
    val (tOn, tOff, onSums, offSums) = interleaved { on =>
      s.conf.set(ExcludedRules.Key, if (on) onRules.getOrElse("") else offRules)
      shape.keys.foreach(s.conf.set(_, on.toString))
      val t0 = System.nanoTime()
      val sum = shape.plan(synth).head().get(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"$mode $flipped=$on n=$n sum=$sum $dt%.1fs")
      (dt, sum)
    }
    println(f"$mode n=$n operator=$tOn%.1fs native=$tOff%.1fs speedup=${tOff / tOn}%.1fx")
    val equal = (onSums ++ offSums).distinct.size == 1
    println(s"$mode checksums operator-on=${onSums.distinct.mkString(",")} " +
      s"operator-off=${offSums.distinct.mkString(",")}" + (if (equal) "" else " MISMATCH"))
    equal
  }

  private implicit class ColumnRef(val sc: StringContext) extends AnyVal {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** The synthetic inputs of the window shapes: `n` rows with a
    * hash-scrambled order key `k`, and `nGroups` interleaved groups. */
  private class Synth(s: SparkSession, val n: Long, nGroups: Int) {
    def df: DataFrame = s.range(n).select($"id", pmod($"id" * 2654435761L, lit(1000000007L)).as("k"))
    /** [[df]] with `g` = id mod nGroups: few huge interleaved groups. */
    def groups: DataFrame = df.withColumn("g", pmod($"id", lit(nGroups.toLong)))
    val w = Window.orderBy($"k", $"id")
    val wg = Window.partitionBy($"g").orderBy($"k", $"id")
    /** 1000 tie groups `d` over a pre-existing FINER (d, fine)
      * 200-partition range exchange: every boundary splits a tie group. */
    def tiedD: DataFrame = {
      val sz = math.max(n / 1000L, 1L)
      s.range(n).select($"id", floor($"id" / sz).cast("long").as("d"),
          pmod($"id" * 2654435761L, lit(97L)).as("fine"))
        .repartitionByRange(200, $"d", $"fine")
    }
    /** 4 spanning groups `g` × 125 tie runs `d` over a FINER (g, d,
      * fine) exchange: boundaries split group segments and tie runs. */
    def tiedGD: DataFrame = {
      val sz = math.max(n / 500L, 1L)
      s.range(n).select($"id", floor($"id" / sz).cast("long").as("r0"),
          pmod($"id" * 2654435761L, lit(97L)).as("fine"))
        .select($"id", ($"r0" % 4L).as("g"), ($"r0" / 4L).as("d"), $"fine")
        .repartitionByRange(200, $"g", $"d", $"fine")
    }
    /** Tie-free per-group series (g, o, id) over a FINER 200-partition
      * exchange: every boundary splits a group's series mid-window. */
    def series: DataFrame =
      s.range(n).select($"id", pmod($"id", lit(4L)).as("g"), ($"id" / 4L).as("o"),
          pmod($"id" * 2654435761L, lit(1000000007L)).as("k2"))
        .repartitionByRange(200, $"g", $"o", $"id")
    val wc = Window.partitionBy($"g").orderBy($"o", $"id")
    /** A LongType value axis `o` with `peers`-row peer runs (floor
      * division: the DSL's `/` is double division, which would bail
      * the operator on order type), plus groups `g`. */
    def valueAxis(peers: Long): DataFrame =
      s.range(n).select($"id", pmod($"id", lit(nGroups.toLong)).as("g"),
        floor($"id" / peers).cast("long").as("o"),
        pmod($"id" * 2654435761L, lit(1000000007L)).as("k2"))
  }

  /** A window shape: the rules its off branch excludes, whether it
    * turns off AQE coalescing (the chained shapes keep their finer
    * pre-existing exchange at 200 partitions), the boolean conf keys
    * its off branch sets false, and its one-value checksum plan.
    * Checksums are exact longs (cume_dist as a ×1e6 fixed point, the
    * same double division in both engines) or mod-prime per-row sums,
    * so a row with a wrong value flips them. */
  private case class Shape(rules: Seq[Rule[LogicalPlan]], noCoalesce: Boolean = false,
      keys: Seq[String] = Nil)(val plan: Synth => DataFrame)

  /** A mixed select plans every family out of one node: its off branch
    * excludes all of them to get the native mixed funnel. */
  private val MixedRules = Seq(Split, Rank, Running, Offset, FullAgg)
  private val GroupedMixedRules = Seq(Split, Rank, Running)

  private def modPrime(c: Column): Column = pmod(c, lit(1000000007L))
  private def cumeSum(c: Column): Column = sum((c * 1000000).cast("long"))
  private def sliding3(df: DataFrame, w: WindowSpec,
                       value: String): DataFrame =
    df.select($"$value",
        sum($"$value").over(w.rowsBetween(-7, 0)).as("t"),
        count(lit(1)).over(w.rowsBetween(-7, 0)).as("c"),
        min($"$value").over(w.rowsBetween(-3, 3)).as("m"))
      .select(modPrime($"t" + $"c" + $"m" + $"$value").as("x"))
      .agg(sum($"x"))

  /** The synthetic shapes of `window`, by mode name. Each names the
    * graded query whose shape it scales up. */
  private val shapes: Map[String, Shape] = Map(
    // corpus-global ranking: rank + ntile exercise the offset stitch
    // and the totals
    "rank" -> Shape(Seq(Rank)) { x =>
      x.df.select(rank().over(x.w).as("r"), ntile(100).over(x.w).as("c"))
        .groupBy($"c").agg(max($"r").as("mr")).agg(sum($"mr"))
    },
    // few huge groups (the q23-per-nation shape, where the native hash
    // window funnels each group through one task)
    "grouped" -> Shape(Seq(Rank)) { x =>
      x.groups.select($"g", rank().over(x.wg).as("r"), ntile(100).over(x.wg).as("c"))
        .groupBy($"g", $"c").agg(max($"r").as("mr")).agg(sum($"mr"))
    },
    // `sum OVER ()` share-of-total: every row reads the broadcast total
    "agg" -> Shape(Seq(FullAgg)) { x =>
      x.df.select($"k", sum($"k").over(Window.partitionBy()).as("t"))
        .select(($"t" - $"k").as("rest"))
        .agg(min($"rest") + max($"rest"))
    },
    // q49 share-of-group over few huge groups (the funnel the rewrite
    // deletes), and over n/10 ten-row groups (its tax regime)
    "groupedagg" -> Shape(Seq(FullAgg))(groupedAgg(_, many = false)),
    "groupedaggmany" -> Shape(Seq(FullAgg))(groupedAgg(_, many = true)),
    // the separate-spec total above a rank+running ordered stack
    // (off: a native AllTuples window on top of the operators)
    "mixedspec" -> Shape(Seq(FullAgg)) { x =>
      x.df.select($"k", rank().over(x.w).as("r"), sum($"k").over(x.w).as("run"),
          sum($"k").over(Window.partitionBy()).as("tot"))
        .select(modPrime($"r".cast("long") + $"run" + $"tot" + $"k").as("x"))
        .agg(sum($"x"))
    },
    // the grouped analog: the group total above the grouped stack
    "groupedmixedspec" -> Shape(Seq(FullAgg)) { x =>
      x.groups.select($"g", $"k", rank().over(x.wg).as("r"), sum($"k").over(x.wg).as("run"),
          sum($"k").over(Window.partitionBy($"g")).as("tot"))
        .select(modPrime($"r".cast("long") + $"run" + $"tot" + $"k").as("x"))
        .agg(sum($"x"))
    },
    // the separate-spec total above a RANGE-VALUE trailing member;
    // RangeSlidingAgg runs in both branches
    "rangemixedspec" -> Shape(Seq(FullAgg)) { x =>
      val wR = Window.orderBy($"o")
      x.valueAxis(3L).select($"k2", sum($"k2").over(wR.rangeBetween(-20, 0)).as("t"),
          sum($"k2").over(Window.partitionBy()).as("tot"))
        .select(modPrime($"t" + modPrime($"tot") + $"k2").as("x"))
        .agg(sum($"x"))
    },
    // e33: corpus-global neighbor delta + a lead
    "offset" -> Shape(Seq(Offset)) { x =>
      x.df.select(($"k" - lag($"k", 1, 0L).over(x.w)).as("dk"), lead($"k", 2, 0L).over(x.w).as("nk"))
        .agg(sum($"dk") + min($"nk") + max($"nk"))
    },
    // ignoreNulls forward fill over a sparse column (~1 in 1000
    // non-null) next to a plain lag
    "offsetnn" -> Shape(Seq(Offset)) { x =>
      x.df.select($"id", $"k", when(pmod($"id", lit(1000L)) === 0L, $"k").as("sp"))
        .select(coalesce(lag($"sp", 1, null, true).over(x.w), lit(0L)).as("ff"),
          lag($"k", 1, 0L).over(x.w).as("l1"))
        .agg(sum($"ff") + min($"l1") + max($"l1"))
    },
    // q54: per-group neighbor delta + a lead over few huge groups
    "groupedoffset" -> Shape(Seq(Offset)) { x =>
      x.groups.select(($"k" - lag($"k", 1, 0L).over(x.wg)).as("dk"),
          lead($"k", 2, 0L).over(x.wg).as("nk"))
        .agg(sum($"dk") + min($"nk") + max($"nk"))
    },
    // per-group ignoreNulls rings of depth 1 and 2, key-gated at edges
    "groupedoffsetnn" -> Shape(Seq(Offset)) { x =>
      x.groups.withColumn("sp", when(pmod($"id", lit(1000L)) === 0L, $"k"))
        .select(coalesce(lag($"sp", 1, null, true).over(x.wg), lit(0L)).as("ff"),
          coalesce(lag($"sp", 2, null, true).over(x.wg), lit(-1L)).as("ff2"),
          lag($"k", 1, 0L).over(x.wg).as("l1"))
        .agg(sum($"ff") + sum($"ff2") + min($"l1") + max($"l1"))
    },
    // s22's EMA: fifteen lag depths in one node (the scratch-array
    // pass-2 regime)
    "groupedoffsetwide" -> Shape(Seq(Offset)) { x =>
      val lags = (1 to 15).map(j => lag($"k", j, 0L).over(x.wg))
      x.groups.select(modPrime(lags.reduce(_ + _) + $"k").as("x")).agg(sum($"x"))
    },
    // the key-gated rings across a reused finer exchange
    "groupedoffsetchained" -> Shape(Seq(Offset), noCoalesce = true) { x =>
      x.series.select(($"k2" - lag($"k2", 1, 0L).over(x.wc)).as("dk"),
          lead($"k2", 3, 0L).over(x.wc).as("nk"))
        .agg(sum($"dk") + min($"nk") + max($"nk"))
    },
    // q44: corpus-global cumulative sum + count on the ROWS frame
    "running" -> Shape(Seq(Running)) { x =>
      val wr = x.w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      x.df.select(sum($"k").over(wr).as("cs"), count(lit(1)).over(wr).as("cc"))
        .agg(max($"cs") + min($"cs") + max($"cc"))
    },
    // q47: the same per group, few huge groups
    "groupedrunning" -> Shape(Seq(Running)) { x =>
      val wr = x.wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      x.groups.select($"g", sum($"k").over(wr).as("cs"), count(lit(1)).over(wr).as("cc"))
        .groupBy($"g").agg((max($"cs") + min($"cs") + max($"cc")).as("m"))
        .agg(sum($"m"))
    },
    // RANGE sums/counts chaining prefix buffers per group across split
    // group segments and tie runs
    "groupedrunningchained" -> Shape(Seq(Running), noCoalesce = true) { x =>
      val wd = Window.partitionBy($"g").orderBy($"d")
      x.tiedGD.select($"g", $"fine", sum($"fine").over(wd).as("gs"), count(lit(1)).over(wd).as("gc"))
        .groupBy($"g").agg((sum($"gs") + sum($"gc")).as("m"))
        .agg(sum($"m"))
    },
    // the tie-chaining path: a RANGE running sum under rank/dense_rank/
    // cume_dist, all ordered by the tied `d` alone
    "chained" -> Shape(Seq(Rank, Running), noCoalesce = true) { x =>
      val wd = Window.orderBy($"d")
      x.tiedD.select($"d", $"fine", sum($"fine").over(wd).as("gs"))
        .select($"fine", $"gs", rank().over(wd).as("r"), dense_rank().over(wd).as("dr"),
          cume_dist().over(wd).as("cd"))
        .agg((sum($"gs") + sum($"r".cast("long")) + sum($"dr".cast("long")) + cumeSum($"cd")).as("chk"))
    },
    // q46: all four family classes in ONE select over one total order
    "mixed" -> Shape(MixedRules) { x =>
      x.df.select($"k", rank().over(x.w).as("r"), cume_dist().over(x.w).as("cd"),
          sum($"k").over(x.w).as("run"), lag($"k", 1, 0L).over(x.w).as("pk"),
          sum($"k").over(x.w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("tot"))
        .agg((sum($"r".cast("long")) + cumeSum($"cd") + max($"run") + sum($"pk") + min($"tot"))
          .as("chk"))
    },
    // the split composed with the tie chain on a finer exchange
    "mixedchained" -> Shape(MixedRules, noCoalesce = true) { x =>
      val wd = Window.orderBy($"d")
      x.tiedD.select($"fine", rank().over(wd).as("r"), dense_rank().over(wd).as("dr"),
          cume_dist().over(wd).as("cd"), sum($"fine").over(wd).as("gs"),
          count(lit(1)).over(wd).as("gc"))
        .agg((sum($"gs") + max($"gc") + sum($"r".cast("long")) + sum($"dr".cast("long")) +
          cumeSum($"cd")).as("chk"))
    },
    // q48: rank family + running RANGE aggregates over one grouped order
    "groupedmixed" -> Shape(GroupedMixedRules) { x =>
      x.groups.select($"g", rank().over(x.wg).as("r"), dense_rank().over(x.wg).as("dr"),
          cume_dist().over(x.wg).as("cd"), sum($"k").over(x.wg).as("cs"),
          count(lit(1)).over(x.wg).as("cc"))
        .groupBy($"g").agg((max($"r".cast("long")) + max($"dr".cast("long")) + cumeSum($"cd") +
          max($"cs") + min($"cs") + max($"cc")).as("m"))
        .agg(sum($"m"))
    },
    // the grouped split over both driver chains on a finer exchange
    "groupedmixedchained" -> Shape(GroupedMixedRules, noCoalesce = true) { x =>
      val wd = Window.partitionBy($"g").orderBy($"d")
      x.tiedGD.select($"g", $"fine", rank().over(wd).as("r"), dense_rank().over(wd).as("dr"),
          cume_dist().over(wd).as("cd"), sum($"fine").over(wd).as("gs"),
          count(lit(1)).over(wd).as("gc"))
        .groupBy($"g").agg((sum($"r".cast("long")) + sum($"dr".cast("long")) + cumeSum($"cd") +
          sum($"gs") + max($"gc")).as("m"))
        .agg(sum($"m"))
    },
    // q50: trailing/centered bounded ROWS frames, global or grouped,
    // and across a reused finer exchange
    "sliding" -> Shape(Seq(Sliding))(x => sliding3(x.df, x.w, "k")),
    "slidinggrouped" -> Shape(Seq(Sliding))(x => sliding3(x.groups, x.wg, "k")),
    "slidingchained" -> Shape(Seq(Sliding), noCoalesce = true)(x => sliding3(x.series, x.wc, "k2")),
    // q52/q25: trailing and centered RANGE-VALUE frames with 3-row
    // peer runs, global or over few huge groups
    "rangesliding" -> Shape(Seq(RangeSliding))(rangeSliding(_, Window.orderBy($"o"))),
    "rangeslidinggrouped" ->
      Shape(Seq(RangeSliding))(rangeSliding(_, Window.partitionBy($"g").orderBy($"o"))),
    // the wide-frame consolidation: 2000 distinct values whatever n,
    // so the frame spans ~5 of 32 partitions; the operator runs in
    // both branches, off = per-row wide halo copies
    "rangeslidingwide" -> Shape(Nil, keys = Seq(RangeSliding.ConsolidateKey)) { x =>
      val wR = Window.orderBy($"o").rangeBetween(-300, 0)
      x.valueAxis(math.max(x.n / 2000L, 1L))
        .select($"k2", sum($"k2").over(wR).as("t"), count(lit(1)).over(wR).as("c"),
          min($"k2").over(wR).as("m"))
        .select(modPrime($"t" + $"c" + $"m" + $"k2").as("x"))
        .agg(sum($"x"))
    })

  private def groupedAgg(x: Synth, many: Boolean): DataFrame = {
    val wp = Window.partitionBy($"g")
    val base = if (many) x.df.withColumn("g", pmod($"id", lit(math.max(x.n / 10L, 1L)))) else x.groups
    base.select($"g", $"k", sum($"k").over(wp).as("t"), count(lit(1)).over(wp).as("c"),
        max($"k").over(wp).as("m"))
      .select(modPrime($"t" + $"c" + $"m" + $"k").as("x"))
      .agg(sum($"x"))
  }

  private def rangeSliding(x: Synth, wR: WindowSpec): DataFrame =
    x.valueAxis(3L)
      .select($"k2", sum($"k2").over(wR.rangeBetween(-20, 0)).as("t"),
        count(lit(1)).over(wR.rangeBetween(-8, 8)).as("c"))
      .select(modPrime($"t" + $"c" + $"k2").as("x"))
      .agg(sum($"x"))
}

/** The scaling corpus of `Probe scale` (PLANS.md "Measured scaling
  * probe"): the base corpus blown up `SPARK_GRAFT_PROBE_COPIES` times
  * (default 8; 64 probes a decade further out) in /tmp, rebuilt when
  * `SPARK_GRAFT_SF_DIR` changes. Queries are timed on both corpora
  * with [[BenchCore.measure]] and the ratios printed: linear-at-8× is
  * the evidence the 100 TB claims rest on; anything super-linear is a
  * red flag to chase in the plan.
  *
  * Copies are content-decorrelated so the blow-up is real, not
  * degenerate self-similarity:
  * - documents: per-copy vowel rotation (copies don't trivially
  *   collide in LSH buckets; the 5-cycle still makes copies 0/5, 1/6,
  *   2/7 exact cross-copy dups — noted with the d6 measurement);
  * - embeddings: per-copy dimension rotation (norm-preserving, breaks
  *   cross-copy cosine alignment), vec_id offset keeps the bounded
  *   query sides (vec_id < 5/20) pinned to copy 0;
  * - events + orders: aligned id offsets (user_id ↔ o_custkey move
  *   together) so per-user join semantics hold within each copy and
  *   copies never join across.
  * The default queries are d6/d7/d9.
  *
  * `SPARK_GRAFT_PROBE_SKEW=1` builds HOT-KEY variants of the events
  * AND embeddings copies — one user owns ~30% of all view rows, and
  * one IVF cell owns ~30% of all vectors (every hot vector is the
  * same cell-seed embedding) — and reports, for each probed query,
  * whether AQE's skew-join split fired on the final plan (defaults
  * to e8/e9/st13, the user_id-shuffled interval joins; pass
  * v12_knn_graph for the hot-cell in-cell self-join case). The AQE
  * skew thresholds are scaled down to match the probe corpus size —
  * at production partition sizes the stock 256 MB thresholds play the
  * same role; what the probe pins is that the hot key stays INSIDE
  * the AQE safety net (both joins plan as SMJ with a plain equi key +
  * range filter), rather than escaping it via a non-splittable shape.
  */
private object ScaleCorpus {
  val Copies = math.max(2, sys.env.getOrElse("SPARK_GRAFT_PROBE_COPIES", "8").toInt)
  val Skew = sys.env.get("SPARK_GRAFT_PROBE_SKEW").contains("1")
  val HotUser = 1L
  val ProbeDir = s"/tmp/graft_scaleprobe${Copies}x" + (if (Skew) "_skew" else "")
  private val SourceMarker = s"$ProbeDir/SOURCE_DIR"

  /** A cached probe corpus is only valid for the base dir it was built
    * from — a run after changing SPARK_GRAFT_SF_DIR must rebuild, not
    * silently measure ratios against a stale corpus. */
  private def ensureFreshFor(base: String): Unit = {
    val marker = new java.io.File(SourceMarker)
    val recorded =
      if (marker.exists())
        java.nio.file.Files.readString(marker.toPath).trim
      else ""
    if (recorded != base) {
      val dir = new java.io.File(ProbeDir)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete()
        }
        rm(dir)
      }
      dir.mkdirs()
      val w = new java.io.PrintWriter(marker)
      try w.print(base) finally w.close()
    }
  }

  private def haveTable(t: String): Boolean =
    new java.io.File(s"$ProbeDir/$t.parquet").exists()

  private def writeCopies(name: String, copies: Seq[DataFrame]): Unit = {
    copies.reduce(_ union _)
      .repartition(Copies)
      .write.mode("overwrite").parquet(s"$ProbeDir/$name.parquet")
    println(s"[probe] built ${Copies}x $name at $ProbeDir")
  }

  private def build(spark: SparkSession, base: String): Unit = {
    import spark.implicits._
    ensureFreshFor(base)
    val ks = 0 until Copies
    if (!haveTable("documents")) {
      val docs = Tables.documents(spark, base)
      val vows = "aeiou"
      writeCopies("documents", ks.map { k =>
        val rot = vows.drop(k % 5) + vows.take(k % 5)
        docs.select(
          ($"doc_id" + lit(k * 10000000L)).as("doc_id"),
          translate($"text", vows, rot).as("text"),
          $"lang", $"source", $"n_chars")
      })
    }
    if (!haveTable("embeddings")) {
      val emb = Tables.embeddings(spark, base)
      // hot-cell variant: ~30% of every copy's vectors (deterministic
      // by vec_id) replaced with SCALED copies of one fixed direction —
      // the embedding of the base corpus's minimum vec_id, which is a
      // cell seed (centroids = per-label min_by(vec_id)). Cosine is
      // scale-invariant, so every hot vector assigns to THAT cell; the
      // per-vector scale keeps the float bytes DISTINCT — byte-
      // identical vectors would collapse under shuffle compression and
      // hide the hot partition from AQE's byte-based skew detection
      // (measured: an identical-vector variant compressed away and no
      // split fired). Label-min vectors are never replaced, so the
      // centroid set itself stays clean and exactly one centroid
      // matches the hot direction. This is the v12 in-cell self-join's
      // realistic skew case: one boilerplate cluster owning ~30%.
      val hotCtx =
        if (Skew)
          Some((
            broadcast(emb.orderBy($"vec_id").limit(1)
              .select($"embedding".as("hot_emb"))),
            broadcast(emb.groupBy($"label").agg(min($"vec_id").as("mv")))))
        else None
      writeCopies("embeddings", ks.map { k =>
        val r = k % sim.Sim.Dims // rotate mod Dims so any copy count is safe
        val rotated =
          if (r == 0) $"embedding"
          else concat(
            slice($"embedding", r + 1, sim.Sim.Dims - r),
            slice($"embedding", 1, r))
        hotCtx match {
          case None =>
            emb.select(
              ($"vec_id" + lit(k * 10000000L)).as("vec_id"),
              $"label", rotated.as("embedding"))
          case Some((hotEmb, labelMin)) =>
            val scale = (lit(1.0) +
              pmod($"vec_id" * 7919L, lit(1000L)).cast("double") / 1000.0)
            emb.join(labelMin, "label")
              .crossJoin(hotEmb)
              .select(
                ($"vec_id" + lit(k * 10000000L)).as("vec_id"),
                $"label",
                when(pmod($"vec_id", lit(10)) < 3 && $"vec_id" =!= $"mv",
                  transform($"hot_emb", x => (x * scale).cast("float")))
                  .otherwise(rotated).as("embedding"))
        }
      })
    }
    if (!haveTable("events")) {
      val ev = Tables.events(spark, base)
      val rest = ev.columns.filterNot(c => c == "event_id" || c == "user_id").map(col)
      writeCopies("events", ks.map { k =>
        val copy = ev.select(Seq(
          ($"event_id" + lit(k * 100000000L)).as("event_id"),
          ($"user_id" + lit(k * 10000000L)).as("user_id")) ++ rest: _*)
        // hot-key variant: ~30% of every copy's views AND clicks
        // reassigned to ONE global user (deterministic by event_id,
        // ts untouched) — the user_id shuffle partition holding
        // HotUser carries ~30% of those rows: views feed e8/e9's
        // interval joins, clicks feed st13's stream-stream join, the
        // realistic one-power-user skew case for both
        if (Skew)
          copy.withColumn("user_id",
            when($"event_type".isin("view", "click") &&
                pmod($"event_id", lit(10)) < 3, lit(HotUser))
              .otherwise($"user_id"))
        else copy
      })
    }
    if (!haveTable("orders")) {
      val od = Tables.orders(spark, base)
      val rest = od.columns.filterNot(c => c == "o_orderkey" || c == "o_custkey").map(col)
      writeCopies("orders", ks.map { k =>
        od.select(Seq(
          ($"o_orderkey" + lit(k * 100000000L)).as("o_orderkey"),
          ($"o_custkey" + lit(k * 10000000L)).as("o_custkey")) ++ rest: _*)
      })
    }
    if (!haveTable("customer")) {
      // c_custkey offsets aligned with orders' o_custkey so the
      // order→customer join semantics hold within each copy; the
      // categorical columns (segment, nation) repeat — categories
      // don't scale with the corpus, which is exactly the q27/q28
      // contingency assumption.
      val cu = Tables.customer(spark, base)
      val rest = cu.columns.filterNot(_ == "c_custkey").map(col).toSeq
      writeCopies("customer", ks.map { k =>
        cu.select(($"c_custkey" + lit(k * 10000000L)).as("c_custkey") +: rest: _*)
      })
    }
    if (!haveTable("lineitem")) {
      // l_orderkey offsets aligned with orders' o_orderkey so
      // order→line join semantics hold within each copy
      val li = Tables.lineitem(spark, base)
      val rest = li.columns.filterNot(_ == "l_orderkey").map(col).toSeq
      writeCopies("lineitem", ks.map { k =>
        li.select(($"l_orderkey" + lit(k * 100000000L)).as("l_orderkey") +: rest: _*)
      })
    }
    if (!haveTable("nation")) {
      // constant dimension: copied once, not blown up (category sets
      // are fixed at any corpus scale)
      Tables.nation(spark, base).write.mode("overwrite")
        .parquet(s"$ProbeDir/nation.parquet")
      println(s"[probe] copied nation (constant dim) at $ProbeDir")
    }
    if (!haveTable("part")) {
      // copied once: lineitem copies keep their l_partkey values, so
      // every copy joins the same part dim (per-copy join cardinality
      // preserved; brand/type category sets don't scale anyway)
      Tables.part(spark, base).write.mode("overwrite")
        .parquet(s"$ProbeDir/part.parquet")
      println(s"[probe] copied part (constant dim) at $ProbeDir")
    }
  }

  def probe(spark: SparkSession, base: String, requested: Seq[String]): Unit = {
    val names =
      if (requested.nonEmpty) requested
      else if (Skew) Seq("e8_interval_join", "e9_attribution", "st13_stream_enrich")
      else Seq("d6_ngram_jaccard", "d7_dup_clusters", "d9_keep_list")
    // Skew-mode session overrides, scoped to the PROBE-corpus work only
    // so the base-dir times (and therefore the printed base/big ratios)
    // are measured under the session's default confs:
    //  - the AQE skew-split thresholds are scaled to the probe corpus
    //    (the stock 256 MB gates are sized for production partitions;
    //    the hot partition here is ~47k view rows ≈ sub-MB COMPRESSED
    //    shuffle bytes, which is what the threshold compares against);
    //  - broadcast joins are disabled because at probe scale AQE
    //    broadcasts the (small) purchase side and no user_id shuffle
    //    exists at all. Production interval joins are fact-fact (both
    //    sides far above any broadcast threshold) and plan as SMJ;
    //    forcing that shape tests the hot key against the machinery
    //    that would face it.
    val skewConfs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      // minPartitionSize's 1 MB default coalesces a probe-sized map
      // side into ONE task — and a skewed reduce partition fed by a
      // single mapper cannot be split at all (AQE splits at MAPPER
      // granularity; diagnosed r13 via OptimizeSkewedJoin debug logs:
      // isSkewed fired, createSkewPartitionSpecs returned None).
      // Production map outputs are far above 1 MB, so only the probe
      // needs the scaled floor.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    def underSkewConfs[T](body: => T): T =
      if (!Skew) body
      else {
        val saved = skewConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
        skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        try body
        finally saved.foreach { case (k, o) =>
          o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    build(spark, base)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val tBase = BenchCore.measure(spark, base, fn)
      val tBig = underSkewConfs(BenchCore.measure(spark, ProbeDir, fn))
      println(f"$name: base=$tBase%.2f s  ${Copies}x=$tBig%.2f s  ratio=${tBig / tBase}%.1fx")
      if (name == "d7_dup_clusters")
        println(s"$name: contraction rounds base=${dedup.Dedup.d7Rounds(spark, base)} " +
          s"${Copies}x=${dedup.Dedup.d7Rounds(spark, ProbeDir)}")
      if (Skew) underSkewConfs {
        // the action must run on THIS df's QueryExecution — a noop
        // write executes a separate cloned plan and leaves this one
        // isFinalPlan=false with no skew info
        def fired(): Boolean = {
          val df = fn(spark, ProbeDir)
          df.collect()
          df.queryExecution.executedPlan.toString.contains("skew=true")
        }
        val plain = fired()
        println(s"$name: AQE skew-split fired on the hot-user corpus: $plain")
        if (!plain) {
          // a downstream agg that reuses the join's partitioning (e.g.
          // e9's groupBy includes user_id) pins the distribution and
          // AQE won't split unless allowed to add the exchange back
          spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
          try println(s"$name: ... with forceOptimizeSkewedJoin=true: ${fired()}")
          finally spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
        }
      }
    }
  }
}
