package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SlidingAggRewrite]] — bounded sliding ROWS frames
  * (moving averages / trailing totals) on the boundary-VALUE-ring
  * operator, global AND grouped out of one exec. These cases pin:
  *   - bit-equal results vs native for trailing, centered,
  *     strictly-past and strictly-future frames over a TOTAL order
  *     (ROWS frames are tie-arbitrary by SQL's own contract — the
  *     specs use tie-free orders, GlobalOffsetSpec's discipline),
  *     including frames larger than a shuffle partition (the halo
  *     chains across short partitions) and empty frames at the
  *     corpus/group edges (sum → null, count → 0);
  *   - the grouped form: frames CLIP at group boundaries (the
  *     part-key gate), null group keys and null-bearing inputs ride;
  *   - the day-one partitioning-variation canary (r16 discipline): a
  *     pre-existing FINER (g, o, id) exchange is reused — exactly one
  *     range exchange — and the rings still stitch correctly;
  *   - fold-order parity: first() (order-sensitive) over a sliding
  *     frame matches native because the re-fold walks the frame in
  *     ascending row order;
  *   - bails: extent past maxExtent, RANGE-value frames (q25's
  *     shape — since r19 they plan on [[graft.plans.RangeSlidingAggRewrite]]'s
  *     row-halo operator, never on this ROWS-ring exec), running
  *     frames (GlobalRunningAgg's class — the rules stay disjoint),
  *     mixed sliding+running nodes (whole node native), the kill
  *     switch and the minBytes lever.
  */
class SlidingAggSpec extends AnyFunSuite {
  import TestSpark._

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    assert(got.size == ref.size, s"$what: size ${got.size} != ${ref.size}")
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  private def off[A](body: => A): A =
    TestSpark.withoutRules(graft.plans.SlidingAggRewrite)(body)

  /** 6 interleaved groups × 1000 rows, exact longs, tie-free (o, id)
    * order per group; with 4 shuffle partitions every frame of width
    * ≥ 2 crosses partition boundaries somewhere. */
  private def data = {
    val s = spark
    import s.implicits._
    (0 until 6000).map { i =>
      (i.toLong, i % 6, (i / 6).toLong, ((i * 37) % 1000).toLong)
    }.toDF("id", "g", "o", "cents")
  }

  private def assertSlidingPlan(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SlidingAgg"),
      s"$what: SlidingAggExec missing from the plan:\n" + plan.take(2500))
    assert(!plan.contains("Window ["),
      s"$what: no native WindowExec may survive the rewrite:\n" + plan.take(2500))
  }

  test("global trailing + centered frames: one exec, two frame groups, bit-equal, schema order kept") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("slide_t")
    val sqlText = """
      SELECT id, cents,
             sum(cents)   OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS trail_sum,
             count(*)     OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS trail_n,
             min(cents)   OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS ctr_min,
             max(cents)   OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS ctr_max
      FROM slide_t"""
    val df = s.sql(sqlText)
    assertSlidingPlan(df, "global trailing+centered")
    assert(df.schema.map(_.name) ==
      Seq("id", "cents", "trail_sum", "trail_n", "ctr_min", "ctr_max"))
    val got = df.collect().toSeq.sortBy(_.getLong(0))
    val ref = off(s.sql(sqlText).collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "global trailing+centered sliding")
  }

  test("grouped sliding frames clip at group boundaries; null keys and null inputs ride") {
    val s = spark
    import s.implicits._
    val nd = data
      .withColumn("gn", when($"g" =!= 0, $"g"))
      .withColumn("cn", when($"id" % 7 =!= 0, $"cents"))
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.SlidingAggRewrite) {
        val w = Window.partitionBy($"gn").orderBy($"o", $"id")
        val df = nd.select($"id",
          sum($"cn").over(w.rowsBetween(-3, 0)).as("trail"),
          avg($"cn").over(w.rowsBetween(-2, 2)).as("ctr"),
          count(lit(1)).over(w.rowsBetween(-3, 0)).as("n"))
        if (on) assertSlidingPlan(df, "grouped sliding")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "grouped sliding with null keys/inputs")
  }

  test("frames larger than a partition: the halo chains across short partitions, bit-equal") {
    val s = spark
    import s.implicits._
    // 40 rows over a 16-way range exchange → ~2-3 rows per partition,
    // lookback 7 and lookahead 5 both span MULTIPLE partitions
    val tiny = s.range(40).select($"id", ($"id" * 13 % 29).as("v"))
      .repartitionByRange(16, $"id")
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.SlidingAggRewrite) {
        val w = Window.orderBy($"id")
        val df = tiny.select($"id",
          sum($"v").over(w.rowsBetween(-7, 0)).as("t"),
          sum($"v").over(w.rowsBetween(-2, 5)).as("c"),
          count(lit(1)).over(w.rowsBetween(-7, 0)).as("n"))
        if (on) assertSlidingPlan(df, "multi-partition halo")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "halo chained across short partitions")
  }

  test("extent at the 128 cap over 64 tiny partitions: rings chain across dozens of boundaries, bit-equal") {
    val s = spark
    import s.implicits._
    // 200 rows / 64 partitions ≈ 3 rows each: a 128-row lookback and a
    // 64-row lookahead each span ~20–40 stitched partitions
    val tiny = s.range(200).select($"id", ($"id" * 31 % 17).as("v"))
      .repartitionByRange(64, $"id")
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.SlidingAggRewrite) {
        val w = Window.orderBy($"id")
        val df = tiny.select($"id",
          sum($"v").over(w.rowsBetween(-128, 0)).as("t"),
          sum($"v").over(w.rowsBetween(-64, 64)).as("c"),
          count(lit(1)).over(w.rowsBetween(-128, 0)).as("n"))
        if (on) assertSlidingPlan(df, "cap-extent chain")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "cap-extent halo over 64 tiny partitions")
  }

  test("day-one canary: pre-existing FINER (g, o, id) exchange is reused — one range exchange — and rings stitch on it") {
    val s = spark
    import s.implicits._
    val finer = data.repartitionByRange(13, $"g", $"o", $"id")
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.SlidingAggRewrite) {
        val w = Window.partitionBy($"g").orderBy($"o", $"id")
        val df = finer.select($"id", $"g", $"o",
          sum($"cents").over(w.rowsBetween(-4, 1)).as("m"))
        if (on) {
          assertSlidingPlan(df, "finer-exchange canary")
          df.collect()
          val finalSection = df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==").head
          val nRange = finalSection.split("Exchange rangepartitioning").length - 1
          assert(nRange == 1,
            s"the finer exchange must be REUSED (one range exchange), got $nRange:\n" +
              finalSection.take(2500))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "sliding over a reused finer exchange")
  }

  test("strictly-past and strictly-future frames, empty at the edges; first() keeps native fold order") {
    val s = spark
    import s.implicits._
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.SlidingAggRewrite) {
        val w = Window.partitionBy($"g").orderBy($"o", $"id")
        val df = data.select($"id",
          sum($"cents").over(w.rowsBetween(-5, -2)).as("past"),
          count(lit(1)).over(w.rowsBetween(2, 4)).as("future_n"),
          first($"cents").over(w.rowsBetween(-3, 0)).as("f"))
        if (on) assertSlidingPlan(df, "asymmetric frames")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "strictly-past/future frames + first()")
  }

  test("adversarial: decimal sum/avg + ignoreNulls first over a DESC order under a reused finer exchange, bit-equal") {
    val s = spark
    import s.implicits._
    // the P1-class probe dimensions stacked onto the new exec: exact
    // DECIMAL arithmetic through the rings, null-bearing inputs,
    // ignoreNulls first (DeclarativeAggregate, fold order = row
    // order), a DESCENDING frame order, and a pre-existing FINER
    // (g, o desc, id, cents) exchange whose 11 boundaries split group
    // series mid-frame
    val nd = data
      .withColumn("dc", ($"cents".cast("decimal(12,4)") / 7).cast("decimal(12,4)"))
      .withColumn("cn", when($"id" % 5 =!= 0, $"dc"))
      .repartitionByRange(11, $"g", $"o".desc, $"id", $"cents")
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.SlidingAggRewrite) {
        val w = Window.partitionBy($"g").orderBy($"o".desc, $"id")
        // every finer key stays in the output projection — else
        // ColumnPruning degrades the reused exchange's
        // outputPartitioning to Unknown and EnsureRequirements hides
        // the reuse under a fresh exchange (the r16 repro trap)
        val df = nd.select($"id", $"g", $"o", $"cents",
          sum($"cn").over(w.rowsBetween(-6, 2)).as("ds"),
          avg($"cn").over(w.rowsBetween(-6, 2)).as("da"),
          first($"cn", ignoreNulls = true).over(w.rowsBetween(-4, 0)).as("fv"),
          count($"cn").over(w.rowsBetween(-4, 0)).as("nn"))
        if (on) {
          assertSlidingPlan(df, "adversarial decimal/desc/finer")
          df.collect()
          val finalSection = df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==").head
          val nRange = finalSection.split("Exchange rangepartitioning").length - 1
          assert(nRange == 1,
            s"the finer exchange must be reused, got $nRange range exchanges:\n" +
              finalSection.take(2500))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false),
      "decimal/ignoreNulls/desc sliding under a finer exchange")
  }

  test("adversarial: ONE group spans the whole corpus over a 16-way finer exchange — every boundary is an intra-group halo, future frames drain into stitched next-heads") {
    val s = spark
    import s.implicits._
    // the maximal chain shape (GroupedRunningAgg's P2-probe class):
    // a single group means every one of the 16 partition boundaries
    // splits the SAME series, and the strictly-future frame forces the
    // lookahead queue to drain into multi-partition stitched heads
    val one = s.range(3000).select($"id", lit(1).as("g"),
        (($"id" * 37) % 100).as("v"))
      .repartitionByRange(16, $"g", $"id")
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.SlidingAggRewrite) {
        val w = Window.partitionBy($"g").orderBy($"id")
        val df = one.select($"id", $"g",
          sum($"v").over(w.rowsBetween(1, 8)).as("future"),
          sum($"v").over(w.rowsBetween(-8, 0)).as("trail"))
        if (on) assertSlidingPlan(df, "whole-corpus group")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false),
      "single spanning group, future+trailing frames over a finer exchange")
  }

  test("q50 graded plan: the operator is live in the DuckDB-gated query — one exec for both frames, no native window, no AllTuples funnel") {
    val s = spark
    val df = graft.relational.Relational.q50TrailingRevenue(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SlidingAgg"),
      "SlidingAggExec missing from q50's plan:\n" + plan.take(2500))
    assert(!plan.contains("Window ["),
      "no native WindowExec may survive in q50:\n" + plan.take(2500))
    assert(!plan.contains("SinglePartition"),
      "q50 must not funnel to a single partition:\n" + plan.take(2500))
  }

  test("bails: extent cap, RANGE-value frames, running frames stay GlobalRunningAgg's, mixed nodes, kill switch, minBytes") {
    val s = spark
    import s.implicits._
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    // extent past the cap: native
    TestSpark.withConf(graft.plans.SlidingAggRewrite.MaxExtentKey, "8") {
      assert(planOf(data.select($"id",
        sum($"cents").over(w.rowsBetween(-20, 0)).as("m"))).contains("Window ["),
        "extent past maxExtent must stay native")
    }
    // RANGE-value frame (q25's shape): NOT this operator's — through
    // r18 it stayed native; since r19 it belongs to RangeSlidingAgg
    // (the row-halo operator, RangeSlidingAggSpec pins it)
    val rangePlan = planOf(data.select($"id",
      sum($"cents").over(Window.partitionBy($"g").orderBy($"o")
        .rangeBetween(-30, 0)).as("m")))
    assert(rangePlan.contains("RangeSlidingAgg"),
      "RANGE-value frames belong to RangeSlidingAgg since r19:\n" + rangePlan.take(2000))
    assert(!rangePlan.replace("RangeSlidingAgg", "").contains("SlidingAgg"),
      "the ROWS-ring exec must never claim a RANGE frame:\n" + rangePlan.take(2000))
    // running frame: GlobalRunningAgg's class, not this operator's
    val runPlan = planOf(data.select($"id",
      sum($"cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("m")))
    assert(runPlan.contains("GroupedRunningAgg") && !runPlan.contains("SlidingAgg"),
      "running frames belong to the running-agg operator:\n" + runPlan.take(2000))
    // mixed sliding + running in ONE node: neither single-class rule
    // claims the other's member — since the r18 split extension the
    // GroupedWindowSplit stacks BOTH operators instead (its spec pins
    // the shared exchange); with the split off the node stays native
    val mixedPlan = planOf(data.select($"id",
      sum($"cents").over(w.rowsBetween(-3, 0)).as("m"),
      sum($"cents").over(w).as("run")))
    assert(mixedPlan.contains("SlidingAgg") && mixedPlan.contains("GroupedRunningAgg"),
      "mixed sliding+running now belongs to the split:\n" + mixedPlan.take(2000))
    TestSpark.withoutRules(graft.plans.WindowSplit) {
      assert(planOf(data.select($"id",
        sum($"cents").over(w.rowsBetween(-3, 0)).as("m"),
        sum($"cents").over(w).as("run"))).contains("Window ["),
        "with the split off, neither single-class rule may half-claim the mix")
    }
    // boundary-VALUE byte guard: with the cap below one ring tuple's
    // projected width the rewrite must bail (the value-traffic sibling
    // of the key-shipping guard, PlanGuards.valueTrafficOk)
    TestSpark.withConf(graft.plans.PlanGuards.MaxBoundaryBytesKey, "8") {
      assert(planOf(data.select($"id",
        sum($"cents").over(w.rowsBetween(-3, 0)).as("m"))).contains("Window ["),
        "the boundary-value byte guard must keep the node native")
    }
    // kill switch + minBytes lever
    off {
      assert(planOf(data.select($"id",
        sum($"cents").over(w.rowsBetween(-3, 0)).as("m"))).contains("Window ["),
        "kill switch must keep the node native")
    }
    TestSpark.withConf(graft.plans.SlidingAggRewrite.MinBytesKey, (1L << 40).toString) {
      assert(planOf(data.select($"id",
        sum($"cents").over(w.rowsBetween(-3, 0)).as("m"))).contains("Window ["),
        "minBytes lever must keep the node native")
    }
  }
}
