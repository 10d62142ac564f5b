package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.GlobalWindowSplit]] — the inverse-CollapseWindow rule
  * (VERDICT r16 "Next round" #1). The most natural corpus-global
  * phrasing, `SELECT rank() OVER (ORDER BY d), sum(x) OVER (ORDER BY
  * d)` in ONE select, analyzes into ONE mixed Window node; every
  * family rewrite correctly bails on mixed nodes, so pre-split the
  * whole corpus funneled through a single task on the most common
  * phrasing. These cases pin:
  *   - the split plans ALL FOUR classes out of one mixed node (rank /
  *     running agg / offset / full-frame share-of-total) with
  *     bit-equal results and the original output column order;
  *   - the stack shares ONE range exchange, never SinglePartition
  *     (except GlobalAgg's one-ROW total aggregate);
  *   - one unsupported member (or a disabled family conf, or the
  *     rule's own kill switch) keeps the WHOLE node native — a
  *     half-split would add exchanges in front of the same funnel;
  *   - the boundary-traffic byte guard (VERDICT r16 #4) bails every
  *     key-shipping rewrite to native past the conf, and the split
  *     respects it too.
  */
class MixedWindowSplitSpec extends AnyFunSuite {
  import TestSpark._

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  /** All five levers at once: the split plus the four family rules. */
  private def allOff[A](body: => A): A =
    TestSpark.withoutRules(graft.plans.WindowSplit, graft.plans.GroupedRankRewrite,
      graft.plans.GroupedRunningAggRewrite, graft.plans.GroupedOffsetRewrite,
      graft.plans.GroupedAggRewrite)(body)

  private def data = {
    val s = spark
    import s.implicits._
    // total order on id; d has 100-row tie groups for the tie cases
    (0 until 8000).map { i =>
      (i.toLong, i / 100, ((i * 37) % 1000).toLong)
    }.toDF("id", "d", "cents")
  }

  test("mixed SELECT with all four classes plans rank+running+offset+global-agg, bit-equal, schema order kept") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("mix_t")
    // ONE select over a TOTAL order (lag is tie-arbitrary, so the
    // bit-equality shape orders by the unique id); the analyzer puts
    // all four functions in ONE Window node — the probe shape the r16
    // verdict hit on its first try, plus the other two classes.
    val sqlText = """
      SELECT id, d, cents,
             rank() OVER (ORDER BY id) AS r,
             cume_dist() OVER (ORDER BY id) AS cd,
             sum(cents) OVER (ORDER BY id) AS run,
             lag(cents, 1) OVER (ORDER BY id) AS prev,
             lead(cents, 2, -1) OVER (ORDER BY id) AS nxt,
             sum(cents) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING) AS tot
      FROM mix_t"""
    val df = s.sql(sqlText)
    val got = df.collect().toSeq.sortBy(_.getLong(0))
    val plan = df.queryExecution.executedPlan.toString
    for (op <- Seq("GlobalRank", "GlobalRunningAgg", "GlobalOffset"))
      assert(plan.contains(op), s"$op missing from the split plan:\n" + plan.take(2500))
    assert(!plan.contains("Window ["), // no native window node survives
      "no native WindowExec may remain after the split:\n" + plan.take(2500))
    // exactly ONE range exchange: the three operator nodes stack on a
    // shared OrderedDistribution(id) (the q45 composition, produced
    // automatically from one SELECT)
    val finalSection = plan.split("== Initial Plan ==").head
    val nRange = finalSection.split("Exchange rangepartitioning").length - 1
    assert(nRange == 1, s"the stack must share ONE range exchange, got $nRange:\n" +
      finalSection.take(2500))
    // schema column ORDER is user-visible at the query top — the
    // restoring Project must keep the written order
    assert(df.schema.map(_.name) == Seq("id", "d", "cents", "r", "cd", "run", "prev", "nxt", "tot"))
    val ref = allOff(s.sql(sqlText).collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "four-class mixed split")
  }

  test("five-class mix (r18): a sliding ROWS member stacks SlidingAgg into the same pile, one shared exchange, bit-equal") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("mix5_t")
    val sqlText = """
      SELECT id, cents,
             rank() OVER (ORDER BY id) AS r,
             sum(cents) OVER (ORDER BY id) AS run,
             lag(cents, 1) OVER (ORDER BY id) AS prev,
             sum(cents) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING) AS tot,
             sum(cents) OVER (ORDER BY id ROWS BETWEEN 3 PRECEDING
                              AND CURRENT ROW) AS trail,
             min(cents) OVER (ORDER BY id ROWS BETWEEN 2 PRECEDING
                              AND 2 FOLLOWING) AS band
      FROM mix5_t"""
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val df = s.sql(sqlText)
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          for (op <- Seq("GlobalRank", "GlobalRunningAgg", "GlobalOffset", "SlidingAgg"))
            assert(plan.contains(op),
              s"$op missing from the five-class plan:\n" + plan.take(3000))
          assert(!plan.contains("Window ["),
            "no native WindowExec may survive the five-class split:\n" + plan.take(3000))
          val finalSection = plan.split("== Initial Plan ==").head
          val nRange = finalSection.split("Exchange rangepartitioning").length - 1
          assert(nRange == 1,
            s"the five-class stack must share ONE range exchange, got $nRange:\n" +
              finalSection.take(3000))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    def slidingOff[A](body: => A): A =
      TestSpark.withoutRules(graft.plans.SlidingAggRewrite)(body)
    assertSame(q(on = true), slidingOff(allOff(q(on = false))),
      "five-class mixed split with a sliding member")
  }

  test("mixed rank+running over DESCENDING tie order: split fires, tie-stable columns bit-equal") {
    val s = spark
    import s.implicits._
    def q(splitOn: Boolean): Seq[Row] =
      TestSpark.withRules(splitOn, graft.plans.WindowSplit) {
        // rank/dense_rank/cume_dist and the RANGE-frame running sum
        // are tie-STABLE, so bit-equality is well-defined under the
        // 100-row d tie groups even though the order is not total
        val w = Window.orderBy($"d".desc)
        val df = data.select($"id",
          rank().over(w).as("r"), dense_rank().over(w).as("dr"),
          cume_dist().over(w).as("cd"),
          sum($"cents").over(w).as("run"), count(lit(1)).over(w).as("cnt"))
        if (splitOn) {
          val plan = df.queryExecution.executedPlan.toString
          for (op <- Seq("GlobalRank", "GlobalRunningAgg"))
            assert(plan.contains(op), s"$op missing:\n" + plan.take(2500))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(splitOn = true), allOff(q(splitOn = false)),
      "desc-order mixed rank+running")
  }

  test("one unsupported member keeps the WHOLE node native (no half-split)") {
    val s = spark
    import s.implicits._
    // collect_list is a typed-imperative aggregate: the running-agg
    // family bails on it, so the mixed node must NOT be half-split
    // into a distributed rank over a still-funneling native window
    val w = Window.orderBy($"id")
    val df = data.select($"id", rank().over(w).as("r"),
      collect_list($"cents").over(w).as("cl"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalRank") && !plan.contains("GlobalRunningAgg"),
      "unsupported member must keep the whole node native:\n" + plan.take(2500))
    assert(df.collect().length == 8000)
  }

  test("kill switch and family confs: split off, or ANY present family off, stays native") {
    val s = spark
    import s.implicits._
    val w = Window.orderBy($"id")
    def plan(): String = {
      val df = data.select($"id", rank().over(w).as("r"),
        sum($"cents").over(w).as("run"))
      df.queryExecution.executedPlan.toString
    }
    TestSpark.withoutRules(graft.plans.WindowSplit) {
      val p = plan()
      assert(!p.contains("GlobalRank") && !p.contains("GlobalRunningAgg"), p.take(2000))
    }
    // a disabled family means its class would stay a native funnel —
    // splitting then just adds exchanges in front of it, so the rule
    // must leave the node whole
    TestSpark.withoutRules(graft.plans.GroupedRunningAggRewrite) {
      val p = plan()
      assert(!p.contains("GlobalRank") && !p.contains("GlobalRunningAgg"), p.take(2000))
    }
    // both on (default): split fires
    val p = plan()
    assert(p.contains("GlobalRank") && p.contains("GlobalRunningAgg"), p.take(2000))
  }

  test("ORDER-SENSITIVE full-frame aggregates are never split order-free (first/last/collect_list full frames)") {
    val s = spark
    import s.implicits._
    // Catalyst flags First/Last/collect_list deterministic=true, but
    // their VALUE depends on input order — `first(x) OVER (ORDER BY id
    // ROWS/RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)`
    // re-emitted on an order-free spec would aggregate in arbitrary
    // partition order and CHANGE the result. The full-agg class is a
    // whitelist of multiset-pure aggregates; an order-sensitive member
    // keeps the WHOLE node native.
    val w = Window.orderBy($"id")
    val wFull = w.rangeBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val df = data.select($"id", rank().over(w).as("r"),
      first($"cents").over(wFull).as("fx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("GlobalRank") && !plan.contains("BroadcastNestedLoopJoin"),
      "order-sensitive full-frame member must keep the node native:\n" + plan.take(2000))
    // sanity: the whitelisted sum in the same shape still splits
    val ok = data.select($"id", rank().over(w).as("r"),
      sum($"cents").over(wFull).as("tot"))
    val okPlan = ok.queryExecution.executedPlan.toString
    assert(okPlan.contains("GlobalRank") && okPlan.contains("BroadcastNestedLoopJoin"),
      okPlan.take(2000))
  }

  test("first_value/last_value global running windows plan on GlobalRunningAgg (RANGE stays First; ROWS maps NthValue(x,1) back)") {
    val s = spark
    import s.implicits._
    // give first/last/nth a NULL-bearing input so ignoreNulls paths differ
    val nd = data.withColumn("cn", when($"id" % 7 =!= 0, $"cents"))
    nd.createOrReplaceTempView("fv_t")
    val sqlText = """
      SELECT id,
             first_value(cn) OVER (ORDER BY id) AS fv_range,
             last_value(cn)  OVER (ORDER BY id) AS lv_range,
             first_value(cn) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS fv_rows,
             first_value(cn) IGNORE NULLS OVER (ORDER BY id ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW) AS fv_rows_ig,
             nth_value(cn, 1) OVER (ORDER BY id) AS nv1
      FROM fv_t"""
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.GroupedRunningAggRewrite) {
        val df = s.sql(sqlText)
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          assert(plan.contains("GlobalRunningAgg"), plan.take(2500))
          assert(!plan.contains("Window ["),
            "every first/last/nth_value(,1) phrasing must leave the native window:\n" +
              plan.take(2500))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "first/last value global running windows")
    // nth_value with k > 1 has no prefix-aggregate equivalent: native
    val k2 = s.sql(
      "SELECT id, nth_value(cn, 2) OVER (ORDER BY id) AS nv2 FROM fv_t")
    assert(!k2.queryExecution.executedPlan.toString.contains("GlobalRunningAgg"))
  }

  test("mixed rank + explicit-ROWS first_value in one SELECT: the split plans both (the converted NthValue member)") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("fvm_t")
    val sqlText = """
      SELECT id, rank() OVER (ORDER BY id) AS r,
             first_value(cents) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS fv
      FROM fvm_t"""
    val df = s.sql(sqlText)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRank") && plan.contains("GlobalRunningAgg"),
      plan.take(2500))
    val got = df.collect().toSeq.sortBy(_.getLong(0))
    val ref = allOff(s.sql(sqlText).collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "mixed rank + converted first_value")
  }

  test("filter(rank <= k) over a MIXED window: TopK correctly bails, the split still lifts the funnel") {
    val s = spark
    import s.implicits._
    // the heap operator owns filter(rank <= k) over PURE rank windows
    // (cheaper: never materializes the full ranking); a mixed node
    // can't take that path — pre-r17 it funneled, now the split plans
    // the full distributed ranking and the filter applies above it
    val w = Window.orderBy($"id")
    def q(splitOn: Boolean): Seq[Row] =
      TestSpark.withRules(splitOn, graft.plans.WindowSplit) {
        val df = data.select($"id", rank().over(w).as("r"),
            sum($"cents").over(w).as("run"))
          .filter($"r" <= 100)
        if (splitOn) {
          val plan = df.queryExecution.executedPlan.toString
          assert(plan.contains("GlobalRank") && plan.contains("GlobalRunningAgg"),
            plan.take(2500))
          assert(!plan.contains("TopK"),
            "the heap path must not claim a mixed node:\n" + plan.take(2500))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    val got = q(splitOn = true)
    assert(got.length == 100)
    assertSame(got, allOff(q(splitOn = false)), "filtered mixed window")
  }

  test("q46 graded plan: the split is live in the DuckDB-gated query — all FIVE classes, one shared range exchange") {
    val s = spark
    val df = graft.relational.Relational.q46MixedWindow(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    for (op <- Seq("GlobalRank", "GlobalRunningAgg", "GlobalOffset", "SlidingAgg"))
      assert(plan.contains(op), s"$op missing from q46's plan:\n" + plan.take(2500))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the full-frame total must plan as GlobalAgg's broadcast join:\n" + plan.take(2500))
    assert(!plan.contains("Window ["),
      "no native WindowExec may survive in q46:\n" + plan.take(2500))
    // exactly TWO range exchanges: the stack's shared
    // (o_orderdate, o_orderkey) exchange and the output ORDER BY
    // o_orderkey — a third would mean an operator stopped sharing
    val finalSection = plan.split("== Initial Plan ==").head
    val rps = """Exchange rangepartitioning\(([^)]*)\)""".r
      .findAllMatchIn(finalSection).map(_.group(1)).toSeq
    assert(rps.length == 2, s"expected shared stack + output exchanges, got: $rps\n" +
      finalSection.take(2500))
    assert(rps.count(_.contains("o_orderdate")) == 1,
      s"exactly one (o_orderdate, o_orderkey) stack exchange: $rps")
  }

  test("boundary-traffic byte guard: key-shipping rewrites (and the split) bail to native past the cap") {
    val s = spark
    import s.implicits._
    val w = Window.orderBy($"id")
    val wg = Window.partitionBy($"d").orderBy($"id")
    def plans(): (String, String, String, String) = {
      val rankDf = data.select($"id", rank().over(w).as("r"))
      val runDf = data.select($"id", sum($"cents").over(w).as("run"))
      val groupedDf = data.select($"id", rank().over(wg).as("r"))
      val mixedDf = data.select($"id", rank().over(w).as("r"),
        sum($"cents").over(w).as("run"))
      (rankDf.queryExecution.executedPlan.toString,
        runDf.queryExecution.executedPlan.toString,
        groupedDf.queryExecution.executedPlan.toString,
        mixedDf.queryExecution.executedPlan.toString)
    }
    TestSpark.withConf(graft.plans.PlanGuards.MaxBoundaryBytesKey, "1") {
      val (pRank, pRun, pGrouped, pMixed) = plans()
      assert(!pRank.contains("GlobalRank"), pRank.take(1500))
      assert(!pRun.contains("GlobalRunningAgg"), pRun.take(1500))
      assert(!pGrouped.contains("GroupedRank"), pGrouped.take(1500))
      assert(!pMixed.contains("GlobalRank") && !pMixed.contains("GlobalRunningAgg"),
        pMixed.take(1500))
    }
    // default cap (64 MB): local shuffle partitions x fixed-width keys
    // is KBs — all four plan on the operators
    val (pRank, pRun, pGrouped, pMixed) = plans()
    assert(pRank.contains("GlobalRank"), pRank.take(1500))
    assert(pRun.contains("GlobalRunningAgg"), pRun.take(1500))
    assert(pGrouped.contains("GroupedRank"), pGrouped.take(1500))
    assert(pMixed.contains("GlobalRank") && pMixed.contains("GlobalRunningAgg"),
      pMixed.take(1500))
  }
}
