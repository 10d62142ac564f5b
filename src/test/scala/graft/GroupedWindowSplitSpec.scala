package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.GroupedWindowSplit]] — the grouped analog of
  * GlobalWindowSplit (VERDICT r17 "Next round" #1). A mixed grouped
  * window, `SELECT rank() OVER (PARTITION BY g ORDER BY o), sum(x)
  * OVER (PARTITION BY g ORDER BY o)` in ONE select, analyzes into ONE
  * Window node; both grouped rewrites correctly bail on mixed nodes,
  * so pre-split the node planned fully native over
  * `hashpartitioning(g)` — the group-count parallelism ceiling on the
  * most natural per-key leaderboard-plus-cumulative phrasing. These
  * cases pin:
  *   - the split stacks GroupedRank over GroupedRunningAgg on ONE
  *     shared (part-asc, order) range exchange — no hashpartitioning
  *     of the group keys anywhere in the plan — with bit-equal
  *     results and the user's output column order;
  *   - offset-class members (grouped lag/lead) stack
  *     [[graft.plans.GroupedOffsetNode]] since r20; unsupported
  *     members (imperative aggregates, ignoreNulls) keep the WHOLE
  *     node native — a half-split would pay the exchange and still
  *     funnel the remainder;
  *   - the kill switch, either family conf, either family's minBytes
  *     threshold, and the boundary-traffic byte guard each keep the
  *     node native;
  *   - the day-one partitioning-variation canary (the r16 discipline):
  *     a pre-existing FINER (g, o, id) exchange satisfies both
  *     operators' OrderedDistribution(g, o) by the prefix rule and
  *     splits order-tie runs inside spanning groups — BOTH operators
  *     must chain on the ONE reused exchange, in the same stacked
  *     plan.
  */
class GroupedWindowSplitSpec extends AnyFunSuite {
  import TestSpark._

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  /** The split plus the grouped family rules off → guaranteed-native
    * reference run. */
  private def allOff[A](body: => A): A =
    TestSpark.withoutRules(graft.plans.WindowSplit, graft.plans.GroupedRankRewrite,
      graft.plans.GroupedRunningAggRewrite, graft.plans.GroupedOffsetRewrite)(body)

  /** 4 interleaved groups × 25-row order-tie runs: every partition of
    * a (g, o) range exchange holds group fragments, and o ties are
    * wide enough to straddle boundaries under a finer exchange. */
  private def data = {
    val s = spark
    import s.implicits._
    (0 until 8000).map { i =>
      (i.toLong, i % 4, (i / 4) / 25, ((i * 37) % 1000).toLong)
    }.toDF("id", "g", "o", "cents")
  }

  private def assertSplitPlan(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    for (op <- Seq("GroupedRank", "GroupedRunningAgg"))
      assert(plan.contains(op), s"$what: $op missing from the split plan:\n" + plan.take(2500))
    assert(!plan.contains("Window ["),
      s"$what: no native WindowExec may survive the split:\n" + plan.take(2500))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"$what: the group-count hash exchange must be gone:\n" + plan.take(2500))
  }

  test("mixed grouped SELECT plans GroupedRank + GroupedRunningAgg over ONE shared exchange, bit-equal, schema order kept") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("gmix_t")
    // ONE select, all five functions tie-STABLE (rank family tie
    // functions + default RANGE running frames) so bit-equality is
    // well-defined under the 25-row o tie runs
    val sqlText = """
      SELECT id, g, o, cents,
             rank()       OVER (PARTITION BY g ORDER BY o) AS r,
             dense_rank() OVER (PARTITION BY g ORDER BY o) AS dr,
             cume_dist()  OVER (PARTITION BY g ORDER BY o) AS cd,
             sum(cents)   OVER (PARTITION BY g ORDER BY o) AS run,
             count(*)     OVER (PARTITION BY g ORDER BY o) AS cnt
      FROM gmix_t"""
    val df = s.sql(sqlText)
    val got = df.collect().toSeq.sortBy(_.getLong(0))
    assertSplitPlan(df, "five-function mixed grouped split")
    // exactly ONE range exchange: both operators require the identical
    // OrderedDistribution(g-asc, o) and must stack on one shared sort
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val nRange = finalSection.split("Exchange rangepartitioning").length - 1
    assert(nRange == 1, s"the stack must share ONE range exchange, got $nRange:\n" +
      finalSection.take(2500))
    assert(df.schema.map(_.name) == Seq("id", "g", "o", "cents", "r", "dr", "cd", "run", "cnt"))
    val ref = allOff(s.sql(sqlText).collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "five-function mixed grouped split")
  }

  test("descending order + null-bearing aggregate input: split fires, bit-equal") {
    val s = spark
    import s.implicits._
    val nd = data.withColumn("cn", when($"id" % 7 =!= 0, $"cents"))
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val w = Window.partitionBy($"g").orderBy($"o".desc)
        val df = nd.select($"id",
          rank().over(w).as("r"), cume_dist().over(w).as("cd"),
          sum($"cn").over(w).as("run"), avg($"cn").over(w).as("ra"),
          min($"cents").over(w).as("rm"))
        if (on) assertSplitPlan(df, "desc mixed grouped")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), allOff(q(on = false)), "desc-order mixed grouped split")
  }

  test("offset-class member (grouped lag, r20): rank + running + lag split onto THREE stacked operators on ONE exchange, bit-equal") {
    val s = spark
    import s.implicits._
    // pre-r20 an offset member kept the WHOLE node native (grouped
    // lag had no operator); since GroupedOffset landed, the class
    // stacks. The (o, id) order is total per group, so the lag values
    // are deterministic and bit-equality well-defined.
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val w = Window.partitionBy($"g").orderBy($"o", $"id")
        val df = data.select($"id", rank().over(w).as("r"),
          sum($"cents").over(w).as("run"),
          lag($"cents", 1).over(w).as("prev"),
          lead($"cents", 2, -1L).over(w).as("nxt"))
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          for (op <- Seq("GroupedRank", "GroupedRunningAgg", "GroupedOffset"))
            assert(plan.contains(op), s"$op missing from the split plan:\n" + plan.take(2500))
          assert(!plan.contains("Window ["), plan.take(2500))
          assert(!plan.contains("Exchange hashpartitioning"), plan.take(2500))
          val finalSection = plan.split("== Initial Plan ==").head
          val nRange = finalSection.split("Exchange rangepartitioning").length - 1
          assert(nRange == 1, s"three stacked operators must share ONE range exchange, got $nRange")
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), allOff(q(on = false)), "rank+running+offset grouped split")
    // a typed-imperative aggregate member still keeps the whole node
    // native — no half-split
    val w = Window.partitionBy($"g").orderBy($"o")
    val df2 = data.select($"id", rank().over(w).as("r"),
      collect_list($"cents").over(w).as("cl"))
    val plan2 = df2.queryExecution.executedPlan.toString
    assert(!plan2.contains("GroupedRank") && !plan2.contains("GroupedRunningAgg"),
      "imperative-agg member must keep the whole node native:\n" + plan2.take(2500))
  }

  test("single-class nodes stay the family rewrites' own match — the split never claims them") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o")
    // pure rank node → GroupedRank via GroupedRankRewrite, ONE node
    val rdf = data.select($"id", rank().over(w).as("r"), dense_rank().over(w).as("dr"))
    val rplan = rdf.queryExecution.executedPlan.toString
    assert(rplan.contains("GroupedRank") && !rplan.contains("GroupedRunningAgg"), rplan.take(2000))
    // pure running node → GroupedRunningAgg alone
    val adf = data.select($"id", sum($"cents").over(w).as("run"), count(lit(1)).over(w).as("cnt"))
    val aplan = adf.queryExecution.executedPlan.toString
    assert(aplan.contains("GroupedRunningAgg") && !aplan.contains("GroupedRank"), aplan.take(2000))
  }

  test("kill switch, family confs and minBytes thresholds each keep the node native") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o")
    def plan(): String =
      data.select($"id", rank().over(w).as("r"), sum($"cents").over(w).as("run"))
        .queryExecution.executedPlan.toString
    def assertNative(p: String, what: String): Unit =
      assert(!p.contains("GroupedRank") && !p.contains("GroupedRunningAgg"),
        s"$what must stay native:\n" + p.take(2000))
    TestSpark.withoutRules(graft.plans.WindowSplit) {
      assertNative(plan(), "split excluded")
    }
    TestSpark.withoutRules(graft.plans.GroupedRankRewrite) {
      assertNative(plan(), "rank family off")
    }
    TestSpark.withoutRules(graft.plans.GroupedRunningAggRewrite) {
      assertNative(plan(), "running family off")
    }
    // below EITHER family's minBytes the single-class node would stay
    // native, so the split must not force the operator past the
    // deployment's own cost lever
    TestSpark.withConf(graft.plans.GroupedRankRewrite.MinBytesKey, Long.MaxValue.toString) {
      assertNative(plan(), "rank minBytes above child size")
    }
    TestSpark.withConf(graft.plans.GroupedRunningAggRewrite.MinBytesKey, Long.MaxValue.toString) {
      assertNative(plan(), "running minBytes above child size")
    }
    TestSpark.withConf(graft.plans.PlanGuards.MaxBoundaryBytesKey, "1") {
      assertNative(plan(), "boundary-traffic guard breached")
    }
    // defaults: split fires
    val p = plan()
    assert(p.contains("GroupedRank") && p.contains("GroupedRunningAgg"), p.take(2000))
  }

  test("day-one canary: finer (g, o, id) exchange below the mixed node — BOTH stacked operators chain on the ONE reused exchange") {
    val s = spark
    import s.implicits._
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      // 4 contiguous groups × 100-row o tie runs: a finer (g, o, id)
      // range exchange satisfies the stack's OrderedDistribution(g, o)
      // by the prefix rule and splits tie runs at partition boundaries
      // inside spanning groups — the exact shape both drivers' chains
      // exist for, here exercised through the stacked configuration
      // (GroupedRank's rank/cume_dist chain AND GroupedRunningAgg's
      // prefix/override chain on the same shuffle).
      val df0 = (0 until 10000).map { i =>
        (i.toLong, i / 2500, (i % 2500) / 100, ((i * 13) % 500).toLong)
      }.toDF("id", "g", "o", "cents")
      def q(on: Boolean): Seq[Row] =
        TestSpark.withRules(on, graft.plans.WindowSplit) {
          val w = Window.partitionBy($"g").orderBy($"o")
          val df = df0
            .orderBy($"g", $"o", $"id") // the finer exchange the stack must reuse
            .select($"id",
              rank().over(w).as("r"), dense_rank().over(w).as("dr"),
              cume_dist().over(w).as("cd"),
              sum($"cents").over(w).as("rs"),
              avg(when($"id" % 7 =!= 0, $"cents")).over(w).as("ra"))
          val rows = df.collect().toSeq
          if (on) {
            val plan = df.queryExecution.executedPlan.toString
            assert(plan.contains("GroupedRank") && plan.contains("GroupedRunningAgg"),
              plan.take(2500))
            val finalSection = plan.split("== Initial Plan ==").head
            val nRange = finalSection.split("Exchange rangepartitioning").length - 1
            assert(nRange == 1,
              s"the stack must run on the pre-existing finer exchange alone, got " +
                s"$nRange range exchanges:\n${finalSection.take(2500)}")
          }
          rows.sortBy(_.getLong(0))
        }
      assertSame(q(on = true), allOff(q(on = false)),
        "stacked grouped pair under finer exchange")
      // r20: the offset class rides the same reused finer exchange —
      // a rank+running+lag mix over the TOTAL (o, id) order (offsets
      // are tie-arbitrary, so the canary makes the order total) must
      // stack THREE operators on the ONE pre-existing exchange, with
      // group segments still split at every partition boundary
      def q3(on: Boolean): Seq[Row] =
        TestSpark.withRules(on, graft.plans.WindowSplit) {
          val wt = Window.partitionBy($"g").orderBy($"o", $"id")
          val df = df0
            .orderBy($"g", $"o", $"id")
            .select($"id",
              rank().over(wt).as("r"),
              sum($"cents").over(wt).as("rs"),
              lag($"cents", 3, -1L).over(wt).as("p3"),
              lead($"cents", 2).over(wt).as("n2"))
          val rows = df.collect().toSeq
          if (on) {
            val plan = df.queryExecution.executedPlan.toString
            for (op <- Seq("GroupedRank", "GroupedRunningAgg", "GroupedOffset"))
              assert(plan.contains(op), plan.take(2500))
            val finalSection = plan.split("== Initial Plan ==").head
            val nRange = finalSection.split("Exchange rangepartitioning").length - 1
            assert(nRange == 1,
              s"the three-operator stack must reuse the finer exchange alone, got $nRange")
          }
          rows.sortBy(_.getLong(0))
        }
      assertSame(q3(on = true), allOff(q3(on = false)),
        "stacked rank+running+offset under finer exchange")
    }
  }

  test("null group keys ride the split: g nullable, mixed rank+running, bit-equal vs native") {
    val s = spark
    import s.implicits._
    // nulls-first group segment under the canonical g-asc promotion:
    // the null "group" is a first-class partition through BOTH stacked
    // operators (GroupedRunningAgg's P4-class probe shape, here in the
    // stacked-split configuration)
    val nd = data.withColumn("gn", when($"g" =!= 0, $"g"))
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val w = Window.partitionBy($"gn").orderBy($"o")
        val df = nd.select($"id",
          rank().over(w).as("r"), cume_dist().over(w).as("cd"),
          sum($"cents").over(w).as("run"), count(lit(1)).over(w).as("cnt"))
        if (on) assertSplitPlan(df, "null-group-key mixed grouped")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), allOff(q(on = false)), "null-group-key mixed grouped split")
  }

  test("ignoreNulls first_value in a mixed grouped node: claimed by the running class, split fires, bit-equal") {
    val s = spark
    import s.implicits._
    // first_value is tie-ARBITRARY under a non-total order; a total
    // (o, id) per-group order makes bit-equality well-defined while
    // still exercising the First/NthValue claim through classify
    val nd = data.withColumn("cn", when($"id" % 5 =!= 0, $"cents"))
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val w = Window.partitionBy($"g").orderBy($"o", $"id")
        val df = nd.select($"id",
          rank().over(w).as("r"),
          first($"cn", ignoreNulls = true).over(w).as("fv"),
          sum($"cn").over(w).as("run"))
        if (on) assertSplitPlan(df, "ignoreNulls-first mixed grouped")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), allOff(q(on = false)), "ignoreNulls-first mixed grouped split")
  }

  test("cross-family composition: grouped mixed + global mixed windows in ONE select — both split rules fire, all four operators, no native window") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("gmix_cross_t")
    // two specs in one select analyze into TWO Window nodes;
    // GroupedWindowSplit takes the grouped node, GlobalWindowSplit the
    // empty-PARTITION-BY node — each onto its own operator stack over
    // its own required ordering. All functions tie-STABLE.
    val sqlText = """
      SELECT id, g, o, cents,
             rank()     OVER (PARTITION BY g ORDER BY o) AS gr,
             sum(cents) OVER (PARTITION BY g ORDER BY o) AS grun,
             rank()     OVER (ORDER BY o)                AS ar,
             sum(cents) OVER (ORDER BY o)                AS arun
      FROM gmix_cross_t"""
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val df = s.sql(sqlText)
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          for (op <- Seq("GroupedRank", "GroupedRunningAgg",
              "GlobalRank", "GlobalRunningAgg"))
            assert(plan.contains(op),
              s"$op missing from the cross-family plan:\n" + plan.take(3000))
          assert(!plan.contains("Window ["),
            "no native WindowExec may survive either split:\n" + plan.take(3000))
          assert(!plan.contains("Exchange hashpartitioning"),
            "no hash exchange in the cross-family plan:\n" + plan.take(3000))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    def globalsOff[A](body: => A): A =
      TestSpark.withoutRules(graft.plans.WindowSplit, graft.plans.GroupedRankRewrite,
        graft.plans.GroupedRunningAggRewrite)(body)
    assertSame(q(on = true), globalsOff(allOff(q(on = false))),
      "grouped + global mixed windows in one select")
  }

  test("three-class mix: rank + running + full-frame agg in ONE select — operators stacked over the GroupedAggRewrite join, no native window") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("gmix3_t")
    // the leaderboard + cumulative + share-of-group report in one
    // grouped select: the full-frame members are re-emitted order-free
    // at the stack bottom and consumed by GroupedAggRewrite (agg +
    // join-back); rank and running stack above on their shared range
    // exchange. All members tie-stable / order-insensitive.
    val sqlText = """
      SELECT id, g, o, cents,
             rank()       OVER (PARTITION BY g ORDER BY o) AS r,
             sum(cents)   OVER (PARTITION BY g ORDER BY o) AS run,
             sum(cents)   OVER (PARTITION BY g ORDER BY o
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS tot,
             count(*)     OVER (PARTITION BY g ORDER BY o
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS n
      FROM gmix3_t"""
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val df = s.sql(sqlText)
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          for (op <- Seq("GroupedRank", "GroupedRunningAgg"))
            assert(plan.contains(op),
              s"$op missing from the three-class plan:\n" + plan.take(3000))
          assert(plan.contains("Join"),
            "the full-agg join-back is missing:\n" + plan.take(3000))
          assert(!plan.contains("Window ["),
            "no native WindowExec may survive the three-class split:\n" + plan.take(3000))
          assert(df.schema.map(_.name) ==
            Seq("id", "g", "o", "cents", "r", "run", "tot", "n"))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    def gaggOff[A](body: => A): A =
      TestSpark.withoutRules(graft.plans.GroupedAggRewrite)(body)
    assertSame(q(on = true), gaggOff(allOff(q(on = false))),
      "three-class mixed grouped split")
  }

  test("running + full-frame mix (no rank member): two classes still split; offset + full-frame still bails whole") {
    val s = spark
    import s.implicits._
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val w = Window.partitionBy($"g").orderBy($"o", $"id")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val df = data.select($"id",
          sum($"cents").over(w).as("run"),
          max($"cents").over(wf).as("hi"))
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          assert(plan.contains("GroupedRunningAgg") && plan.contains("Join") &&
            !plan.contains("Window ["),
            "running+full-frame must split onto the operator + join:\n" + plan.take(3000))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    def gaggOff[A](body: => A): A =
      TestSpark.withoutRules(graft.plans.GroupedAggRewrite)(body)
    assertSame(q(on = true), gaggOff(allOff(q(on = false))),
      "running + full-frame grouped split")
    // offset member alongside a full-frame agg (r20): two claimable
    // classes — GroupedOffset stacks over the order-free grouped
    // Window that GroupedAggRewrite consumes (aggregate + join-back)
    val wLag = Window.partitionBy($"g").orderBy($"o", $"id")
    def q2(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val df = data.select($"id",
          lag($"cents", 1).over(wLag).as("prev"),
          sum($"cents").over(wLag.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).as("tot"))
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          assert(plan.contains("GroupedOffset") && plan.contains("Join") &&
            !plan.contains("Window ["),
            "offset+full-frame must split onto the operator + join:\n" + plan.take(3000))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q2(on = true), gaggOff(allOff(q2(on = false))),
      "offset + full-frame grouped split")
  }

  test("ALL SIX grouped classes in ONE select (r20): rank + running + offset + sliding + range-sliding + full-frame stack five operators over the agg join on ONE shared exchange, bit-equal") {
    val s = spark
    import s.implicits._
    // unique o per group (total order) so every member — including
    // the tie-arbitrary lag and ROWS frames — is deterministic
    val six = (0 until 6000).map { i =>
      (i.toLong, i % 3, (i / 3).toLong * 7L, ((i * 37) % 1000).toLong)
    }.toDF("id", "g", "o", "cents")
    val w = Window.partitionBy($"g").orderBy($"o")
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val df = six.select($"id", $"g",
          rank().over(w).as("r"),
          sum($"cents").over(w).as("run"),
          lag($"cents", 2, -1L).over(w).as("prev2"),
          min($"cents").over(w.rowsBetween(-3, 3)).as("band"),
          sum($"cents").over(w.rangeBetween(-70, 0)).as("trail"),
          max($"cents").over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)).as("hi"))
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          for (op <- Seq("GroupedRank", "GroupedRunningAgg", "GroupedOffset",
              "SlidingAgg", "RangeSlidingAgg"))
            assert(plan.contains(op), s"$op missing from the six-class split:\n" + plan.take(3000))
          assert(plan.contains("Join"), "the full-frame class must aggregate + join back")
          assert(!plan.contains("Window ["), plan.take(3000))
          // the FACT rows never hash-cluster: the only hash exchange
          // is the aggregate leg's partial-combined per-group max
          // (group-count-sized), feeding the broadcast join-back
          val nHash = plan.split("Exchange hashpartitioning").length - 1
          assert(nHash == 1,
            s"only the aggregate leg may hash-exchange, got $nHash:\n" + plan.take(3000))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    def gaggOff2[A](body: => A): A =
      TestSpark.withoutRules(graft.plans.GroupedAggRewrite, graft.plans.SlidingAggRewrite,
        graft.plans.RangeSlidingAggRewrite)(body)
    assertSame(q(on = true), gaggOff2(allOff(q(on = false))),
      "six-class grouped split")
  }

  test("sliding member in a grouped mix (r18): rank + running + trailing frame stack all three operators on ONE exchange, bit-equal") {
    val s = spark
    import s.implicits._
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.WindowSplit) {
        val w = Window.partitionBy($"g").orderBy($"o", $"id")
        val df = data.select($"id",
          rank().over(w).as("r"),
          sum($"cents").over(w).as("run"),
          sum($"cents").over(w.rowsBetween(-3, 0)).as("trail"),
          count(lit(1)).over(w.rowsBetween(-2, 2)).as("band_n"))
        if (on) {
          val plan = df.queryExecution.executedPlan.toString
          for (op <- Seq("GroupedRank", "GroupedRunningAgg", "SlidingAgg"))
            assert(plan.contains(op),
              s"$op missing from the grouped sliding-mix plan:\n" + plan.take(3000))
          assert(!plan.contains("Window [") &&
            !plan.contains("Exchange hashpartitioning"),
            "no native window / hash exchange in the grouped sliding mix:\n" +
              plan.take(3000))
          df.collect()
          val finalSection = df.queryExecution.executedPlan.toString
            .split("== Initial Plan ==").head
          val nRange = finalSection.split("Exchange rangepartitioning").length - 1
          assert(nRange == 1,
            s"the grouped sliding mix must share ONE range exchange, got $nRange:\n" +
              finalSection.take(3000))
        }
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    def slidingOff[A](body: => A): A =
      TestSpark.withoutRules(graft.plans.SlidingAggRewrite)(body)
    assertSame(q(on = true), slidingOff(allOff(q(on = false))),
      "grouped mixed split with a sliding member")
  }

  test("q48 graded plan: the split is live in the DuckDB-gated query — both operators, one shared range exchange, no hash exchange") {
    val s = spark
    val df = graft.relational.Relational.q48PriorityLeaderboard(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    for (op <- Seq("GroupedRank", "GroupedRunningAgg"))
      assert(plan.contains(op), s"$op missing from q48's plan:\n" + plan.take(2500))
    assert(!plan.contains("Window ["),
      "no native WindowExec may survive in q48:\n" + plan.take(2500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "q48 must not hash-partition on the priority keys:\n" + plan.take(2500))
    // exactly TWO range exchanges: the stack's shared
    // (o_orderpriority, o_orderdate) exchange and the output ORDER BY
    // o_orderkey — a third would mean the operators stopped sharing
    val finalSection = plan.split("== Initial Plan ==").head
    val rps = """Exchange rangepartitioning\(([^)]*)\)""".r
      .findAllMatchIn(finalSection).map(_.group(1)).toSeq
    assert(rps.length == 2, s"expected shared stack + output exchanges, got: $rps\n" +
      finalSection.take(2500))
    assert(rps.count(_.contains("o_orderpriority")) == 1,
      s"exactly one (o_orderpriority, o_orderdate) stack exchange: $rps")
  }
}
