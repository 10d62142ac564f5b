package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The zero-key case of GroupedAggRewrite (plans/GroupedAgg.scala):
  * `agg OVER ()` windows — the share-of-total pattern — rewritten to
  * aggregate-once + broadcast cross join instead of the all-rows
  * single-partition funnel. Equivalence is pinned on exact types
  * (longs/decimals/integral doubles), where both plans are
  * bit-identical. */
class GlobalAggSpec extends AnyFunSuite {
  import TestSpark._

  private def withRule[A](on: Boolean)(body: => A): A =
    TestSpark.withRules(on, graft.plans.GroupedAggRewrite)(body)

  private def shares(df: DataFrame): DataFrame = {
    val w = Window.partitionBy() // empty spec: the OVER () form
    df.select(col("id"),
      sum(col("cents")).over(w).as("total_cents"),
      count(lit(1)).over(w).as("n"),
      min(col("cents")).over(w).as("lo"),
      max(col("cents")).over(w).as("hi"),
      (col("cents").cast("double") /
        sum(col("cents")).over(w).cast("double")).as("share"))
  }

  test("GlobalAgg: sum/count/min/max OVER () bit-equal to the native window") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"),
        (round($"value" * 100)).cast("long").as("cents"))
      .repartition(7)
    val got = withRule(on = true)(shares(base).orderBy($"id").collect().toSeq)
    val ref = withRule(on = false)(shares(base).orderBy($"id").collect().toSeq)
    assert(got == ref)
    // empty input: the aggregate branch yields one row but the cross
    // join with an empty child stays empty, like the native window
    val empty = Seq.empty[(Long, Long)].toDF("id", "cents")
    assert(withRule(on = true)(shares(empty).collect()).isEmpty)
    // an ORDERED full frame with a multiset aggregate is the same
    // constant: the zero-key rewrite claims it, like the keyed form
    def ordered(df: DataFrame): DataFrame = df.select(col("id"),
      sum(col("cents")).over(Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("t"))
    val (oGot, oPlan) = withRule(on = true) {
      val df = ordered(base)
      df.collect()
      (df.orderBy($"id").collect().toSeq, df.queryExecution.executedPlan.toString)
    }
    assert(!oPlan.contains("Window") && oPlan.contains("BroadcastNestedLoopJoin"),
      "the ordered full frame must rewrite to the broadcast total:\n" + oPlan.take(2000))
    assert(oGot == withRule(on = false)(ordered(base).orderBy($"id").collect().toSeq))
  }

  test("GlobalAgg plan shape: broadcast join, NO WindowExec, full rows never funnel") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), round($"value" * 100).cast("long").as("cents"))
    withRule(on = true) {
      val df = shares(base)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        "the OVER () node must be rewritten away:\n" + plan.take(2000))
      assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
      // an order-sensitive aggregate on the EMPTY spec is claimed too:
      // the native funnel folds rows in arrival order anyway
      val f = base.select($"id", first($"cents").over(Window.partitionBy()).as("f"))
      f.collect()
      val fPlan = f.queryExecution.executedPlan.toString
      assert(!fPlan.contains("Window") && fPlan.contains("BroadcastNestedLoopJoin"),
        "first(x) OVER () must rewrite to the broadcast total:\n" + fPlan.take(2000))
    }
    withRule(on = false) {
      val df = shares(base)
      df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("Window"))
    }
  }

  test("q43 runs on the GlobalAgg rewrite: no WindowExec, broadcast total") {
    val s = spark
    val df = graft.relational.Relational.q43RevenueShare(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "the graded share-of-total must not plan a window:\n" + plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("GlobalAgg rewrite survives planChangeValidation: duplicated child gets fresh exprIds") {
    val s = spark
    import s.implicits._
    // planChangeValidation=true makes Catalyst abort on any rule that
    // breaks the exprId-uniqueness invariant — the exact failure mode
    // of duplicating the child subtree verbatim into the aggregate leg.
    TestSpark.withConf("spark.sql.planChangeValidation", "true") {
      withRule(on = true) {
        // child with its own aliases + a relation leaf: both classes of
        // exprId must be re-minted in the aggregate leg
        val base = Tables.events(s, SfDir)
          .select($"event_id".as("id"), round($"value" * 100).cast("long").as("cents"))
          .filter($"cents" >= 0L)
        val df = shares(base)
        val got = df.orderBy($"id").collect().toSeq
        val ref = withRule(on = false)(shares(base).orderBy($"id").collect().toSeq)
        assert(got == ref)
        assert(!df.queryExecution.executedPlan.toString.contains("Window"))
      }
    }
  }

  test("GlobalAgg streaming guard: a watermarked stream with agg OVER () stays native") {
    val s = spark
    import s.implicits._
    // Structured Streaming can't run the aggregate-once + broadcast-back
    // plan (a global aggregate joined to its own input has different
    // semantics under a watermark), so the rule must leave streaming
    // children untouched. The guard can't be exercised end-to-end
    // (UnsupportedOperationChecker rejects window functions on streams
    // at start()), so apply the rule directly to the analyzed plan —
    // exactly what the per-microbatch optimizer would do.
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)](s)
    val sdf = stream.toDF().toDF("cents", "ts")
      .withWatermark("ts", "1 minute")
      .select($"cents", sum($"cents").over(Window.partitionBy()).as("total"))
    val analyzed = sdf.queryExecution.analyzed
    assert(analyzed.isStreaming)
    val after = withRule(on = true)(graft.plans.GroupedAggRewrite(analyzed))
    assert(after.fastEquals(analyzed),
      "streaming child must bail to the native window, not double-evaluate:\n" + after)
    // same plan, non-streaming: the rule DOES fire (guard is the only delta)
    val bdf = Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).toDF("cents", "ts")
      .select($"cents", sum($"cents").over(Window.partitionBy()).as("total"))
    val bAfter = withRule(on = true)(graft.plans.GroupedAggRewrite(bdf.queryExecution.analyzed))
    assert(bAfter.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]))
  }

  test("GlobalAgg bail-outs: running frames and bounded frames stay native") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), round($"value" * 100).cast("long").as("cents"))
    withRule(on = true) {
      // (DISTINCT aggregates need no bail-out: Spark itself rejects
      // distinct window functions at analysis, before any rule runs.)
      // bounded trailing frame: not a global constant, so GlobalAgg
      // must NOT claim it — since r18 it belongs to the SlidingAgg
      // operator (SlidingAggSpec pins its semantics)
      val d = base.select(sum($"cents").over(
        Window.orderBy($"cents", $"id").rowsBetween(-3, Window.currentRow)).as("nd"))
      d.collect()
      val dPlan = d.queryExecution.executedPlan.toString
      assert(dPlan.contains("SlidingAgg") && !dPlan.contains("Join"),
        "bounded frames belong to SlidingAgg, never to the GlobalAgg join:\n" +
          dPlan.take(2000))
      // running sum: not a global constant, so GlobalAgg must NOT
      // claim it — since r15 it belongs to the GlobalRunningAgg
      // operator instead (GlobalRunningAggSpec pins its semantics)
      val run = base.select(sum($"cents").over(
        Window.orderBy($"cents", $"id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("rs"))
      run.collect()
      val runPlan = run.queryExecution.executedPlan.toString
      assert(runPlan.contains("GlobalRunningAgg") ||
        runPlan.contains("Window"), runPlan.take(2000))
      assert(!runPlan.contains("BroadcastNestedLoopJoin"),
        "GlobalAgg must not rewrite a running frame:\n" + runPlan.take(2000))
      // order-sensitive first() over an ORDERED full frame: its value
      // depends on the order, so the rewrite must leave it native
      val fo = base.select(first($"cents").over(Window.orderBy($"cents", $"id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("fo"))
      fo.collect()
      val foPlan = fo.queryExecution.executedPlan.toString
      assert(foPlan.contains("Window") && !foPlan.contains("BroadcastNestedLoopJoin"),
        "first() over an ordered full frame must stay native:\n" + foPlan.take(2000))
      // nondeterministic child: the rewrite would evaluate rand()
      // twice (rows vs total) -> must stay on the native single
      // materialization
      val nd = base.withColumn("r", rand(42))
        .select(sum($"r").over(Window.partitionBy()).as("tr"), $"r")
      nd.collect()
      assert(nd.queryExecution.executedPlan.toString.contains("Window"))
      // scalar subquery under the child: ExprIdFreshener does not
      // descend into nested subquery plans, so the duplicated leg
      // would share the INNER plan's exprIds undetected (the
      // output-disjointness proof only sees node outputs). Since r19
      // the bail is NEEDED-scoped: AggLegPeel strips the pass-through
      // projection (and the subquery alias with it) from the agg leg
      // when the aggregate doesn't read it, so the common shape fires;
      // only an AGGREGATED subquery column still bails. Rule-level on
      // the ANALYZED plan the SubqueryAlias node blocks the peel
      // (conservative: the walk only peels Window/operator/Project
      // nodes), so the analyzed-plan application still bails — the
      // optimized plan is where the peel fires.
      // gas_t1 deliberately carries NO limit: Limit is not
      // row-preserving, so it stops the peel — with it the optimized
      // plan would (correctly) stay native instead of witnessing the
      // peeled fire below
      base.createOrReplaceTempView("gas_t1")
      base.limit(5).createOrReplaceTempView("gas_t2")
      def subSql = s.sql(
        """SELECT id, m, sum(cents) OVER () AS total
          |FROM (SELECT id, cents, (SELECT max(cents) FROM gas_t2) AS m
          |      FROM gas_t1)""".stripMargin)
      val analyzed = subSql.queryExecution.analyzed
      assert(analyzed.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalarSubquery]))),
        "test setup: the analyzed plan must carry the scalar subquery:\n" + analyzed)
      val after = graft.plans.GroupedAggRewrite(analyzed)
      assert(after.fastEquals(analyzed),
        "analyzed-level: SubqueryAlias blocks the peel, the rule must bail:\n" + after)
      // end-to-end (optimized): the UNAGGREGATED subquery column peels
      // out of the agg leg and the rewrite fires; results identical
      val subDf = subSql
      val got = subDf.orderBy($"id").collect().toSeq
      assert(!subDf.queryExecution.executedPlan.toString.contains("Window ["),
        "optimized-level: the unused subquery column must peel, the rewrite fires (r19)")
      val ref = withRule(on = false)(subSql.orderBy($"id").collect().toSeq)
      assert(got == ref)
      // the aggregate READING the subquery column is the enduring bail
      def subUsed = s.sql(
        """SELECT id, sum(cents + m) OVER () AS total
          |FROM (SELECT id, cents, (SELECT max(cents) FROM gas_t2) AS m
          |      FROM gas_t1)""".stripMargin)
      assert(subUsed.queryExecution.executedPlan.toString.contains("Window ["),
        "an AGGREGATED subquery column must keep the node native (unfreshenable)")
      assert(subUsed.orderBy($"id").collect().toSeq ==
        withRule(on = false)(subUsed.orderBy($"id").collect().toSeq))
    }
  }
}
