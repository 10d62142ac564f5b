package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.GroupedAggRewrite]] — the grouped share-of-group
  * funnel (`sum(x) OVER (PARTITION BY g)`) rewritten to a distributed
  * aggregate + null-safe join-back. These cases pin:
  *   - bit-equal results vs the native hash-clustered window for the
  *     whole claimed class (sum/count/avg/min/max over exact types),
  *     with the user's output column order, including NULL group keys
  *     (the `<=>` join-back), expression partition keys, multi-key
  *     partitions, and the explicit ordered full-frame phrasing;
  *   - the plan: NO native WindowExec, an Aggregate joined back to the
  *     child (strategy — broadcast vs shuffled — left to Catalyst+AQE);
  *   - the QUALIFY structural win: a filter on the windowed count is
  *     pushed below the join into the aggregate leg;
  *   - bails: order-sensitive aggregates (first/last/collect_list —
  *     the shared multiset whitelist), non-full frames, the kill
  *     switch, and the minBytes cost lever each keep the node native.
  */
class GroupedAggSpec extends AnyFunSuite {
  import TestSpark._

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    assert(got.size == ref.size, s"$what: size ${got.size} != ${ref.size}")
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  private def off[A](body: => A): A =
    TestSpark.withoutRules(graft.plans.GroupedAggRewrite)(body)

  /** 6 groups × 1000 rows, exact-long values, stable id sort key. */
  private def data = {
    val s = spark
    import s.implicits._
    (0 until 6000).map { i =>
      (i.toLong, i % 6, ((i * 37) % 1000).toLong)
    }.toDF("id", "g", "cents")
  }

  private def assertJoinPlan(df: DataFrame, what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window ["),
      s"$what: no native WindowExec may survive the rewrite:\n" + plan.take(2500))
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"$what: the aggregate leg is missing:\n" + plan.take(2500))
    assert(plan.contains("Join"),
      s"$what: the join-back is missing:\n" + plan.take(2500))
  }

  test("share-of-group report: sum/count/avg/min/max OVER (PARTITION BY g) plan as agg + join-back, bit-equal, schema order kept") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("gagg_t")
    val sqlText = """
      SELECT id, g, cents,
             sum(cents) OVER (PARTITION BY g) AS tot,
             count(*)   OVER (PARTITION BY g) AS n,
             avg(cents) OVER (PARTITION BY g) AS mean,
             min(cents) OVER (PARTITION BY g) AS lo,
             max(cents) OVER (PARTITION BY g) AS hi
      FROM gagg_t"""
    val df = s.sql(sqlText)
    assertJoinPlan(df, "five-aggregate share-of-group")
    assert(df.schema.map(_.name) == Seq("id", "g", "cents", "tot", "n", "mean", "lo", "hi"))
    val got = df.collect().toSeq.sortBy(_.getLong(0))
    val ref = off(s.sql(sqlText).collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "five-aggregate share-of-group")
  }

  test("NULL group keys join back to their own aggregate (<=> semantics), bit-equal") {
    val s = spark
    import s.implicits._
    val nd = data.withColumn("gn", when($"g" =!= 0, $"g"))
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.GroupedAggRewrite) {
        val w = Window.partitionBy($"gn")
        val df = nd.select($"id", $"gn",
          sum($"cents").over(w).as("tot"),
          count(lit(1)).over(w).as("n"))
        if (on) assertJoinPlan(df, "null-group-key share-of-group")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "null-group-key share-of-group")
  }

  test("expression partition key and multi-key partitions fire and stay bit-equal") {
    val s = spark
    import s.implicits._
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.GroupedAggRewrite) {
        val wExpr = Window.partitionBy(pmod($"id", lit(7L)))
        val wMulti = Window.partitionBy($"g", $"cents" % 10)
        val df = data.select($"id",
          sum($"cents").over(wExpr).as("t1"),
          max($"id").over(wMulti).as("t2"))
        if (on) assertJoinPlan(df, "expression-key share-of-group")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "expression/multi-key share-of-group")
  }

  test("explicit ordered full frame (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING) is claimed — the order is provably irrelevant") {
    val s = spark
    import s.implicits._
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.GroupedAggRewrite) {
        val w = Window.partitionBy($"g").orderBy($"id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val df = data.select($"id",
          sum($"cents").over(w).as("tot"),
          min($"cents").over(w).as("lo"))
        if (on) assertJoinPlan(df, "ordered full frame")
        df.collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "ordered full-frame share-of-group")
  }

  test("QUALIFY idiom: the count filter is pushed below the join into the aggregate leg") {
    val s = spark
    import s.implicits._
    val df = data
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"g", $"cents" % 3)))
      .filter($"n" <= 300)
    val opt = df.queryExecution.optimizedPlan
    val joins = opt.collect { case j: LJoin => j }
    assert(joins.nonEmpty, "the rewrite's join-back is missing:\n" + opt.toString.take(2500))
    // predicate pushdown must land the n<=300 filter inside the
    // aggregate leg (right side of the join), dropping capped-out
    // groups BEFORE the join — the structural QUALIFY win
    assert(joins.head.right.exists(_.isInstanceOf[LFilter]),
      "the count filter must push into the aggregate leg:\n" + opt.toString.take(2500))
    val got = df.collect().toSeq.sortBy(_.getLong(0))
    val ref = off {
      data.withColumn("n", count(lit(1)).over(Window.partitionBy($"g", $"cents" % 3)))
        .filter($"n" <= 300).collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(got, ref, "QUALIFY count cap")
  }

  test("q49 graded plan: the rewrite is live in the DuckDB-gated query — broadcast join-back, the fact table never shuffles on the group keys") {
    val s = spark
    val df = graft.relational.Relational.q49GroupShare(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalSection = plan.split("== Initial Plan ==").head
    assert(!plan.contains("Window ["),
      "no native WindowExec may survive in q49:\n" + plan.take(2500))
    assert(finalSection.contains("BroadcastHashJoin"),
      "the 5-row per-priority aggregate must broadcast back:\n" + finalSection.take(2500))
    // the only hash exchange is the aggregate leg's 5-group shuffle of
    // per-map partials; the fact rows reach the join unshuffled
    val hashEx = """Exchange hashpartitioning\(([^)]*)\)""".r
      .findAllMatchIn(finalSection).map(_.group(1)).toSeq
    assert(hashEx.size <= 1,
      s"only the aggregate leg may hash-exchange, got: $hashEx\n" + finalSection.take(2500))
  }

  test("bails: order-sensitive aggregate, non-full frame, kill switch, minBytes lever each keep the node native") {
    val s = spark
    import s.implicits._
    def nativePlanned(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Window [")
    // first(x) over the full partition: value depends on row order —
    // not in the multiset whitelist, must stay native even though a
    // total order would make it well-defined
    val wf = Window.partitionBy($"g")
    assert(nativePlanned(data.select($"id", first($"cents").over(
      wf.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("f"))),
      "order-sensitive first() must keep the node native")
    // a bounded frame is not the full-frame class (and not a running
    // frame either): GroupedAggRewrite must not claim it — since r18
    // it belongs to the SlidingAgg operator (SlidingAggSpec pins it)
    val slidePlan = data.select($"id", sum($"cents").over(
      Window.partitionBy($"g").orderBy($"id").rowsBetween(-2, 2)).as("m"))
      .queryExecution.executedPlan.toString
    assert(slidePlan.contains("SlidingAgg") && !slidePlan.contains("Join"),
      "bounded frames belong to SlidingAgg, never to the GroupedAgg join:\n" +
        slidePlan.take(2000))
    // kill switch
    off {
      assert(nativePlanned(data.select($"id",
        sum($"cents").over(wf).as("t"))),
        "kill switch must keep the node native")
    }
    // minBytes above the input size: the cost lever skips the rewrite
    TestSpark.withConf(graft.plans.GroupedAggRewrite.MinBytesKey, (1L << 40).toString) {
      assert(nativePlanned(data.select($"id",
        sum($"cents").over(wf).as("t"))),
        "minBytes lever must keep the node native")
    }
    // a scalar subquery under the child defeats ExprIdFreshener's
    // disjointness proof (GlobalAgg's one structural bail, inherited)
    // — but ONLY when the aggregate actually reads the subquery
    // column: since r19, AggLegPeel strips the pass-through projection
    // (and the subquery alias with it) from the duplicated aggregate
    // leg whenever `needed` doesn't reference it, so the common
    // "annotate rows with a reference value AND a group total" shape
    // fires legitimately — the subquery evaluates once, in the row
    // side only.
    data.createOrReplaceTempView("gagg_bail_t")
    val subUnused = s.sql("""
      SELECT id, g, cents, mc,
             sum(cents) OVER (PARTITION BY g) AS tot
      FROM (SELECT *, (SELECT max(cents) FROM gagg_bail_t) AS mc
            FROM gagg_bail_t)""")
    assert(!nativePlanned(subUnused),
      "an UNAGGREGATED subquery column peels out of the agg leg — the rewrite fires (r19)")
    val gotSub = subUnused.orderBy($"id").collect().toSeq
    val refSub = off(s.sql("""
      SELECT id, g, cents, mc,
             sum(cents) OVER (PARTITION BY g) AS tot
      FROM (SELECT *, (SELECT max(cents) FROM gagg_bail_t) AS mc
            FROM gagg_bail_t)""").orderBy($"id").collect().toSeq)
    assert(gotSub == refSub, "peeled-subquery results must match native")
    // the aggregate READING the subquery column is the true bail: mc
    // cannot peel, the freshener refuses the nested plan, native wins
    val subUsed = s.sql("""
      SELECT id, g, cents,
             sum(cents + mc) OVER (PARTITION BY g) AS tot
      FROM (SELECT *, (SELECT max(cents) FROM gagg_bail_t) AS mc
            FROM gagg_bail_t)""")
    assert(nativePlanned(subUsed),
      "an AGGREGATED subquery column must keep the node native (unfreshenable)")
  }
}
