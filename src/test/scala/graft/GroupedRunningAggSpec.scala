package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.GroupedRunningAggRewrite]] — grouped running
  * aggregates as GroupedRank's sibling operator (r17). The native
  * hash-clustered window's parallelism ceiling is the GROUP COUNT
  * (q23-per-nation: 25 groups × 100 TB = terabytes per task); the
  * operator range-partitions (group, order) and chains boundary
  * segments on the driver. Equivalence is pinned against the native
  * window on: multiple frames in one node, RANGE tie semantics,
  * null order-key bands, decimal sums, null-bearing avg, first/last
  * and the NthValue(x,1) mapping, few-huge-groups, desc order, and
  * group boundaries aligned exactly with partition edges. Plan shape
  * pins ONE range exchange and no hash exchange; bail-outs keep
  * mixed/imperative/bounded/nondeterministic/unorderable-key nodes
  * native. The partitioning-variation canary (the r16 discipline,
  * day one for this exec) lives in the companion TieSplitSpec case.
  */
class GroupedRunningAggSpec extends AnyFunSuite {
  import TestSpark._

  private def withRule[A](on: Boolean)(body: => A): A =
    TestSpark.withRules(on, graft.plans.GroupedRunningAggRewrite)(body)

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  // 4 groups x (null band + 24 order keys) x 100 rows
  private def data = {
    val s = spark
    import s.implicits._
    (0 until 10000).map { i =>
      val o: java.lang.Integer =
        if (i % 2500 < 100) null else Integer.valueOf((i % 2500) / 100)
      (i.toLong, i / 2500, o, ((i * 13) % 500).toLong)
    }.toDF("id", "g", "o", "cents")
  }

  test("grouped running aggregates: RANGE ties + ROWS frame + nulls + decimal + avg bit-equal to native") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o")
    // first/last are tie-ARBITRARY under RANGE tie windows (both
    // engines), so they ride the TOTAL (o, id) order where running
    // first/last are deterministic; the tie-stable aggregates pin the
    // RANGE tie semantics on w
    val wt = Window.partitionBy($"g").orderBy($"o", $"id")
    val wr = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q(on: Boolean): Seq[Row] = withRule(on) {
      val df = data.select($"id",
        sum($"cents").over(w).as("rs"),
        count(lit(1)).over(w).as("rc"),
        min($"cents").over(w).as("rm"),
        avg(when($"id" % 13 =!= 0, $"cents")).over(w).as("ra"),
        sum(($"cents".cast("decimal(18,2)") / 100)).over(w).as("rd"),
        sum($"cents").over(wr).as("rows_s"),
        first($"cents").over(wt).as("rf"),
        last($"cents").over(wt).as("rl"))
      if (on) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("GroupedRunningAgg"), plan.take(2000))
        assert(!plan.contains("Exchange hashpartitioning"),
          "the operator replaces the hash-clustered window:\n" + plan.take(2000))
        assert(!plan.contains("Window ["), plan.take(2000))
        // the two frame specs share ONE range exchange (prefix rule)
        val finalSection = plan.split("== Initial Plan ==").head
        val nRange = finalSection.split("Exchange rangepartitioning").length - 1
        assert(nRange == 1, s"expected one shared range exchange, got $nRange:\n" +
          finalSection.take(2000))
      }
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true), q(on = false), "grouped running aggregates")
  }

  test("few HUGE groups (the scale shape) + descending order + desc-nulls-last bit-equal") {
    val s = spark
    import s.implicits._
    val df0 = (0 until 9000).map { i =>
      val o: java.lang.Integer = if (i % 4500 < 50) null else Integer.valueOf((i % 4500) / 150)
      (i.toLong, i / 4500, o, (i % 89).toLong)
    }.toDF("id", "g", "o", "cents")
    val w = Window.partitionBy($"g").orderBy($"o".desc_nulls_last)
    def q(on: Boolean): Seq[Row] = withRule(on) {
      val df = df0.select($"id",
        sum($"cents").over(w).as("rs"),
        max($"cents").over(w).as("rx"),
        count($"o").over(w).as("rc"))
      if (on) assert(df.queryExecution.executedPlan.toString.contains("GroupedRunningAgg"))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true), q(on = false), "few huge groups, desc order")

    // NULL group key: SQL windows treat null as ITS OWN group; nulls
    // sort first under the exec's Ascending group promotion, so the
    // null group is the one most likely to span the first partition
    // boundaries — its segments must chain like any other group's
    val dfn = (0 until 6000).map { i =>
      val g: java.lang.Integer = if (i < 2400) null else Integer.valueOf(i / 2400)
      (i.toLong, g, (i % 600) / 40, (i % 83).toLong)
    }.toDF("id", "g", "o", "cents")
    val wn = Window.partitionBy($"g").orderBy($"o")
    def qn(on: Boolean): Seq[Row] = withRule(on) {
      dfn.select($"id", sum($"cents").over(wn).as("rs"),
          count(lit(1)).over(wn).as("rc"), first($"cents").over(
            Window.partitionBy($"g").orderBy($"o", $"id")).as("rf"))
        .collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(qn(on = true), qn(on = false), "null group key spanning partitions")
  }

  test("grouped first_value ROWS frame (the NthValue(x,1) mapping) + IGNORE NULLS bit-equal") {
    val s = spark
    import s.implicits._
    data.createOrReplaceTempView("gra_t")
    val sqlText = """
      SELECT id,
             first_value(o) OVER (PARTITION BY g ORDER BY o, id ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS fv,
             first_value(o) IGNORE NULLS OVER (PARTITION BY g ORDER BY o, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fvi
      FROM gra_t"""
    def q(on: Boolean): Seq[Row] = withRule(on) {
      val df = s.sql(sqlText)
      if (on) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("GroupedRunningAgg") && !plan.contains("Window ["),
          plan.take(2000))
      }
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true), q(on = false), "grouped first_value via NthValue mapping")
  }

  test("bail-outs: mixed grouped node, imperative agg, bounded frame, nondeterminism, unorderable key, minBytes, kill switch") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    // mixed grouped node (rank + running agg): since r18 this is
    // GroupedWindowSplit's match — both operators over one shared
    // exchange (GroupedWindowSplitSpec owns the full coverage). Since
    // r20 offset-bearing mixes split too (GroupedOffset landed): a
    // lag member stacks instead of keeping the node native.
    val mixed = data.select(rank().over(w).as("r"), sum($"cents").over(w).as("rs"))
    assert(planOf(mixed).contains("GroupedRunningAgg") &&
      planOf(mixed).contains("GroupedRank"))
    val offsetMix = data.select(lag($"cents", 1).over(w).as("p"),
      sum($"cents").over(w).as("rs"))
    assert(planOf(offsetMix).contains("GroupedRunningAgg") &&
      planOf(offsetMix).contains("GroupedOffset"))
    // typed-imperative aggregate
    val cl = data.select(collect_list($"cents").over(w).as("cl"))
    assert(!planOf(cl).contains("GroupedRunningAgg"))
    // bounded frame
    val bounded = data.select(sum($"cents").over(
      Window.partitionBy($"g").orderBy($"o", $"id").rowsBetween(-3, 0)).as("mv"))
    assert(!planOf(bounded).contains("GroupedRunningAgg"))
    // nondeterministic order — on a parquet-backed frame: a LOCAL
    // relation would be eagerly materialized by ConvertToLocalRelation
    // (rand frozen into literal rows — genuinely deterministic, and
    // the rewrite correctly fires there)
    val ev = Tables.events(s, SfDir).select($"user_id".as("g2"), $"value".as("v"))
    val nd = ev.select(sum($"v").over(
      Window.partitionBy($"g2").orderBy(rand(7))).as("rs"))
    assert(!planOf(nd).contains("GroupedRunningAgg"))
    // unorderable (map-typed) partition key: Spark 4's analyzer
    // rejects it before any rewrite runs (EXPRESSION_TYPE_IS_NOT_
    // ORDERABLE on window PARTITION BY), so the rewrite's orderability
    // guard is belt-and-suspenders rather than spec-reachable
    // minBytes lever: a huge floor keeps small inputs native
    TestSpark.withConf(graft.plans.GroupedRunningAggRewrite.MinBytesKey, (1L << 60).toString) {
      val small = data.select(sum($"cents").over(w).as("rs"))
      assert(!planOf(small).contains("GroupedRunningAgg"))
    }
    // kill switch
    withRule(on = false) {
      val off = data.select(sum($"cents").over(w).as("rs"))
      assert(!planOf(off).contains("GroupedRunningAgg"))
    }
    // byte guard on (part ++ order)
    TestSpark.withConf(graft.plans.PlanGuards.MaxBoundaryBytesKey, "1") {
      val g = data.select(sum($"cents").over(w).as("rs"))
      assert(!planOf(g).contains("GroupedRunningAgg"))
    }
  }

  test("extreme chains: tie runs spanning MANY whole partitions (multi-member override lists) + ROWS-only chaining") {
    val s = spark
    import s.implicits._
    // 2 groups x 3 order keys x 1500 rows over 16 partitions of a
    // finer (g, o, k) exchange: every tie RUN spans ~2-3 whole
    // partitions, so the driver's run-member override list carries
    // multiple partitions per run, and group chains cross many
    // boundaries. The ROWS-frame column exercises prefix chaining with
    // anyRange=true buffering alongside; the separate ROWS-ONLY query
    // exercises the anyRange=false pass-2 path under the same chains.
    val df0 = (0 until 9000).map { i =>
      (i.toLong, i / 4500, (i % 4500) / 1500, i % 97, ((i * 31) % 500).toLong)
    }.toDF("id", "g", "o", "k", "cents")
    def q(on: Boolean, rowsOnly: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.GroupedRunningAggRewrite) {
        TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
          val w = Window.partitionBy($"g").orderBy($"o")
          val wr = Window.partitionBy($"g").orderBy($"o", $"k", $"id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val base = df0.repartitionByRange(16, $"g", $"o", $"k")
          val df =
            if (rowsOnly) base.select($"id", $"k", sum($"cents").over(wr).as("rws"))
            else base.select($"id", $"k",
              sum($"cents").over(w).as("rs"),
              min($"cents").over(w).as("rm"),
              avg($"cents").over(w).as("ra"),
              sum($"cents").over(wr).as("rws"))
          val rows = df.collect().toSeq
          if (on) {
            val plan = df.queryExecution.executedPlan.toString
            assert(plan.contains("GroupedRunningAgg"), plan.take(2000))
            val finalSection = plan.split("== Initial Plan ==").head
            assert(finalSection.split("Exchange rangepartitioning").length - 1 == 1,
              "must run on the pre-existing finer exchange alone:\n" + finalSection.take(2000))
          }
          rows.sortBy(_.getLong(0))
        }
      }
    assertSame(q(on = true, rowsOnly = false), q(on = false, rowsOnly = false),
      "extreme multi-partition chains (RANGE + ROWS)")
    assertSame(q(on = true, rowsOnly = true), q(on = false, rowsOnly = true),
      "extreme multi-partition chains (ROWS only)")
  }

  test("seeded sweep: partition counts x group counts x tie widths, null order bands, vs native") {
    val s = spark
    import s.implicits._
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      // (partitions, groups, tie width): many-small-groups sanity,
      // boundary-dense few-huge-groups, near-partition-sized tie runs —
      // each with a null order band per group (nulls sort first, so the
      // null run is the likeliest to straddle a group's first boundary)
      for ((parts, groups, tieW) <- Seq((5, 40, 3), (16, 3, 100), (8, 2, 997))) {
        val perG = 6000 / groups
        val rows = (0 until 6000).map { i =>
          val j = i % perG
          val o: java.lang.Integer = if (j < 60) null else Integer.valueOf(j / tieW)
          (i.toLong, i / perG, o, ((i * 31) % 500).toLong)
        }
        val df0 = rows.toDF("id", "g", "o", "cents")
          .repartitionByRange(parts, $"g", $"o", $"id")
        val w = Window.partitionBy($"g").orderBy($"o")
        def q(on: Boolean): Seq[Row] = withRule(on) {
          df0.select($"id",
              sum($"cents").over(w).as("gs"),
              count(lit(1)).over(w).as("gc"),
              min($"cents").over(w).as("gm"),
              sum(($"cents".cast("decimal(18,2)") / 100)).over(w).as("gds"),
              avg(when($"id" % 13 =!= 0, $"cents")).over(w).as("gna"))
            .collect().toSeq.sortBy(_.getLong(0))
        }
        assertSame(q(on = true), q(on = false),
          s"grouped running sweep parts=$parts groups=$groups tieW=$tieW")
      }
    }
  }

  test("q47 graded plan: both frames on GroupedRunningAgg over ONE shared exchange, no hash clustering, no funnel") {
    val s = spark
    val df = graft.relational.Relational.q47PriorityCumulative(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedRunningAgg"), plan.take(2500))
    // the r18 sliding member makes the (priority, date, orderkey) node
    // a running+sliding mix — GroupedWindowSplit stacks SlidingAgg
    // onto the same shared exchange
    assert(plan.contains("SlidingAgg"),
      "the trail7 sliding member must plan on SlidingAgg:\n" + plan.take(2500))
    assert(!plan.contains("Window ["),
      "no native window may survive in q47:\n" + plan.take(2500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "the operator must replace the hash-clustered plan:\n" + plan.take(2500))
    assert(!plan.contains("SinglePartition"), plan.take(2500))
    // exactly TWO range exchanges: the stack's shared
    // (priority, date[, orderkey]) exchange (both frame specs ride it
    // via the prefix rule) and the output ORDER BY o_orderkey
    val finalSection = plan.split("== Initial Plan ==").head
    val rps = """Exchange rangepartitioning\(([^)]*)\)""".r
      .findAllMatchIn(finalSection).map(_.group(1)).toSeq
    assert(rps.length == 2, s"expected shared stack + output exchanges, got: $rps\n" +
      finalSection.take(2500))
    assert(rps.count(_.contains("o_orderpriority")) == 1,
      s"exactly one (priority, date…) stack exchange: $rps")
  }

  test("group boundaries aligned exactly with partition edges (the off-by-one class)") {
    val s = spark
    import s.implicits._
    // 8 groups over 8 shuffle partitions of the exec's own exchange:
    // with near-uniform sizes the range partitioner tends to align
    // group edges with partition edges, exercising the chain's
    // closed-exactly-at-boundary paths; the explicit finer repartition
    // ALSO forces mid-group boundaries
    for (parts <- Seq(4, 8, 16)) {
      val df0 = (0 until 8000).map(i => (i.toLong, i / 1000, (i % 1000) / 50, (i % 97).toLong))
        .toDF("id", "g", "o", "cents")
        .repartitionByRange(parts, $"g", $"o")
      val w = Window.partitionBy($"g").orderBy($"o")
      def q(on: Boolean): Seq[Row] = withRule(on) {
        TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
          df0.select($"id", sum($"cents").over(w).as("rs"),
              max($"cents").over(w).as("rx"), count(lit(1)).over(w).as("rc"))
            .collect().toSeq.sortBy(_.getLong(0))
        }
      }
      assertSame(q(on = true), q(on = false), s"edge alignment parts=$parts")
    }
  }

  test("r21 CombineRunningNodes: a withColumn tower merges into ONE node through computed-alias projects; dependent towers stay stacked") {
    val s = spark
    import s.implicits._
    val df = (0 until 6000).map { i =>
      (i.toLong, i % 4, (i / 4).toLong,
        if (i % 7 == 0) None else Some(((i * 37) % 1000).toLong))
    }.toDF("id", "g", "o", "cn")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"o", $"id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // the s21 idiom: each withColumn computes the NEXT aggregate's
    // input in a Project between the nodes (the alias must inline)
    def q() = df
      .withColumn("run1", last($"cn", ignoreNulls = true).over(w))
      .withColumn("derived", when($"cn".isNotNull, $"cn" * 2))
      .withColumn("run2", last($"derived", ignoreNulls = true).over(w))
      .withColumn("run3", sum($"cn").over(w))
      .select($"id", $"run1", $"run2", $"run3")
    val plan = q().queryExecution.executedPlan.toString
    val nodes = "GroupedRunningAgg \\[".r.findAllIn(
      plan.split("== Initial Plan ==").head).length
    assert(nodes == 1, s"tower must merge into ONE node, saw $nodes:\n" +
      plan.take(2500))
    val got = q().collect().toSeq.sortBy(_.getLong(0))
    val ref = TestSpark.withoutRules(graft.plans.GroupedRunningAggRewrite) {
      q().collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(got, ref, "merged running tower vs native")
    // an outer aggregate CONSUMING the inner's output is a true data
    // dependency — the tower must NOT merge
    def dep() = df
      .withColumn("run1", sum($"cn").over(w))
      .withColumn("run2", max($"run1").over(w))
      .select($"id", $"run1", $"run2")
    val depPlan = dep().queryExecution.executedPlan.toString
    val depNodes = "GroupedRunningAgg \\[".r.findAllIn(
      depPlan.split("== Initial Plan ==").head).length
    assert(depNodes == 2, s"dependent tower must stay stacked, saw $depNodes")
    val gotDep = dep().collect().toSeq.sortBy(_.getLong(0))
    val refDep = TestSpark.withoutRules(graft.plans.GroupedRunningAggRewrite) {
      dep().collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(gotDep, refDep, "dependent running tower vs native")
  }
}
