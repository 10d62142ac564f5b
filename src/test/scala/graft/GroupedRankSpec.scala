package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GroupedRank operator (plans/GroupedRank.scala): rank-family
  * windows WITH partition keys — where a group larger than a task
  * OOMs the native hash-partitioned window — rewritten to the
  * range-partitioned two-pass form (q23/m11's hand idiom, promoted to
  * the engine). Pinned here: bit-equality with the built-in window
  * for all six functions across groups that SPAN range partitions,
  * tie/null edges, multi-column group keys, the plan shape, the
  * minBytes size gate and the bail-outs. */
class GroupedRankSpec extends AnyFunSuite {
  import TestSpark._

  private def withRule[A](on: Boolean)(body: => A): A =
    TestSpark.withRules(on, graft.plans.GroupedRankRewrite)(body)

  private def allSix(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("k").desc, col("id"))
    df.select(col("id"), col("g"), col("k"),
      row_number().over(w).as("rn"),
      rank().over(w).as("r"),
      dense_rank().over(w).as("dr"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"),
      ntile(3).over(w).as("n3"),
      ntile(7).over(w).as("n7"))
  }

  test("GroupedRank: all six functions bit-equal to the native window, groups spanning partitions") {
    val s = spark
    import s.implicits._
    // 3 groups over a 4-partition shuffle: every group is FORCED to
    // straddle range boundaries, exercising the continuation offsets
    // and spanning-group totals
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), ($"event_id" % 3).as("g"), $"value".as("k"))
      .repartition(7)
    val got = withRule(on = true)(allSix(base).orderBy($"id").collect().toSeq)
    val ref = withRule(on = false)(allSix(base).orderBy($"id").collect().toSeq)
    assert(got == ref)
    // many small groups (the per-key window shape): offsets all zero,
    // interior-group totals taken locally
    val many = Tables.events(s, SfDir)
      .select($"event_id".as("id"), ($"event_id" % 97).as("g"), $"value".as("k"))
      .repartition(5)
    val gotM = withRule(on = true)(allSix(many).orderBy($"id").collect().toSeq)
    val refM = withRule(on = false)(allSix(many).orderBy($"id").collect().toSeq)
    assert(gotM == refM)
  }

  test("GroupedRank: ties, null group keys, null order keys, multi-column groups") {
    val s = spark
    import s.implicits._
    // 2 groups x 3 distinct order keys -> every partition is a tie
    // run; null group key forms its own group; null order keys hit
    // the null-ordering path
    val rows = (1 to 600).map(i =>
      (i.toLong, if (i % 5 == 0) null else s"g${i % 2}",
        if (i % 11 == 0) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf((i % 3).toDouble)))
    val base = rows.toDF("id", "g", "k").repartition(5)
    def tieFns(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("g")).orderBy(col("k"))
      df.select(col("id"),
        rank().over(w).as("r"),
        dense_rank().over(w).as("dr"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    }
    val gotT = withRule(on = true)(tieFns(base).orderBy($"id").collect().toSeq)
    val refT = withRule(on = false)(tieFns(base).orderBy($"id").collect().toSeq)
    assert(gotT == refT)
    // total order within groups -> all six functions, plus a
    // MULTI-COLUMN group key
    def multi(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("g"), col("g2")).orderBy(col("k"), col("id"))
      df.select(col("id"),
        row_number().over(w).as("rn"), rank().over(w).as("r"),
        dense_rank().over(w).as("dr"), percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"), ntile(4).over(w).as("n4"))
    }
    val base2 = base.withColumn("g2", ($"id" % 2).cast("int"))
    val gotM = withRule(on = true)(multi(base2).orderBy($"id").collect().toSeq)
    val refM = withRule(on = false)(multi(base2).orderBy($"id").collect().toSeq)
    assert(gotM == refM)
    // single-row groups and empty input
    val singletons = (1 to 40).map(i => (i.toLong, s"g$i", i.toDouble)).toDF("id", "g", "k")
    assert(withRule(on = true)(allSix(singletons.withColumn("g", $"g")).orderBy($"id").collect().toSeq)
      == withRule(on = false)(allSix(singletons).orderBy($"id").collect().toSeq))
    val empty = Seq.empty[(Long, String, Double)].toDF("id", "g", "k")
    assert(withRule(on = true)(allSix(empty).collect()).isEmpty)
  }

  test("GroupedRank: degraded range-boundary sampling cannot change results") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), ($"event_id" % 3).as("g"), $"value".as("k"))
      .repartition(6)
    TestSpark.withConf("spark.sql.execution.rangeExchange.sampleSizePerPartition", "2") {
      val got = withRule(on = true)(allSix(base).orderBy($"id").collect().toSeq)
      val ref = withRule(on = false)(allSix(base).orderBy($"id").collect().toSeq)
      assert(got == ref, "bad range sampling must never change results")
    }
  }

  test("GroupedRank plan shape: range exchange on (group, order), no group-keyed hash exchange") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), ($"event_id" % 3).as("g"), $"value".as("k"))
    withRule(on = true) {
      val df = allSix(base)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GroupedRank"), plan.take(2000))
      assert(plan.contains("rangepartitioning(g#"),
        "the exchange must range-partition on (group, order):\n" + plan.take(2000))
      assert(!"hashpartitioning\\(g#\\d+".r.findFirstIn(plan).isDefined,
        "no group-keyed hash exchange may remain (that IS the funnel):\n" + plan.take(2000))
    }
    withRule(on = false) {
      val df = allSix(base)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("GroupedRank") && plan.contains("hashpartitioning(g#"),
        "conf off must keep the native hash-partitioned window:\n" + plan.take(2000))
    }
  }

  test("q23/m11 run on the GroupedRank operator: plain windows, scale plan from the rule") {
    val s = spark
    for ((name, fn) <- Seq(
        "q23" -> graft.relational.Relational.q23SpendDeciles _,
        "m11" -> graft.multimodal.Multimodal.m11EpochShuffle _)) {
      val df = fn(s, SfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GroupedRank"),
        s"$name must plan the grouped-rank operator:\n${plan.take(2000)}")
    }
  }

  test("GroupedRank bail-outs: top-k filters, mixed/offset/aggregate windows, size gate, nondeterminism") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), ($"event_id" % 3).as("g"), $"value".as("k"))
    withRule(on = true) {
      // filter(row_number <= k): TopKRewrite is stacked FIRST and owns
      // the plan — the heap never materializes the full ranking
      val w = Window.partitionBy($"g").orderBy($"k".desc, $"id")
      val topk = base.withColumn("rn", row_number().over(w)).filter($"rn" <= 3)
      topk.collect()
      val topkPlan = topk.queryExecution.executedPlan.toString
      assert(topkPlan.contains("TopKFinal") && !topkPlan.contains("GroupedRank"),
        topkPlan.take(2000))
      // mixed node (rank + lag over the same spec): not all-rank, so
      // THIS rule bails — since r20 GroupedWindowSplit claims the pair
      // and stacks GroupedRank over GroupedOffset on one exchange
      val mixed = base.select(rank().over(w).as("r"), lag($"k", 1).over(w).as("pk"))
      mixed.collect()
      val mixedPlan = mixed.queryExecution.executedPlan.toString
      assert(mixedPlan.contains("GroupedRank") && mixedPlan.contains("GroupedOffset"),
        mixedPlan.take(2000))
      // a mixed node with an UNCLAIMABLE member still keeps the whole
      // node native — no half-split
      val unclaimed = base.select(rank().over(w).as("r"),
        collect_list($"k").over(w).as("cl"))
      unclaimed.collect()
      assert(!unclaimed.queryExecution.executedPlan.toString.contains("GroupedRank"))
      // aggregate window -> native
      val agg = base.select(sum($"k").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"))
      agg.collect()
      assert(!agg.queryExecution.executedPlan.toString.contains("GroupedRank"))
      // nondeterministic order -> native
      val nd = base.select(rank().over(Window.partitionBy($"g").orderBy(rand(7))).as("r"))
      nd.collect()
      assert(!nd.queryExecution.executedPlan.toString.contains("GroupedRank"))
      // size gate: below minBytes the native hash window is the right
      // plan (small groups, no funnel risk worth two passes)
      TestSpark.withConf(graft.plans.GroupedRankRewrite.MinBytesKey, Long.MaxValue.toString) {
        val gated = allSix(base)
        gated.collect()
        assert(!gated.queryExecution.executedPlan.toString.contains("GroupedRank"),
          "below the size threshold the rule must not fire")
      }
    }
  }

  test("GroupedRank orderability guard: unorderable partition types stay native (rule-level)") {
    // The rewrite promotes PARTITION BY keys into SortOrder/Range-
    // Partitioning, a stricter bar than the native window's hash
    // clustering — a partition type the native plan could accept but
    // that is not orderable must keep the Window node rather than
    // fail at planning after the rewrite. No stock Spark type is
    // hashable-but-unorderable today (MapType is neither), so this is
    // exercised at the RULE level on a hand-built node.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Window => LWindow}
    import org.apache.spark.sql.types._
    val m = AttributeReference("m", MapType(StringType, IntegerType))()
    val v = AttributeReference("v", LongType)()
    val child = LocalRelation(m, v)
    val order = Seq(SortOrder(v, Ascending))
    def windowOver(part: Seq[Expression]): LWindow = {
      val spec = WindowSpecDefinition(part, order,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
      LWindow(Seq(Alias(WindowExpression(RowNumber(), spec), "rn")()),
        part, order, child)
    }
    val kept = graft.plans.GroupedRankRewrite(windowOver(Seq(m)))
    assert(kept.isInstanceOf[LWindow],
      s"map-typed partition key must bail to the native window:\n$kept")
    // control: the same node with an orderable key DOES rewrite
    val rewritten = graft.plans.GroupedRankRewrite(windowOver(Seq(v)))
    assert(rewritten.isInstanceOf[graft.plans.GroupedRankNode],
      s"orderable partition key must rewrite:\n$rewritten")
  }
}
