package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GlobalOffset operator (plans/GlobalOffset.scala): frame-less
  * lag/lead windows with an EMPTY partition clause — the third
  * global-window funnel after rank (GlobalRank) and unbounded
  * aggregates (GlobalAgg) — rewritten to the range exchange + a
  * boundary-VALUE exchange. Pinned here: bit-equality with the native
  * window on total orders (multiple offsets, defaults, lag+lead mixed,
  * strings, corpus ends, partitions shorter than the offset), plan
  * shape, and the bail-outs. */
class GlobalOffsetSpec extends AnyFunSuite {
  import TestSpark._

  private def withRule[A](on: Boolean)(body: => A): A =
    TestSpark.withRules(on, graft.plans.GroupedOffsetRewrite)(body)

  private def offsets(df: DataFrame): DataFrame = {
    val w = Window.orderBy(col("k"), col("id"))
    df.select(col("id"), col("k"),
      lag(col("k"), 1).over(w).as("l1"),
      lag(col("k"), 3, -1.0).over(w).as("l3d"),
      lead(col("k"), 1).over(w).as("f1"),
      lead(col("id"), 2, 0L).over(w).as("f2d"),
      lag(col("id"), 2).over(w).as("lid2"))
  }

  test("GlobalOffset: lag/lead mixed offsets + defaults bit-equal to the native window") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), $"value".as("k"))
      .repartition(7)
    val got = withRule(on = true)(offsets(base).orderBy($"id").collect().toSeq)
    val ref = withRule(on = false)(offsets(base).orderBy($"id").collect().toSeq)
    assert(got == ref)
    // corpus ends: the global first row's lag and last row's lead hit
    // the DEFAULT path (null / the literal), same as native — covered
    // by the equality above; empty input runs clean
    val empty = Seq.empty[(Long, Double)].toDF("id", "k")
    assert(withRule(on = true)(offsets(empty).collect()).isEmpty)
  }

  test("GlobalOffset: partitions SHORTER than the offset chain across boundaries") {
    val s = spark
    import s.implicits._
    // 40 rows over 16 shuffle partitions with offset 3: nearly every
    // neighbor lookup crosses a partition boundary, and some chains
    // must skip whole (short or empty) range partitions — the driver
    // stitch accumulates values across however many partitions needed
    val base = (1 to 40).map(i => (i.toLong, i.toDouble)).toDF("id", "k")
      .repartition(5)
    def probe(df: DataFrame) = {
      val w = Window.orderBy(col("k"), col("id"))
      df.select(col("id"),
        lag(col("id"), 3).over(w).as("l3"),
        lead(col("id"), 3).over(w).as("f3"))
    }
    val got = withRule(on = true)(probe(base).orderBy($"id").collect().toSeq)
    val ref = withRule(on = false)(probe(base).orderBy($"id").collect().toSeq)
    assert(got == ref)
    // string payloads (pointer values must survive the ring buffer)
    val words = (1 to 200).map(i => (i.toLong, s"w${i % 17}_$i")).toDF("id", "t")
      .repartition(5)
    def sprobe(df: DataFrame) = {
      val w = Window.orderBy(col("t"))
      df.select(col("id"), lag(col("t"), 2, "-").over(w).as("p2"),
        lead(col("t"), 1).over(w).as("n1"))
    }
    val gotS = withRule(on = true)(sprobe(words).orderBy(col("id")).collect().toSeq)
    val refS = withRule(on = false)(sprobe(words).orderBy(col("id")).collect().toSeq)
    assert(gotS == refS)
    // lag a column that is NOT an order key: the node must expose the
    // offset-input references or ColumnPruning drops the payload
    // column from the child (the r15 references-override regression
    // class, caught on GlobalRunningAgg's RANGE spec)
    val payload = (1 to 300).map(i => (i.toLong, (i % 9).toDouble, i * 7L))
      .toDF("id", "k", "v").repartition(5)
    def vprobe(df: DataFrame) = {
      val w = Window.orderBy(col("k"), col("id"))
      df.select(col("id"), lag(col("v"), 2).over(w).as("pv"),
        lead(col("v"), 1, -1L).over(w).as("nv"))
    }
    val gotV = withRule(on = true)(vprobe(payload).orderBy(col("id")).collect().toSeq)
    val refV = withRule(on = false)(vprobe(payload).orderBy(col("id")).collect().toSeq)
    assert(gotV == refV)
  }

  test("GlobalOffset plan shape: operator + range exchange, no SinglePartition funnel") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir).select($"event_id".as("id"), $"value".as("k"))
    withRule(on = true) {
      val df = offsets(base)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GlobalOffset"), plan.take(2000))
      assert(!plan.contains("SinglePartition"),
        "global offsets must not funnel through one partition:\n" + plan.take(2000))
      assert(plan.contains("rangepartitioning"), plan.take(2000))
    }
    withRule(on = false) {
      val df = offsets(base)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("GlobalOffset") && plan.contains("SinglePartition"))
    }
  }

  test("e33 runs on the GlobalOffset operator: no single-partition funnel in the graded plan") {
    val s = spark
    val df = graft.events.Events.e33RunningDiff(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GlobalOffset"), plan.take(2000))
    assert(!plan.contains("SinglePartition"),
      "the graded global running-difference must never funnel to one partition:\n" +
        plan.take(2000))
  }

  test("GlobalOffset bail-outs: ignoreNulls, over-cap offsets, rank mixes, nondeterminism stay native") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), $"value".as("k"))
    val w = Window.orderBy($"k", $"id")
    withRule(on = true) {
      // ignoreNulls LEAD buffers O(longest null run) rows -> native;
      // ignoreNulls LAG fires since r22 (per-fn non-null rings — its
      // own equivalence test below)
      val ig = base.select(expr("lead(k, 1) IGNORE NULLS OVER (ORDER BY k, id)").as("p"))
      ig.collect()
      assert(!ig.queryExecution.executedPlan.toString.contains("GlobalOffset"),
        "lead ignoreNulls must stay native")
      val igLag = base.select(expr("lag(k, 1) IGNORE NULLS OVER (ORDER BY k, id)").as("p"))
      igLag.collect()
      assert(igLag.queryExecution.executedPlan.toString.contains("GlobalOffset"),
        "lag ignoreNulls must fire (r22)")
      // offset beyond the cap -> native (boundary exchange would ship
      // maxOffset values per partition)
      TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MaxOffsetKey, "2") {
        val big = base.select(lag($"k", 3).over(w).as("p"))
        big.collect()
        assert(!big.queryExecution.executedPlan.toString.contains("GlobalOffset"))
        // ...and the same offset under a permissive cap DOES rewrite
      }
      val ok = base.select(lag($"k", 3).over(w).as("p"))
      ok.collect()
      assert(ok.queryExecution.executedPlan.toString.contains("GlobalOffset"))
      // mixed node (lag + rank over the same spec): neither family
      // owns it alone — since r17 GlobalWindowSplit splits it into
      // BOTH operators (the pre-r17 native-funnel decision survives
      // only behind the split's kill switch)
      val mixed = base.select(lag($"k", 1).over(w).as("p"), rank().over(w).as("r"))
      mixed.collect()
      val mplan = mixed.queryExecution.executedPlan.toString
      assert(mplan.contains("GlobalOffset") && mplan.contains("GlobalRank"), mplan.take(2000))
      TestSpark.withoutRules(graft.plans.WindowSplit) {
        val whole = base.select(lag($"k", 1).over(w).as("p"), rank().over(w).as("r"))
        whole.collect()
        val wplan = whole.queryExecution.executedPlan.toString
        assert(!wplan.contains("GlobalOffset") && !wplan.contains("GlobalRank"), wplan.take(2000))
      }
      // nondeterministic order -> native
      val nd = base.select(lag($"k", 1).over(Window.orderBy(rand(7))).as("p"))
      nd.collect()
      assert(!nd.queryExecution.executedPlan.toString.contains("GlobalOffset"))
      // PARTITIONED lag: not a global funnel -> native
      val part = base.select(lag($"k", 1).over(
        Window.partitionBy($"id" % 10).orderBy($"k", $"id")).as("p"))
      part.collect()
      assert(!part.queryExecution.executedPlan.toString.contains("GlobalOffset"))
    }
  }

  test("r21 default small-input gate: minBytes `auto` = the AQE advisory partition size") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), $"value".as("k"))
    val w = Window.orderBy($"k", $"id")
    val df = () => base.select(lag($"k", 1).over(w).as("p"))
    def planOf(d: DataFrame): String = d.queryExecution.executedPlan.toString
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MinBytesKey, "auto") {
      assert(!planOf(df()).contains("GlobalOffset"),
        "below one advisory partition the node must stay native")
      TestSpark.withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1") {
        assert(planOf(df()).contains("GlobalOffset"),
          "above the (lowered) advisory size the operator must fire")
      }
      // demoted-native RESULTS equal the operator's (the full mixed
      // lag/lead + defaults battery via the shared offsets() helper)
      val demoted = offsets(base).collect().toSeq.sortBy(_.getLong(0))
      val onOp = TestSpark.withConf(
          graft.plans.GroupedOffsetRewrite.MinBytesKey, "0") {
        offsets(base).collect().toSeq.sortBy(_.getLong(0))
      }
      assert(demoted == onOp, "demoted native vs operator results")
    }
  }

  test("r21 single-partition fixed-cost trim: pass 1 skipped (one job total), equal to native") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), $"value".as("k"))
    def run(on: Boolean): (Seq[org.apache.spark.sql.Row], Int) =
      TestSpark.withConf("spark.sql.adaptive.enabled", "false") {
        TestSpark.withConf("spark.sql.shuffle.partitions", "1") {
          withRule(on) {
            val df = offsets(base)
            if (on) assert(df.queryExecution.executedPlan.toString
              .contains("GlobalOffset"), "operator must be live")
            val gid = s"glob-skip-$on"
            s.sparkContext.setJobGroup(gid, "r21 pass-1 skip canary")
            try {
              val rows = df.collect().toSeq.sortBy(_.getLong(0))
              (rows, s.sparkContext.statusTracker.getJobIdsForGroup(gid).length)
            } finally s.sparkContext.clearJobGroup()
          }
        }
      }
    val (onRows, onJobs) = run(on = true)
    val (offRows, _) = run(on = false)
    assert(onRows == offRows, "single-partition global offset must equal native")
    assert(onJobs == 1,
      s"pass 1 must be skipped on a single post-exchange partition: expected " +
        s"1 job (the collect), saw $onJobs")
  }

  test("r22 lag IGNORE NULLS: per-fn non-null rings bit-equal to native — sparse non-nulls chain across many partitions") {
    val s = spark
    import s.implicits._
    // ~1 non-null per 197 rows over 16 range partitions: most
    // partitions ship EMPTY non-null rings and the driver chain must
    // carry values across several hops; depth-3 rings mix with a
    // plain lag and a lead in ONE node (the respect-null row ring and
    // the nn rings coexist); head-of-corpus rows (< depth non-nulls
    // anywhere) take the DEFAULT
    val base = (1 to 4000).map { i =>
      (i.toLong, i.toDouble, if (i % 197 == 0) Some(i.toLong) else None)
    }.toDF("id", "k", "sparse").repartition(16)
    def q(df: DataFrame): DataFrame = {
      val w = Window.orderBy(col("k"), col("id"))
      df.select(col("id"),
        lag(col("sparse"), 1, null, true).over(w).as("nn1"),
        lag(col("sparse"), 3, -7L, true).over(w).as("nn3d"),
        lag(col("k"), 2).over(w).as("l2"),
        lead(col("k"), 1).over(w).as("f1"))
    }
    val on = withRule(on = true) {
      val df = q(base)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GlobalOffset"), plan.take(2000))
      df.orderBy($"id").collect().toSeq
    }
    val off = withRule(on = false)(q(base).orderBy($"id").collect().toSeq)
    assert(on == off, s"ignoreNulls lag diverges; first: ${
      on.zip(off).filter { case (a, b) => a != b }.take(3)}")
    // an ALL-NULL input column: every row takes the default
    val allNull = (1 to 300).map(i => (i.toLong, i.toDouble, None: Option[Long]))
      .toDF("id", "k", "sparse").repartition(4)
    val onA = withRule(on = true)(q(allNull).orderBy($"id").collect().toSeq)
    val offA = withRule(on = false)(q(allNull).orderBy($"id").collect().toSeq)
    assert(onA == offA, "all-null ignoreNulls input must take defaults like native")
  }
}
