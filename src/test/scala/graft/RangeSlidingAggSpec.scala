package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.RangeSlidingAggRewrite]] — bounded RANGE-VALUE
  * sliding frames on the distributed row-halo operator (r19; the last
  * window-frame class with no scale path, recorded as future work by
  * SlidingAgg's r18 scaladoc). RANGE frames are VALUE-based and hence
  * tie-STABLE: every peer (equal order value) shares one frame that
  * includes all peers — which these cases exploit by building heavy
  * duplicate-value runs and asserting bit-equality against the native
  * window on exact types. */
class RangeSlidingAggSpec extends AnyFunSuite {
  import TestSpark._

  private def withRule[A](on: Boolean)(body: => A): A =
    TestSpark.withRules(on, graft.plans.RangeSlidingAggRewrite)(body)

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    assert(got.size == ref.size, s"$what: size ${got.size} != ${ref.size}")
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  /** id total order; o has heavy duplicate runs (ties); cn is a
    * null-bearing aggregate input; g splits into 5 groups. */
  private def data = {
    val s = spark
    import s.implicits._
    (0 until 9000).map { i =>
      (i.toLong, (i % 5).toLong, (i / 3).toLong * 7L,
        if (i % 11 == 0) None else Some(((i * 37) % 1000).toLong))
    }.toDF("id", "g", "o", "cn")
  }

  test("global trailing/centered/strictly-past RANGE frames bit-equal to native (ties, nulls in input)") {
    val s = spark
    import s.implicits._
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      data.select($"id", $"o", $"cn",
        sum($"cn").over(w.rangeBetween(-70, 0)).as("trail"),
        count($"cn").over(w.rangeBetween(-70, 0)).as("trail_n"),
        min($"cn").over(w.rangeBetween(-21, 21)).as("band_lo"),
        max($"cn").over(w.rangeBetween(-21, 21)).as("band_hi"),
        avg($"cn").over(w.rangeBetween(-100, -7)).as("past_avg"),
        sum($"cn").over(w.rangeBetween(7, 70)).as("future"))
    }
    val got = withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RangeSlidingAgg"), plan.take(2500))
      assert(!plan.contains("Window ["),
        "no native window may survive:\n" + plan.take(2500))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "global RANGE frames")
  }

  test("grouped RANGE frames clip at group boundaries; NULL order values form their own peer band") {
    val s = spark
    import s.implicits._
    // null ORDER values: one group's first rows — Spark RANGE
    // semantics give them a shared frame of exactly the null peers
    val nd = data.withColumn("on",
      when($"id" % 13 === 0, lit(null).cast("long")).otherwise($"o"))
    def q(): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"on")
      nd.select($"id", $"g", $"on", $"cn",
        sum($"cn").over(w.rangeBetween(-70, 0)).as("trail"),
        count(lit(1)).over(w.rangeBetween(-35, 35)).as("band_n"))
    }
    val got = withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RangeSlidingAgg"), plan.take(2500))
      assert(!plan.contains("Window ["), plan.take(2500))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "grouped RANGE frames with null order band")
  }

  test("halo spans MANY partitions: value window far wider than a partition's span") {
    val s = spark
    import s.implicits._
    // 64 tiny partitions, frame value-width covering dozens of them:
    // the row-halo must ship each row to every partition whose span
    // its reach intersects, and the window must retain across them
    val t = data.repartitionByRange(64, $"o", $"id")
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      t.select($"id", $"o", $"cn",
        sum($"cn").over(w.rangeBetween(-5000, 0)).as("wide_trail"),
        count(lit(1)).over(w.rangeBetween(-2000, 2000)).as("wide_band"))
    }
    val got = withRule(on = true) {
      val df = q()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RangeSlidingAgg"), plan.take(2500))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "many-partition halo")
  }

  test("day-one canary: pre-existing FINER (o, id) exchange splits peer runs — reused exchange, halo stitches peers") {
    val s = spark
    import s.implicits._
    // RangePartitioning on the finer (o, id) satisfies
    // OrderedDistribution(o) by the common-prefix rule and SPLITS the
    // 3-row o-tie runs across partition boundaries — RANGE frames
    // include ALL peers, so the halo must ship the split peers both
    // ways. The finer keys stay in the projection (the r16
    // ColumnPruning trap).
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val t = data.repartitionByRange(37, $"o", $"id")
      def q(): DataFrame = {
        val w = Window.orderBy($"o")
        t.select($"id", $"o", $"cn",
          sum($"cn").over(w.rangeBetween(0, 0)).as("peer_sum"),
          count(lit(1)).over(w.rangeBetween(-7, 0)).as("trail_n"))
      }
      val got = withRule(on = true) {
        val df = q()
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("RangeSlidingAgg"), plan.take(2500))
        val finalSection = plan.split("== Initial Plan ==").head
        val nRange = finalSection.split("Exchange rangepartitioning").length - 1
        assert(nRange == 1,
          s"the operator must REUSE the finer pre-existing exchange, got $nRange:\n" +
            finalSection.take(2500))
        df.collect().toSeq.sortBy(_.getLong(0))
      }
      val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
      assertSame(got, ref, "finer-exchange split peer runs")
    }
  }

  test("q25 graded flip: the trailing-30-day query plans on the operator, bit-equal to native") {
    val s = spark
    def q(): DataFrame = graft.relational.Relational.q25TrailingSpend(s, SfDir)
    val got = withRule(on = true) {
      val df = q()
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RangeSlidingAgg"),
        "q25 must plan on the RANGE-value operator:\n" + plan.take(2500))
      assert(!plan.contains("Window ["), plan.take(2500))
      df.collect().toSeq
    }
    val ref = withRule(on = false)(q().collect().toSeq)
    assertSame(got, ref, "q25 flip")
  }

  test("split composition: rank + running + RANGE-value members in ONE select stack on one shared exchange (global and grouped)") {
    val s = spark
    import s.implicits._
    def allOff[A](body: => A): A =
      TestSpark.withoutRules(graft.plans.WindowSplit, graft.plans.GroupedRankRewrite,
          graft.plans.GroupedRunningAggRewrite) {
        withRule(on = false)(body)
      }
    // global: the analyzer merges all three classes into ONE node
    def gq(): DataFrame = {
      val w = Window.orderBy($"o")
      data.select($"id", $"o", $"cn",
        rank().over(w).as("r"),
        sum($"cn").over(w).as("run"),
        sum($"cn").over(w.rangeBetween(-70, 0)).as("trail"))
    }
    val got = {
      val df = gq()
      val plan = df.queryExecution.executedPlan.toString
      for (op <- Seq("GlobalRank", "GlobalRunningAgg", "RangeSlidingAgg"))
        assert(plan.contains(op), s"$op missing from the split stack:\n" + plan.take(2500))
      assert(!plan.contains("Window ["), plan.take(2500))
      val finalSection = plan.split("== Initial Plan ==").head
      val nRange = finalSection.split("Exchange rangepartitioning").length - 1
      assert(nRange == 1,
        s"the three-class stack must share ONE range exchange, got $nRange:\n" +
          finalSection.take(2500))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(got, allOff(gq().collect().toSeq.sortBy(_.getLong(0))),
      "global rank+running+range-value split")
    // grouped analog
    def pq(): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"o")
      data.select($"id", $"g", $"o", $"cn",
        rank().over(w).as("r"),
        sum($"cn").over(w).as("run"),
        count(lit(1)).over(w.rangeBetween(-35, 35)).as("band_n"))
    }
    val pgot = {
      val df = pq()
      val plan = df.queryExecution.executedPlan.toString
      for (op <- Seq("GroupedRank", "GroupedRunningAgg", "RangeSlidingAgg"))
        assert(plan.contains(op), s"$op missing from the grouped stack:\n" + plan.take(2500))
      assert(!plan.contains("Window ["), plan.take(2500))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(pgot, allOff(pq().collect().toSeq.sortBy(_.getLong(0))),
      "grouped rank+running+range-value split")
    // an out-of-scope order (desc) keeps the WHOLE mixed node native —
    // the split must not strand the RANGE member behind a funnel
    val desc = data.select($"id",
      rank().over(Window.orderBy($"o".desc)).as("r"),
      sum($"cn").over(Window.orderBy($"o".desc).rangeBetween(-70, 0)).as("t"))
    val dplan = desc.queryExecution.executedPlan.toString
    assert(!dplan.contains("RangeSlidingAgg") && !dplan.contains("GlobalRank"),
      "desc-order RANGE member must keep the whole node native:\n" + dplan.take(2000))
  }

  test("q52 graded plan: the corpus-global RANGE window runs on the operator — no native window, no AllTuples funnel") {
    val s = spark
    val df = graft.relational.Relational.q52TrailingFleetRevenue(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RangeSlidingAgg"),
      "q52 must plan on the RANGE-value operator:\n" + plan.take(2500))
    assert(!plan.contains("Window ["), plan.take(2500))
    assert(!plan.contains("SinglePartition"),
      "the corpus must never funnel into one partition:\n" + plan.take(2500))
  }

  test("q53 graded plan: the trailing-YEAR fleet window runs on the operator; its wide frame consolidates once partitions are narrower than the frame") {
    val s = spark
    import s.implicits._
    // the graded plan itself (spec-size partitions are wider than the
    // 365-day frame, so it runs on the plain row halo)
    val df = graft.relational.Relational.q53TrailingYear(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RangeSlidingAgg"),
      "q53 must plan on the RANGE-value operator:\n" + plan.take(2500))
    assert(!plan.contains("Window ["), plan.take(2500))
    assert(!plan.contains("SinglePartition"), plan.take(2500))
    // the same shape over a 48-way exchange (~50-day spans < the
    // 365-day frame — the sf0.1 driver geometry): consolidation live
    val w = Window.orderBy($"es").rangeBetween(-31536000L, 0L)
    val orders = Tables.orders(s, SfDir)
      .select($"o_orderkey",
        $"o_orderdate".cast("timestamp").cast("long").as("es"),
        (Exact.dec($"o_totalprice") * 100).cast("long").as("cents"))
      .repartitionByRange(48, $"es", $"o_orderkey")
    def q(): DataFrame =
      orders.select($"o_orderkey", $"cents",
        sum($"cents").over(w).as("year_cents"),
        count(lit(1)).over(w).as("year_orders"),
        min($"cents").over(w).as("year_min"))
    val (gotC, _, totC) = withRule(on = true)(runWithMetrics(q()))
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(gotC, ref, "q53 shape, consolidated")
    assert(totC > 0,
      s"the year frame over 48 narrow partitions must consolidate (totalHalo=$totC)")
  }

  test("bails: desc/multi-col/non-integral order, unbounded frames, imperative agg, kill switch, minBytes") {
    val s = spark
    import s.implicits._
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    def stillNative(df: DataFrame, what: String): Unit =
      assert(!planOf(df).contains("RangeSlidingAgg"),
        s"$what must stay native:\n" + planOf(df).take(2000))
    // desc order: out of the recorded scope
    stillNative(data.select($"id", sum($"cn").over(
      Window.orderBy($"o".desc).rangeBetween(-70, 0)).as("x")), "desc order")
    // non-integral order type
    stillNative(data.withColumn("od", $"o".cast("double")).select($"id",
      sum($"cn").over(Window.orderBy($"od").rangeBetween(-70, 0)).as("x")),
      "double order type")
    // running RANGE frame (UnboundedPreceding) stays the running family's
    val run = data.select($"id", sum($"cn").over(
      Window.partitionBy($"g").orderBy($"o")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)).as("x"))
    assert(!planOf(run).contains("RangeSlidingAgg"),
      "running frames belong to GroupedRunningAgg:\n" + planOf(run).take(2000))
    // imperative aggregate
    stillNative(data.select($"id", collect_list($"cn").over(
      Window.orderBy($"o").rangeBetween(-70, 0)).as("x")), "imperative agg")
    // kill switch
    withRule(on = false) {
      stillNative(data.select($"id", sum($"cn").over(
        Window.orderBy($"o").rangeBetween(-70, 0)).as("x")), "kill switch")
    }
    // minBytes lever
    TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.MinBytesKey, (1L << 40).toString) {
      stillNative(data.select($"id", sum($"cn").over(
        Window.orderBy($"o").rangeBetween(-70, 0)).as("x")), "minBytes lever")
    }
  }

  test("DATE and TIMESTAMP orders with INTERVAL bounds (the natural time-series phrasing) — bit-equal; month/sub-day intervals bail") {
    val s = spark
    import s.implicits._
    val d = data
      .withColumn("dt", date_add(lit("2024-01-01").cast("date"), ($"o" % 1000).cast("int")))
      .withColumn("ts", timestamp_seconds($"o" * 3600))
    d.createOrReplaceTempView("rs_time_t")
    // DATE order + whole-day interval
    val dateSql = """
      SELECT id, sum(cn) OVER (PARTITION BY g ORDER BY dt
        RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS t
      FROM rs_time_t"""
    val dateGot = withRule(on = true) {
      val df = s.sql(dateSql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RangeSlidingAgg"),
        "a DATE order with whole-day INTERVAL bounds must plan on the operator:\n" +
          plan.take(2000))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(dateGot,
      withRule(on = false)(s.sql(dateSql).collect().toSeq.sortBy(_.getLong(0))),
      "DATE order + day interval")
    // TIMESTAMP order + hour interval (µs units)
    val tsSql = """
      SELECT id, sum(cn) OVER (ORDER BY ts
        RANGE BETWEEN INTERVAL 36 HOURS PRECEDING AND INTERVAL 12 HOURS FOLLOWING) AS t
      FROM rs_time_t"""
    val tsGot = withRule(on = true) {
      val df = s.sql(tsSql)
      assert(df.queryExecution.executedPlan.toString.contains("RangeSlidingAgg"),
        "a TIMESTAMP order with day-time INTERVAL bounds must plan on the operator")
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(tsGot,
      withRule(on = false)(s.sql(tsSql).collect().toSeq.sortBy(_.getLong(0))),
      "TIMESTAMP order + hour interval")
    // a MONTH interval is not a fixed offset: native
    val monthPlan = s.sql("""
      SELECT id, sum(cn) OVER (ORDER BY dt
        RANGE BETWEEN INTERVAL 1 MONTH PRECEDING AND CURRENT ROW) AS t
      FROM rs_time_t""").queryExecution.executedPlan.toString
    assert(!monthPlan.contains("RangeSlidingAgg"),
      "year-month interval bounds must stay native:\n" + monthPlan.take(2000))
    // a sub-day interval over a DATE order is rejected by SPARK at
    // analysis (RANGE_FRAME_INVALID_TYPE) — the operator's whole-days
    // modulo guard is belt-and-braces behind the analyzer's own check
    val subDay = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("""
        SELECT id, sum(cn) OVER (ORDER BY dt
          RANGE BETWEEN INTERVAL 36 HOURS PRECEDING AND CURRENT ROW) AS t
        FROM rs_time_t""").queryExecution.analyzed
    }
    assert(subDay.getMessage.contains("RANGE_FRAME_INVALID_TYPE"))
  }

  test("order-sensitive first()/last() over a UNIQUE order: merged fold order matches native") {
    val s = spark
    import s.implicits._
    // ties make first/last per-function arbitrary (native included);
    // over a UNIQUE order the merged local+halo fold must pick exactly
    // the native row — including ignoreNulls skipping
    val u = data.withColumn("uo", $"id") // unique order values
    def q(): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"uo")
      u.select($"id", $"g", $"cn",
        first($"cn", ignoreNulls = true).over(w.rangeBetween(-40, 0)).as("f"),
        last($"cn", ignoreNulls = true).over(w.rangeBetween(-40, 40)).as("l"))
    }
    val got = withRule(on = true) {
      val df = q()
      assert(df.queryExecution.executedPlan.toString.contains("RangeSlidingAgg"))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(got, withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0))),
      "first/last over unique RANGE order")
  }

  test("schema order kept; decimal sums exact; empty input") {
    val s = spark
    import s.implicits._
    val d = data.withColumn("dec", ($"cn" * 13).cast("decimal(18,2)"))
    def q(df: DataFrame): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"o")
      df.select($"id", $"g", $"o",
        sum($"dec").over(w.rangeBetween(-70, 0)).as("dsum"),
        avg($"dec").over(w.rangeBetween(-70, 70)).as("davg"))
    }
    val got = withRule(on = true) {
      val df = q(d)
      assert(df.schema.map(_.name) == Seq("id", "g", "o", "dsum", "davg"))
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    val ref = withRule(on = false)(q(d).collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "decimal RANGE sums")
    val empty = Seq.empty[(Long, Long, Long, Option[Long])].toDF("id", "g", "o", "cn")
      .withColumn("dec", ($"cn" * 13).cast("decimal(18,2)"))
    assert(withRule(on = true)(q(empty).collect()).isEmpty)
  }

  // --- wide-frame consolidation (partition-total halo buffers) ---

  private def withConsolidate[A](on: Boolean)(body: => A): A =
    TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.ConsolidateKey, on.toString)(body)

  /** The live exec after execution (descends AQE wrappers). */
  private def findExec(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[graft.plans.RangeSlidingAggExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      findExec(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findExec(q.plan)
    case e: graft.plans.RangeSlidingAggExec => Some(e)
    case other => other.children.iterator.map(findExec).collectFirst { case Some(e) => e }
  }

  /** Runs q, returns (sorted rows, rawHalo metric, totalHalo metric). */
  private def runWithMetrics(df: DataFrame): (Seq[Row], Long, Long) = {
    val rows = df.collect().toSeq.sortBy(_.getLong(0))
    val exec = findExec(df.queryExecution.executedPlan)
      .getOrElse(fail("RangeSlidingAggExec not in executed plan:\n" +
        df.queryExecution.executedPlan.toString.take(2500)))
    (rows, exec.metrics("rawHalo").value, exec.metrics("totalHalo").value)
  }

  test("wide-frame consolidation: frames spanning whole partitions ship per-group TOTAL buffers — bit-equal, metrics witness the split") {
    val s = spark
    import s.implicits._
    // 48 tiny partitions (span ~437 in o units) under ±7000-wide
    // frames: most source partitions sit inside EVERY frame of many
    // targets and must ship ONE merged buffer per frame group instead
    // of per-row copies. Ties (3-row peer runs), nulls in the
    // aggregate input, and a decimal sum keep the merge path honest.
    val t = data.withColumn("dec", ($"cn" * 13).cast("decimal(18,2)"))
      .repartitionByRange(48, $"o", $"id")
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      t.select($"id", $"o", $"cn",
        sum($"cn").over(w.rangeBetween(-7000, 0)).as("trail"),
        count($"cn").over(w.rangeBetween(-7000, 7000)).as("band_n"),
        min($"cn").over(w.rangeBetween(-7000, 7000)).as("band_lo"),
        sum($"dec").over(w.rangeBetween(-7000, 0)).as("dtrail"))
    }
    val (gotC, rawC, totC) = withRule(on = true)(runWithMetrics(q()))
    val (gotR, rawR, totR) =
      withRule(on = true)(withConsolidate(on = false)(runWithMetrics(q())))
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(gotC, ref, "consolidated wide-frame")
    assertSame(gotR, ref, "consolidation-off wide-frame")
    assert(totC > 0, s"consolidation did not fire (totalHalo=$totC)")
    assert(totR == 0, s"consolidate=false still shipped totals ($totR)")
    assert(rawC < rawR,
      s"consolidation must SHRINK the raw halo: $rawC !< $rawR")
  }

  test("grouped wide-frame consolidation: single-group interior partitions total, group-boundary partitions stay raw") {
    val s = spark
    import s.implicits._
    // 3 huge groups under a 48-way (g, o, id) range exchange: ~16
    // partitions per group are single-key (consolidatable); the ≤2
    // partitions straddling each group boundary must keep the raw
    // path. Frames clip at group edges — equality vs native pins both.
    val t = data.withColumn("g3", $"id" % 3)
      .repartitionByRange(48, $"g3", $"o", $"id")
    def q(): DataFrame = {
      val w = Window.partitionBy($"g3").orderBy($"o")
      t.select($"id", $"g3", $"cn",
        sum($"cn").over(w.rangeBetween(-7000, 0)).as("trail"),
        count(lit(1)).over(w.rangeBetween(-7000, 7000)).as("band_n"))
    }
    val (gotC, _, totC) = withRule(on = true)(runWithMetrics(q()))
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(gotC, ref, "grouped consolidated wide-frame")
    assert(totC > 0, s"grouped consolidation did not fire (totalHalo=$totC)")
  }

  test("a NULL-ORDER band spanning whole partitions consolidates frame-independently (every null frame is the whole band)") {
    val s = spark
    import s.implicits._
    // 40% null order values, nulls first: ~12 of 32 partitions are
    // ALL-null and ship band totals even under a NARROW frame (a null
    // band's frame is value-free). Order-insensitive aggregates only —
    // the band is one giant peer group.
    val nd = data.withColumn("on",
        when($"id" < 3600, lit(null).cast("long")).otherwise($"o"))
      .repartitionByRange(32, $"on", $"id")
    def q(): DataFrame = {
      val w = Window.orderBy($"on")
      nd.select($"id", $"on", $"cn",
        sum($"cn").over(w.rangeBetween(-70, 0)).as("trail"),
        count(lit(1)).over(w.rangeBetween(-70, 0)).as("n"),
        avg($"cn").over(w.rangeBetween(-35, 35)).as("band_avg"))
    }
    val (gotC, _, totC) = withRule(on = true)(runWithMetrics(q()))
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(gotC, ref, "null-band consolidation")
    assert(totC > 0, s"null-band consolidation did not fire (totalHalo=$totC)")
  }

  test("NARROW + WIDE frames in ONE node: group windows of wildly different spans; mixed bounds block consolidation (all-groups rule)") {
    val s = spark
    import s.implicits._
    // one frame group spans ±21 (a handful of rows), the other
    // 7000 values (~16 of the 48 partitions): each group's two-stack
    // window advances independently over the same merged stream, and
    // the containment test — which requires the source inside the
    // TIGHTEST frame of every group — must block totals entirely
    val t = data.repartitionByRange(48, $"o", $"id")
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      t.select($"id", $"o", $"cn",
        min($"cn").over(w.rangeBetween(-21, 21)).as("tight_lo"),
        sum($"cn").over(w.rangeBetween(-7000, 0)).as("wide_trail"),
        count(lit(1)).over(w.rangeBetween(-7000, 0)).as("wide_n"))
    }
    val (gotC, _, totC) = withRule(on = true)(runWithMetrics(q()))
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(gotC, ref, "narrow+wide mixed-extent frames")
    assert(totC == 0,
      s"mixed narrow+wide bounds must block consolidation (totalHalo=$totC)")
  }

  test("order-sensitive first/last over a UNIQUE order stay native-exact through TOTAL buffer merges") {
    val s = spark
    import s.implicits._
    // unique order values (no peers): first/last are deterministic, so
    // the merge fold (totals merged in ascending span position between
    // raw updates) must reproduce the native pick exactly
    val u = (0 until 9000).map { i =>
      (i.toLong, i.toLong * 7L,
        if (i % 11 == 0) None else Some(((i * 37) % 1000).toLong))
    }.toDF("id", "o", "cn").repartitionByRange(48, $"o", $"id")
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      u.select($"id", $"o",
        first($"cn").over(w.rangeBetween(-7000, 0)).as("f"),
        last($"cn").over(w.rangeBetween(-7000, 0)).as("l"),
        first($"cn", ignoreNulls = true).over(w.rangeBetween(-7000, 7000)).as("fnn"))
    }
    val (gotC, _, totC) = withRule(on = true)(runWithMetrics(q()))
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(gotC, ref, "first/last under consolidation")
    assert(totC > 0, s"consolidation did not fire (totalHalo=$totC)")
  }

  test("DESC trailing frames via the negated-order workaround plan on the operator, value-equal to the native DESC window") {
    val s = spark
    import s.implicits._
    // the recorded scope is ONE ASCENDING order column; a descending
    // trailing frame is expressible by NEGATING the order column
    // (RANGE frames depend only on value differences — README cost
    // levers). Null order rows check the null-band claim: NULLS LAST
    // (desc default) vs NULLS FIRST (asc default) is value-immaterial
    // because a null row's frame is the whole null band either way.
    val rows = (0 until 6000).map { i =>
      (i.toLong,
        if (i % 13 == 0) None else Some((i / 3).toLong * 7L),
        if (i % 11 == 0) None else Some(((i * 37) % 1000).toLong))
    }.toDF("id", "o", "cn")
    val gotNeg = withRule(on = true) {
      val w = Window.orderBy($"no")
      val df = rows.withColumn("no", -$"o")
        .select($"id",
          sum($"cn").over(w.rangeBetween(-70, 0)).as("trail"),
          count($"cn").over(w.rangeBetween(-70, 0)).as("trail_n"),
          max($"cn").over(w.rangeBetween(-70, 0)).as("trail_hi"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("RangeSlidingAgg"),
        "the negated-order form must plan on the operator:\n" + plan.take(2500))
      assert(!plan.contains("Window ["), plan.take(2500))
      df.collect().toSeq.map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3)))
        .sortBy(_._1)
    }
    val refDesc = withRule(on = false) {
      val w = Window.orderBy($"o".desc)
      rows.select($"id",
          sum($"cn").over(w.rangeBetween(-70, 0)).as("trail"),
          count($"cn").over(w.rangeBetween(-70, 0)).as("trail_n"),
          max($"cn").over(w.rangeBetween(-70, 0)).as("trail_hi"))
        .collect().toSeq.map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3)))
        .sortBy(_._1)
    }
    val bad = gotNeg.zip(refDesc).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"negated-order vs native DESC: ${bad.size}/${refDesc.size} diverge; first: ${bad.take(3)}")
  }

  test("maxRetainedBytes: a dense frame past the ceiling FAILS FAST with the remedy named; at the default it completes") {
    val s = spark
    import s.implicits._
    // every row's frame covers the whole 9000-row corpus — the
    // retention window holds all of it in one task's heap, the exact
    // data-dependent shape the r19 verdict flagged (native spills,
    // the operator's ArrayDeques did not bound). The ceiling turns
    // the unattributable OOM into an actionable error.
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      data.select($"id",
        sum($"cn").over(w.rangeBetween(-100000, 100000)).as("tot"),
        count($"cn").over(w.rangeBetween(-100000, 100000)).as("n"))
    }
    TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.MaxRetainedBytesKey, "20000") {
      withRule(on = true) {
        val ex = intercept[Exception] { q().collect() }
        def messages(t: Throwable): Seq[String] =
          if (t == null) Nil
          else Option(t.getMessage).toSeq ++ messages(t.getCause)
        val all = messages(ex).mkString("\n")
        assert(all.contains(graft.plans.RangeSlidingAggRewrite.MaxRetainedBytesKey),
          s"the failure must name the conf to raise:\n$all")
        assert(all.contains(graft.plans.RangeSlidingAggRewrite.ruleName),
          s"the failure must name the native fallback:\n$all")
      }
    }
    // at the 8 GiB default the same query completes and matches native
    val got = withRule(on = true)(q().collect().toSeq.sortBy(_.getLong(0)))
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "dense full-cover frame under the default ceiling")
  }

  test("maxRetainedBytes: the fallback setting the failure names plans native and returns the operator's rows") {
    val s = spark
    import s.implicits._
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      data.select($"id",
        sum($"cn").over(w.rangeBetween(-100000, 100000)).as("tot"),
        count($"cn").over(w.rangeBetween(-100000, 100000)).as("n"))
    }
    val operatorRows = q().collect().toSeq.sortBy(_.getLong(0))
    TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.MaxRetainedBytesKey, "20000") {
      val ex = intercept[Exception] { q().collect() }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      // the `key=value` the failure tells the user to set, verbatim
      val named = messages(ex)
        .flatMap("""(\S+)=(\S+) \(added to any rules""".r.findFirstMatchIn(_)).headOption
        .getOrElse(fail("no fallback setting named in:\n" + messages(ex).mkString("\n")))
      TestSpark.withConf(named.group(1), named.group(2)) {
        val df = q()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("RangeSlidingAgg"),
          s"${named.matched} must plan native:\n" + plan.take(2500))
        assertSame(df.collect().toSeq.sortBy(_.getLong(0)), operatorRows,
          s"native rows under ${named.matched}")
      }
    }
  }

  /** Runs df, returns (sorted rows, spillBytes metric). */
  private def runWithSpill(df: DataFrame): (Seq[Row], Long) = {
    val rows = df.collect().toSeq.sortBy(_.getLong(0))
    val exec = findExec(df.queryExecution.executedPlan)
      .getOrElse(fail("RangeSlidingAggExec not in executed plan:\n" +
        df.queryExecution.executedPlan.toString.take(2500)))
    (rows, exec.metrics("spillBytes").value)
  }

  test("spill (r21): a dense full-cover frame past the spill threshold COMPLETES, matches native, metric witnesses the spill") {
    val s = spark
    import s.implicits._
    // the r20 fail-fast shape — every frame covers the whole corpus,
    // retention = the task's whole input — now crosses a deliberately
    // tiny spill threshold: pending/inbox/back-stack all spill and the
    // task completes where the r20 build could only fail with advice.
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      data.select($"id",
        sum($"cn").over(w.rangeBetween(-100000, 100000)).as("tot"),
        count($"cn").over(w.rangeBetween(-100000, 100000)).as("n"),
        min($"cn").over(w.rangeBetween(-100000, 100000)).as("mn"))
    }
    val (got, spilled) =
      TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.SpillThresholdBytesKey, "8192") {
        withRule(on = true)(runWithSpill(q()))
      }
    assert(spilled > 0, "the spillBytes metric must witness disk chunks")
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "spilled dense frame vs native")
  }

  test("spill (r21): grouped SLIDING frames spill through two-stack flips (evictions) and stay bit-equal; first/last keep fold order") {
    val s = spark
    import s.implicits._
    // narrow trailing frames force continuous evictions — every flip
    // reverse-drains a (possibly spilled) back stack and rebuilds the
    // fused front through the reversed-layout writer; first()/last()
    // pin the fold ORDER through serialization round trips (o is
    // unique per group, so native is deterministic too).
    // frames wide enough that the back stack accumulates many chunks
    // between flips (a narrow frame drains its tail before a chunk
    // fills and legitimately never touches disk)
    def q(): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"o")
      data.select($"id",
        sum($"cn").over(w.rangeBetween(-3000, 0)).as("tot"),
        count($"cn").over(w.rangeBetween(-3000, 0)).as("n"),
        first($"cn", ignoreNulls = true).over(w.rangeBetween(-3000, 0)).as("f"),
        max($"cn").over(w.rangeBetween(-5000, -70)).as("mx"))
    }
    val (got, spilled) =
      TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.SpillThresholdBytesKey, "2048") {
        withRule(on = true)(runWithSpill(q()))
      }
    assert(spilled > 0, "evicting frames must spill under the tiny threshold")
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "spilled grouped sliding frames vs native")
  }

  test("spill (r21): consolidated TOTAL halo buffers round-trip the spill serde (wide frames + spill together)") {
    val s = spark
    import s.implicits._
    // wide frames make interior partitions ship TotalHalo buffers
    // (bufs != null entries) — the serde's array-of-buffers path —
    // while the tiny threshold spills the windows that retain them
    val many = (0 until 6000).map { i =>
      (i.toLong, (i / 3000).toLong, i.toLong % 3000, (i % 97).toLong)
    }.toDF("id", "g", "o", "cn").repartitionByRange(24, $"g", $"o")
    def q(): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"o")
      many.select($"id",
        sum($"cn").over(w.rangeBetween(-2000, 2000)).as("tot"),
        count(lit(1)).over(w.rangeBetween(-2000, 2000)).as("n"))
    }
    val (got, spilled) =
      TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.SpillThresholdBytesKey, "4096") {
        withRule(on = true)(runWithSpill(q()))
      }
    assert(spilled > 0, "wide-frame retention must spill under the tiny threshold")
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "spilled consolidated wide frames vs native")
  }

  test("spill (r22): the ceiling bounds LIVE footprint, not cumulative-ever-spilled bytes") {
    val s = spark
    import s.implicits._
    // evicting frames re-serialize entries across every two-stack flip
    // (bElems → fFused rebuilds), so a long task's cumulative spill
    // WRITES far exceed its live window. Under the r21 cumulative
    // accounting this query would trip a ceiling set above the live
    // window but below the written total; with chunk reads and FIFO
    // disposal released (r22) it completes. The witness is
    // self-contained: the cumulative spillBytes metric ends ABOVE the
    // ceiling the task ran under.
    val ceiling = 2L * 1024 * 1024
    def q(): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"o")
      data.select($"id",
        sum($"cn").over(w.rangeBetween(-3000, 0)).as("tot"),
        count($"cn").over(w.rangeBetween(-3000, 0)).as("n"),
        max($"cn").over(w.rangeBetween(-5000, -70)).as("mx"))
    }
    val (got, spilled) =
      TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.SpillThresholdBytesKey, "1024") {
        TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.MaxRetainedBytesKey,
            ceiling.toString) {
          withRule(on = true)(runWithSpill(q()))
        }
      }
    assert(spilled > ceiling,
      s"the witness needs cumulative writes ($spilled B) above the ceiling " +
        s"($ceiling B) — tighten the threshold if data shrank")
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "live-footprint accounting under re-serializing flips")
  }

  test("spill (r22): a DENSE RAW halo external-sorts into spilled runs and k-way merges bit-equal") {
    val s = spark
    import s.implicits._
    // consolidation OFF makes every wide-frame row ship per-partition
    // RAW copies — the densest halo the operator can receive — and the
    // tiny threshold forces the received halo through the r22
    // external-sort path (sorted runs + k-way merge) instead of the
    // in-heap array. o is unique per group so native is deterministic.
    val many = (0 until 6000).map { i =>
      (i.toLong, (i / 3000).toLong, i.toLong % 3000, (i % 97).toLong)
    }.toDF("id", "g", "o", "cn").repartitionByRange(24, $"g", $"o")
    def q(): DataFrame = {
      val w = Window.partitionBy($"g").orderBy($"o")
      many.select($"id",
        sum($"cn").over(w.rangeBetween(-2000, 2000)).as("tot"),
        min($"cn").over(w.rangeBetween(-2000, 2000)).as("mn"),
        count(lit(1)).over(w.rangeBetween(-2000, 2000)).as("n"))
    }
    val (got, spilled) =
      TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.ConsolidateKey, "false") {
        TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.SpillThresholdBytesKey, "1024") {
          withRule(on = true)(runWithSpill(q()))
        }
      }
    assert(spilled > 0, "the dense raw halo must spill under the tiny threshold")
    val ref = withRule(on = false)(q().collect().toSeq.sortBy(_.getLong(0)))
    assertSame(got, ref, "external-sorted raw halo vs native")
  }

  test("spill (r21): maxRetainedBytes stays the hard ceiling ON TOP of spilling (heap + spill-file bytes)") {
    val s = spark
    import s.implicits._
    def q(): DataFrame = {
      val w = Window.orderBy($"o")
      data.select($"id", sum($"cn").over(w.rangeBetween(-100000, 100000)).as("tot"))
    }
    TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.SpillThresholdBytesKey, "4096") {
      TestSpark.withConf(graft.plans.RangeSlidingAggRewrite.MaxRetainedBytesKey, "20000") {
        withRule(on = true) {
          val ex = intercept[Exception] { q().collect() }
          def messages(t: Throwable): Seq[String] =
            if (t == null) Nil
            else Option(t.getMessage).toSeq ++ messages(t.getCause)
          val all = messages(ex).mkString("\n")
          assert(all.contains(graft.plans.RangeSlidingAggRewrite.MaxRetainedBytesKey),
            s"the failure must still name the ceiling conf:\n$all")
        }
      }
    }
  }
}
