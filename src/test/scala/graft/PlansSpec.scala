package graft

import graft.plans.{AsOfJoin, SkewJoin}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PlansSpec extends AnyFunSuite {
  import TestSpark._

  test("AsOfJoin: left-outer semantics, inclusive at equal timestamps, tie-break by greatest") {
    val s = spark
    import s.implicits._
    def t(x: String) = java.sql.Timestamp.valueOf(x)
    val quotes = Seq(
      (1L, t("2026-01-01 10:00:00"), 100.0, 7L),
      (1L, t("2026-01-01 10:00:00"), 101.0, 9L), // same ts: greater qid must win
      (1L, t("2026-01-01 11:00:00"), 110.0, 11L),
      (2L, t("2026-01-01 09:00:00"), 50.0, 5L)
    ).toDF("q_key", "q_ts", "px", "qid")
    val trades = Seq(
      (1L, t("2026-01-01 09:30:00"), "early"),   // before any quote -> nulls
      (1L, t("2026-01-01 10:00:00"), "attime"),  // inclusive: matches 10:00, qid 9
      (1L, t("2026-01-01 10:30:00"), "mid"),     // matches 10:00, qid 9
      (1L, t("2026-01-01 12:00:00"), "late"),    // matches 11:00
      (2L, t("2026-01-01 09:00:00"), "other"),   // other key, inclusive
      (3L, t("2026-01-01 10:00:00"), "nokey")    // key with no quotes
    ).toDF("key", "ts", "tag")
    val got = AsOfJoin.asOf(trades, quotes, "key", "ts", "q_key", "q_ts",
        tieBreak = Seq("qid"))
      .select($"tag", $"px", $"qid")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got == Set(
      ("early", None, None),
      ("attime", Some(101.0), Some(9L)),
      ("mid", Some(101.0), Some(9L)),
      ("late", Some(110.0), Some(11L)),
      ("other", Some(50.0), Some(5L)),
      ("nokey", None, None)))
  }

  test("AsOfJoin carries the matched row ATOMICALLY when its payload has nulls") {
    val s = spark
    import s.implicits._
    def t(x: String) = java.sql.Timestamp.valueOf(x)
    // latest right row has px = NULL: the match must return that NULL,
    // not resurrect the older row's px (per-column carries would mix rows)
    val quotes = Seq(
      (1L, t("2026-01-01 10:00:00"), Some(100.0), 7L),
      (1L, t("2026-01-01 11:00:00"), None: Option[Double], 9L)
    ).toDF("q_key", "q_ts", "px", "qid")
    val trades = Seq((1L, t("2026-01-01 12:00:00"), "x")).toDF("key", "ts", "tag")
    val r = AsOfJoin.asOf(trades, quotes, "key", "ts", "q_key", "q_ts", Seq("qid"))
      .select($"qid", $"px").collect().head
    assert(r.getLong(0) == 9L)
    assert(r.isNullAt(1), "px must be the matched row's NULL, not a stale non-null")
  }

  test("SkewJoin.salted produces exactly the rows of the plain equi-join") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(s, SfDir).select($"event_id", $"user_id", $"event_type")
    val users = Tables.events(s, SfDir)
      .groupBy($"user_id").agg(count(lit(1)).as("user_events"))
      .withColumnRenamed("user_id", "u_id")
    val plain = ev.join(users, $"user_id" === $"u_id")
      .select($"event_id", $"user_events").as[(Long, Long)].collect().sorted.toSeq
    val salted = SkewJoin.salted(ev, users, "user_id", "u_id", 8, "event_id")
      .select($"event_id", $"user_events").as[(Long, Long)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("SkewJoin.salted balances a hot key across tasks (task-metrics audit)") {
    val s = spark
    import s.implicits._
    val sc = s.sparkContext
    // skew fixture: one user owns 90% of a 100k-row left side. With
    // AQE's skew handling off (the cases SkewJoin targets are exactly
    // the ones AQE cannot split) the hot key's entire probe side lands
    // on ONE sort-merge task; salting spreads it over 8.
    val hot = s.range(90000L).select(lit(7L).as("user_id"), $"id".as("event_id"))
    val cold = s.range(10000L)
      .select((($"id" % 100L) + 100L).as("user_id"), ($"id" + 90000L).as("event_id"))
    val left = hot.union(cold)
    val right = s.range(200L).select($"id".as("u_id"), ($"id" * 3L).as("weight"))

    def maxTaskShuffleRows(run: => Unit): Long = {
      // restrict the metric to THIS action's stages (via a job group) and
      // settle listener delivery with the bus's own barrier rather than
      // wall-clock polling — an unrelated stage or a late task-end event
      // can't skew the max
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties != null &&
            "graft-skew-audit" == j.properties.getProperty("spark.jobGroup.id"))
            j.stageIds.foreach(id => stages.add(id))
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            seen.add((e.stageId, e.taskMetrics.shuffleReadMetrics.recordsRead))
      }
      org.apache.spark.SparkTestHooks.waitUntilListenerBusEmpty(sc) // flush prior actions
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("graft-skew-audit", "skew-join task-metrics audit")
        try run
        finally sc.clearJobGroup()
        org.apache.spark.SparkTestHooks.waitUntilListenerBusEmpty(sc)
      } finally sc.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      seen.asScala.collect { case (sid, n) if stages.contains(sid) => n }
        .foldLeft(0L)(math.max)
    }

    val conf = s.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plainMax = maxTaskShuffleRows(
        left.join(right, $"user_id" === $"u_id")
          .write.format("noop").mode("overwrite").save())
      val saltedMax = maxTaskShuffleRows(
        SkewJoin.salted(left, right, "user_id", "u_id", 8, "event_id")
          .write.format("noop").mode("overwrite").save())
      assert(plainMax >= 80000L,
        s"fixture should concentrate the hot key in one task, got max=$plainMax")
      assert(saltedMax * 2 < plainMax,
        s"salting should cut the max task at least 2x: plain=$plainMax salted=$saltedMax")
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  test("TopKRewrite replaces the row_number window idiom with the heap operator, same results") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def topkDf = {
      val w = Window.partitionBy($"event_type").orderBy($"value".desc, $"event_id")
      Tables.events(s, SfDir)
        .select($"event_id", $"event_type", $"value")
        .withColumn("rnk", row_number().over(w))
        .filter($"rnk" <= 5)
        .select($"event_type", $"rnk", $"event_id", $"value")
    }
    val withRule = topkDf
    val plan = withRule.queryExecution.executedPlan.toString
    assert(plan.contains("TopKFinal"), s"expected TopKFinalExec in plan:\n$plan")
    assert(plan.contains("TopKPartial"), "expected the map-side partial phase")
    assert(!plan.contains("WindowExec") && !plan.contains("Window ("),
      "the window node must be gone")
    val got = withRule.collect().map(_.toSeq).toSet
    withoutRules(graft.plans.TopKRewrite) {
      val reference = topkDf
      assert(!reference.queryExecution.executedPlan.toString.contains("TopKFinal"),
        "excluding the rule must disable the rewrite")
      assert(reference.collect().map(_.toSeq).toSet == got,
        "heap operator must reproduce the window plan's rows exactly")
    }
  }

  test("TopKRewrite handles the global (no-partition) window and k > group size") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // global top-3 by value: empty partitionSpec → AllTuples distribution
    val wg = Window.orderBy($"value".desc, $"event_id")
    val globalTop = Tables.events(s, SfDir)
      .select($"event_id", $"value")
      .withColumn("rnk", row_number().over(wg))
      .filter($"rnk" <= 3)
    assert(globalTop.queryExecution.executedPlan.toString.contains("TopKFinal"))
    val got = globalTop.select($"rnk", $"event_id").as[(Int, Long)].collect().sortBy(_._1)
    val expected = Tables.events(s, SfDir)
      .select($"event_id", $"value")
      .orderBy($"value".desc, $"event_id").limit(3)
      .select($"event_id").as[Long].collect()
    assert(got.map(_._2).toSeq == expected.toSeq)
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    // k far above every group size: all rows survive with dense ranks
    val w = Window.partitionBy($"event_type").orderBy($"event_id")
    val all = Tables.events(s, SfDir)
      .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 1000000)
    assert(all.count() == Tables.events(s, SfDir).count())
  }

  test("TopKRewrite fires through an attribute-only Project between Filter and Window") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy($"value".desc, $"event_id")
    val df = Tables.events(s, SfDir)
      .withColumn("rnk", row_number().over(w))
      .select($"event_type", $"rnk", $"event_id") // project BEFORE the filter
      .filter($"rnk" <= 2)
    assert(df.queryExecution.executedPlan.toString.contains("TopKFinal"),
      "rewrite must fire through the attribute-only Project")
    assert(df.groupBy($"event_type").count().collect().forall(_.getLong(1) <= 2))
  }

  test("TopKRewrite equivalence property: random tie-heavy data, varied k and bounds") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42) // fixed seed: deterministic spec
    for (trial <- 1 to 4) {
      val nGroups = 1 + rnd.nextInt(6)
      val n = 50 + rnd.nextInt(400)
      val k = 1 + rnd.nextInt(7)
      // few distinct values → heavy ties; unique id breaks them totally
      val rows = (0 until n).map(i => (rnd.nextInt(nGroups), rnd.nextInt(5), i.toLong))
      val df = rows.toDF("g", "v", "id")
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
      def run() = df.withColumn("rnk", row_number().over(w)).filter($"rnk" <= k)
        .select($"g", $"rnk", $"id").collect().map(_.toSeq).toSet
      val withOp = run()
      val reference = withoutRules(graft.plans.TopKRewrite)(run())
      assert(withOp == reference, s"trial $trial (groups=$nGroups n=$n k=$k) diverged")
    }
  }

  test("TopKRewrite handles rank(): tie-aware heap matches the window plan, gaps included") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7) // fixed seed: deterministic spec
    for (trial <- 1 to 4) {
      val nGroups = 1 + rnd.nextInt(5)
      val n = 50 + rnd.nextInt(400)
      val k = 1 + rnd.nextInt(6)
      // few distinct values and NO unique tiebreak in the order → rank
      // gaps and boundary tie groups larger than k are both exercised
      val rows = (0 until n).map(i => (rnd.nextInt(nGroups), rnd.nextInt(5), i.toLong))
      val df = rows.toDF("g", "v", "id")
      val w = Window.partitionBy($"g").orderBy($"v".desc)
      def ranked = df.withColumn("rnk", rank().over(w)).filter($"rnk" <= k)
        .select($"g", $"rnk", $"v", $"id")
      assert(ranked.queryExecution.executedPlan.toString.contains("TopKFinal"),
        s"trial $trial: rank() window must rewrite to the heap operator")
      val withOp = ranked.collect().map(_.toSeq).toSet
      val reference = withoutRules(graft.plans.TopKRewrite)(ranked.collect().map(_.toSeq).toSet)
      assert(withOp == reference,
        s"trial $trial (groups=$nGroups n=$n k=$k) diverged from the window plan")
    }
  }

  test("TopKRewrite rank() edge: an all-tied group keeps every row at rank 1 even with k=1") {
    // SQL rank gives every tied row rank 1, so rank() <= 1 over an
    // all-equal column keeps the WHOLE group — the maximal-tie path
    // where the heap's kept set legitimately exceeds k on both the
    // partial and final phases.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 20).map(i => (i % 2, 7, i.toLong)).toDF("g", "v", "id")
      .repartition(4) // ties must survive the cross-partition merge
    val w = Window.partitionBy($"g").orderBy($"v".desc)
    val ranked = df.withColumn("rnk", rank().over(w)).filter($"rnk" <= 1)
    assert(ranked.queryExecution.executedPlan.toString.contains("TopKFinal"))
    val got = ranked.select($"g", $"rnk", $"id").collect()
    assert(got.length == 20, s"all tied rows must survive, got ${got.length}")
    assert(got.forall(_.getInt(1) == 1), "every tied row carries rank 1")
  }

  test("TopKRewrite leaves dense_rank untouched (kept set per group is unbounded)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy($"value".desc)
    val p = Tables.events(s, SfDir)
      .withColumn("r", dense_rank().over(w)).filter($"r" <= 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("TopKFinal"),
      "dense_rank admits arbitrarily many rows per rank — must not rewrite")
  }

  test("star contraction: a chain graph converges in O(log n) rounds with exact min labels") {
    // min-label propagation moves the minimum ONE hop per round, so a
    // 64-node chain would need ~63 rounds; large-star/small-star
    // contracts path length geometrically. The bound here (8) is the
    // observed log-shape ceiling; the point is rounds << n.
    val s = spark
    import s.implicits._
    val n = 64
    val chain = (1 until n).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = graft.dedup.Dedup.starContract(s, chain)
    assert(rounds <= 8, s"chain of $n nodes took $rounds rounds — contraction isn't logarithmic")
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == n, s"every chain node must be labeled, got ${out.size}")
    assert(out.values.forall(_ == 1L), "every node's component label must be the chain minimum")
  }

  test("star contraction: canonicalDistinct fast path labels identically to the defensive path") {
    val s = spark
    import s.implicits._
    // canonical feed: doc_a < doc_b, distinct — what lshCandidates emits
    val pairs = Seq((3L, 20L), (7L, 20L), (12L, 20L), (5L, 9L), (9L, 40L), (5L, 40L))
      .toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val defensive = toMap(graft.dedup.Dedup.starContract(s, pairs)._1)
    val fast = toMap(graft.dedup.Dedup.starContract(s, pairs, canonicalDistinct = true)._1)
    assert(fast == defensive, "fast path must produce the same component labels")
    assert(fast == Map(3L -> 3L, 7L -> 3L, 12L -> 3L, 20L -> 3L, 5L -> 5L, 9L -> 5L, 40L -> 5L))
  }

  test("star contraction: two components with shuffled ids resolve to their own minima") {
    val s = spark
    import s.implicits._
    // component A: {3,7,12,20} as a star around 20; component B: {5,9,40} as a triangle
    val pairs = Seq((20L, 3L), (20L, 7L), (20L, 12L), (5L, 9L), (9L, 40L), (40L, 5L))
      .toDF("doc_a", "doc_b")
    val (labels, _) = graft.dedup.Dedup.starContract(s, pairs)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(3L -> 3L, 7L -> 3L, 12L -> 3L, 20L -> 3L, 5L -> 5L, 9L -> 5L, 40L -> 5L))
  }

  test("end-to-end ingestion pipeline: stream decode -> hourly agg -> MergeTree layout") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // the reference daemon loop, Spark-native: raw feed arrives as a
    // stream, per-batch it is decoded + appended in MergeTree layout
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val q = stream.toDF()
      .withColumn("inverter", lit(7L))
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.streaming.MergeTreeSink.write(b, s"$dir/out/batch=$id", "ts", "inverter")
      }
      .start()
    try {
      stream.addData(
        Ev(java.sql.Timestamp.valueOf("2026-01-15 10:00:00"), "view", 1.0),
        Ev(java.sql.Timestamp.valueOf("2026-02-15 10:00:00"), "view", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = s.read.parquet(s"$dir/out/batch=0")
    assert(out.count() == 2)
    val months = new java.io.File(s"$dir/out/batch=0").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(months.toSeq == Seq("month=202601", "month=202602"))
  }
}
