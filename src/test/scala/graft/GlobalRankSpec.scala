package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GlobalRank operator (plans/GlobalRank.scala): bare rank-family
  * windows with an EMPTY partition clause — Spark's single-partition
  * scale killer — rewritten to the range-partitioned two-pass form.
  * Pinned here: bit-equality with the built-in window for all six
  * functions — row_number, rank, dense_rank, percent_rank, cume_dist,
  * ntile (the A/B lever is the rule's conf) — tie/null/NaN edges,
  * the plan shape (no SinglePartition exchange), and the bail-outs.
  */
class GlobalRankSpec extends AnyFunSuite {
  import TestSpark._

  private def withRule[A](on: Boolean)(body: => A): A =
    TestSpark.withRules(on, graft.plans.GroupedRankRewrite)(body)

  private def allSix(df: DataFrame): DataFrame = {
    val w = Window.orderBy(col("k").desc, col("id"))
    df.select(col("id"), col("k"),
      row_number().over(w).as("rn"),
      rank().over(w).as("r"),
      dense_rank().over(w).as("dr"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"),
      ntile(3).over(w).as("n3"),
      ntile(7).over(w).as("n7"))
  }

  test("GlobalRank: all six functions bit-equal to the built-in window on a total order") {
    val s = spark
    import s.implicits._
    // events-scale input, unique (value-desc, id) total order, spread
    // over several input partitions so range boundaries are real
    val base = Tables.events(s, SfDir)
      .select($"event_id".as("id"), $"value".as("k"))
      .repartition(7)
    val got = withRule(on = true)(allSix(base).orderBy($"id").collect().toSeq)
    val ref = withRule(on = false)(allSix(base).orderBy($"id").collect().toSeq)
    assert(got == ref)
  }

  test("GlobalRank: ties spanning would-be boundaries, nulls, NaN and -0.0 keys") {
    val s = spark
    import s.implicits._
    // 3 distinct keys x many rows forces every range partition to be
    // a tie run; plus null, NaN and +/-0.0 keys (UnsafeProjection
    // normalization must agree with the sort's equality)
    val rows = (1 to 500).map(i => (i.toLong, (i % 3).toDouble)) ++
      Seq((501L, Double.NaN), (502L, Double.NaN),
        (503L, 0.0), (504L, -0.0)) // -0.0 must tie with 0.0
    val withNull = rows.toDF("id", "k")
      .union(Seq((505L, null.asInstanceOf[java.lang.Double])).toDF("id", "k"))
      .repartition(5)
    // order by k ONLY -> real tie groups. rank/dense_rank/percent_rank
    // are tie-deterministic per row; row_number/ntile are not (tie
    // order is arbitrary in BOTH engines), so they are pinned
    // separately below on a total order over the same data.
    def tieFns(df: DataFrame): DataFrame = {
      val w = Window.orderBy(col("k"))
      df.select(col("id"),
        rank().over(w).as("r"),
        dense_rank().over(w).as("dr"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    }
    val gotTies = withRule(on = true)(tieFns(withNull).orderBy($"id").collect().toSeq)
    val refTies = withRule(on = false)(tieFns(withNull).orderBy($"id").collect().toSeq)
    assert(gotTies == refTies)
    // total order (k desc, id) on the same tie-heavy data: all six
    // functions bit-equal, boundary keys duplicated across the range
    val got = withRule(on = true)(allSix(withNull).orderBy($"id").collect().toSeq)
    val ref = withRule(on = false)(allSix(withNull).orderBy($"id").collect().toSeq)
    assert(got == ref)
    // single-row and empty inputs: percent_rank's N==1 branch, empty pass-1
    val one = Seq((1L, 2.0)).toDF("id", "k")
    val gotOne = withRule(on = true)(allSix(one).collect().toSeq)
    assert(gotOne == withRule(on = false)(allSix(one).collect().toSeq))
    assert(gotOne.head.getDouble(5) == 0.0) // pr column: N==1 -> 0.0
    val empty = Seq.empty[(Long, Double)].toDF("id", "k")
    assert(withRule(on = true)(allSix(empty).collect()).isEmpty)
  }

  test("GlobalRank plan shape: GlobalRankExec + range exchange, no SinglePartition funnel") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir).select($"event_id".as("id"), $"value".as("k"))
    withRule(on = true) {
      val df = allSix(base)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GlobalRank"), plan.take(2000))
      assert(!plan.contains("SinglePartition"),
        "global ranking must not funnel through one partition:\n" + plan.take(2000))
      assert(plan.contains("rangepartitioning"), plan.take(2000))
    }
    withRule(on = false) {
      val df = allSix(base)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("GlobalRank") && plan.contains("SinglePartition"),
        "conf off must keep the native single-partition window:\n" + plan.take(2000))
    }
  }

  test("q42 runs on the GlobalRank operator: both windows rewritten, no single-partition funnel") {
    val s = spark
    val df = graft.relational.Relational.q42SpendRank(s, SfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GlobalRank"), plan.take(2000))
    assert(!plan.contains("SinglePartition"),
      "the graded global leaderboard must never funnel to one partition:\n" + plan.take(2000))
  }

  test("GlobalRank: string keys, explicit null orderings, ntile(1)/ntile(>n) edges") {
    val s = spark
    import s.implicits._
    // string keys with duplicates and nulls, across several input splits
    val words = (1 to 300).map(i => (i.toLong, Seq("merge", "scan", "sort", "join")(i % 4))) ++
      Seq((301L, null.asInstanceOf[String]), (302L, null.asInstanceOf[String]))
    val base = words.toDF("id", "w").repartition(5)
    def ranked(o: org.apache.spark.sql.Column) = {
      val w = Window.orderBy(o, col("id"))
      base.select(col("id"),
        rank().over(w).as("r"),
        dense_rank().over(w).as("dr"),
        cume_dist().over(w).as("cd"),
        ntile(1).over(w).as("n1"),
        ntile(1000).over(w).as("nBig")) // buckets > rows: bucket == row_number
    }
    for (o <- Seq($"w".asc_nulls_last, $"w".desc_nulls_first, $"w".asc, $"w".desc)) {
      val got = withRule(on = true)(ranked(o).orderBy($"id").collect().toSeq)
      val ref = withRule(on = false)(ranked(o).orderBy($"id").collect().toSeq)
      assert(got == ref, s"mismatch under order $o")
    }
    // ntile(1) is constant 1; ntile(>n) degenerates to row_number
    val one = withRule(on = true)(ranked($"w".asc).collect().toSeq)
    assert(one.forall(_.getInt(4) == 1))
    assert(one.map(_.getInt(5)).sorted == (1 to 302).toSeq)
    // degraded range-boundary SAMPLING (2 samples/partition -> badly
    // estimated, imbalanced boundaries): partition QUALITY may suffer
    // but the offset stitch must stay exact
    TestSpark.withConf("spark.sql.execution.rangeExchange.sampleSizePerPartition", "2") {
      val got = withRule(on = true)(ranked($"w".asc).orderBy($"id").collect().toSeq)
      val ref = withRule(on = false)(ranked($"w".asc).orderBy($"id").collect().toSeq)
      assert(got == ref, "bad range sampling must never change results")
    }
  }

  test("GlobalRank bail-outs: aggregate windows, offset functions and partitioned ranks stay native") {
    val s = spark
    import s.implicits._
    val base = Tables.events(s, SfDir).select($"event_id".as("id"), $"value".as("k"),
      ($"event_id" % 10).as("g"))
    withRule(on = true) {
      // offset function (lead) over a global order: not a rank
      // function -> the whole node stays native
      val ld = base.select(lead($"k", 1).over(Window.orderBy($"k", $"id")).as("nk"))
      ld.collect()
      assert(!ld.queryExecution.executedPlan.toString.contains("GlobalRank"))
      // running aggregate over a global order -> native window
      val agg = base.select(sum($"k").over(
        Window.orderBy($"k", $"id").rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"))
      agg.collect()
      assert(!agg.queryExecution.executedPlan.toString.contains("GlobalRank"))
      // partitioned rank -> native window (no global funnel to fix)
      val part = base.select(rank().over(Window.partitionBy($"g").orderBy($"k", $"id")).as("r"))
      part.collect()
      assert(!part.queryExecution.executedPlan.toString.contains("GlobalRank"))
      // mixed node rank + cume_dist: both supported (cume via the
      // tie-group-buffered path) -> ONE GlobalRank handles the node
      val mixed = base.select(
        rank().over(Window.orderBy($"k", $"id")).as("r"),
        cume_dist().over(Window.orderBy($"k", $"id")).as("cd"))
      mixed.collect()
      assert(mixed.queryExecution.executedPlan.toString.contains("GlobalRank"))
      // nondeterministic child: the two-pass exec could recompute a
      // rand() column differently between passes -> native
      val nd = base.withColumn("rk", rand(7))
        .select(rank().over(Window.orderBy($"rk", $"id")).as("r"))
      nd.collect()
      assert(!nd.queryExecution.executedPlan.toString.contains("GlobalRank"))
      // nondeterministic ORDER SPEC (the shuffle idiom
      // row_number() OVER (ORDER BY rand())): keyTools would
      // re-evaluate rand() independently in pass 1, pass 2 and the
      // range partitioner -> native
      val ndOrder = base.select(row_number().over(Window.orderBy(rand(7))).as("r"))
      ndOrder.collect()
      assert(!ndOrder.queryExecution.executedPlan.toString.contains("GlobalRank"))
    }
  }

  test("GlobalRank longRank conf: Int-family ranks widen to LongType at analysis; operator AND native paths agree") {
    val s = spark
    import s.implicits._
    val base = (1 to 400).map(i => (i.toLong, (i % 7).toDouble)).toDF("id", "k")
      .repartition(5)
    val longKey = graft.plans.GroupedRankRewrite.LongRankKey
    def widened(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getInt(7), r.getInt(8))
    val ref = withRule(on = false)(allSix(base).orderBy($"id").collect().toSeq)
      .map(r => (r.getLong(0), r.getInt(2).toLong, r.getInt(3).toLong,
        r.getInt(4).toLong, r.getDouble(5), r.getDouble(6), r.getInt(7),
        r.getInt(8)))
    TestSpark.withConf(longKey, "true") {
      withRule(on = true) {
        val df = allSix(base)
        df.collect()
        val sch = df.schema
        // documented schema divergence, visible at the DATASET level
        // (the swap is an analyzer rule, so schema/encoders agree):
        // the three Int-family ranks widen; percent_rank/cume_dist
        // stay double, ntile stays Int (bounded by its bucket literal
        // at any N — no ceiling to escape)
        assert(sch("rn").dataType.typeName == "long", sch.treeString)
        assert(sch("r").dataType.typeName == "long", sch.treeString)
        assert(sch("dr").dataType.typeName == "long", sch.treeString)
        assert(sch("pr").dataType.typeName == "double", sch.treeString)
        assert(sch("n3").dataType.typeName == "integer", sch.treeString)
        assert(df.queryExecution.executedPlan.toString.contains("GlobalRank"))
        assert(df.orderBy($"id").collect().toSeq.map(widened) == ref)
      }
      // native path (rewrite off): WindowExec evaluates the Long
      // variants as plain declarative aggregate window functions —
      // the conf never strands a query on an unplannable expression
      withRule(on = false) {
        val df = allSix(base)
        df.collect()
        assert(df.schema("rn").dataType.typeName == "long")
        assert(!df.queryExecution.executedPlan.toString.contains("GlobalRank"))
        assert(df.orderBy($"id").collect().toSeq.map(widened) == ref)
      }
      // a typed consumer of the rank re-coerces against the Long
      // column in the same analysis fixed-point — no fallback needed
      withRule(on = true) {
        val w = Window.orderBy($"k", $"id")
        val consumed = base
          .select($"id", rank().over(w).as("r"))
          .select($"id", ($"r" + 1).as("r2"))
        val rows = consumed.orderBy($"id").collect()
        assert(consumed.schema("r2").dataType.typeName == "long",
          consumed.schema.treeString)
        // id=7 is the (k=0.0, min id) row -> rank 1 -> r2 = 2
        assert(rows.find(_.getLong(0) == 7L).get.getLong(1) == 2L)
      }
      // the allowLong boundary of the one rank matcher: in ONE select
      // the zero-key rank widens and runs on GlobalRank, the keyed rank
      // keeps IntegerType and runs on GroupedRank, and both equal the
      // rank-off plan
      def both() = base.select($"id",
        rank().over(Window.orderBy($"k", $"id")).as("gr"),
        rank().over(Window.partitionBy($"id" % 3).orderBy($"k", $"id")).as("pr"))
      val bothOn = withRule(on = true)(both())
      assert(bothOn.schema("gr").dataType.typeName == "long", bothOn.schema.treeString)
      assert(bothOn.schema("pr").dataType.typeName == "integer", bothOn.schema.treeString)
      val bothPlan = bothOn.queryExecution.executedPlan.toString
      assert(bothPlan.contains("GlobalRank") && bothPlan.contains("GroupedRank"),
        bothPlan.take(2500))
      assert(bothOn.orderBy($"id").collect().toSeq ==
        withRule(on = false)(both().orderBy($"id").collect().toSeq))
    }
    // conf off (default): types unchanged — the swap never leaks
    val off = withRule(on = true)(allSix(base))
    assert(off.schema("rn").dataType.typeName == "integer")
    // native-path TIES (rule off, order by k only -> real tie groups,
    // plus a leading-null key): LongRankLike's declarative buffer
    // (EqualNullSafe same-order test + first-row guard) must agree
    // with the built-in rank/dense_rank on every row — this is the
    // one path where the Long functions' own tie logic, not the
    // operator's keyTools, decides the result
    val withNull = base
      .union(Seq((401L, null.asInstanceOf[java.lang.Double])).toDF("id", "k"))
    def tieRanks(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.orderBy(col("k"))
      df.select(col("id"), rank().over(w).as("r"), dense_rank().over(w).as("dr"))
        .orderBy(col("id"))
    }
    val tiesRef = withRule(on = false)(tieRanks(withNull).collect().toSeq)
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong))
    val tiesLong = TestSpark.withConf(longKey, "true")(
      withRule(on = false)(tieRanks(withNull).collect().toSeq)
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    assert(tiesLong == tiesRef)
    // filter(rank <= k) under the conf: TopKRewrite matches the Long
    // variants, so the k-bounded query KEEPS the heap plan (never the
    // full-ranking operator) and emits a 64-bit rank — the analyzer
    // coerces the bound literal to Long, which the rewrite's
    // BoundLit extractor accepts
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), rank().over(Window.orderBy(col("k"), col("id"))).as("r"))
      .filter(col("r") <= 3)
      .orderBy(col("id"))
    val refTop = topk(base).collect().toSeq.map(r => (r.getLong(0), r.getInt(1).toLong))
    TestSpark.withConf(longKey, "true") {
      val df = topk(base)
      val got = df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
      assert(df.schema("r").dataType.typeName == "long")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKFinal") && !plan.contains("GlobalRank"),
        "k-bounded Long ranking must keep the heap plan:\n" + plan.take(2000))
      assert(got == refTop)
    }
  }

  test("RankRange: per-function 2^31 guards exercised with synthetic totals, not real rows") {
    import graft.plans._
    val big = 3000000000L // 3e9 > 2^31-1: the 100 TB-corpus row count class
    val ok = 2000000L
    def boom(fns: Seq[(GlobalRankFn, Boolean)], n: Long, d: Long): Unit =
      intercept[IllegalArgumentException] {
        RankRange.check("GlobalRank", "input rows", fns, n, d, "")
      }
    // Int row_number/rank: capped by ROW count
    boom(Seq((GRowNumber, false)), big, ok)
    boom(Seq((GRank, false)), big, ok)
    // Int dense_rank: capped by DISTINCT count only — 3e9 rows with
    // 2M distinct keys ranks fine
    RankRange.check("GlobalRank", "input rows", Seq((GDenseRank, false)), big, ok, "")
    boom(Seq((GDenseRank, false)), big, big)
    // the longRank widening lifts every ceiling
    RankRange.check("GlobalRank", "input rows",
      Seq((GRowNumber, true), (GRank, true), (GDenseRank, true)), big, big, "")
    // ntile (≤ bucket literal) and the double-valued functions have no
    // ceiling at all: a 100 TB corpus can ntile/percent_rank globally
    // with IntegerType/DoubleType outputs unchanged
    RankRange.check("GlobalRank", "input rows",
      Seq((GNTile(100), false), (GPercentRank, false), (GCumeDist, false)),
      big, big, "")
    // the boundary itself is inclusive
    RankRange.check("GlobalRank", "input rows",
      Seq((GRowNumber, false)), Int.MaxValue.toLong, ok, "")
    boom(Seq((GRowNumber, false)), Int.MaxValue.toLong + 1L, ok)
  }
}
