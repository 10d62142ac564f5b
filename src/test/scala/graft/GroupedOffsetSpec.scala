package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.GroupedOffsetRewrite]] — grouped lag/lead as a
  * first-class operator (r20, the r19 verdict's #1): the native
  * hash-clustered window's parallelism ceiling is the GROUP COUNT
  * (5 order priorities × 100 TB = terabytes per task for a
  * window-of-m-rows data dependency); the operator range-partitions
  * (group, order) and closes partition boundaries with SlidingAgg's
  * KEY-GATED boundary-value rings — a foreign key at the looked-up
  * depth IS the native group-edge clip. Equivalence is pinned against
  * the native window on total orders: mixed lag/lead offsets with
  * defaults, groups spanning many partitions, partitions shorter than
  * the offset, null group keys, null payloads, strings, desc order,
  * group edges aligned with partition edges, and the day-one
  * finer-exchange canary (a pre-existing (g, o, id) range exchange is
  * REUSED — prefix rule — and its boundaries split groups at
  * arbitrary row positions). Bail-outs: ignoreNulls, offsets past
  * maxOffset, non-foldable offsets, the minBytes lever, and the kill
  * switch each keep the node native. */
class GroupedOffsetSpec extends AnyFunSuite {
  import TestSpark._

  private def withRule[A](on: Boolean)(body: => A): A =
    TestSpark.withRules(on, graft.plans.GroupedOffsetRewrite)(body)

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(got.size == ref.size && bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  // 4 interleaved groups × 2000 rows each over several range
  // partitions: every partition boundary splits a group segment
  private def data = {
    val s = spark
    import s.implicits._
    (0 until 8000).map { i =>
      (i.toLong, i % 4, (i / 4).toLong, ((i * 37) % 1000).toLong)
    }.toDF("id", "g", "o", "cents")
  }

  test("grouped lag/lead: mixed offsets + defaults + group edges bit-equal to native") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    def q(on: Boolean): Seq[Row] = withRule(on) {
      val df = data.select($"id", $"g",
        lag($"cents", 1).over(w).as("l1"),
        lag($"cents", 3, -7L).over(w).as("l3d"),
        lead($"cents", 1).over(w).as("f1"),
        lead($"cents", 2, 0L).over(w).as("f2d"),
        lag($"o", 2).over(w).as("lo2"))
      if (on) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("GroupedOffset"), plan.take(2000))
        assert(!plan.contains("Exchange hashpartitioning"),
          "the operator replaces the hash-clustered window:\n" + plan.take(2000))
        assert(!plan.contains("Window ["), plan.take(2000))
      }
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true), q(on = false), "grouped lag/lead mixed offsets")
  }

  test("partitions SHORTER than the offset + groups wholly inside one partition + single-row groups") {
    val s = spark
    import s.implicits._
    // 60 rows over 16 shuffle partitions with offset 4: nearly every
    // lookup crosses a partition boundary and the driver stitch must
    // accumulate tails across short/empty range partitions; group 9
    // is a single row (every offset hits the default path)
    val base = (0 until 60).map { i =>
      val g = if (i == 59) 9 else i % 3
      (i.toLong, g, (i / 3).toLong)
    }.toDF("id", "g", "o").repartition(7)
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    def q(on: Boolean): Seq[Row] = withRule(on) {
      base.select($"id", $"g",
          lag($"id", 4, -1L).over(w).as("l4"),
          lead($"id", 4, -2L).over(w).as("f4"))
        .collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true), q(on = false), "short partitions + tiny groups")
    // empty input runs clean
    val empty = Seq.empty[(Long, Int, Long)].toDF("id", "g", "o")
    assert(withRule(on = true)(
      empty.select(lag($"id", 1).over(w)).collect()).isEmpty)
  }

  test("null group keys, null payloads, strings, and a non-order payload column") {
    val s = spark
    import s.implicits._
    // null group key = its own group (SQL PARTITION BY semantics);
    // null payload values must round-trip the ring; the payload is
    // NOT an order key, so the node's references override must keep
    // it through ColumnPruning
    val rows = (0 until 600).map { i =>
      val g: java.lang.Integer = if (i % 5 == 0) null else Integer.valueOf(i % 3)
      val v: java.lang.Long = if (i % 7 == 0) null else java.lang.Long.valueOf(i * 11L)
      (i.toLong, g, (i / 3).toLong, v, s"w${i % 13}_$i")
    }.toDF("id", "g", "o", "v", "t").repartition(5)
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    def q(on: Boolean): Seq[Row] = withRule(on) {
      rows.select($"id", $"g",
          lag($"v", 2).over(w).as("pv"),
          lead($"v", 1, -1L).over(w).as("nv"),
          lag($"t", 1, "-").over(w).as("pt"))
        .collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true), q(on = false), "null keys/payloads + strings")
  }

  test("desc order and multi-column group keys bit-equal to native") {
    val s = spark
    import s.implicits._
    val base = data.withColumn("g2", $"id" % 2)
    val w = Window.partitionBy($"g", $"g2").orderBy($"o".desc, $"id".desc)
    def q(on: Boolean): Seq[Row] = withRule(on) {
      base.select($"id",
          lag($"cents", 2, 0L).over(w).as("p2"),
          lead($"cents", 1).over(w).as("n1"))
        .collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true), q(on = false), "desc + composite group keys")
  }

  test("day-one finer-exchange canary: a pre-existing (g, o, id) range exchange is REUSED and its boundaries split groups mid-segment") {
    val s = spark
    import s.implicits._
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val base = data.repartitionByRange(13, $"g", $"o", $"id")
      val w = Window.partitionBy($"g").orderBy($"o", $"id")
      def q(on: Boolean): (Seq[Row], String) = withRule(on) {
        val df = base.select($"id", $"g",
          lag($"cents", 3, -1L).over(w).as("l3"),
          lead($"cents", 3, -1L).over(w).as("f3"))
        (df.collect().toSeq.sortBy(_.getLong(0)),
          df.queryExecution.executedPlan.toString)
      }
      val (got, plan) = q(on = true)
      val (ref, _) = q(on = false)
      assert(plan.contains("GroupedOffset"), plan.take(2500))
      // the finer 13-partition exchange satisfies
      // OrderedDistribution(g, o, id ← prefix g, o) — the operator
      // must NOT insert a second exchange
      val finalSection = plan.split("== Initial Plan ==").head
      val nRange = finalSection.split("Exchange rangepartitioning").length - 1
      assert(nRange == 1, s"the pre-existing finer exchange must be reused, got $nRange:\n" +
        finalSection.take(2500))
      assertSame(got, ref, "finer-exchange canary")
    }
  }

  test("adversarial shapes: 5-row corpus over many partitions; group edges exactly at partition edges; foreign-group stitched tails take the default") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    // 5 rows, offsets 3, shuffle partitions 4+: empty range partitions
    // everywhere, frames wider than the data
    val five = Seq((1L, 0, 1L), (2L, 0, 2L), (3L, 1, 1L), (4L, 1, 2L), (5L, 1, 3L))
      .toDF("id", "g", "o").repartition(8)
    def q5(on: Boolean): Seq[Row] = withRule(on) {
      five.select($"id",
          lag($"id", 3, -1L).over(w).as("l3"),
          lead($"id", 3, -2L).over(w).as("f3"))
        .collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q5(on = true), q5(on = false), "5-row corpus")
    // group edges EXACTLY at partition edges: a pre-existing range
    // exchange on g ALONE puts each group's boundary on a partition
    // boundary — the stitched prevTail/nextHead of every partition is
    // then wholly FOREIGN-group, and every edge lookup must take the
    // default through the key gate, never the stitched value
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val aligned = data.repartitionByRange(4, $"g")
      def qa(on: Boolean): Seq[Row] = withRule(on) {
        aligned.select($"id", $"g",
            lag($"cents", 2, -9L).over(w).as("p2"),
            lead($"cents", 2, -8L).over(w).as("n2"))
          .collect().toSeq.sortBy(_.getLong(0))
      }
      assertSame(qa(on = true), qa(on = false), "group-aligned partition edges")
    }
  }

  test("q54 graded plan: the grouped offset operator is live in the DuckDB-gated query — no native window, no hash exchange") {
    val s = spark
    val df = graft.relational.Relational.q54PriorityDelta(s, SfDir)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedOffset"),
      "GroupedOffset missing from q54's plan:\n" + plan.take(2500))
    assert(!plan.contains("Window ["),
      "no native WindowExec may survive in q54:\n" + plan.take(2500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "q54 must not hash-partition on the priority key:\n" + plan.take(2500))
    // exactly TWO range exchanges: the operator's
    // (o_orderpriority, o_orderdate, o_orderkey) exchange and the
    // output ORDER BY o_orderkey
    val finalSection = plan.split("== Initial Plan ==").head
    val rps = """Exchange rangepartitioning\(([^)]*)\)""".r
      .findAllMatchIn(finalSection).map(_.group(1)).toSeq
    assert(rps.length == 2, s"expected operator + output exchanges, got: $rps\n" +
      finalSection.take(2500))
    assert(rps.count(_.contains("o_orderpriority")) == 1,
      s"exactly one (o_orderpriority, o_orderdate, o_orderkey) operator exchange: $rps")
  }

  test("bail-outs: ignoreNulls, offset past maxOffset, minBytes lever, kill switch stay native") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    // ignoreNulls LEAD buffers O(longest null run) rows — native;
    // ignoreNulls LAG fires since r22 (per-fn non-null rings, own
    // equivalence tests below). minBytes=0 so the plan check sees the
    // operator rather than the small-input demotion.
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MinBytesKey, "0") {
      val dfLead = data.select(lead(when($"cents" % 3 === 0, $"cents"), 1, null, true)
        .over(w).as("p"))
      assert(!planOf(dfLead).contains("GroupedOffset"),
        "lead ignoreNulls must stay native")
      val dfLag = data.select(lag($"cents", 1, null, true).over(w).as("p"))
      assert(planOf(dfLag).contains("GroupedOffset"),
        "lag ignoreNulls must fire (r22)")
    }
    // offset past the cap — native
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MaxOffsetKey, "4") {
      val dfBig = data.select(lag($"cents", 5).over(w).as("p"))
      assert(!planOf(dfBig).contains("GroupedOffset"), "offset 5 > cap 4 must stay native")
      val dfOk = data.select(lag($"cents", 4).over(w).as("p"))
      assert(planOf(dfOk).contains("GroupedOffset"), "offset 4 = cap must fire")
    }
    // minBytes lever: a spec-sized input is far below a PB threshold
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MinBytesKey, "1000000000000") {
      val df = data.select(lag($"cents", 1).over(w).as("p"))
      assert(!planOf(df).contains("GroupedOffset"), "below minBytes must stay native")
    }
    // kill switch
    withRule(on = false) {
      val df = data.select(lag($"cents", 1).over(w).as("p"))
      assert(!planOf(df).contains("GroupedOffset"), "kill switch must stay native")
    }
  }

  test("r21 default small-input gate: minBytes `auto` resolves to the AQE advisory partition size") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    // mixed lag/lead with defaults: the demotion rule must
    // reconstruct the EXACT native expressions (signed offsets,
    // defaults, exprIds) from the merged OffsetFns
    val df = () => data.select($"id", $"g",
      lag($"cents", 1).over(w).as("p"),
      lag($"cents", 3, -7L).over(w).as("l3d"),
      lead($"cents", 2, 0L).over(w).as("f2d"))
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MinBytesKey, "auto") {
      // spec-sized input (~a few hundred KB of stats) is far below the
      // 64 MB stock advisory size: the operator's two fixed extra jobs
      // buy nothing on an input that coalesces to one task — native
      assert(!planOf(df()).contains("GroupedOffset"),
        "below one advisory partition the node must stay native")
      // the SAME input clears a 1-byte advisory size: `auto` tracks the
      // session's own partition sizing, not a hard-coded constant
      TestSpark.withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1") {
        assert(planOf(df()).contains("GroupedOffset"),
          "above the (lowered) advisory size the operator must fire")
      }
      // the demoted native plan's RESULTS equal the operator's (the
      // reconstructed lag/lead must be the expressions the rewrite
      // consumed, not merely a plan that parses)
      val demoted = df().collect().toSeq.sortBy(_.getLong(0))
      val onOp = TestSpark.withConf(
          graft.plans.GroupedOffsetRewrite.MinBytesKey, "0") {
        df().collect().toSeq.sortBy(_.getLong(0))
      }
      assertSame(demoted, onOp, "demoted native vs operator results")
    }
  }

  test("r21 single-partition fixed-cost trim: pass 1 is skipped (one job total), results equal native") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    // AQE off + 1 shuffle partition: the exchange deterministically
    // produces ONE partition, where every pass-1 boundary fact is
    // vacuous — the exec must not schedule the boundary job (and a
    // 1-way range exchange samples nothing), so the collect is the
    // only job in the group. Equality against native pins that the
    // synthesized empty stitch is the true neutral element.
    def run(on: Boolean): (Seq[Row], Int) =
      TestSpark.withConf("spark.sql.adaptive.enabled", "false") {
        TestSpark.withConf("spark.sql.shuffle.partitions", "1") {
          withRule(on) {
            val df = data.select($"id", $"g",
              lag($"cents", 2).over(w).as("l2"),
              lead($"cents", 1, -1L).over(w).as("f1"))
            if (on) assert(df.queryExecution.executedPlan.toString
              .contains("GroupedOffset"), "operator must be live")
            val gid = s"goff-skip-$on"
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
    assertSame(onRows, offRows, "single-partition grouped offset")
    assert(onJobs == 1,
      s"pass 1 must be skipped on a single post-exchange partition: expected " +
        s"1 job (the collect), saw $onJobs")
  }

  test("r22 CombineOffsetNodes: a computed-intermediate lag chain bridges the interleaved Project and plans ONE node; dependent chains stay stacked") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    // the s22-adjacent idiom with a COMPUTED intermediate: the Project
    // between the nodes computes the next lag's input (not a pure
    // alias forward), so CollapseProject alone cannot rescue it — the
    // r21 gap the r21 verdict's #3 named. The alias must inline.
    def q() = data
      .withColumn("l1", lag($"cents", 1).over(w))
      .withColumn("derived", $"cents" * 2)
      .withColumn("l2", lag($"derived", 2, -5L).over(w))
      .withColumn("f1", lead($"cents", 1).over(w))
      .select($"id", $"l1", $"l2", $"f1")
    // plan-shape assertions under minBytes=0: the spec-sized input is
    // below the auto gate, and a demoted (native) lone node would
    // vacuously contain zero operator nodes
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MinBytesKey, "0") {
      val plan = q().queryExecution.executedPlan.toString
      val nodes = "GroupedOffset \\[".r.findAllIn(
        plan.split("== Initial Plan ==").head).length
      assert(nodes == 1, s"computed-intermediate chain must merge into ONE " +
        s"node, saw $nodes:\n" + plan.take(2500))
      val got = q().collect().toSeq.sortBy(_.getLong(0))
      val ref = withRule(on = false) {
        q().collect().toSeq.sortBy(_.getLong(0))
      }
      assertSame(got, ref, "bridged offset tower vs native")
      // an outer lag CONSUMING the inner's output is a true data
      // dependency — the chain must NOT merge
      def dep() = data
        .withColumn("l1", lag($"cents", 1).over(w))
        .withColumn("l2", lag($"l1", 1).over(w))
        .select($"id", $"l1", $"l2")
      val depPlan = dep().queryExecution.executedPlan.toString
      val depNodes = "GroupedOffset \\[".r.findAllIn(
        depPlan.split("== Initial Plan ==").head).length
      assert(depNodes == 2, s"dependent chain must stay stacked, saw $depNodes")
      val gotDep = dep().collect().toSeq.sortBy(_.getLong(0))
      val refDep = withRule(on = false) {
        dep().collect().toSeq.sortBy(_.getLong(0))
      }
      assertSame(gotDep, refDep, "dependent offset chain vs native")
    }
  }

  test("r22 grouped lag IGNORE NULLS: key-gated non-null rings bit-equal to native — group edges, all-null groups, cross-partition chains") {
    val s = spark
    import s.implicits._
    // 6 contiguous-by-range groups; group 2's input is ALL NULL (every
    // row defaults); elsewhere ~1 non-null in 23 rows, so depth-2
    // lookups routinely reach past partition boundaries and group
    // heads have fewer non-nulls than the depth (default path). A
    // plain lag and a lead share the node with the nn fns.
    val df0 = (0 until 9000).map { i =>
      val g = i % 6
      val nn = if (g == 2 || i % 23 != 0) None else Some(((i * 13) % 997).toLong)
      (i.toLong, g, (i / 6).toLong, ((i * 37) % 1000).toLong, nn)
    }.toDF("id", "g", "o", "cents", "sparse")
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    def q(on: Boolean, finer: Boolean): Seq[Row] = withRule(on) {
      val base = if (finer) df0.repartitionByRange(16, $"g", $"o", $"id") else df0
      val df = base.select($"id",
        lag($"sparse", 1, null, true).over(w).as("nn1"),
        lag($"sparse", 2, -9L, true).over(w).as("nn2d"),
        lag($"cents", 1).over(w).as("l1"),
        lead($"cents", 2, 0L).over(w).as("f2"))
      if (on) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("GroupedOffset"), plan.take(2000))
      }
      df.collect().toSeq.sortBy(_.getLong(0))
    }
    assertSame(q(on = true, finer = false), q(on = false, finer = false),
      "grouped ignoreNulls lag (exec's own exchange)")
    // day-one finer-exchange canary: a reused (g, o, id) range
    // exchange splits groups mid-segment — the seeded rings then mix
    // groups and the key gate must clip exactly
    assertSame(q(on = true, finer = true), q(on = false, finer = true),
      "grouped ignoreNulls lag (reused finer exchange)")
  }

  test("r22 demotion guard walks through interposed Projects: a stacked member never demotes out of a mixed pile") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MinBytesKey, "auto") {
      // offset ABOVE a running-agg node with a computed Project in
      // between (the withColumn idiom): pre-r22 the direct-child check
      // saw only the Project, demoted the sub-gate offset leg, and
      // re-inserted a hash-clustered native window on top of the
      // family's range exchange
      val above = data
        .withColumn("run", sum($"cents").over(wRun))
        .withColumn("derived", $"cents" * 2)
        .withColumn("l1", lag($"derived", 1).over(w))
        .select($"id", $"run", $"l1")
      val planAbove = above.queryExecution.executedPlan.toString
      assert(planAbove.contains("GroupedOffset"),
        "offset stacked (through a Project) on a family node must NOT " +
          "demote:\n" + planAbove.take(2500))
      // offset BELOW a family node, Project in between (the parent
      // flag must forward through the Project)
      val below = data
        .withColumn("l1", lag($"cents", 1).over(w))
        .withColumn("d2", $"l1" + lit(1L))
        .withColumn("run", sum($"d2").over(wRun))
        .select($"id", $"run", $"l1")
      val planBelow = below.queryExecution.executedPlan.toString
      assert(planBelow.contains("GroupedOffset"),
        "offset below a family node (through a Project) must NOT " +
          "demote:\n" + planBelow.take(2500))
      // results still native-equal in both shapes
      val gotA = above.collect().toSeq.sortBy(_.getLong(0))
      val refA = withRule(on = false)(above.collect().toSeq.sortBy(_.getLong(0)))
      assertSame(gotA, refA, "offset-above pile vs native")
      val gotB = below.collect().toSeq.sortBy(_.getLong(0))
      val refB = withRule(on = false)(below.collect().toSeq.sortBy(_.getLong(0)))
      assertSame(gotB, refB, "offset-below pile vs native")
    }
  }
}
