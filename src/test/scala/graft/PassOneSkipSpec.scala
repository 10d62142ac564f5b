package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r21 fixed-cost trim: when the operator's exchange produces ONE
  * post-shuffle partition (AQE coalescing on small inputs, or a
  * 1-partition deployment), every pass-1 boundary fact is vacuous —
  * there is no neighboring partition to stitch — so the boundary
  * job (and, for RangeSlidingAgg, the halo scan + halo shuffle too)
  * is skipped outright. This spec pins, for each affected operator:
  *
  *   1. the job count: with AQE off and `spark.sql.shuffle.partitions
  *      = 1` the action is the ONLY job in its group (a 1-way range
  *      exchange samples nothing, the pass-1 job must not be
  *      scheduled);
  *   2. bit-equality with the native plan on the same input — the
  *      synthesized empty stitch must be the true neutral element.
  *
  * r22 extends the trim to the rank family, fn-conditionally:
  * GlobalRank skips pass 1 on one partition when every function is
  * rank/dense_rank/row_number (percent_rank/cume_dist/ntile close
  * over the CORPUS total before their first row emits, so their
  * presence keeps pass 1 — pinned both ways below); GroupedRank
  * skips for ALL six functions (its totals are per GROUP, observable
  * locally at segment-flush time on a single partition). The
  * RankRange overflow guard both passes fed moves inline into
  * pass 2 under the skip.
  */
class PassOneSkipSpec extends AnyFunSuite {
  import TestSpark._

  private def onePartition[A](body: => A): A =
    withConf("spark.sql.adaptive.enabled", "false") {
      withConf("spark.sql.shuffle.partitions", "1")(body)
    }

  /** Runs `mk` with and without `rule`; returns (operator rows,
    * native rows, jobs in the operator run's group). */
  private def flipCount(rule: Rule[_], tag: String)
      (mk: () => DataFrame): (Seq[Row], Seq[Row], Int) = {
    val s = spark
    def run(on: Boolean): (Seq[Row], Int) = withRules(on, rule) {
      onePartition {
        val gid = s"p1skip-$tag-$on"
        s.sparkContext.setJobGroup(gid, "r21 pass-1 skip canary")
        try {
          val rows = mk().collect().toSeq.sortBy(_.getLong(0))
          (rows, s.sparkContext.statusTracker.getJobIdsForGroup(gid).length)
        } finally s.sparkContext.clearJobGroup()
      }
    }
    val (onRows, onJobs) = run(on = true)
    val (offRows, _) = run(on = false)
    (onRows, offRows, onJobs)
  }

  private def check(rule: Rule[_], op: String, tag: String)
      (mk: () => DataFrame): Unit = {
    val plan = onePartition(mk().queryExecution.executedPlan.toString)
    assert(plan.contains(op), s"$op must be live:\n" + plan.take(2000))
    val (onRows, offRows, onJobs) = flipCount(rule, tag)(mk)
    assert(onRows == offRows, s"$op single-partition rows must equal native")
    assert(onJobs == 1,
      s"$op: pass 1 must be skipped on one post-exchange partition — " +
        s"expected 1 job (the collect), saw $onJobs")
  }

  private def data = {
    val s = spark
    import s.implicits._
    (0 until 4000).map { i =>
      (i.toLong, i % 4, (i / 4).toLong, ((i * 37) % 1000).toLong)
    }.toDF("id", "g", "o", "cents")
  }

  test("GlobalRunningAgg: single partition skips the prefix job") {
    val w = Window.orderBy(col("o"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    check(plans.GroupedRunningAggRewrite, "GlobalRunningAgg", "grun") { () =>
      data.select(col("id"), sum(col("cents")).over(w).as("run"))
    }
  }

  test("GlobalRunningAgg RANGE frames: single partition skips the prefix job") {
    val w = Window.orderBy(col("o"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    check(plans.GroupedRunningAggRewrite, "GlobalRunningAgg", "grunR") { () =>
      data.select(col("id"), sum(col("cents")).over(w).as("run"))
    }
  }

  test("GroupedRunningAgg: single partition skips the segment-chain job") {
    val w = Window.partitionBy(col("g")).orderBy(col("o"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    check(plans.GroupedRunningAggRewrite, "GroupedRunningAgg", "grpRun") { () =>
      data.select(col("id"), sum(col("cents")).over(w).as("run"))
    }
  }

  test("SlidingAgg: single partition skips the boundary-ring job") {
    val w = Window.orderBy(col("o"), col("id")).rowsBetween(-3, 2)
    check(plans.SlidingAggRewrite, "SlidingAgg", "slide") { () =>
      data.select(col("id"), sum(col("cents")).over(w).as("s"),
        min(col("cents")).over(w).as("m"))
    }
  }

  test("RangeSlidingAgg: single partition skips the edge job AND the halo scan/shuffle") {
    val w = Window.orderBy(col("o")).rangeBetween(-50, 0)
    check(plans.RangeSlidingAggRewrite, "RangeSlidingAgg", "range") { () =>
      data.select(col("id"), sum(col("cents")).over(w).as("s"))
    }
  }

  test("GlobalRank rank-only: single partition skips the stats job") {
    val w = Window.orderBy(col("o"), col("id"))
    check(plans.GroupedRankRewrite, "GlobalRank", "grank") { () =>
      data.select(col("id"), rank().over(w).as("r"),
        dense_rank().over(w).as("d"), row_number().over(w).as("rn"))
    }
  }

  test("GlobalRank percent_rank: pass 1 KEPT on one partition (needs the corpus total)") {
    val s = spark
    val w = Window.orderBy(col("o"), col("id"))
    val mk = () => data.select(col("id"), rank().over(w).as("r"),
      percent_rank().over(w).as("p"))
    val plan = onePartition(mk().queryExecution.executedPlan.toString)
    assert(plan.contains("GlobalRank"), plan.take(2000))
    val (onRows, offRows, onJobs) =
      flipCount(plans.GroupedRankRewrite, "grankP")(mk)
    assert(onRows == offRows, "percent_rank single-partition rows must equal native")
    assert(onJobs == 2,
      s"percent_rank needs totalN before the first emit — pass 1 must " +
        s"stay scheduled (2 jobs), saw $onJobs")
  }

  test("GroupedRank all six fns: single partition skips the segment job") {
    val w = Window.partitionBy(col("g")).orderBy(col("o"), col("id"))
    check(plans.GroupedRankRewrite, "GroupedRank", "grpRank") { () =>
      data.select(col("id"), rank().over(w).as("r"),
        dense_rank().over(w).as("d"), row_number().over(w).as("rn"),
        percent_rank().over(w).as("p"), cume_dist().over(w).as("c"),
        ntile(7).over(w).as("t"))
    }
  }

  test("GlobalOffset + GroupedOffset under one partition: covered by their own specs; mixed split stack skips every pass-1") {
    // a grouped rank+running+lag stack on ONE shared 1-partition
    // exchange: since r22 the rank member skips its pass 1 too, so the
    // collect is the ONLY job, and the stack equals the native window
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"g").orderBy($"o", $"id")
    val mk = () => data.select($"id",
      rank().over(w).as("r"),
      sum($"cents").over(w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)).as("run"),
      lag($"cents", 1).over(w).as("l1"))
    val plan = onePartition(mk().queryExecution.executedPlan.toString)
    assert(plan.contains("GroupedRank") && plan.contains("GroupedRunningAgg") &&
      plan.contains("GroupedOffset"), plan.take(2500))
    val gid = "p1skip-stack"
    s.sparkContext.setJobGroup(gid, "r21 pass-1 skip canary")
    val got = try {
      val rows = onePartition(mk().collect().toSeq.sortBy(_.getLong(0)))
      (rows, s.sparkContext.statusTracker.getJobIdsForGroup(gid).length)
    } finally s.sparkContext.clearJobGroup()
    val ref = withoutRules(plans.WindowSplit, plans.GroupedRankRewrite) {
      onePartition(mk().collect().toSeq.sortBy(_.getLong(0)))
    }
    assert(got._1 == ref, "stacked single-partition plan must equal native")
    assert(got._2 == 1,
      s"every pass-1 skipped (r22: rank's too) — expected 1 job (the " +
        s"collect), saw ${got._2}")
  }
}
