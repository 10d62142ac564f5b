package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{ExcludedRules, GroupedRankRewrite, WindowSplit}

/** [[TestSpark.withoutRules]], the harness's A/B lever: it ADDS rules
  * to `spark.sql.optimizer.excludedRules`, so nested calls exclude the
  * union and an exclusion already in force (a non-graft rule here)
  * stays; each call restores the value it found. */
class ExcludedRulesSpec extends AnyFunSuite {
  import TestSpark._

  private val NonGraft = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  private def excluded: Seq[String] =
    spark.conf.getOption(ExcludedRules.Key).toSeq.flatMap(_.split(","))

  test("withoutRules nests, keeps a prior exclusion, restores, and turns the rewrite off") {
    val before = spark.conf.getOption(ExcludedRules.Key)
    val rankPlan = () => spark.range(200).select(rank().over(Window.orderBy(col("id"))).as("r"))
      .queryExecution.executedPlan.toString
    withConf(ExcludedRules.Key, NonGraft) {
      withoutRules(GroupedRankRewrite) {
        assert(excluded == Seq(NonGraft, GroupedRankRewrite.ruleName))
        assert(!rankPlan().contains("GlobalRank"), "an excluded rewrite must not fire")
        withoutRules(WindowSplit) {
          assert(excluded == Seq(NonGraft, GroupedRankRewrite.ruleName, WindowSplit.ruleName))
        }
        assert(excluded == Seq(NonGraft, GroupedRankRewrite.ruleName))
      }
      assert(excluded == Seq(NonGraft))
      assert(rankPlan().contains("GlobalRank"), "the rewrite must fire again once restored")
    }
    assert(spark.conf.getOption(ExcludedRules.Key) == before)
  }
}
