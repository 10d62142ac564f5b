package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Float PARTITION-BY keys through the custom grouped operators:
  * native WindowExec sees partition keys normalized by
  * NormalizeFloatingNumbers (-0.0 == 0.0, all NaN bit patterns one
  * group); the custom nodes must group identically. */
class FloatKeyProbeSpec extends AnyFunSuite {
  import TestSpark._

  private def data = {
    val s = spark
    import s.implicits._
    // -0.0 must be produced at RUNTIME: Literal(-0.0) normalizes to
    // 0.0 at construction, so a foldable expression never tests it
    (0 until 4000).map(i => (i.toLong, i % 4, ((i * 37) % 100).toLong))
      .toDF("id", "c", "cents")
      .withColumn("z", ($"c" - $"c").cast("double"))
      .withColumn("d",
        when($"c" === 0, sqrt($"z" - 1.0)) // runtime sqrt(-1) = NaN
          .when($"c" === 1, -$"z") // runtime IEEE -0.0
          .when($"c" === 2, $"z") // runtime +0.0
          .otherwise(lit(1.0)))
  }

  private def assertSame(got: Seq[Row], ref: Seq[Row], what: String): Unit = {
    val bad = got.zip(ref).filter { case (g, r) => g != r }
    assert(bad.isEmpty,
      s"$what: ${bad.size}/${ref.size} rows diverge from native; first: ${bad.take(3)}")
  }

  test("range-sliding over a double key with NaN and -0.0/0.0: halo keys group identically (r19)") {
    val s = spark
    import s.implicits._
    // the fifth grouped operator: RangeSlidingAgg ships the part keys
    // through the halo SHUFFLE and compares them in both the binary
    // search and the merge — UnsafeWriter normalizes -0.0 and
    // RowOrdering treats all NaNs equal, so grouping must match the
    // native NormalizeFloatingNumbers semantics
    def q(on: Boolean): Seq[Row] =
      TestSpark.withRules(on, graft.plans.RangeSlidingAggRewrite) {
        val w = Window.partitionBy($"d").orderBy($"cents")
        data.repartitionByRange(16, $"d", $"cents", $"id")
          .select($"id",
            sum($"cents").over(w.rangeBetween(-20, 0)).as("t"),
            count(lit(1)).over(w.rangeBetween(-10, 10)).as("c"))
          .collect().toSeq.sortBy(_.getLong(0))
      }
    assertSame(q(on = true), q(on = false), "float-key range-sliding")
  }

  test("grouped rank/running/full-frame/sliding over a double key with NaN and -0.0/0.0: bit-equal vs native") {
    val s = spark
    import s.implicits._
    val w = Window.partitionBy($"d").orderBy($"id")
    def q(on: Boolean): Seq[Seq[Row]] = {
      TestSpark.withRules(on, graft.plans.GroupedRankRewrite,
          graft.plans.GroupedRunningAggRewrite, graft.plans.GroupedAggRewrite,
          graft.plans.SlidingAggRewrite, graft.plans.WindowSplit,
          graft.plans.GroupedOffsetRewrite) {
        val rankDf = data.select($"id",
          rank().over(w).as("r"))
        val runDf = data.select($"id",
          sum($"cents").over(w).as("run"))
        val aggDf = data.select($"id",
          sum($"cents").over(Window.partitionBy($"d")).as("tot"),
          count(lit(1)).over(Window.partitionBy($"d")).as("n"))
        val slideDf = data.select($"id",
          sum($"cents").over(w.rowsBetween(-3, 0)).as("m"))
        // the sixth grouped operator (r20): the pass-2 key gate
        // compares evaluated double keys through RowOrdering, which
        // must reproduce NormalizeFloatingNumbers' NaN/-0.0 grouping
        val offDf = data.select($"id",
          lag($"cents", 2, -1L).over(w).as("p2"),
          lead($"cents", 1).over(w).as("n1"))
        Seq(rankDf, runDf, aggDf, slideDf, offDf)
          .map(_.collect().toSeq.sortBy(_.getLong(0)))
      }
    }
    q(on = true).zip(q(on = false)).zipWithIndex.foreach { case ((g, r), i) =>
      assertSame(g, r, s"float-key grouped operator #$i")
    }
  }
}
