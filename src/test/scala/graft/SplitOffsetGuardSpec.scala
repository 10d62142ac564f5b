package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The split rules price the offset class's pass-1 boundary-VALUE
  * traffic exactly as its single-class rewrite does
  * ([[graft.plans.GroupedOffsetRewrite.trafficOk]]): with
  * `spark.graft.globalWindow.maxBoundaryBytes` set between the rank
  * class's key traffic and the offset class's value traffic, the rank
  * member alone fires and the offset member alone stays native, so a
  * mixed node holding both must stay native too — a split would force
  * the offset operator past the cap. Two shapes the guard used to
  * miss:
  *   - global `rank + lag(stringCol)`: the global split applied no
  *     offset value guard at all;
  *   - grouped `rank + two lag … IGNORE NULLS`: the grouped split sized
  *     the guard as max lag + max lead, leaving out the per-function
  *     non-null rings pass 1 ships.
  * Offset `minBytes=0`, so the small-input demotion cannot hide the
  * plan. Results must equal the native plan's.
  */
class SplitOffsetGuardSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  /** The cap as a multiple of the shuffle-partition count (the guards'
    * partition estimate), with offset minBytes 0. */
  private def withCap[A](bytesPerPartition: Long)(body: => A): A = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    TestSpark.withConf(graft.plans.GroupedOffsetRewrite.MinBytesKey, "0") {
      TestSpark.withConf(graft.plans.PlanGuards.MaxBoundaryBytesKey,
        (parts * bytesPerPartition).toString)(body)
    }
  }

  test("global rank + lag(string): the split applies the offset value guard and stays native") {
    val s = spark
    import s.implicits._
    val data = (0 until 4000).map(i => (i.toLong, s"name-${(i * 37) % 1000}"))
      .toDF("id", "name")
    val w = Window.orderBy($"id")
    def mixed() = data.select($"id", rank().over(w).as("r"),
      lag($"name", 1).over(w).as("prev"))
    // key traffic 2 × 8 B per partition, value traffic 1 × 256 B
    // (the variable-width floor): a cap of 100 B per partition sits
    // between them
    withCap(100L) {
      assert(planOf(data.select($"id", rank().over(w).as("r"))).contains("GlobalRank"),
        "test setup: the rank member alone must fire under the cap")
      assert(!planOf(data.select($"id", lag($"name", 1).over(w).as("p")))
        .contains("GlobalOffset"),
        "test setup: the offset member alone must stay native under the cap")
      val plan = planOf(mixed())
      assert(!plan.contains("GlobalOffset") && !plan.contains("GlobalRank"),
        "the split must not force the offset operator past the cap:\n" + plan.take(2500))
      assert(plan.contains("Window ["), "the mixed node must stay native:\n" + plan.take(2500))
      val got = rows(mixed())
      val ref = TestSpark.withoutRules(graft.plans.WindowSplit) {
        rows(mixed())
      }
      assert(got == ref, "mixed global node vs native")
    }
  }

  test("grouped rank + two lag IGNORE NULLS: the split counts the non-null rings and stays native") {
    val s = spark
    import s.implicits._
    val data = (0 until 4000).map { i =>
      val a: java.lang.Long = if (i % 3 == 0) null else java.lang.Long.valueOf((i * 31) % 500)
      val b: java.lang.Long = if (i % 5 == 0) null else java.lang.Long.valueOf((i * 17) % 700)
      (i.toLong, (i % 4).toLong, a, b)
    }.toDF("id", "g", "a", "b")
    val w = Window.partitionBy($"g").orderBy($"id")
    val lags = Seq(
      lag($"a", 1, null, true).over(w).as("pa"),
      lag($"b", 2, null, true).over(w).as("pb"))
    def mixed() = data.select(Seq($"id", rank().over(w).as("r")) ++ lags: _*)
    // per partition: rank keys 2 × (8 + 8) = 32 B; offset tuples of
    // width 8 + 8 + 8 (two inputs + the group key) × extent — 2 under
    // the old max-lag + max-lead sizing, 3 with the rings (1 + 2): a
    // cap of 60 B sits between 48 (old) and 72 (rings)
    withCap(60L) {
      assert(planOf(data.select($"id", rank().over(w).as("r"))).contains("GroupedRank"),
        "test setup: the rank member alone must fire under the cap")
      assert(!planOf(data.select(Seq($"id") ++ lags: _*)).contains("GroupedOffset"),
        "test setup: the offset members alone must stay native under the cap")
      val plan = planOf(mixed())
      assert(!plan.contains("GroupedOffset") && !plan.contains("GroupedRank"),
        "the split must not force the offset operator past the cap:\n" + plan.take(2500))
      assert(plan.contains("Window ["), "the mixed node must stay native:\n" + plan.take(2500))
      val got = rows(mixed())
      val ref = TestSpark.withoutRules(graft.plans.WindowSplit) {
        rows(mixed())
      }
      assert(got == ref, "mixed grouped node vs native")
    }
  }
}
