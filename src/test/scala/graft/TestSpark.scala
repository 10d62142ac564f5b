package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule

import graft.plans.ExcludedRules

/** One shared local session for all specs (GraftExtensions installed
  * by Tables.session). sf0.001 keeps specs fast; oracle-level
  * correctness is gated separately by Verify + DuckDB. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Tables.session(4)
    // The offset class's r21 `auto` small-input gate (minBytes =
    // advisory partition size) would keep every spec-sized input
    // native. Specs pin the OPERATOR contract, so the harness session
    // disables the gate; the gate's own default is pinned by
    // dedicated cases via `withConf(key, "auto")`.
    s.conf.set(plans.GroupedOffsetRewrite.MinBytesKey, "0")
    s
  }
  val SfDir = "/root/testdata/sf0.001"

  /** Run `body` with a session conf set, restoring the prior value
    * (or unsetting) afterwards. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with `rules` turned off — the A/B lever for the graft
    * rewrites, whose native reference plan is the one without them.
    * The rules are ADDED to `spark.sql.optimizer.excludedRules`, so
    * nested calls exclude the union and a prior exclusion stays in
    * force; the prior value is restored (or unset) afterwards. */
  def withoutRules[A](rules: Rule[_]*)(body: => A): A =
    withConf(ExcludedRules.Key,
      ExcludedRules.plus(spark.conf.getOption(ExcludedRules.Key), rules))(body)

  /** `body` as is when `on`, else under [[withoutRules]]. */
  def withRules[A](on: Boolean, rules: Rule[_]*)(body: => A): A =
    if (on) body else withoutRules(rules: _*)(body)
}
