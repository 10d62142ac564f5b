package graft

import org.apache.spark.sql.SparkSession

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
    * (or unsetting) afterwards — the A/B lever for rule kill
    * switches. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
