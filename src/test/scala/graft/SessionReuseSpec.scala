package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Work a warm session must not pay for twice.
  *
  *   1. Generated code: the session's codegen cache holds more classes
  *      than Spark's default of 100, so a plan run again after 150
  *      other plans compiles nothing (counted with Spark's own Janino
  *      compilation metric).
  *   2. Parquet schema inference: a second [[Tables.load]] of the same
  *      path in the same session runs no Spark job, yet stays a fresh,
  *      self-joinable relation; a rewritten path is inferred again; and
  *      no session sees another session's entry.
  */
class SessionReuseSpec extends AnyFunSuite {
  import TestSpark._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("codegen: the cache outgrows Spark's default, so a re-run plan compiles nothing") {
    assert(spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key).toInt ==
      Tables.CodegenCacheEntries, "the cache size Tables.session sets must reach the session")
    // every multiplier is a distinct literal inlined into the generated source
    def run(i: Int): Unit =
      spark.range(0, 64, 1, 2).selectExpr(s"id * ${1000003 + i} AS x").collect()
    run(0)
    run(0)
    val before = compiles
    (1 to 150).foreach(run)
    val distinct = compiles - before
    assert(distinct > 100, s"the fixture must compile more than 100 classes, got $distinct")
    val again = compiles
    run(0)
    assert(compiles - again == 0,
      s"the first plan's classes must still be cached after $distinct others; " +
        s"re-run compiled ${compiles - again}")
  }

  /** A temporary copy of the sf0.001 `nation` and `events` tables. */
  private def tableCopy(): String = {
    val dir = Files.createTempDirectory("graft_tables").toString
    for (t <- Seq("nation", "events"))
      Files.copy(Paths.get(s"$SfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    dir
  }

  private var groups = 0

  /** Spark jobs `body` runs, counted by job group. */
  private def jobs(s: SparkSession)(body: => Unit): Int = {
    groups += 1
    val gid = s"tables-load-$groups"
    s.sparkContext.setJobGroup(gid, "Tables.load schema reuse")
    try body finally s.sparkContext.clearJobGroup()
    org.apache.spark.SparkTestHooks.waitUntilListenerBusEmpty(s.sparkContext)
    s.sparkContext.statusTracker.getJobIdsForGroup(gid).length
  }

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  test("Tables.load: a second load of the same path in the session runs no Spark job") {
    val dir = tableCopy()
    var first, second: DataFrame = null
    val inferJobs = jobs(spark) { first = Tables.events(spark, dir) }
    assert(inferJobs >= 1, "the first load infers the schema with a Spark job")
    assert(jobs(spark) { second = Tables.events(spark, dir) } == 0,
      "a second load of an unchanged path must reuse the inferred schema")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
    assert(rows(second) == rows(Tables.events(spark, SfDir)))
  }

  test("Tables.load: a self-join of two loads resolves and equals two plain reads") {
    val s = spark
    import s.implicits._
    val dir = tableCopy()
    Tables.nation(s, dir)
    val a = Tables.nation(s, dir)
    val b = Tables.nation(s, dir)
    val joined = a.join(b, a("n_regionkey") === b("n_nationkey"))
      .select(a("n_name"), b("n_name").as("region_peer"))
    val pa = s.read.parquet(s"$dir/nation.parquet")
    val pb = s.read.parquet(s"$dir/nation.parquet")
    val plain = pa.join(pb, pa("n_regionkey") === pb("n_nationkey"))
      .select(pa("n_name"), pb("n_name").as("region_peer"))
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty,
      "each load must be a fresh relation")
    assert(rows(joined).nonEmpty)
    assert(rows(joined) == rows(plain))
    assert(joined.filter($"n_name" =!= $"region_peer").count() > 0)
  }

  test("Tables.load: rewriting the path with another schema infers it again") {
    val s = spark
    val dir = tableCopy()
    assert(Tables.nation(s, dir).columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    s.range(5).selectExpr("id AS k", "concat('v', id) AS v")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    var after: DataFrame = null
    assert(jobs(s) { after = Tables.nation(s, dir) } >= 1,
      "changed leaf files must trigger inference")
    assert(after.columns.toSeq == Seq("k", "v"))
    assert(rows(after) == (0 until 5).map(i => s"[$i,v$i]").sorted)
    assert(jobs(s) { Tables.nation(s, dir) } == 0, "the new schema is reused in turn")
  }

  test("Tables.load: a new session never sees another session's entry") {
    val dir = tableCopy()
    Tables.nation(spark, dir)
    assert(jobs(spark) { Tables.nation(spark, dir) } == 0)
    val other = spark.newSession()
    assert(jobs(other) { Tables.nation(other, dir) } >= 1,
      "a new session must infer the schema itself")
    assert(jobs(other) { Tables.nation(other, dir) } == 0)
  }
}
