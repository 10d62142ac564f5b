package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.StaticSQLConf

/** Shared benchmark methodology for [[Bench]] and [[Probe]].
  *
  * Each query is executed through a `noop` sink so the full plan runs —
  * a bare `.count()` lets Catalyst prune projections (e.g. window
  * expressions) and times a plan nobody runs. Every query gets one
  * warmup execution (JIT + code cache + parquet footer cache), previous
  * queries' garbage is collected OUTSIDE the timed section (in a
  * 70-plan JVM the accumulated debt otherwise lands as a multi-second
  * pause inside whichever query runs next; observed 0.9 s → 6 s), and
  * the reported time is the best of three timed runs.
  *
  * Because each query is warmed and timed back to back, its generated
  * classes are always in Spark's codegen cache when timed, so these
  * minima cannot show cross-query codegen thrash: a cache smaller than
  * a session's working set recompiles every query on each pass of a
  * suite, yet reads as warm here. `target/bench_full.json` records the
  * run's compile count to make that visible (see [[Tables.session]]).
  *
  * Load sentinel: the round-8 graded artifact reported 5.7 s for a
  * query that quietly runs 1.9 s because an unrelated process spiked
  * the machine mid-bench. To keep graded numbers honest, a fixed
  * CPU-bound calibration plan is timed at startup ([[initBaseline]],
  * called from both mains right after session creation; baseline =
  * min of 5, and every later calibration run can only tighten it);
  * a timed sample only counts as CLEAN if the calibration run taken
  * right after it stays within 2× of that baseline. Sampling continues
  * (with short backoff) until 3 clean samples exist or the attempt cap
  * is hit; the minimum over ALL samples is reported — load only ever
  * inflates a reading, so min is the right statistic and the sentinel's
  * job is just to guarantee at least one quiet-machine sample.
  */
object BenchCore {
  /** Small, fixed, CPU-bound, IO-free plan: its runtime moves with
    * machine load and nothing else. ~30 ms warm on an idle local[32]. */
  private def calibrateOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1L << 21, 1, 4)
      .selectExpr("sum(id * 2654435761 % 1000003) AS s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Quiet-machine baseline for the load sentinel. */
  def baseline(spark: SparkSession): Double = {
    calibrateOnce(spark) // warm the calibration plan itself
    (1 to 5).map(_ => calibrateOnce(spark)).min
  }

  /** Compute the sentinel baseline NOW (idempotent). [[Bench]] and
    * [[Probe]] call this right after session creation, before any
    * query runs, so the baseline is genuinely a startup measurement
    * rather than whatever the machine looked like after the first
    * query's timed sample. */
  def initBaseline(spark: SparkSession): Double = {
    if (base < 0) base = baseline(spark)
    base
  }

  def runOnce(spark: SparkSession, sfDir: String,
              fn: (SparkSession, String) => DataFrame): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Warmup + up-to-`maxAttempts` timed runs, stopping once `want`
    * samples were taken on a quiet machine; returns the min sample. */
  def measure(spark: SparkSession, sfDir: String,
              fn: (SparkSession, String) => DataFrame,
              want: Int = 3, maxAttempts: Int = 5): Double = {
    runOnce(spark, sfDir, fn) // warmup — discarded
    System.gc()
    var best = Double.MaxValue
    var clean = 0
    var attempts = 0
    initBaseline(spark)
    while (clean < want && attempts < maxAttempts) {
      val t = runOnce(spark, sfDir, fn)
      attempts += 1
      if (t < best) best = t
      val c = calibrateOnce(spark)
      // Load only ever inflates the calibration plan, so every later
      // run can only TIGHTEN the baseline — a loaded first computation
      // cannot leave the 2x cleanliness gate permanently permissive.
      if (c < base) base = c
      if (c <= 2.0 * base) clean += 1
      else Thread.sleep(200L * attempts) // loaded — back off before resampling
    }
    best
  }

  private var base: Double = -1.0

  /** The current quiet-machine sentinel baseline (min over every
    * calibration run so far; -1 before [[initBaseline]]). Recorded in
    * the bench artifact so cross-round comparisons can separate
    * machine weather from structural change (r21, verdict #3). */
  def sentinelBaseline: Double = base
}

/** Benchmark main — one JSON line on stdout for the driver. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.session(cpus)
    BenchCore.initBaseline(spark) // sentinel baseline before any query runs

    // clean-sample count per query (wall-time lever: 2 ≈ the old
    // best-of-2 wall cost, still sentinel-gated; default 3; clamped —
    // 0/negative would skip the loop and report Double.MaxValue)
    val samples = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t = try BenchCore.measure(spark, sfDir, fn, want = samples, maxAttempts = samples + 2)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
      name -> t
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // sentinel: the load-calibration plan's quiet-machine baseline
    // (min over the whole run — BenchCore tightens it continuously).
    // Recording it IN the artifact lets round-over-round comparisons
    // normalize out machine weather (the r20 verdict's #3): ambient
    // drift moves the sentinel and the queries together, structural
    // regressions move only the queries.
    val fields = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sentinel":${BenchCore.sentinelBaseline},"sf":"$sfDir""""
    println(fields + "}")
    // Truncation-proof copy: the round-9 graded artifact lost its tail
    // (d1-d9/e1/e2 missing) to stdout capture truncation; the same JSON
    // line on disk means nobody reconstructs numbers from prose. The
    // file alone also carries the run's Janino compilations (codegen
    // cache misses; the count that sizes Tables.CodegenCacheEntries)
    // and the codegen cache size in effect.
    val full = fields +
      s""","codegen_compiles":${CodegenMetrics.METRIC_COMPILATION_TIME.getCount},""" +
      s""""codegen_cache_max_entries":${spark.conf.get(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key)}}"""
    try {
      val out = new java.io.File("target/bench_full.json")
      out.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(out)
      try w.println(full) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    spark.stop()
  }
}
