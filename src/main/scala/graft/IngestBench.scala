package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-path benchmark (VERDICT r16 "Next round" #2): the reference
  * IS an ingest daemon (solarman.py's poll → decode → buffered batch
  * INSERT loop into MergeTree-backed tables), so the engine's claim to
  * match it needs a MEASURED ingest number next to the query records —
  * the query bench never exercises the sinks.
  *
  * Three staged throughputs over one generated register-reading feed
  * (`SPARK_GRAFT_INGEST_ROWS`, default 2M rows, written as 32 parquet
  * files so the file-source stream micro-batches realistically):
  *
  *   - `buffered_raw`: readStream over the feed → [[graft.streaming
  *     .BufferedStreamSink]] AvailableNow drain (ParquetBatchWriter,
  *     `batch=<id>` layout) — the reference's buffered-insert loop
  *     alone (solarman.py:192-225), no transform;
  *   - `daemon`: readStream → [[graft.streaming.Streaming
  *     .daemonPipeline]] (broadcast catalog decode + watermarked
  *     hourly rollup) → the same sink drain — the WHOLE daemon
  *     (solarman.py end to end) as Structured Streaming;
  *   - `mergetree_append`: [[graft.streaming.MergeTreeSink.appendPart]]
  *     batch ingest of the feed — one MergeTree INSERT part
  *     (month-partitioned, (key, ts)-sorted parquet; tables.sql:32).
  *
  * Methodology mirrors BenchCore's spirit at stage granularity: one
  * warmup drain on a small slice (JIT + stream-planner + codegen
  * caches), then the min of `SPARK_GRAFT_INGEST_SAMPLES` (default 2)
  * timed runs per stage, each on a fresh checkpoint/output dir so
  * every run ingests the full feed from offset zero. Reported value =
  * input rows / wall seconds (rows/s). One JSON line on stdout plus a
  * truncation-proof copy at target/ingest_bench.json — commit the
  * per-round record under bench_records/.
  */
object IngestBench {

  private def timeSec[A](body: => A): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Deterministic register-reading feed: `rows` readings over
    * `inverters` sticks × the 3-register catalog, one poll sweep per
    * 5 event-time minutes (hours roll over, so the daemon rollup has
    * real window churn). Same raw/scale arithmetic as the DSv2 poll
    * source, so the decode is the reference's. */
  private[graft] def generateFeed(spark: SparkSession, dir: String, rows: Long,
                                  inverters: Int): DataFrame = {
    val regs = sources.RegisterPollSource.Registers
    val names = array(regs.map(r => lit(r._1)): _*)
    val scales = array(regs.map(r => lit(r._2)): _*)
    val nReg = regs.size
    val perPoll = inverters.toLong * nReg
    val feed = spark.range(0, rows, 1, 32)
      .withColumn("poll", col("id") / perPoll cast "long")
      .withColumn("inverter", (col("id") / nReg cast "long") % inverters)
      .withColumn("ridx", (col("id") % nReg).cast("int"))
      .withColumn("register", element_at(names, col("ridx") + 1))
      .withColumn("raw",
        pmod(col("poll") * 2654435761L + col("inverter") * 40503L + col("ridx") * 69427L,
          lit(10000L)))
      .withColumn("scaled", col("raw") * element_at(scales, col("ridx") + 1))
      .withColumn("ts", timestamp_micros(
        lit(sources.RegisterPollSource.EpochBaseUs) + col("poll") * 300L * 1000000L))
      .select("poll", "inverter", "register", "raw", "scaled", "ts")
    feed.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_INGEST_ROWS", "2000000").toLong
    val samples = math.max(1, sys.env.getOrElse("SPARK_GRAFT_INGEST_SAMPLES", "2").toInt)
    val spark = Tables.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val work = Files.createTempDirectory("graft_ingest_bench").toString
    val feedDir = s"$work/feed"
    val warmDir = s"$work/feed_warm"
    val feed = generateFeed(spark, feedDir, rows, inverters = 50)
    generateFeed(spark, warmDir, math.min(rows / 20, 100000L), inverters = 50)
    val schema = feed.schema

    // registers.txt in the reference catalog format (solarman.py's
    // table-driven decode walk / registers.txt) — the daemon stage's
    // broadcast dim comes through the DSv2 catalog source like prod.
    val catFile = s"$work/registers.txt"
    Files.writeString(java.nio.file.Path.of(catFile),
      """dc_voltage   109  1  0.1   V
        |ac_watts     117  2  1.0   W
        |ac_frequency 119  1  0.01  Hz
        |""".stripMargin)
    val catalog = spark.read.format("register-catalog").load(catFile)

    def stream(dir: String): DataFrame =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8) // 32 files -> 4 micro-batches
        .parquet(dir)

    var runId = 0
    def drain(transform: DataFrame => DataFrame, dir: String): Unit = {
      runId += 1
      val sink = new streaming.BufferedStreamSink(s"$work/out$runId")
      val q = sink.drainAvailable(transform(stream(dir)), s"$work/ckpt$runId")
      q.awaitTermination()
    }

    def measure(what: String)(run: () => Double): Double = {
      val t = (1 to samples).map(_ => run()).min
      System.err.println(f"[ingest-bench] $what%-16s ${t}%8.2f s  ${rows / t}%,12.0f rows/s")
      t
    }

    // ---- stage 1: buffered raw drain (the insert loop alone) ----
    drain(identity, warmDir) // warmup: stream planner + codegen + sink
    val rawSec = measure("buffered_raw") { () => timeSec(drain(identity, feedDir)) }

    // ---- stage 2: the whole daemon (decode + rollup + sink) ----
    drain(streaming.Streaming.daemonPipeline(_, catalog), warmDir)
    val daemonSec = measure("daemon") { () =>
      timeSec(drain(streaming.Streaming.daemonPipeline(_, catalog), feedDir))
    }

    // ---- stage 3: MergeTree INSERT part (batch append) ----
    runId += 1
    streaming.MergeTreeSink.appendPart( // warmup to its own table path
      spark.read.parquet(warmDir), s"$work/mt$runId", "ts", "inverter")
    val mtSec = measure("mergetree_append") { () =>
      runId += 1
      timeSec(streaming.MergeTreeSink.appendPart(
        feed, s"$work/mt$runId", "ts", "inverter"))
    }

    def rps(sec: Double): Long = (rows / sec).toLong
    val line =
      s"""{"metric":"ingest_daemon_rows_per_sec","value":${rps(daemonSec)},""" +
        s""""unit":"rows/s","rows":$rows,"stages":{""" +
        s""""buffered_raw_sec":$rawSec,"buffered_raw_rps":${rps(rawSec)},""" +
        s""""daemon_sec":$daemonSec,"daemon_rps":${rps(daemonSec)},""" +
        s""""mergetree_append_sec":$mtSec,"mergetree_append_rps":${rps(mtSec)}}}"""
    println(line)
    try {
      Files.createDirectories(java.nio.file.Path.of("target"))
      Files.writeString(java.nio.file.Path.of("target/ingest_bench.json"), line + "\n")
    } catch { case _: Exception => }
    spark.stop()
  }
}
