package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run that hosts it. `spark` is the
  * session of the latest set-up; `sessionMs` is the median time to start
  * a session over the set-ups. */
final class Ctx(var spark: SparkSession, val seed: Long, val seconds: Int, val trace: Boolean,
                val work: String, val fingerprints: String, val recordFingerprints: Boolean,
                val engine: Option[EngineListener], val cores: Int, var sessionMs: Double,
                val steal: Steal) {
  /** Facts about the run that are not metrics (sample counts, sentinel),
    * kept in the run's record file. */
  val notes = mutable.LinkedHashMap.empty[String, Double]
  def record(k: String, v: Double): Unit = notes(k) = v

  /** Sets the workload up `SetUps` times, each in a fresh session but
    * the first (which the run started): session start plus `warm`. The
    * last session stays open for the measured phase, with the engine
    * listener of a traced run attached. Returns the median steal-adjusted
    * set-up time in seconds. */
  def setUps(warm: Int => Unit): Double = {
    val times = (0 until Ctx.SetUps).map { k =>
      val t0 = System.nanoTime() - (if (k == 0) (sessionMs * 1e6).toLong else 0L)
      val sMs = if (k == 0) sessionMs else {
        spark.stop()
        Main.timeMs { spark = graft.Tables.session(cores) }
      }
      warm(k)
      val t1 = System.nanoTime()
      Main.log(f"set-up $k: session $sMs%.0f ms, total ${(t1 - t0) / 1e6}%.0f ms")
      (sMs, (t1 - t0) / 1e6, steal.adjustMs(t0, t1))
    }
    sessionMs = Stats.median(times.map(_._1))
    engine.foreach(spark.sparkContext.addSparkListener)
    record("setup_first_s", times.head._2 / 1000)
    record("setup_wall_s", Stats.median(times.map(_._2)) / 1000)
    Stats.median(times.map(_._3)) / 1000
  }

  /** Runs the measured phase between two load sentinels, and records
    * both and the phase's steal share. */
  def measured[A](body: => A): A = {
    record("sentinel_before_ms", Main.sentinelMs(spark))
    val t0 = System.nanoTime()
    val a = body
    record("bench.steal_share", steal.share(t0, System.nanoTime()))
    record("bench.sentinel_ms", Main.sentinelMs(spark))
    a
  }
}

object Ctx {
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3
}

/** Steal accounting. On a virtual machine whose host is shared, the
  * hypervisor takes CPU time from the machine's cores when the host is
  * busy ("steal" in /proc/stat), in stretches of tens of seconds to
  * minutes, and every wall time stretches with it: the suite's median
  * query took 1.2 to 2.3 times as long with 12 to 47% of the CPU time
  * stolen as with under 1%. So the
  * benchmark reports a timed interval as the part of it the host let the
  * machine run: its wall time times one minus the steal share of the
  * machine's busy CPU time over the interval. Where nothing is stolen
  * that is the wall time. A thread samples /proc/stat every `PeriodMs`,
  * so that any interval of the run can be adjusted afterwards. */
final class Steal extends Thread("perfbench-steal") {
  private val PeriodMs = 25L
  // (nanoTime, busy jiffies, steal jiffies)
  private val samples = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  setDaemon(true)
  sample()
  start()

  private def sample(): Unit = {
    val (busy, st) = Steal.jiffies
    samples.synchronized(samples += ((System.nanoTime(), busy, st)))
  }

  override def run(): Unit =
    try while (true) { Thread.sleep(PeriodMs); sample() }
    catch { case _: InterruptedException => }

  /** Steal share of the machine's busy CPU time from `t0` to `t1`
    * (System.nanoTime), over the samples that bracket the interval. */
  def share(t0: Long, t1: Long): Double = {
    while (samples.synchronized(samples.last._1) < t1 && isAlive) Thread.sleep(PeriodMs / 2)
    samples.synchronized {
      val i = math.max(0, samples.lastIndexWhere(_._1 <= t0))
      val j = samples.indexWhere(_._1 >= t1) match { case -1 => samples.size - 1; case j => j }
      val busy = samples(j)._2 - samples(i)._2
      if (busy <= 0) 0.0 else (samples(j)._3 - samples(i)._3).toDouble / busy
    }
  }

  /** The interval's steal-adjusted time in ms. */
  def adjustMs(t0: Long, t1: Long): Double = (t1 - t0) / 1e6 * (1.0 - share(t0, t1))
}

object Steal {
  /** (busy, steal) CPU time of the machine so far, in jiffies, from
    * /proc/stat: busy counts user, nice, system, irq, softirq and steal
    * time. */
  def jiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6) + f(7), f(7))
    } finally src.close()
  }
}

/** Every per-layer metric, in the order BENCHMARK.json lists them. A
  * traced run reports all of them; a layer the workload does not reach
  * reads 0. */
final class Layers(ctx: Ctx) {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  Layers.All.foreach { case (k, u) => values(k) = (0.0, u) }
  values("tables.session_ms") = (ctx.sessionMs, "ms")

  def put(name: String, v: Double, unit: String): Unit = {
    require(values.get(name).exists(_._2 == unit), s"unknown per-layer metric $name [$unit]")
    values(name) = (v, unit)
  }

  /** Self time per layer, as the mean over that layer's spans. */
  def putSelf(tr: Tracer): Unit = {
    val self = tr.selfMsByLayer
    val spans = tr.all.groupBy(_.layer).map { case (l, ss) => l -> ss.size }
    Layers.SelfLayers.foreach(l =>
      put(s"self_ms.$l", self.getOrElse(l, 0.0) / math.max(1, spans.getOrElse(l, 0)), "ms"))
  }

  def into(res: Result): Unit = {
    values("jvm.peak_rss_mb") = (Main.peakRssMb, "MB")
    values.foreach { case (k, (v, u)) => res.put(k, v, u) }
  }
}

object Layers {
  val FamilyNames: Seq[String] = Queries.Families.map(_._1)
  val SelfLayers = Seq("run", "query", "build", "plan", "execute", "job", "batch", "sink.write",
    "mergetree.append", "mergetree.optimize", "read")

  val All: Seq[(String, String)] =
    Seq("tables.session_ms" -> "ms") ++
      FamilyNames.map(f => s"build.ms.$f" -> "ms") ++
      Seq("build.jobs" -> "count",
        "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.planning_ms" -> "ms",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.job_ms" -> "ms", "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
        "spark.gc_ms" -> "ms", "spark.core_busy_ratio" -> "ratio",
        "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes", "spark.result_bytes" -> "bytes",
        "spark.peak_exec_mem_bytes" -> "bytes",
        "plans.graft_exec_nodes" -> "count", "plans.native_window_nodes" -> "count") ++
      FamilyNames.map(f => s"exec.ms.$f" -> "ms") ++
      Seq("stream.batches" -> "count", "stream.rows_per_batch" -> "count",
        "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms",
        "stream.planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
        "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
        "stream.state_rows" -> "count", "stream.state_mem_bytes" -> "bytes",
        "stream.state_commit_ms" -> "ms", "stream.lag_tail_ms" -> "ms",
        "sink.write_ms" -> "ms", "sink.wait_ms" -> "ms", "sink.retries" -> "count",
        "sink.injected" -> "count",
        "mergetree.append_ms" -> "ms", "mergetree.optimize_ms" -> "ms",
        "mergetree.files" -> "count", "mergetree.bytes_written" -> "bytes",
        "mergetree.bytes_rewritten" -> "bytes", "mergetree.files_read_per_read" -> "count",
        "mergetree.read_p50_ms" -> "ms", "mergetree.append_rows_per_s" -> "1/s",
        "mergetree.bytes_per_input_byte" -> "ratio",
        "gen.late_ms" -> "ms", "bench.sentinel_ms" -> "ms", "bench.steal_share" -> "ratio",
        "trace.overhead_ratio" -> "ratio",
        "jvm.peak_rss_mb" -> "MB") ++
      SelfLayers.map(l => s"self_ms.$l" -> "ms")
}

/** One benchmark run: `--workload suite|daemon --seed N
  * --seconds S --trace 0|1 --work DIR --fingerprints FILE
  * [--record-fingerprints]`. Prints `PERFBENCH_RESULT <json>` on
  * success and exits non-zero, without a result, on any error. */
object Main {
  val t0: Long = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  def appendLines(path: String, lines: Seq[String]): Unit = {
    val w = new java.io.FileWriter(path, true)
    try lines.foreach(l => w.write(l + "\n")) finally w.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Ambient-load sentinel: a small, fixed, CPU-bound plan with no IO
    * (the same idea as the program's own bench calibration), min of 3
    * after one warm-up, in ms. It moves with machine load only. */
  def sentinelMs(spark: SparkSession): Double = {
    def once(): Double = timeMs(spark.range(0, 1L << 21, 1, 4)
      .selectExpr("sum(id * 2654435761 % 1000003) AS s")
      .write.format("noop").mode("overwrite").save())
    once()
    (1 to 3).map(_ => once()).min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val work = opt("--work")
    val record = args.contains("--record-fingerprints")
    val status = try {
      val cores = Runtime.getRuntime.availableProcessors()
      val steal = new Steal
      val t0 = System.nanoTime()
      val spark = graft.Tables.session(cores)
      val sessionMs = (System.nanoTime() - t0) / 1e6
      val engine = if (trace) Some(new EngineListener) else None
      val ctx = new Ctx(spark, seed, seconds, trace, work, opt("--fingerprints"), record, engine,
        cores, sessionMs, steal)
      val res = new Result
      workload match {
        case "suite" => Queries.run(ctx, res)
        case "daemon" => Daemon.run(ctx, res)
        case other => sys.error(s"unknown workload $other")
      }
      val notes = ctx.notes.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      println(s"PERFBENCH_NOTES $notes")
      println(s"PERFBENCH_RESULT ${res.json}")
      ctx.spark.stop()
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(status)
  }
}
