package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.streaming.{BatchWriter, BufferedStreamSink, MergeTreeSink, ParquetBatchWriter, Streaming}

/** The sink's writer for the benchmark: times every write and fails the
  * first attempt of one batch in `every` (the seed picks which) before
  * writing anything, which the sink's retry must absorb. */
final class FaultyTimedWriter(inner: BatchWriter, seed: Long, every: Int) extends BatchWriter {
  private val tried = ConcurrentHashMap.newKeySet[Long]()
  val injected = new AtomicInteger(0)
  /** (batch id, start ns, end ns) of each successful write. */
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()

  override def write(batch: Dataset[Row], batchId: Long): Unit = {
    if (tried.add(batchId) && Math.floorMod(batchId + seed, every.toLong) == 0) {
      injected.incrementAndGet()
      throw new java.io.IOException(s"injected write failure, batch $batchId")
    }
    val t0 = System.nanoTime()
    inner.write(batch, batchId)
    writes.add((batchId, t0, System.nanoTime()))
  }
}

/** The reference loop in three phases.
  *
  * Live (open loop): a generator thread writes one sweep of register
  * readings (fleet × 3 registers) per period, each stamped with its due
  * time; a file-source stream feeds `Streaming.daemonPipeline` into a
  * `BufferedStreamSink`. An event's lag is the completion time of the
  * micro-batch that consumed it minus its due time, the batch found by
  * FIFO over `numInputRows`.
  *
  * Catch-up (closed loop): a backlog of sweeps is drained through the
  * same pipeline by `BufferedStreamSink.drainAvailable`, in bounded
  * micro-batches run back to back; its rate is the pipeline's capacity.
  *
  * Store: a seeded multi-month backlog lands as parts through
  * `MergeTreeSink.appendPart`, each month is merged once with
  * `optimizePartition`, and three pruned reads run before and after the
  * merge.
  */
object Daemon {
  val Fleet = 40
  /** 600 readings/s: well below the pipeline's capacity even when the
    * machine is loaded, so a slow batch does not snowball into a growing
    * backlog (at 1,500/s loaded runs reached capacity and doubled the
    * lag). */
  val PeriodMs = 200L
  /** Micro-batch trigger. A batch at this rate costs 0.8 to 1 s on a quiet
    * 4-core machine, nearly all of it fixed cost, and up to 2.4 s when
    * the host steals half the CPU time. With a 1 s trigger a loaded run's
    * batches queue behind each other and its lag doubles; at 2 s they
    * do not, so the lag stays a sum of the wait for the trigger, set by
    * the clock, and the batch's run, set by the CPU. */
  val TriggerMs = 2000L
  /** Live seconds before the measured ones: one trigger interval, so no
    * measured batch follows the set-up's. */
  val WarmupS = 2
  /** Catch-up: sweeps of a larger fleet that queued while the daemon was
    * down, drained by `drainAvailable` back to back in micro-batches of
    * `DrainBatchSweeps` files. The first batch warms the new query and is
    * not timed. */
  val DrainFleet = 1000
  val DrainBatches = 11
  val DrainBatchSweeps = 10
  val FailEvery = 5
  val SweepUs: Long = 5L * 60 * 1000000 // event time advances 5 minutes per sweep
  val Registers: Seq[(String, Double)] = graft.sources.RegisterPollSource.Registers
  val EpochUs: Long = graft.sources.RegisterPollSource.EpochBaseUs

  val StoreFleet = 12
  val StoreMonths = 2
  val StoreSweepMin = 15
  val StoreParts = 6
  /** Appends timed for `mergetree.append_rows_per_s`; the first parts
    * warm the write path. */
  val TimedParts = 4
  /** Logical fixed-width size of one reading: ts int64, inverter int32,
    * register int16, raw int32, scaled float64. */
  val InputRowBytes = 26

  private val FeedSchema = StructType(Seq(
    StructField("poll", LongType), StructField("inverter", LongType),
    StructField("register", StringType), StructField("raw", LongType),
    StructField("scaled", DoubleType), StructField("ts_us", LongType),
    StructField("due_ms", LongType)))

  private def readings(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")

  private def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  private def dirBytes(f: File): (Long, Long) =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) (1L, f.length()) else (0L, 0L))
    else Option(f.listFiles()).map(_.toSeq.map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }).getOrElse((0L, 0L))

  /** Writes sweeps on a fixed schedule, whatever the stream is doing.
    * Each sweep is one CSV file, renamed into place when complete. */
  private final class Generator(dir: File, seed: Long, fleet: Int = Fleet) extends Thread {
    private val rnd = new scala.util.Random(seed)
    private var k = 0
    private var startMs = 0L
    private var untilMs = 0L
    @volatile var lateMs = 0.0
    /** Due time of every sweep written, in order. */
    val due = mutable.ArrayBuffer.empty[Long]
    setDaemon(true)

    def writeSweep(dueMs: Long): Unit = {
      val sb = new StringBuilder
      val tsUs = EpochUs + k * SweepUs
      for (inv <- 0 until fleet; (reg, scale) <- Registers) {
        val raw = rnd.nextInt(10000).toLong
        sb.append(k).append(',').append(inv).append(',').append(reg).append(',').append(raw)
          .append(',').append(raw * scale).append(',').append(tsUs).append(',').append(dueMs)
          .append('\n')
      }
      val tmp = new File(dir, f".sweep-$k%06d.csv")
      Files.writeString(tmp.toPath, sb.toString)
      Files.move(tmp.toPath, new File(dir, f"sweep-$k%06d.csv").toPath, StandardCopyOption.ATOMIC_MOVE)
      due.synchronized(due += dueMs)
      k += 1
    }

    /** Writes one sweep per period from `from` until `until` (epoch ms). */
    def schedule(from: Long, until: Long): Unit = {
      startMs = from
      untilMs = until
      start()
    }

    override def run(): Unit = {
      var i = 0
      var dueMs = startMs
      while (dueMs < untilMs) {
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs += math.max(0L, System.currentTimeMillis() - dueMs)
        writeSweep(dueMs)
        i += 1
        dueMs = startMs + i * PeriodMs
      }
    }
  }

  private def catalog(spark: SparkSession, work: File): DataFrame = {
    val f = new File(work, "registers.txt")
    Files.writeString(f.toPath,
      """dc_voltage   109  1  0.1   V
        |ac_watts     117  2  1.0   W
        |ac_frequency 119  1  0.01  Hz
        |""".stripMargin)
    spark.read.format("register-catalog").load(f.getPath)
  }

  private def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli

  private def completionMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.get("triggerExecution").longValue

  /** One started pipeline: its generator, writer, sink and query, over
    * its own feed, output and checkpoint directories. */
  private final class Pipeline(val dir: File, val cat: DataFrame, val gen: Generator,
                               val writer: FaultyTimedWriter, val sink: BufferedStreamSink,
                               val query: StreamingQuery)

  /** Starts a pipeline in `dir` and warms it with one micro-batch of
    * pre-written sweeps (the first micro-batch of a JVM pays for code
    * generation). */
  private def startPipeline(spark: SparkSession, dir: File, seed: Long): Pipeline = {
    val feedDir = new File(dir, "feed")
    feedDir.mkdirs()
    val cat = catalog(spark, dir)
    val writer = new FaultyTimedWriter(new ParquetBatchWriter(s"$dir/out"), seed, FailEvery)
    val sink = new BufferedStreamSink(writer, maxPending = 4, maxRetries = 3)
    val stream = readings(spark.readStream.schema(FeedSchema).csv(feedDir.getPath))
    val gen = new Generator(feedDir, seed)
    // written before the start, so the first micro-batch takes them all;
    // the set-up ends when that batch has run, not at a later trigger
    (1 to 15).foreach(_ => gen.writeSweep(System.currentTimeMillis()))
    val query = sink.start(Streaming.daemonPipeline(stream, cat), s"$dir/ckpt", TriggerMs)
    while (query.lastProgress == null) {
      query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    new Pipeline(dir, cat, gen, writer, sink, query)
  }

  /** What the open loop on a started pipeline leaves for the checks and
    * metrics. */
  private final case class Live(p: Pipeline, progress: Seq[StreamingQueryProgress],
                                genStart: Long, measureFrom: Long, wallMs: Double)

  /** Writes a backlog of sweeps and drains it through a new pipeline in
    * `dir`; returns the drain's progress, writer and sink. */
  private def drain(spark: SparkSession, dir: File, cat: DataFrame,
                    seed: Long): (Seq[StreamingQueryProgress], FaultyTimedWriter, BufferedStreamSink) = {
    val feedDir = new File(dir, "feed")
    feedDir.mkdirs()
    val gen = new Generator(feedDir, seed + 1, DrainFleet)
    (1 to DrainBatches * DrainBatchSweeps).foreach(_ => gen.writeSweep(System.currentTimeMillis()))
    val writer = new FaultyTimedWriter(new ParquetBatchWriter(s"$dir/out"), seed, FailEvery)
    val sink = new BufferedStreamSink(writer, maxPending = 4, maxRetries = 3)
    val stream = readings(spark.readStream.schema(FeedSchema)
      .option("maxFilesPerTrigger", DrainBatchSweeps).csv(feedDir.getPath))
    val query = sink.drainAvailable(Streaming.daemonPipeline(stream, cat), s"$dir/ckpt")
    query.awaitTermination()
    query.exception.foreach(e => throw e)
    (query.recentProgress.toSeq, writer, sink)
  }

  /** The stream's landed output in `dir` equals batch `daemonPipeline`
    * over the same feed, up to the final watermark (append mode emits a
    * window once it is closed). */
  private def checkOutput(res: Result, spark: SparkSession, dir: File, cat: DataFrame,
                          progress: Seq[StreamingQueryProgress], phase: String): Unit = {
    val watermarkUs = progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli * 1000L).lastOption.getOrElse(0L)
    val landed = spark.read.parquet(s"$dir/out").drop("batch")
    val batch = Streaming.daemonPipeline(readings(spark.read.schema(FeedSchema).csv(s"$dir/feed")), cat)
      .filter(unix_micros(col("hour")) + 3600L * 1000000L <= watermarkUs)
    val landedFp = Fingerprint.execute(landed.select(batch.columns.toIndexedSeq.map(col): _*))
    val batchFp = Fingerprint.execute(batch)
    res.check(landedFp == batchFp && landedFp.rows > 0,
      s"$phase output $landedFp != batch daemonPipeline $batchFp")
  }

  private def live(ctx: Ctx, p: Pipeline): Live = {
    // sweeps fall half a period after the trigger's ticks (a processing
    // time trigger fires at multiples of its interval), so every run
    // splits its sweeps into batches the same way
    val genStart = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + PeriodMs / 2
    val measureFrom = genStart + WarmupS * 1000L
    p.gen.schedule(genStart, measureFrom + ctx.seconds * 1000L)
    Thread.sleep(math.max(0L, measureFrom - System.currentTimeMillis()))
    ctx.engine.foreach(_.collecting = true)
    val t0 = System.nanoTime()
    p.gen.join()
    p.query.processAllAvailable()
    val wallMs = (System.nanoTime() - t0) / 1e6
    ctx.engine.foreach(_.collecting = false)
    p.query.stop()
    p.query.exception.foreach(e => throw e)
    Live(p, p.query.recentProgress.toSeq, genStart, measureFrom, wallMs)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val work = new File(s"${ctx.work}/daemon")
    rmrf(work)
    work.mkdirs()
    val tracer = if (ctx.trace) Some(new Tracer) else None

    // ---- live phase ----
    // set-up: a session and a started, warmed pipeline, three times;
    // the last pipeline serves the live phase
    var ready: Option[Pipeline] = None
    val setupS = ctx.setUps { k =>
      val p = startPipeline(ctx.spark, new File(work, s"pipeline$k"), ctx.seed)
      if (k < Ctx.SetUps - 1) p.query.stop() else ready = Some(p)
    }
    val spark = ctx.spark
    val (Live(pipe, progress, genStart, measureFrom, liveWallMs), (drained, drainWriter, drainSink)) =
      ctx.measured {
        val l = live(ctx, ready.get)
        (l, drain(spark, new File(work, "drain"), l.p.cat, ctx.seed))
      }
    val (gen, writer, sink) = (pipe.gen, pipe.writer, pipe.sink)
    Main.log("daemon: live phase done; batch ms " +
      progress.filter(_.numInputRows > 0).map(p => s"${p.durationMs.get("triggerExecution")}/${p.numInputRows}").mkString(" "))
    val sentinel = ctx.notes("bench.sentinel_ms")

    // lag: FIFO over numInputRows; every sweep has the same row count.
    // A sweep's lag is the wait from its due time to the start of the
    // batch that took it plus that batch's run, steal-adjusted.
    val rowsPerSweep = Fleet * Registers.size
    val dues = gen.due.synchronized(gen.due.toVector)
    val scheduled = dues.count(_ >= genStart)
    val dataBatches = progress.filter(_.numInputRows > 0)
    val nanoOrigin = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def runMs(p: StreamingQueryProgress): Double = {
      val t0 = startMs(p) * 1000000L + nanoOrigin
      ctx.steal.adjustMs(t0, t0 + p.durationMs.get("triggerExecution").longValue * 1000000L)
    }
    var consumed = 0
    val lags = mutable.ArrayBuffer.empty[Double]
    val wallLags = mutable.ArrayBuffer.empty[Double]
    dataBatches.foreach { p =>
      val n = (p.numInputRows / rowsPerSweep).toInt
      lazy val run = runMs(p)
      dues.slice(consumed, consumed + n).foreach { d =>
        if (d >= measureFrom) {
          lags += (startMs(p) - d) + run
          wallLags += (completionMs(p) - d).toDouble
        }
      }
      consumed += n
    }
    val generated = dues.size.toLong * rowsPerSweep
    res.check(dataBatches.map(_.numInputRows).sum == generated,
      s"stream consumed ${dataBatches.map(_.numInputRows).sum} rows, generated $generated")
    res.check(writer.injected.get == sink.retries,
      s"sink retries ${sink.retries} != injected failures ${writer.injected.get}")

    checkOutput(res, spark, pipe.dir, pipe.cat, progress, "live")

    // the catch-up drains every backlog row, absorbs its injected
    // failures and lands what the batch pipeline computes
    val drainData = drained.filter(_.numInputRows > 0)
    val drainRows = DrainBatches.toLong * DrainBatchSweeps * DrainFleet * Registers.size
    res.check(drainData.map(_.numInputRows).sum == drainRows && drainData.size == DrainBatches,
      s"drain consumed ${drainData.map(_.numInputRows).sum} rows in ${drainData.size} batches, " +
        s"generated $drainRows in $DrainBatches")
    res.check(drainWriter.injected.get == drainSink.retries,
      s"drain retries ${drainSink.retries} != injected failures ${drainWriter.injected.get}")
    checkOutput(res, spark, new File(work, "drain"), pipe.cat, drained, "drain")
    Main.log("daemon: live and drain checks done; drain batch ms " +
      drainData.map(p => s"${p.durationMs.get("triggerExecution")}/${p.numInputRows}").mkString(" "))
    // the store phase feeds per-layer metrics only, so it runs in
    // traced runs only
    val store = tracer.map(storePhase(ctx, res, work, _))

    // every event of a sweep shares its lag and every sweep has the same
    // rows, so quantiles over sweeps are quantiles over events; the tail
    // quantile keeps ten sweeps above it
    val lagSamples = lags.toSeq
    val q = Stats.tailQ(lagSamples.size)
    val measured = dataBatches.filter(p => completionMs(p) >= measureFrom)
    val measuredBatches = measured.size
    // the live pipeline's processing rate over the measured micro-batches
    // (Spark's processedRowsPerSecond, summed): rows over the
    // steal-adjusted time the batches ran. Kept in the record only: from
    // 5 batches it spread up to 0.27 between runs.
    val processedRowsPerS = measured.map(_.numInputRows).sum / (measured.map(runMs).sum / 1000.0)
    // the catch-up rate: median over the drain's timed batches of rows
    // over the batch's steal-adjusted run. The store's append rate stays
    // a per-layer metric: its spread between runs on a quiet machine
    // (0.34 over ten runs) is beyond any bound the benchmark can set.
    val drainRowsPerS = Stats.median(drainData.drop(1).map(p => p.numInputRows / (runMs(p) / 1000.0)))
    System.err.println(f"[perfbench] daemon: ${dues.size} sweeps, ${lagSamples.size} measured in " +
      f"$measuredBatches batches, tail = p${q * 100}%.0f, " +
      f"${sink.retries} + ${drainSink.retries} retries, sentinel $sentinel%.1f ms")
    ctx.record("wall.latency_p50_ms", Stats.median(wallLags.toSeq))
    ctx.record("samples", lagSamples.size)
    ctx.record("batches", measuredBatches)
    ctx.record("live_rows_per_s", processedRowsPerS)
    ctx.record("drain_batches", drainData.size)
    ctx.record("tail_quantile", q)
    ctx.record("jvm.peak_rss_mb", Main.peakRssMb)
    ctx.record("gen.late_ms", gen.lateMs / math.max(1, scheduled))

    if (!ctx.trace) {
      res.put("setup_s", setupS, "s")
      res.put("latency_p50_ms", Stats.median(lagSamples), "ms")
      res.put("latency_tail_ms", Stats.quantile(lagSamples, q), "ms")
      res.put("ops_per_s", drainRowsPerS, "1/s")
    } else {
      val tr = tracer.get
      val eng = ctx.engine.get
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val nb = math.max(1, measured.size).toDouble
      val layers = new Layers(ctx)
      eng.metrics(nb, liveWallMs, ctx.cores).foreach { case (k, v, u) => layers.put(k, v, u) }
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def meanOf(f: StreamingQueryProgress => Double): Double = measured.map(f).sum / nb
      layers.put("stream.batches", measured.size, "count")
      layers.put("stream.rows_per_batch", meanOf(_.numInputRows.toDouble), "count")
      Seq("latest_offset" -> "latestOffset", "get_batch" -> "getBatch", "planning" -> "queryPlanning",
        "add_batch" -> "addBatch", "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets")
        .foreach { case (n, k) => layers.put(s"stream.${n}_ms", meanOf(dur(_, k)), "ms") }
      layers.put("stream.state_rows", meanOf(_.stateOperators.map(_.numRowsTotal).sum.toDouble), "count")
      layers.put("stream.state_mem_bytes", meanOf(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble), "bytes")
      layers.put("stream.state_commit_ms", meanOf(_.stateOperators.map(_.commitTimeMs).sum.toDouble), "ms")
      layers.put("stream.lag_tail_ms", Stats.quantile(lagSamples, q), "ms")
      // batch spans, their duration parts in execution order, and the
      // sink writes inside addBatch
      val writes = writer.writes.asScala.toSeq.groupBy(_._1)
      val ids = measured.map(_.batchId).toSet
      val origin = tr.nowUs * 1000L - System.nanoTime() // tracer us <-> nanoTime
      measured.foreach { p =>
        val start = tr.epochMsToUs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val b = tr.add(s"batch:${p.batchId}", 0L, start, start + dur(p, "triggerExecution").toLong * 1000)
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k =>
            val end = at + dur(p, k).toLong * 1000
            val part = tr.add(s"stream.$k", b, at, end)
            if (k == "addBatch") writes.getOrElse(p.batchId, Nil).foreach { case (_, s, e) =>
              tr.add("sink.write", part, (s + origin) / 1000, (e + origin) / 1000)
            }
            at = end
          }
      }
      val wMs = writer.writes.asScala.toSeq.filter(w => ids(w._1)).map(w => (w._3 - w._2) / 1e6)
      layers.put("sink.write_ms", wMs.sum / nb, "ms")
      layers.put("sink.wait_ms", meanOf(dur(_, "addBatch")) - wMs.sum / nb, "ms")
      layers.put("sink.retries", sink.retries, "count")
      layers.put("sink.injected", writer.injected.get, "count")
      val st = store.get
      layers.put("mergetree.append_ms", Stats.median(st.appendMs.takeRight(TimedParts)), "ms")
      layers.put("mergetree.optimize_ms", st.optimizeMs.sum / math.max(1, st.optimizeMs.size), "ms")
      layers.put("mergetree.files", st.filesBefore.toDouble, "count")
      layers.put("mergetree.bytes_written", st.bytesWritten.toDouble, "bytes")
      layers.put("mergetree.bytes_rewritten", st.bytesAfter.toDouble, "bytes")
      layers.put("mergetree.files_read_per_read", st.filesRead.sum / math.max(1, st.filesRead.size), "count")
      layers.put("mergetree.read_p50_ms", Stats.median(st.readMs), "ms")
      layers.put("mergetree.append_rows_per_s", st.appendRowsPerS, "1/s")
      layers.put("mergetree.bytes_per_input_byte", st.bytesPerInputByte, "ratio")
      layers.put("gen.late_ms", gen.lateMs / math.max(1, scheduled), "ms")
      layers.put("bench.sentinel_ms", sentinel, "ms")
      layers.put("bench.steal_share", ctx.notes("bench.steal_share"), "ratio")
      val untraced = st.repWall.filter(!_._1).map(_._2)
      val traced = st.repWall.filter(_._1).map(_._2)
      layers.put("trace.overhead_ratio", Stats.median(traced.toSeq) / Stats.median(untraced.toSeq), "ratio")
      layers.putSelf(tr)
      layers.into(res)
      tr.writeJson(s"${ctx.work}/trace-daemon-${ctx.seed}.json")
    }
  }

  /** What the store phase leaves for the per-layer metrics. */
  private final case class Store(rows: Long, appendMs: Seq[Double], optimizeMs: Seq[Double],
                                 filesBefore: Long, bytesWritten: Long, bytesAfter: Long,
                                 readMs: Seq[Double], filesRead: Seq[Double],
                                 repWall: Seq[(Boolean, Double)]) {
    /** Median over the warm parts, so neither JIT warm-up nor one
      * collector pause sets it. */
    def appendRowsPerS: Double =
      Stats.median(appendMs.takeRight(TimedParts).map(ms => rows / StoreParts / (ms / 1000.0)))
    def bytesPerInputByte: Double = bytesAfter.toDouble / (rows * InputRowBytes)
  }

  /** Lands the backlog as parts, merges each month and runs the pruned
    * reads before and after the merge, checking each read against the
    * same read over the backlog files. */
  private def storePhase(ctx: Ctx, res: Result, work: File, tracer: Tracer): Store = {
    val spark = ctx.spark
    val backlogDir = s"$work/backlog"
    val storeRows = genBacklog(spark, backlogDir, ctx.seed)
    Main.log("daemon: backlog ready")
    val backlog = spark.read.parquet(backlogDir)
    val reads = storeReads(ctx.seed)
    val table = s"$work/table"
    val partDfs = (0 until StoreParts).map(p => backlog.filter(col("part") === p).drop("part"))
    val appendMs = partDfs.zipWithIndex.map { case (df, p) =>
      timed(tracer, s"mergetree.append:$p")(MergeTreeSink.appendPart(df, table, "ts", "inverter"))
    }
    val (filesBefore, bytesWritten) = dirBytes(new File(table))
    val tableDf = () => spark.read.parquet(table)

    val fps = mutable.ArrayBuffer.empty[(String, String, Fingerprint)]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val filesRead = mutable.ArrayBuffer.empty[Double]
    val repWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    // an untimed warm-up rep, then one untraced and one traced rep, so
    // the tracing overhead compares warm reads
    def readAll(stage: String): Unit = (-1 to 1).foreach { rep =>
      val tr = if (rep == 1) Some(tracer) else None
      val t0 = System.nanoTime()
      reads.foreach { case (name, q) =>
        val r0 = System.nanoTime()
        val df = q(tableDf())
        val fp = Fingerprint.execute(df)
        val r1 = System.nanoTime()
        tr.foreach(t => t.add(s"read:$name", 0L, t.nowUs - (r1 - r0) / 1000, t.nowUs))
        if (rep >= 0) {
          readMs += (r1 - r0) / 1e6
          filesRead += scans(df.queryExecution.executedPlan)
        }
        fps += ((stage, name, fp))
      }
      if (rep >= 0) repWall += ((tr.isDefined, (System.nanoTime() - t0) / 1e6))
    }
    readAll("pre-merge")
    val months = spark.read.parquet(table).select(col("month").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val optimizeMs = months.toSeq.map { m =>
      timed(tracer, s"mergetree.optimize:$m")(
        MergeTreeSink.optimizePartition(spark, table, m, "ts", "inverter"))
    }
    val (_, bytesAfter) = dirBytes(new File(table))
    readAll("post-merge")
    Main.log("daemon: store phase done; append ms " + appendMs.map(m => f"$m%.0f").mkString(" ") +
      "; read ms " + readMs.map(m => f"$m%.0f").mkString(" "))
    // every table read equals the same read over the backlog files
    val refTable = backlog.drop("part").withColumn("month", date_format(col("ts"), "yyyyMM"))
    val refs = reads.map { case (name, q) => name -> Fingerprint.execute(q(refTable)) }.toMap
    fps.foreach { case (stage, name, fp) =>
      res.check(fp == refs(name), s"$stage read $name: $fp != backlog read ${refs(name)}")
    }
    Store(storeRows, appendMs, optimizeMs, filesBefore, bytesWritten, bytesAfter,
      readMs.toSeq, filesRead.toSeq, repWall.toSeq)
  }

  private def timed(tracer: Tracer, name: String)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span(name, 0L)(_ => body)
    (System.nanoTime() - t0) / 1e6
  }

  /** Files read by the parquet scans of an executed plan. */
  private def scans(plan: org.apache.spark.sql.execution.SparkPlan): Double =
    Census.nodes(plan).collect { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }
      .sum.toDouble

  /** Months of 15-minute sweeps over the store fleet, split in time
    * order into `StoreParts` parts (column `part`). */
  private def genBacklog(spark: SparkSession, dir: String, seed: Long): Long = {
    val nReg = Registers.size
    val sweeps = StoreMonths * 30L * 24 * 60 / StoreSweepMin
    val rows = sweeps * StoreFleet * nReg
    val names = array(Registers.map(r => lit(r._1)): _*)
    val scales = array(Registers.map(r => lit(r._2)): _*)
    val id = col("id")
    val poll = (id / (StoreFleet * nReg)).cast("long")
    spark.range(0, rows, 1, 4)
      .select(
        (poll * StoreParts / sweeps).cast("int").as("part"),
        ((id / nReg) % StoreFleet).cast("int").as("inverter"),
        element_at(names, (id % nReg).cast("int") + 1).as("register"),
        pmod(xxhash64(id, lit(seed)), lit(10000L)).as("raw"),
        (id % nReg).cast("int").as("ridx"),
        timestamp_micros(lit(EpochUs) + poll * StoreSweepMin * 60L * 1000000L).as("ts"))
      .withColumn("scaled", col("raw") * element_at(scales, col("ridx") + 1))
      .drop("ridx")
      .write.mode("overwrite").parquet(dir)
    rows
  }

  /** The pruned reads, each run once before and once after the merge:
    * latest reading per inverter and register in one
    * month, one inverter-day range, and a monthly per-inverter rollup. */
  private def storeReads(seed: Long): Seq[(String, DataFrame => DataFrame)] = {
    val rnd = new scala.util.Random(seed)
    val month = java.time.LocalDateTime.ofEpochSecond(EpochUs / 1000000L, 0, java.time.ZoneOffset.UTC)
      .plusMonths(rnd.nextInt(StoreMonths).toLong)
    val m = f"${month.getYear}%04d${month.getMonthValue}%02d"
    val inv = rnd.nextInt(StoreFleet)
    val dayUs = EpochUs + rnd.nextInt(StoreMonths * 28) * 86400L * 1000000L
    val monthCol: Column = col("month").cast("string")
    Seq(
      "latest_in_month" -> ((t: DataFrame) => t.filter(monthCol === m)
        .groupBy("inverter", "register")
        .agg(max("ts").as("ts"), max_by(col("scaled"), col("ts")).as("scaled"))),
      "inverter_day" -> ((t: DataFrame) => t
        .filter(col("inverter") === inv &&
          col("ts") >= timestamp_micros(lit(dayUs)) &&
          col("ts") < timestamp_micros(lit(dayUs + 86400L * 1000000L)))
        .select("ts", "register", "raw", "scaled")),
      "monthly_rollup" -> ((t: DataFrame) => t
        .groupBy(monthCol.as("month"), col("inverter"))
        .agg(count(lit(1)).as("n"), sum("raw").as("raw_sum"), max("scaled").as("scaled_max"))))
  }
}
