package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.{BatchWriter, BufferedStreamSink, JdbcBatchWriter, MergeTreeSink, SqlExecutor, Streaming}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Records every statement instead of talking to a store (no network
  * in the sandbox). A JVM-global object so executor-side
  * `foreachPartition` closures and the spec see the same log —
  * local-mode only, which is exactly the spec's scope. */
object RecordingExec extends SqlExecutor {
  val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failAt: Int = Int.MaxValue // statement ordinal that throws once

  override def execute(sql: String): Unit = {
    if (counter.incrementAndGet() == failAt) {
      failAt = Int.MaxValue
      throw new RuntimeException("induced store failure")
    }
    log.add(sql)
  }

  def reset(): Unit = { log.clear(); counter.set(0); failAt = Int.MaxValue }
}

case class Doc(ts: Timestamp, doc_id: Long, text: String)
case class Ev(ts: Timestamp, event_type: String, value: Double)
case class EvId(event_id: Long, ts: Timestamp, event_type: String, value: Double)
case class Ord(o_id: Long, o_user: Long, o_ts: Timestamp)
case class EvUser(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  test("streaming hourly aggregation equals the batch plan on the same data") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val data = Seq(
      Ev(ts(0, 5), "view", 1.0), Ev(ts(0, 40), "view", 3.0),
      Ev(ts(0, 10), "click", 2.0), Ev(ts(1, 15), "view", 5.0),
      Ev(ts(2, 0), "purchase", 7.5), Ev(ts(2, 59), "purchase", 2.5))
    val stream = MemoryStream[Ev]
    stream.addData(data: _*)
    val q = Streaming.hourlyTransform(stream.toDF())
      .writeStream.format("memory").queryName("st_spec").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = s.table("st_spec")
      .select($"window.start".as("hour"), $"event_type", $"n", $"avg_value", $"max_value")
      .collect().map(_.toSeq).toSet
    val batch = Streaming.hourlyTransform(data.toDF())
      .select($"window.start".as("hour"), $"event_type", $"n", $"avg_value", $"max_value")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.size == 4) // (h0 view, h0 click, h1 view, h2 purchase)
  }

  test("windowed moments streaming aggregation equals the batch plan across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val data = Seq(
      Ev(ts(0, 5), "view", 1.25), Ev(ts(0, 40), "view", 3.5),
      Ev(ts(0, 50), "view", 2.0), Ev(ts(0, 10), "click", 2.0),
      Ev(ts(1, 15), "view", 5.0), Ev(ts(1, 20), "view", 4.0),
      Ev(ts(2, 0), "purchase", 7.5), Ev(ts(2, 30), "purchase", 2.5),
      Ev(ts(2, 59), "purchase", 4.75))
    val stream = MemoryStream[Ev]
    stream.addData(data.take(4): _*)
    val q = Streaming.momentsTransform(stream.toDF())
      .writeStream.format("memory").queryName("st5_spec")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // second micro-batch extends open windows: the decimal power
      // sums must merge losslessly across batches
      stream.addData(data.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Streaming.momentsFinalize(s.table("st5_spec"))
      .collect().map(_.toSeq).toSet
    val batch = Streaming.momentsFinalize(
      Streaming.momentsTransform(data.toDF())).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // h0 view, h1 view and h2 purchase survive m2 > 0; the
    // single-reading click group is filtered on both paths
    assert(batch.size == 3)
  }

  test("sliding-window streaming aggregation equals the batch plan; 4 windows per event") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val data = Seq(
      Ev(ts(0, 0), "view", 1.0), Ev(ts(0, 20), "view", 3.0),
      Ev(ts(1, 10), "click", 2.0))
    val stream = MemoryStream[Ev]
    stream.addData(data: _*)
    val q = Streaming.slidingTransform(stream.toDF())
      .writeStream.format("memory").queryName("st2_spec").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val cols = Seq($"window.start".as("w"), $"event_type", $"n", $"avg_value", $"max_value")
    val streamed = s.table("st2_spec").select(cols: _*).collect().map(_.toSeq).toSet
    val batch = Streaming.slidingTransform(data.toDF()).select(cols: _*).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // every event falls in exactly 4 sliding windows
    assert(batch.toSeq.map(_(2).asInstanceOf[Long]).sum == 4L * data.size)
  }

  test("two-level st2 batch rollup is bit-identical to the direct sliding window") {
    val s = spark
    import s.implicits._
    // the graded st2 query pre-aggregates 15-min buckets and rolls 4
    // buckets per window; slidingTransform expands events directly —
    // both must produce identical rows (incl. exact avg doubles)
    val twoLevel = Streaming.st2SlidingWindow(s, SfDir).collect().map(_.toSeq).toSet
    val direct = Streaming.slidingTransform(Tables.events(s, SfDir))
      .select($"window.start".as("w_start"), $"event_type", $"n", $"avg_value", $"max_value")
      .collect().map(_.toSeq).toSet
    assert(twoLevel == direct)
  }

  test("session windows finalize in the stream exactly as the batch computes them") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    case class UEv(user_id: Long, ts: Timestamp, value: Double)
    val jan = Seq( // user 1: two sessions (65 min apart); user 2: one
      (1L, ts(10, 0), 1.0), (1L, ts(10, 20), 3.0), (1L, ts(11, 25), 5.0),
      (2L, ts(10, 0), 7.0))
      .map(t => Ev(t._2, "view", t._3) -> t._1)
    val stream = MemoryStream[EvId]
    val q = Streaming.sessionTransform(
        stream.toDF().select($"event_id".as("user_id"), $"ts", $"value"))
      .select($"user_id", $"session_window.start".as("s"), $"n_events", $"avg_value")
      .writeStream.format("memory").queryName("sess_spec").outputMode("append").start()
    try {
      stream.addData(jan.map { case (e, u) => EvId(u, e.ts, e.event_type, e.value) }: _*)
      q.processAllAvailable()
      // advance the watermark far past January's sessions to emit them
      stream.addData(EvId(9L, Timestamp.valueOf("2026-03-01 00:00:00"), "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = s.table("sess_spec").collect().map(_.toSeq).toSet
    val batchIn = jan.map { case (e, u) => (u, e.ts, e.value) }.toDF("user_id", "ts", "value")
    val batch = Streaming.sessionTransform(batchIn)
      .select($"user_id", $"session_window.start".as("s"), $"n_events", $"avg_value")
      .collect().map(_.toSeq).toSet
    assert(batch.size == 3, s"expected 3 sessions, got $batch")
    assert(streamed == batch,
      s"streamed sessions $streamed must equal batch sessions $batch")
  }

  test("watermarked streaming dedup drops cross-batch re-deliveries, keeps state bounded") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val e1 = EvId(1L, ts(0, 1), "view", 1.0)
    val e2 = EvId(2L, ts(0, 2), "view", 2.0)
    val e3 = EvId(3L, ts(0, 3), "click", 3.0)
    val stream = MemoryStream[EvId]
    val q = Streaming.dedupTransform(stream.toDF())
      .writeStream.format("memory").queryName("dedup_spec").outputMode("append").start()
    try {
      stream.addData(e1, e2, e1) // in-batch duplicate
      q.processAllAvailable()
      stream.addData(e2, e3)     // cross-batch re-delivery + new event
      q.processAllAvailable()
    } finally q.stop()
    val out = s.table("dedup_spec").select($"event_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L),
      s"each event_id must survive exactly once, got ${out.mkString(",")}")
    // batch path: same call degrades to plain dropDuplicates semantics
    val batchN = Streaming.dedupTransform(Seq(e1, e2, e1, e2, e3).toDF()).count()
    assert(batchN == 3L)
  }

  test("stateful counter-delta: streamed micro-batches equal the batch s6 rollup") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // the real purchase feed as exact-cents readings, split into two
    // micro-batches at the median timestamp (per-inverter order holds)
    val readings = Tables.events(s, SfDir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("inverter"), $"ts", $"event_id",
        round($"value" * 100).cast("long").as("cents"))
      .as[Streaming.Reading]
      .collect().sortBy(r => r.ts.getTime)
    val (b1, b2) = readings.splitAt(readings.length / 2)

    val stream = MemoryStream[Streaming.Reading]
    val q = Streaming.statefulCounterDelta(stream.toDS())
      .writeStream.format("memory").queryName("deltas_spec").outputMode("append").start()
    try {
      stream.addData(b1.toSeq: _*); q.processAllAvailable()
      stream.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = s.table("deltas_spec")
      .groupBy($"inverter")
      .agg((sum($"delta_cents") / 100.0).as("total_increase"),
        count(lit(1)).as("n_deltas"),
        sum(when($"is_reset", 1L).otherwise(0L)).as("n_resets"))
    val batch = solar.Solar.s6CounterDelta(s, SfDir)
    val mismatch = streamed.as("a").join(batch.as("b"), "inverter")
      .filter(abs($"a.total_increase" - $"b.total_increase") > 1e-9 ||
        $"a.n_deltas" =!= $"b.n_deltas" || $"a.n_resets" =!= $"b.n_resets")
    assert(streamed.count() == batch.count())
    assert(mismatch.count() == 0,
      "stateful streaming deltas must match the batch window computation")
  }

  test("stream-stream interval join equals the batch range join") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val evs = Seq(
      EvId(1L, ts(2, 0), "view", 1.0), EvId(2L, ts(3, 0), "view", 2.0),
      EvId(3L, ts(9, 0), "click", 3.0))
    // orders: one inside each event's 2h interval, one outside
    val ords = Seq(Ord(10L, 1L, ts(1, 30)), Ord(11L, 1L, ts(2, 30)),
      Ord(12L, 1L, ts(8, 45)), Ord(13L, 1L, ts(4, 0)))
    val se = MemoryStream[EvId]; val so = MemoryStream[Ord]
    val q = Streaming.enrichTransform(
        se.toDF().withColumnRenamed("event_id", "eid")
          .select($"eid", $"ts", col("value"), lit(1L).as("user_id")),
        so.toDF())
      .writeStream.format("memory").queryName("enrich_spec").outputMode("append").start()
    try {
      se.addData(evs: _*); so.addData(ords: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = s.table("enrich_spec").select($"eid", $"o_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Streaming.enrichTransform(
        evs.toDF().withColumnRenamed("event_id", "eid")
          .select($"eid", $"ts", col("value"), lit(1L).as("user_id")),
        ords.toDF())
      .select($"eid", $"o_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    // each event matched only its trailing-2h orders:
    // e1@2:00←{10@1:30}, e2@3:00←{10@1:30, 11@2:30}, e3@9:00←{12@8:45}
    assert(batch == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L)))
  }

  test("BufferedStreamSink lands every micro-batch exactly once, idempotently") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dir = Files.createTempDirectory("graft_bss").toString
    val sink = new BufferedStreamSink(s"$dir/data", maxPending = 2)
    val stream = MemoryStream[Ev]
    val q = sink.start(stream.toDF(), s"$dir/ckpt", intervalMs = 50L)
    try {
      stream.addData(Ev(ts(0, 1), "view", 1.0), Ev(ts(0, 2), "view", 2.0))
      q.processAllAvailable()
      stream.addData(Ev(ts(1, 1), "click", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val written = s.read.parquet(s"$dir/data")
    assert(written.count() == 3)
    // batch=<id> directories exist (Buffer-table flush layout)
    val batches = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(batches.length >= 2)
    // idempotent replay: rewriting the same batch id leaves one copy
    val replay = Seq(Ev(ts(0, 1), "view", 1.0), Ev(ts(0, 2), "view", 2.0)).toDF()
    sink.writeBatch(replay, 0L)
    assert(s.read.parquet(s"$dir/data").count() == 3)
    assert(sink.pending == 0, "no write in flight once the stream stopped")
    // the in-flight gauge: a write sees itself counted, and only itself
    var seen = -1
    lazy val gauge: BufferedStreamSink = new BufferedStreamSink(new BatchWriter {
      override def write(batch: Dataset[Row], batchId: Long): Unit = seen = gauge.pending
    }, maxPending = 2, maxRetries = 0)
    gauge.writeBatch(replay, 1L)
    assert(seen == 1 && gauge.pending == 0)
  }

  test("daemon end-to-end: poll source -> catalog decode -> hourly rollup -> buffered sink") {
    val s = spark
    import s.implicits._
    // the reference daemon, Spark-native: both DSv2 sources + the
    // pipeline transform + the buffered sink in one running stream
    val catFile = Files.createTempFile("daemon_registers", ".txt")
    Files.writeString(catFile, """dc_voltage   109  1  0.1   V
      |ac_watts     117  2  1.0   W
      |ac_frequency 119  1  0.01  Hz
      |""".stripMargin)
    val catalog = s.read.format("register-catalog").load(catFile.toString)
    val polls = 12
    val readings = s.readStream.format("register-poll")
      .option("inverters", 2).option("maxPolls", polls)
      .option("intervalMs", 3600000) // 1 poll per hour of event time
      .load()
    val sinkDir = Files.createTempDirectory("daemon_sink").toString
    val ckpt = Files.createTempDirectory("daemon_ckpt").toString
    val sink = new BufferedStreamSink(sinkDir)
    val q = Streaming.daemonPipeline(readings, catalog)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink.writeBatch(b, id))
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = s.read.parquet(sinkDir).drop("batch")
      .collect().map(_.toSeq).toSet
    // batch equivalent over the identical (deterministic) readings
    val regs = sources.RegisterPollSource.Registers
    val base = sources.RegisterPollSource.EpochBaseUs
    val batchReadings = (for {
      poll <- 0 until polls
      inv <- 0 until 2
      (rn, sc) <- regs.zipWithIndex.map { case ((n, scl), i) => (n, (scl, i)) }
    } yield {
      val raw = sources.RegisterPollSource.raw(poll.toLong, inv.toLong, sc._2)
      (poll.toLong, inv.toLong, rn, raw, raw * sc._1,
        new Timestamp((base + poll * 3600000L * 1000L) / 1000L))
    }).toDF("poll", "inverter", "register", "raw", "scaled", "ts")
    val batch = Streaming.daemonPipeline(batchReadings, catalog)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed.subsetOf(batch),
      "streamed finalized windows must be a subset of the batch rollup with equal values")
    // the watermark (90 min) must have finalized at least hours 0..7
    val hours = streamed.map(r => r.head.asInstanceOf[Timestamp].getTime).toSeq.sorted
    assert(hours.distinct.size >= 8, s"expected >= 8 finalized hours, got ${hours.distinct.size}")
  }

  test("corpus ingest pipeline: quality gate + watermarked exact dedup, stream == batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val good = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 tokens: passes
    val short = "too short"                               // 2 tokens: filtered
    val spammy = Seq.fill(12)("spam").mkString(" ")       // dup2 10/11: battery drops
    // one repeated bigram in 20 tokens: dup2 = 1/19 ≈ 0.053 — fails
    // t9's tight 0.05 single rule but passes every t12 battery signal;
    // kept ⇒ the gate really is the battery, not the old single rule
    val mildlyRep = ((1 to 18).map(i => s"w$i") ++ Seq("w1", "w2")).mkString(" ")
    val docs = Seq(
      Doc(ts(0, 0), 1L, good),
      Doc(ts(0, 5), 2L, short),
      Doc(ts(0, 10), 3L, good), // exact duplicate content of doc 1
      Doc(ts(0, 15), 4L, good + " extra"),
      Doc(ts(0, 20), 5L, spammy),
      Doc(ts(0, 25), 6L, mildlyRep))
    val stream = MemoryStream[Doc]
    val q = Streaming.corpusIngestTransform(stream.toDF())
      .writeStream.format("memory").queryName("corpus_spec").outputMode("append").start()
    try {
      stream.addData(docs.take(2): _*)
      q.processAllAvailable()
      // duplicate arrives in a LATER micro-batch: cross-batch state must drop it
      stream.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = s.table("corpus_spec").select($"doc_id").as[Long].collect().toSet
    // stream order is deterministic (doc 1 arrives a batch before its
    // duplicate doc 3); batch dropDuplicates keeps an ARBITRARY row
    // per fingerprint, so compare the batch side by fingerprint set
    val batchFps = Streaming.corpusIngestTransform(docs.toDF())
      .select($"fp").as[String].collect().toSet
    val streamedFps = s.table("corpus_spec").select($"fp").as[String].collect().toSet
    assert(streamed == Set(1L, 4L, 6L),
      "quality-filtered short doc, deduped doc 3, battery-gated doc 5; " +
        "doc 6 (dup2 ≈ 0.053: t9-tight fails, battery passes) must be KEPT")
    assert(streamedFps == batchFps)
  }

  test("release ingest: corpus gate → LM gate → PII scrub; stream == batch; gate IS t14") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val vocab = (1 to 12).map(i => s"tok$i")
    val base = vocab.mkString(" ")
    // 16 tokens, 4 OOV (email + xx/yy/zz) = 0.25 ≤ 0.4 → kept, scrubbed
    val withPii = base + " bob@example.com xx yy zz"
    // 12 tokens, 7 OOV ≈ 0.58 > 0.4 → LM gate drops (battery passes)
    val tooOov = ((1 to 5).map(i => s"tok$i") ++ (1 to 7).map(i => s"oov$i")).mkString(" ")
    val docs = Seq(
      Doc(ts(1, 0), 11L, base),
      Doc(ts(1, 5), 12L, withPii),
      Doc(ts(1, 10), 13L, tooOov),
      Doc(ts(1, 15), 14L, base)) // exact duplicate of 11, later batch
    val stream = MemoryStream[Doc]
    val q = Streaming.releaseIngestTransform(stream.toDF(), vocab)
      .writeStream.format("memory").queryName("release_spec").outputMode("append").start()
    try {
      stream.addData(docs.take(2): _*); q.processAllAvailable()
      stream.addData(docs.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val out = s.table("release_spec")
    assert(out.select($"doc_id").as[Long].collect().toSet == Set(11L, 12L),
      "OOV doc 13 LM-gated, duplicate doc 14 deduped")
    val row = out.filter($"doc_id" === 12L)
      .select($"n_emails", $"n_ips", $"n_phones", $"pii_clean", $"text", $"oov_frac")
      .as[(Int, Int, Int, Boolean, String, Double)].collect().head
    assert(row._1 == 1 && row._2 == 0 && row._3 == 0 && !row._4)
    assert(row._5.contains("<EMAIL>") && !row._5.contains("bob@example.com"),
      "email must be redacted in the surviving text")
    assert(row._6 == 4.0 / 16.0, "oov_frac scored on the ORIGINAL text, before scrub")
    assert(out.filter($"doc_id" === 11L).select($"pii_clean").as[Boolean].head())
    // stream == batch on content (batch dedup keeps an arbitrary one of 11/14)
    def content(df: org.apache.spark.sql.DataFrame) =
      df.select($"fp", $"text", $"oov_frac", $"n_emails", $"pii_clean")
        .as[(String, String, Double, Int, Boolean)].collect().toSet
    assert(content(Streaming.releaseIngestTransform(docs.toDF(), vocab)) == content(out))
    // the LM gate IS t14: same keep set, bit-identical oov_frac, when
    // handed the vocabulary t14 trains on this corpus
    val docsDf = Tables.documents(s, SfDir)
    val topV = docsDf
      .select(explode(graft.text.Text.toks(lower($"text"))).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w").limit(graft.text.Text.TopVocab)
      .select($"w").as[String].collect().toSeq
    val gate = Streaming.lmGateTransform(docsDf, topV).select($"doc_id", $"oov_frac")
    val t14 = graft.text.Text.t14UnigramLm(s, SfDir)
      .filter($"keep").select($"doc_id", $"oov_frac")
    val n14 = t14.count()
    val matches = gate.as("g").join(t14.as("t"), "doc_id")
      .select(($"g.oov_frac" === $"t.oov_frac").as("m")).as[Boolean].collect()
    assert(gate.count() == n14 && matches.length.toLong == n14 && matches.forall(identity),
      "streaming LM gate must keep exactly t14's keep set with identical scores")
  }

  /** Replay the recorded statement log into batch→rowcount state.
    * A whole-batch DELETE clears every partition slice of that batch;
    * a task-level DELETE clears one (batch, partition) slice; each
    * INSERT tuple carries (part_id, batch_id) as its last two
    * values. */
  private def storeState(statements: Seq[String]): Map[Long, Int] = {
    val tupleIds = ", (\\d+), (\\d+)\\)".r
    val taskDel = "_batch_id = (\\d+) AND _part_id = (\\d+)".r
    val byPart = scala.collection.mutable.Map[(Long, Long), Int]()
    statements.foreach { sql =>
      if (sql.startsWith("DELETE")) {
        taskDel.findFirstMatchIn(sql) match {
          case Some(m) => byPart.remove((m.group(2).toLong, m.group(1).toLong))
          case None =>
            val b = sql.split("=").last.trim.toLong
            byPart.keys.filter(_._2 == b).toSeq.foreach(byPart.remove)
        }
      } else {
        val ms = tupleIds.findAllMatchIn(sql).toSeq
        val key = (ms.head.group(1).toLong, ms.head.group(2).toLong) // (part, batch)
        byPart(key) = byPart.getOrElse(key, 0) + ms.size
      }
    }
    byPart.toMap.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
  }

  test("JdbcBatchWriter: bounded multi-row INSERTs per partition, idempotent replay after mid-batch failure") {
    val s = spark
    import s.implicits._
    RecordingExec.reset()
    val df = (1 to 10).map(i => (i.toLong, s"inv$i", i * 1.5)).toDF("id", "inverter", "watts")
      .repartition(2)
    val sink = new BufferedStreamSink(
      new JdbcBatchWriter("solis_buffer", RecordingExec, insertBatchSize = 3),
      maxPending = 2, maxRetries = 3)
    // fail the 3rd statement (mid-batch, after the DELETE + some
    // INSERTs landed) — the retry must replay the WHOLE batch and the
    // replay's DELETE must erase the partial attempt
    RecordingExec.failAt = 3
    sink.writeBatch(df.toDF(), batchId = 7L)
    assert(sink.retries == 1)
    val stmts = RecordingExec.log.toArray(Array.empty[String]).toSeq
    // replay visible: two WHOLE-BATCH deletes (original + sink retry)
    // plus per-task slice deletes before each task's inserts
    assert(stmts.count(s => s.startsWith("DELETE") && !s.contains("_part_id")) == 2)
    assert(stmts.exists(s => s.startsWith("DELETE") && s.contains("_part_id")))
    // statement-size bound: no INSERT carries more than 3 tuples
    val tupleCounts = stmts.filter(_.startsWith("INSERT"))
      .map(", (\\d+), (\\d+)\\)".r.findAllIn(_).size)
    assert(tupleCounts.nonEmpty && tupleCounts.max <= 3)
    // net store state: exactly one copy of the batch despite the replay
    assert(storeState(stmts) == Map(7L -> 10))
    // a second full replay (stream restart re-emitting the batch) stays idempotent
    sink.writeBatch(df.toDF(), batchId = 7L)
    assert(storeState(RecordingExec.log.toArray(Array.empty[String]).toSeq) == Map(7L -> 10))
    // literal formatting: strings quoted, doubles bare
    assert(stmts.exists(sql => sql.contains("'inv1'")))
  }

  test("sqlLiteral escapes quotes AND backslashes, rejects non-finite/non-scalar values") {
    import graft.streaming.JdbcBatchWriter.sqlLiteral
    assert(sqlLiteral("o'brien") == "'o''brien'")
    // a trailing backslash must not eat the closing quote on
    // backslash-escaping stores (ClickHouse/MySQL)
    assert(sqlLiteral("inv\\") == "'inv\\\\'")
    assert(sqlLiteral(null) == "NULL")
    assert(sqlLiteral(1.5d) == "1.5")
    assert(sqlLiteral(42L) == "42")
    intercept[IllegalArgumentException](sqlLiteral(Double.NaN))
    intercept[IllegalArgumentException](sqlLiteral(Double.PositiveInfinity))
    intercept[IllegalArgumentException](sqlLiteral(Array(1.0f)))
  }

  test("MergeTreeSink writes month-partitioned, (key, ts)-sorted parquet") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mts").toString
    val feed = Tables.events(s, SfDir).withColumnRenamed("user_id", "inverter")
    MergeTreeSink.write(feed, dir, "ts", "inverter")
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.matches("month=\\d{6}")),
      s"expected month=YYYYMM partitions, got ${dirs.mkString(",")}")
    // within one physical file, rows are sorted by (inverter, ts)
    val firstFile = new java.io.File(dir).listFiles().filter(_.isDirectory).head
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val rows = s.read.parquet(firstFile.toString)
      .select($"inverter", unix_micros($"ts").as("us"))
      .as[(Long, Long)].collect()
    val sorted = rows.sortBy(identity[(Long, Long)])
    assert(rows.toSeq == sorted.toSeq, "file must be sorted by (inverter, ts)")
    // round trip preserves the data
    assert(s.read.parquet(dir).count() == feed.count())
  }

  test("MergeTreeSink.optimizePartition merges one month's files; content, sort, other months intact") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mts_opt").toString
    val feed = Tables.events(s, SfDir).withColumnRenamed("user_id", "inverter")
    // two ingests = two parts per month, MergeTree's INSERT model
    MergeTreeSink.appendPart(feed.filter(pmod($"event_id", lit(2)) === 0),
      dir, "ts", "inverter")
    MergeTreeSink.appendPart(feed.filter(pmod($"event_id", lit(2)) === 1),
      dir, "ts", "inverter")
    val monthDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    val target = monthDirs.maxBy(_.listFiles().count(_.getName.endsWith(".parquet")))
    val month = target.getName.stripPrefix("month=")
    assert(target.listFiles().count(_.getName.endsWith(".parquet")) > 1,
      "need a multi-file month for the merge to be meaningful")
    val beforeRows = s.read.parquet(dir).orderBy($"event_id").collect().toSeq
    val otherListing = monthDirs.filterNot(_ == target)
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    MergeTreeSink.optimizePartition(s, dir, month, "ts", "inverter")
    val merged = new java.io.File(s"$dir/month=$month")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(merged.length == 1, s"expected 1 merged file, got ${merged.length}")
    assert(s.read.parquet(dir).orderBy($"event_id").collect().toSeq == beforeRows,
      "optimize must preserve content exactly")
    monthDirs.filterNot(_ == target).foreach { d =>
      assert(d.listFiles().map(_.getName).toSet == otherListing(d.getName),
        s"untouched month ${d.getName} was rewritten")
    }
    val rows = s.read.parquet(merged.head.toString)
      .select($"inverter", unix_micros($"ts")).as[(Long, Long)].collect()
    assert(rows.toSeq == rows.sortBy(identity[(Long, Long)]).toSeq,
      "merged file must stay (inverter, ts)-sorted")
  }

  test("MergeTreeSink replacing engine: merge dedups by sort key keeping max version; FINAL reads agree pre/post merge") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mts_repl").toString
    def part(version: Long, v: Double) = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-03-10 08:00:00"), version, v),
      (2L, java.sql.Timestamp.valueOf("2026-03-10 09:00:00"), version, v + 1))
      .toDF("inverter", "ts", "version", "value")
    // at-least-once ingest: the same two readings land twice, the
    // re-send carrying a higher version (the upsert)
    MergeTreeSink.appendPart(part(1L, 10.0), dir, "ts", "inverter")
    MergeTreeSink.appendPart(part(2L, 20.0), dir, "ts", "inverter")
    assert(s.read.parquet(dir).count() == 4, "pre-merge reads see duplicates (CH without FINAL)")
    // FINAL read resolves duplicates BEFORE any merge ran
    val finalPre = MergeTreeSink.readFinal(s, dir, "ts", "inverter", "version")
      .select($"inverter", $"version", $"value").orderBy($"inverter")
      .as[(Long, Long, Double)].collect().toSeq
    assert(finalPre == Seq((1L, 2L, 20.0), (2L, 2L, 21.0)), s"got $finalPre")
    // the background merge makes it physical
    MergeTreeSink.optimizeReplacing(s, dir, "202603", "ts", "inverter", "version")
    assert(s.read.parquet(dir).count() == 2, "post-merge the duplicates are gone physically")
    val finalPost = MergeTreeSink.readFinal(s, dir, "ts", "inverter", "version")
      .select($"inverter", $"version", $"value").orderBy($"inverter")
      .as[(Long, Long, Double)].collect().toSeq
    assert(finalPost == finalPre, "FINAL must agree before and after the merge")
  }

  test("MergeTreeSink summing engine: merge collapses sort-key duplicates by exact sums") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mts_sum").toString
    def part(c: Long) = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-03-10 08:00:00"), c, BigDecimal("1.50")),
      (2L, java.sql.Timestamp.valueOf("2026-03-10 09:00:00"), c * 10, BigDecimal("2.25")))
      .toDF("inverter", "ts", "n", "kwh")
      .select($"inverter", $"ts", $"n", $"kwh".cast("decimal(18,2)").as("kwh"))
    MergeTreeSink.appendPart(part(3L), dir, "ts", "inverter")
    MergeTreeSink.appendPart(part(4L), dir, "ts", "inverter")
    MergeTreeSink.optimizeSumming(s, dir, "202603", "ts", "inverter", Seq("n", "kwh"))
    val rows = s.read.parquet(dir)
      .select($"inverter", $"n", $"kwh".cast("string"))
      .orderBy($"inverter").as[(Long, Long, String)].collect().toSeq
    assert(rows == Seq((1L, 7L, "3.00"), (2L, 70L, "4.50")), s"got $rows")
  }

  test("MergeTreeSink.deleteWhere rewrites only matching months; full-month deletes drop the directory") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mts_del").toString
    // two months: the corpus month + a +35-day shifted copy
    val base = Tables.events(s, SfDir).withColumnRenamed("user_id", "inverter")
    val feed = base.unionByName(base
      .withColumn("ts", $"ts" + expr("INTERVAL 35 DAYS"))
      .withColumn("event_id", $"event_id" + 1000000000L))
    MergeTreeSink.write(feed, dir, "ts", "inverter")
    val monthDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(monthDirs.length >= 2, "need >=2 months for the pruning claim")
    val target = monthDirs.map(_.getName.stripPrefix("month=")).max
    val listingBefore = monthDirs
      .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    // GDPR-style: forget inverter 3's readings in ONE month
    val pred = $"inverter" === 3L && col("month").cast("string") === target
    val before = s.read.parquet(dir)
    val expectKept = before.filter(!pred).orderBy($"event_id").collect().toSeq
    val nDeleted = before.filter(pred).count()
    assert(nDeleted > 0, "fixture must actually match rows")
    val affected = MergeTreeSink.deleteWhere(s, dir, pred, "ts", "inverter")
    assert(affected == Seq(target), s"expected only $target affected, got $affected")
    assert(s.read.parquet(dir).orderBy($"event_id").collect().toSeq == expectKept,
      "exactly the matching rows must disappear")
    // untouched months: identical file listings (never rewritten)
    new java.io.File(dir).listFiles().filter(_.isDirectory)
      .filterNot(_.getName == s"month=$target").foreach { d =>
        assert(d.listFiles().map(_.getName).toSet == listingBefore(d.getName),
          s"untouched month ${d.getName} was rewritten")
      }
    // deleting EVERYTHING in a month removes its directory entirely
    val affected2 = MergeTreeSink.deleteWhere(
      s, dir, col("month").cast("string") === target, "ts", "inverter")
    assert(affected2 == Seq(target))
    assert(!new java.io.File(s"$dir/month=$target").exists(),
      "a fully-deleted month must not leave a stale directory")
    assert(s.read.parquet(dir).filter(col("month").cast("string") === target).count() == 0)
  }

  test("deleteWhere three-valued logic: NULL-predicate rows are KEPT, not silently deleted") {
    val s = spark
    import s.implicits._
    // the classic GDPR-delete bug (r12 ADVICE): filter(pred) counts a
    // NULL-predicate row as non-matching, but filter(!pred) ALSO
    // drops it — 'matched' and 'kept' must partition the table, so
    // the keep side is coalesce(!pred, true).
    val dir = Files.createTempDirectory("graft_mts_null").toString
    val base = Tables.events(s, SfDir).withColumnRenamed("user_id", "inverter")
      .withColumn("note",
        when(pmod($"event_id", lit(3)) === 0, lit(null).cast("string"))
          .when(pmod($"event_id", lit(3)) === 1, lit("del"))
          .otherwise(lit("keep")))
    MergeTreeSink.write(base, dir, "ts", "inverter")
    val before = s.read.parquet(dir)
    val nNull = before.filter($"note".isNull).count()
    val nKeep = before.filter($"note" === "keep").count()
    assert(nNull > 0 && nKeep > 0, "fixture needs NULL and keep rows")
    MergeTreeSink.deleteWhere(s, dir, $"note" === "del", "ts", "inverter")
    val after = s.read.parquet(dir)
    assert(after.filter($"note" === "del").count() == 0, "matches deleted")
    assert(after.filter($"note".isNull).count() == nNull,
      "NULL-predicate rows must survive the delete")
    assert(after.filter($"note" === "keep").count() == nKeep)
  }

  test("BufferedStreamSink drainAvailable processes all pending data then terminates") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dir = Files.createTempDirectory("graft_drain").toString
    val sink = new BufferedStreamSink(s"$dir/data")
    val stream = MemoryStream[Ev]
    stream.addData(Ev(ts(0, 1), "view", 1.0), Ev(ts(0, 2), "view", 2.0))
    val q = sink.drainAvailable(stream.toDF(), s"$dir/ckpt")
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    assert(s.read.parquet(s"$dir/data").count() == 2)
    // a second catch-up run on the same checkpoint is a no-op (no new data)
    val q2 = sink.drainAvailable(stream.toDF(), s"$dir/ckpt")
    assert(q2.awaitTermination(60000))
    assert(s.read.parquet(s"$dir/data").count() == 2, "re-drain must not duplicate")
  }

  test("MergeTreeSink incremental writes replace only the touched months") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mts_incr").toString
    def mk(ts: String, v: Double) =
      Seq((7L, java.sql.Timestamp.valueOf(ts), v)).toDF("inverter", "ts", "value")
    MergeTreeSink.write(mk("2026-01-15 10:00:00", 1.0), dir, "ts", "inverter")
    MergeTreeSink.write(mk("2026-02-15 10:00:00", 2.0), dir, "ts", "inverter")
    val months = s.read.parquet(dir).select($"month").distinct().as[Int].collect().sorted
    assert(months.toSeq == Seq(202601, 202602),
      s"February's write must not wipe January, got ${months.mkString(",")}")
    // re-writing a month replaces just that month
    MergeTreeSink.write(mk("2026-01-20 10:00:00", 9.0), dir, "ts", "inverter")
    val jan = s.read.parquet(dir).filter($"month" === 202601).select($"value").as[Double].collect()
    assert(jan.toSeq == Seq(9.0), "January must be replaced, not appended")
    assert(s.read.parquet(dir).filter($"month" === 202602).count() == 1)
  }

  test("MergeTreeSink layout prunes partitions: a one-month filter reads one directory") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_mts_prune").toString
    val feed = Tables.events(s, SfDir).withColumnRenamed("user_id", "inverter")
    MergeTreeSink.write(feed, dir, "ts", "inverter")
    val months = s.read.parquet(dir).select($"month").distinct().as[Int].collect().sorted
    assert(months.length >= 1)
    val one = s.read.parquet(dir).filter($"month" === months.head)
    // partition pruning: only files under the selected month= directory are read
    val touched = one.select(input_file_name()).distinct().as[String].collect()
      .map(f => f.split("/").reverse.dropWhile(!_.startsWith("month=")).head).distinct
    assert(touched.toSeq == Seq(s"month=${months.head}"),
      s"one-month scan must touch exactly one partition dir, got ${touched.mkString(",")}")
    // and the pruned scan returns exactly that month's rows
    val expected = feed.filter(year($"ts") * 100 + month($"ts") === months.head).count()
    assert(one.count() == expected)
  }

  test("stateful streaming funnel across micro-batches equals e21's batch fold") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val tc = when($"event_type" === "view", 1L)
      .when($"event_type" === "click", 2L)
      .when($"event_type" === "purchase", 3L)
      .otherwise(0L)
    val evts = Tables.events(s, SfDir)
      .select($"user_id", (unix_micros($"ts") * 8 + tc).as("packed"))
      .as[Streaming.FunnelEvt]
      .collect().sortBy(_.packed)
    // three time-ordered micro-batches — the resume-from-checkpoint
    // shape; the accumulator must carry the chain across the splits
    val (b1, rest) = evts.splitAt(evts.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)

    val stream = MemoryStream[Streaming.FunnelEvt]
    val q = Streaming.statefulFunnel(stream.toDS())
      .writeStream.format("memory").queryName("funnel_spec")
      .outputMode("append").start()
    try {
      stream.addData(b1.toSeq: _*); q.processAllAvailable()
      stream.addData(b2.toSeq: _*); q.processAllAvailable()
      stream.addData(b3.toSeq: _*); q.processAllAvailable()
    } finally q.stop()

    // levels are monotone, so each user's final answer is the max
    val streamed = s.table("funnel_spec")
      .groupBy($"user_id").agg(max($"funnel_level").as("funnel_level"))
      .groupBy($"funnel_level").agg(count(lit(1)).as("n_users"))
    val batch = events.Events.e21FunnelInc(s, SfDir)
    assert(streamed.count() == batch.count())
    val mismatch = streamed.as("a").join(batch.as("b"), "funnel_level")
      .filter($"a.n_users" =!= $"b.n_users")
    assert(mismatch.count() == 0,
      "cross-micro-batch funnel levels must match the batch fold")
  }

  test("windowed streaming top-k sketch merges across micro-batches == batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // skewed types so ranks are meaningful; split mid-window so the
    // TypedImperativeAggregate state must MERGE across micro-batches
    val data = Seq(
      Ev(ts(0, 5), "view", 1.0), Ev(ts(0, 10), "view", 1.0),
      Ev(ts(0, 15), "view", 1.0), Ev(ts(0, 20), "click", 1.0),
      Ev(ts(0, 25), "click", 1.0), Ev(ts(0, 40), "purchase", 1.0),
      Ev(ts(1, 5), "click", 1.0), Ev(ts(1, 10), "click", 1.0),
      Ev(ts(1, 50), "view", 1.0))
    val stream = MemoryStream[Ev]
    stream.addData(data.take(4): _*)
    val q = Streaming.topkTransform(stream.toDF())
      .writeStream.format("memory").queryName("st7_spec")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(data.drop(4): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Streaming.topkFinalize(s.table("st7_spec"))
      .collect().map(_.toSeq).toSet
    val batch = Streaming.topkFinalize(
      Streaming.topkTransform(data.toDF())).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // h0: view(3) > click(2) > purchase(1); h1: click(2) > view(1)
    val h0 = Streaming.topkFinalize(s.table("st7_spec"))
      .filter($"rank" === 1).select($"event_type").as[String].collect().toSet
    assert(h0 == Set("view", "click"))
  }

  test("windowed streaming q-digest quantiles merge across micro-batches == batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = Tables.events(s, SfDir)
      .select($"ts", $"user_id", $"event_type", $"value")
      .collect().sortBy(_.getTimestamp(0).getTime)
    val evs = rows.map(r =>
      EvUser(r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val stream = MemoryStream[EvUser]
    val q = Streaming.quantileTransform(stream.toDF())
      .writeStream.format("memory").queryName("st9_spec")
      .outputMode("complete").start()
    try {
      stream.addData(b1.toSeq: _*); q.processAllAvailable()
      stream.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = Streaming.quantileFinalize(s.table("st9_spec"))
      .collect().map(_.toSeq).toSet
    val batch = Streaming.st9StreamQuantile(s, SfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream/batch quantile mismatch: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("windowed streaming adaptive histogram merges across micro-batches == batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = Tables.events(s, SfDir)
      .select($"ts", $"user_id", $"event_type", $"value")
      .collect().sortBy(_.getTimestamp(0).getTime)
    val evs = rows.map(r =>
      EvUser(r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val stream = MemoryStream[EvUser]
    val q = Streaming.histTransform(stream.toDF())
      .writeStream.format("memory").queryName("st11_spec")
      .outputMode("complete").start()
    try {
      stream.addData(b1.toSeq: _*); q.processAllAvailable()
      stream.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = Streaming.histFinalize(s.table("st11_spec"))
      .collect().map(_.toSeq).toSet
    val batch = Streaming.st11StreamHistogram(s, SfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream/batch histogram mismatch: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
  }

  test("stateful gap detector finds gaps that SPAN micro-batch boundaries") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // crafted feed: inverter 1 has an in-batch gap AND a cross-batch
    // gap (batch 1 ends at t=10h, batch 2 starts at t=13h); inverter 2
    // polls steadily — no gaps. A per-batch lag() would MISS the
    // cross-batch gap; the carried state must not.
    val h = 3600000000L
    val b1 = Seq(
      Streaming.PollEvt(1L, 1 * h, 1), Streaming.PollEvt(1L, 2 * h, 2),
      Streaming.PollEvt(1L, 7 * h, 3), // in-batch 5h gap
      Streaming.PollEvt(1L, 8 * h, 4),
      Streaming.PollEvt(2L, 1 * h, 5), Streaming.PollEvt(2L, 2 * h, 6))
    val b2 = Seq(
      Streaming.PollEvt(1L, 13 * h, 7), // cross-batch 5h gap
      Streaming.PollEvt(2L, 3 * h, 8))
    val stream = MemoryStream[Streaming.PollEvt]
    val q = Streaming.statefulGapDetect(stream.toDS())
      .writeStream.format("memory").queryName("st8_spec")
      .outputMode("append").start()
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      stream.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val gaps = s.table("st8_spec")
      .as[Streaming.GapOut].collect().sortBy(g => (g.inverter, g.gap_start_us))
    assert(gaps.toSeq == Seq(
      Streaming.GapOut(1L, 2 * h, 5 * h),
      Streaming.GapOut(1L, 8 * h, 5 * h)),
      s"got ${gaps.toSeq}")
    // batch == stream: the graded query equals running the operator
    // over the undivided feed
    val whole = (b1 ++ b2).toDS()
    val batch = Streaming.statefulGapDetect(whole)
      .collect().sortBy(g => (g.inverter, g.gap_start_us)).toSeq
    assert(batch == gaps.toSeq)
  }

  test("stateful last-reading: per-batch upserts converge to the batch argMax over any split") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // crafted feed: inverter 1's latest lands in batch 1 (batch 2
    // carries only OLDER readings — the carried state must win);
    // inverter 2's latest lands in batch 2; a same-us tie on
    // inverter 3 resolves by event_id across the batch boundary.
    val h = 3600000000L
    val b1 = Seq(
      Streaming.ReadEvt(1L, "view", 9 * h, 10, 900L),
      Streaming.ReadEvt(2L, "view", 1 * h, 11, 100L),
      Streaming.ReadEvt(3L, "view", 5 * h, 12, 500L))
    val b2 = Seq(
      Streaming.ReadEvt(1L, "view", 2 * h, 20, 200L), // older: must NOT win
      Streaming.ReadEvt(2L, "view", 3 * h, 21, 300L),
      Streaming.ReadEvt(3L, "view", 5 * h, 2, 999L))  // same us, lower id: must NOT win
    val stream = MemoryStream[Streaming.ReadEvt]
    val q = Streaming.statefulLastReading(stream.toDS())
      .writeStream.format("memory").queryName("st10_spec")
      .outputMode("append").start()
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      stream.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // the dashboard read is "latest emitted row per key": max last_us
    // wins, and a re-emission of the same state is idempotent
    val finalRows = s.table("st10_spec").as[Streaming.LastOut]
      .collect().groupBy(o => (o.inverter, o.stream))
      .map { case (_, v) => v.maxBy(o => (o.last_us, o.last_cents)) }
      .toSeq.sortBy(o => (o.inverter, o.stream))
    val batch = Streaming.statefulLastReading((b1 ++ b2).toDS())
      .collect().toSeq.sortBy(o => (o.inverter, o.stream))
    assert(finalRows == batch, s"stream $finalRows vs batch $batch")
    assert(batch.map(o => (o.inverter, o.last_us, o.last_cents)) ==
      Seq((1L, 9 * h, 900L), (2L, 3 * h, 300L), (3L, 5 * h, 500L)))
  }

  test("st12 clipping detector: a run split across micro-batches closes identically to batch") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // synthetic feed: inverter 1 has a 4-long clipping run that the
    // split cuts in half (state must carry runLen/startUs across the
    // batch boundary); inverter 2 has a too-short run; inverter 3's
    // run is still open at stream end and must NOT be emitted.
    val C = Streaming.ClipRatedCents
    val h = 3600L * 1000000
    def e(inv: Long, k: Long, cents: Long) =
      Streaming.ClipEvt(inv, k * h, inv * 100 + k, cents)
    val evs = Seq(
      e(1, 1, C - 1), e(1, 2, C), e(1, 3, C + 5), e(1, 4, C), e(1, 5, C + 9),
      e(1, 6, C - 7),
      e(2, 1, C), e(2, 2, C), e(2, 3, C - 1),
      e(3, 1, C - 2), e(3, 2, C), e(3, 3, C), e(3, 4, C), e(3, 5, C))
      .sortBy(x => (x.us, x.inverter))
    val (b1, b2) = evs.splitAt(evs.length / 2) // cuts inverter 1 mid-run
    val stream = MemoryStream[Streaming.ClipEvt]
    val q = Streaming.statefulClipDetect(stream.toDS())
      .writeStream.format("memory").queryName("st12_spec")
      .outputMode("append").start()
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      stream.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = s.table("st12_spec").as[Streaming.ClipOut]
      .collect().toSeq.sortBy(_.inverter)
    val batch = Streaming.statefulClipDetect(evs.toDS())
      .collect().toSeq.sortBy(_.inverter)
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // exactly one closed run: inverter 1's 4-reading run; 2 is too
    // short, 3 is open-ended
    assert(batch == Seq(Streaming.ClipOut(1L, 2 * h, 5 * h, 4L)))
  }
}
