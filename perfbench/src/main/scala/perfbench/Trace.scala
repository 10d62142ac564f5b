package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are microseconds since
  * the tracer was created; `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long) {
  def layer: String = name.takeWhile(_ != ':')
  def durUs: Long = endUs - startUs
}

/** In-memory span store: spans are appended while the run goes and
  * written out once at the end. */
final class Tracer {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def nowUs: Long = (System.nanoTime() - originNs) / 1000
  def epochMsToUs(ms: Long): Long = (ms - originEpochMs) * 1000

  def add(name: String, parent: Long, startUs: Long, endUs: Long): Long = {
    val id = ids.incrementAndGet()
    spans.synchronized(spans += Span(id, parent, name, startUs, endUs))
    id
  }

  /** Runs `body` inside a span; the body gets the new span's id. */
  def span[A](name: String, parent: Long)(body: Long => A): A = {
    val id = ids.incrementAndGet()
    val start = nowUs
    try body(id)
    finally spans.synchronized(spans += Span(id, parent, name, start, nowUs))
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer: a span's duration minus the part of it that
    * its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.durUs - covered) / 1000.0
      }.sum
    }
  }

  def writeJson(path: String): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startUs).iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
    }
    sb.append("\n]\n")
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}

/** Spark engine counters from a public [[SparkListener]]. Only events
  * that arrive while `collecting` is set are counted; jobs carry the
  * job group the benchmark set, so each can be linked to its query. */
final class EngineListener extends SparkListener {
  import EngineListener.Job

  @volatile var collecting = false
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuMs = 0.0
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var peakExecMemBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (collecting) {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Job(e.jobId, group.getOrElse(""), e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (collecting) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (collecting && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      taskRunMs += m.executorRunTime
      taskCpuMs += m.executorCpuTime / 1e6
      gcMs += m.jvmGCTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      resultBytes += m.resultSize
      peakExecMemBytes = math.max(peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  def jobMs: Long = synchronized(jobs.values.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum)

  /** Engine metrics, counts and times divided by `per` operations;
    * `wallMs` and `cores` give the share of cores kept busy. */
  def metrics(per: Double, wallMs: Double, cores: Int): Seq[(String, Double, String)] = synchronized {
    val d = math.max(per, 1.0)
    Seq(
      ("spark.jobs", jobs.size / d, "count"),
      ("spark.stages", stages / d, "count"),
      ("spark.tasks", tasks / d, "count"),
      ("spark.job_ms", jobMs / d, "ms"),
      ("spark.task_run_ms", taskRunMs / d, "ms"),
      ("spark.task_cpu_ms", taskCpuMs / d, "ms"),
      ("spark.gc_ms", gcMs / d, "ms"),
      ("spark.core_busy_ratio", if (wallMs > 0) taskRunMs / (wallMs * cores) else 0.0, "ratio"),
      ("spark.shuffle_read_bytes", shuffleReadBytes / d, "bytes"),
      ("spark.shuffle_write_bytes", shuffleWriteBytes / d, "bytes"),
      ("spark.spill_bytes", spillBytes / d, "bytes"),
      ("spark.result_bytes", resultBytes / d, "bytes"),
      ("spark.peak_exec_mem_bytes", peakExecMemBytes.toDouble, "bytes"))
  }

  /** Adds one `job:<id>` span per finished job under the span that was
    * open when it started: the innermost span of the query whose job
    * group it carries. */
  def addJobSpans(tracer: Tracer, groupSpan: String => Option[Long]): Unit = synchronized {
    val byId = tracer.all.map(s => s.id -> s).toMap
    val kids = tracer.all.groupBy(_.parent)
    jobs.values.filter(_.endMs >= 0).foreach { j =>
      val start = tracer.epochMsToUs(j.startMs)
      val end = tracer.epochMsToUs(j.endMs)
      val root = groupSpan(j.group)
      val parent = root.map { r =>
        kids.getOrElse(r, Nil).find(c => c.startUs <= start && start <= c.endUs)
          .map(_.id).getOrElse(r)
      }.getOrElse(0L)
      if (parent == 0L || byId.contains(parent)) tracer.add(s"job:${j.id}", parent, start, end)
    }
  }
}

object EngineListener {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long = -1)
}
