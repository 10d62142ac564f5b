package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Order-independent result fingerprint: row count plus the wrapping
  * sum of a 64-bit hash of each row's binary form. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = s"$rows\t$hash"
}

object Fingerprint {
  /** Executes `df`'s own physical plan and hashes every row inside the
    * tasks, so the whole plan runs (as with a `noop` sink) and only one
    * (count, hash) pair per partition comes back from the tasks. */
  def execute(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      val types = qe.executedPlan.output.map(_.dataType).toArray
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }.collect().foldLeft(Fingerprint(0, 0)) { case (f, (n, h)) => Fingerprint(f.rows + n, f.hash + h) }
    }
  }

  /** Stored fingerprints, one `query\trows\thash` line each. */
  def load(path: String): Map[String, Fingerprint] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map { l =>
      val Array(q, r, h) = l.split('\t')
      q -> Fingerprint(r.toLong, h.toLong)
    }.toMap
  }
}

/** Graft execs and native windows in a final executed plan, looking
  * through adaptive wrappers, query stages and subqueries. */
object Census {
  private[perfbench] def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def apply(plan: SparkPlan): (Int, Int, Seq[String]) = {
    val all = nodes(plan)
    val graft = all.filter(_.getClass.getName.startsWith("graft.plans."))
    (graft.size, all.count(_.isInstanceOf[WindowExec]), graft.map(_.nodeName).distinct.sorted)
  }
}

/** The suite workload: one client, closed loop, over a fixed list of
  * `SparkEntry.queries`, each pass in seed-shuffled order. */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  val Families: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> graft.relational.Relational.queries,
    "solar" -> graft.solar.Solar.queries,
    "events" -> graft.events.Events.queries,
    "text" -> graft.text.Text.queries,
    "dedup" -> graft.dedup.Dedup.queries,
    "sim" -> graft.sim.Sim.queries,
    "multimodal" -> graft.multimodal.Multimodal.queries,
    "streaming" -> graft.streaming.Streaming.queries)

  def familyOf(name: String): String = Families.find(_._2.contains(name)).map(_._1).getOrElse("?")

  /** One timed execution of one query. */
  final case class Exec(name: String, family: String, totalMs: Double, buildMs: Double,
                        analysisMs: Double, optimizerMs: Double, planningMs: Double,
                        execMs: Double, fp: Fingerprint, plan: SparkPlan, startNs: Long, endNs: Long)

  def runOne(spark: SparkSession, name: String, dir: String,
             tracer: Option[Tracer], parent: Long, groups: mutable.Map[String, Long]): Exec = {
    val fn = graft.SparkEntry.queries(name)
    def body(spanId: Long): Exec = {
      val sc = spark.sparkContext
      if (tracer.isDefined) {
        val g = s"perfbench-$spanId"
        groups(g) = spanId
        sc.setJobGroup(g, name, interruptOnCancel = false)
      }
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        val fp = Fingerprint.execute(df)
        val t2 = System.nanoTime()
        val phases = df.queryExecution.tracker.phases
        def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val buildMs = (t1 - t0) / 1e6
        val totalMs = (t2 - t0) / 1e6
        val planMs = ms("optimization") + ms("planning")
        tracer.foreach { tr =>
          val s0 = tr.nowUs - ((t2 - t0) / 1000)
          val s1 = s0 + (t1 - t0) / 1000
          val s2 = s1 + (planMs * 1000).toLong
          tr.add("build", spanId, s0, s1)
          tr.add("plan", spanId, s1, s2)
          tr.add("execute", spanId, s2, tr.nowUs)
        }
        Exec(name, familyOf(name), totalMs, buildMs, ms("analysis"), ms("optimization"),
          ms("planning"), totalMs - buildMs - planMs, fp, df.queryExecution.executedPlan, t0, t2)
      } finally if (tracer.isDefined) sc.clearJobGroup()
    }
    tracer match {
      case Some(tr) => tr.span(s"query:$name", parent)(body)
      case None => body(0L)
    }
  }

  /** Scale factor and seed of the generated tables. Both are fixed, so
    * the fingerprints the benchmark stores hold for every run; `--seed`
    * drives the query order. */
  val Sf = 0.01
  val DataSeed = 20240101L

  /** One query from each of the eight families, each near its family's
    * median warm time on a 4-core machine (the suite is mostly fixed
    * cost per query, and these are its typical queries), and a second
    * relational one. The count is odd so that the median of whole passes
    * falls on one query's samples, not in the gap between two groups of
    * queries, where it would move with any sample that crosses. */
  val Suite = Seq("q45_revenue_momentum", "q14_conditional", "s11_rollup", "e1_funnel", "t11_bm25",
    "d4_simhash", "v10_mips", "m14_aspect_buckets", "st1_stream_hourly")

  /** The `plans` execs each suite query must keep in its final plan:
    * global offset, rank and running aggregate in q45, grouped running
    * aggregates in e1, top-k in t11 and v10. The plan census fails the
    * set-up if any of them falls back to native operators. */
  val PlansExecs: Map[String, Set[String]] = Map(
    "q45_revenue_momentum" -> Set("GlobalOffset", "GlobalRank", "GlobalRunningAgg"),
    "e1_funnel" -> Set("GroupedRunningAgg"),
    "t11_bm25" -> Set("TopKPartial", "TopKFinal"),
    "v10_mips" -> Set("TopKPartial", "TopKFinal"))

  def run(ctx: Ctx, res: Result): Unit = {
    val dir = s"${ctx.work}/data-suite"
    ctx.record("data_gen_ms", Data.ensure(ctx.spark, dir, Sf, DataSeed))

    val stored = Fingerprint.load(ctx.fingerprints)
    val recorded = mutable.LinkedHashMap.empty[String, Fingerprint]
    def verify(e: Exec): Unit =
      if (ctx.recordFingerprints) recorded(e.name) = e.fp
      else res.check(stored.get(e.name).contains(e.fp),
        s"${e.name}: fingerprint ${e.fp} != stored ${stored.get(e.name)}")

    // set-up: a session and one pass over the suite (JIT, codegen and
    // footer caches), three times. Every result is checked, and the
    // plan census runs on the final plans.
    val noGroups = mutable.Map.empty[String, Long]
    val setupS = ctx.setUps { k =>
      Suite.foreach { q =>
        val e = runOne(ctx.spark, q, dir, None, 0L, noGroups)
        verify(e)
        val (g, w, names) = Census(e.plan)
        System.err.println(f"[perfbench] set-up $k $q%-28s ${e.totalMs}%8.0f ms  graft=$g (${names.mkString(",")}) window=$w")
        val missing = PlansExecs.getOrElse(q, Set.empty) -- names
        if (missing.nonEmpty)
          throw new IllegalStateException(
            s"suite set-up: $q lost ${missing.toSeq.sorted.mkString(", ")} from its final plan")
      }
    }
    if (ctx.recordFingerprints) {
      Main.appendLines(ctx.fingerprints, recorded.toSeq.map { case (q, fp) => s"$q\t$fp" })
      System.err.println(s"[perfbench] recorded ${recorded.size} fingerprints to ${ctx.fingerprints}")
    }
    val spark = ctx.spark

    // measured passes; a traced run alternates untraced and traced
    // passes (at least untraced, traced, untraced) so the tracing
    // overhead is measured on the same queries
    val tracer = if (ctx.trace) Some(new Tracer) else None
    val groups = mutable.Map.empty[String, Long]
    val minPasses = if (ctx.trace) 3 else 2
    val execs = mutable.ArrayBuffer.empty[Exec]
    val traced = mutable.ArrayBuffer.empty[Exec]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    var pass = 0
    val (loopStart, loopEnd) = ctx.measured {
      val t0 = System.nanoTime()
      def elapsedS = (System.nanoTime() - t0) / 1e9
      while (pass < minPasses || elapsedS < ctx.seconds) {
        val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(Suite)
        val tracedPass = tracer.isDefined && pass % 2 == 1
        ctx.engine.foreach(_.collecting = tracedPass)
        val p0 = System.nanoTime()
        def one(parent: Long): Unit = order.foreach { q =>
          val e = runOne(spark, q, dir, if (tracedPass) tracer else None, parent, groups)
          if (!ctx.recordFingerprints) verify(e)
          execs += e
          if (tracedPass) traced += e
        }
        if (tracedPass) tracer.get.span(s"run:pass$pass", 0L)(one) else one(0L)
        passWall += ((tracedPass, (System.nanoTime() - p0) / 1e6))
        pass += 1
      }
      ctx.engine.foreach(_.collecting = false)
      (t0, System.nanoTime())
    }
    val samples = execs.map(e => ctx.steal.adjustMs(e.startNs, e.endNs)).toSeq
    val tracedWallMs = passWall.filter(_._1).map(_._2).sum
    val sentinel = ctx.notes("bench.sentinel_ms")
    val q = Stats.tailQ(samples.size)
    System.err.println(f"[perfbench] suite: ${samples.size} query samples in $pass passes, " +
      f"${(loopEnd - loopStart) / 1e9}%.1f s; tail = p${q * 100}%.0f; steal ${ctx.notes("bench.steal_share")}%.3f; " +
      f"sentinel $sentinel%.1f ms; pass ms " + passWall.map(p => f"${p._2}%.0f").mkString(" "))
    ctx.record("wall.latency_p50_ms", Stats.median(execs.map(_.totalMs).toSeq))
    ctx.record("samples", samples.size)
    ctx.record("tail_quantile", q)
    ctx.record("jvm.peak_rss_mb", Main.peakRssMb)

    if (!ctx.trace) {
      res.put("setup_s", setupS, "s")
      res.put("latency_p50_ms", Stats.median(samples.toSeq), "ms")
      res.put("latency_tail_ms", Stats.quantile(samples.toSeq, q), "ms")
      res.put("ops_per_s", samples.size / (ctx.steal.adjustMs(loopStart, loopEnd) / 1000), "1/s")
    } else {
      val tr = tracer.get
      val eng = ctx.engine.get
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      eng.addJobSpans(tr, groups.get)
      val n = traced.size.toDouble
      def mean(f: Exec => Double, sel: Exec => Boolean = _ => true): Double = {
        val xs = traced.filter(sel).map(f)
        if (xs.isEmpty) 0.0 else xs.sum / xs.size
      }
      val spans = tr.all
      val buildIds = spans.filter(_.name == "build").map(_.id).toSet
      val layers = new Layers(ctx)
      layers.put("build.jobs", spans.count(s => s.layer == "job" && buildIds(s.parent)) / n, "count")
      Families.foreach { case (f, _) =>
        layers.put(s"build.ms.$f", mean(_.buildMs, _.family == f), "ms")
        layers.put(s"exec.ms.$f", mean(_.execMs, _.family == f), "ms")
      }
      layers.put("plan.analysis_ms", mean(_.analysisMs), "ms")
      layers.put("plan.optimizer_ms", mean(_.optimizerMs), "ms")
      layers.put("plan.planning_ms", mean(_.planningMs), "ms")
      eng.metrics(n, tracedWallMs, ctx.cores).foreach { case (k, v, u) => layers.put(k, v, u) }
      val passCensus = traced.take(Suite.size).map(e => Census(e.plan))
      layers.put("plans.graft_exec_nodes", passCensus.map(_._1).sum, "count")
      layers.put("plans.native_window_nodes", passCensus.map(_._2).sum, "count")
      layers.putSelf(tr)
      val untracedMs = passWall.filter(!_._1).map(_._2)
      val tracedMs = passWall.filter(_._1).map(_._2)
      layers.put("trace.overhead_ratio", Stats.median(tracedMs.toSeq) / Stats.median(untracedMs.toSeq), "ratio")
      layers.put("bench.sentinel_ms", sentinel, "ms")
      layers.put("bench.steal_share", ctx.notes("bench.steal_share"), "ratio")
      layers.into(res)
      tr.writeJson(s"${ctx.work}/trace-suite-${ctx.seed}.json")
    }
  }
}
