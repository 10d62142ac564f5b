package graft.events

import graft.{Exact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics (SURVEY §2.C) — the ClickHouse-idiom query
  * family a user of the reference's events table writes next after the
  * rollups: windowFunnel (plain e1 + time-bounded e6), cohort
  * retention, histograms, JSON property extraction, ASOF JOIN (e5) and
  * its general interval-join cousin (e8), and sequence mining (e7).
  *
  * Scale notes (100 TB): every query shuffles on `user_id` at most
  * twice; the funnel is a ClickHouse `windowFunnel` re-expressed as
  * stacked window aggregates sharing ONE (user_id, ts) sort (no
  * self-joins, no per-user collect); the as-of join is a union+window
  * composition — one shuffle, one sort, no per-row lookup, which is
  * the shape that survives a fact-fact as-of at 100×. All sums that
  * feed the driver's hash are exact (decimal/long), mirroring
  * [[graft.Exact]].
  */
object Events {
  import Exact._

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------------
  // e1: ordered-sequence funnel (view → click → purchase), ClickHouse
  // windowFunnel semantics: each stage must occur strictly after some
  // completion of the previous stage. One shuffle + one sort per user:
  // a running min of stage-(k-1) completion times validates stage-k
  // rows in the same ts-ordered pass.
  // ---------------------------------------------------------------------
  def e1Funnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lvl = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("min_view", min(when($"event_type" === "view", $"ts")).over(w))
      .withColumn("click_ts",
        when($"event_type" === "click" && $"ts" > $"min_view", $"ts"))
      .withColumn("min_click", min($"click_ts").over(w))
      .withColumn("purch_ts",
        when($"event_type" === "purchase" && $"ts" > $"min_click", $"ts"))
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"ts")).as("t1"),
        min($"click_ts").as("t2"),
        min($"purch_ts").as("t3"))
      .filter($"t1".isNotNull)
      .select(
        (lit(1) + when($"t2".isNotNull, 1).otherwise(0)
                + when($"t3".isNotNull, 1).otherwise(0)).as("funnel_level"))
    lvl.groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  // ---------------------------------------------------------------------
  // e6: time-BOUNDED funnel — ClickHouse windowFunnel(window) proper:
  // each stage must follow the previous one within 6 hours (the window
  // that discriminates on this feed's event density). Same
  // stacked-window shape as e1, but the running stage-minima use a
  // RANGE frame over microsecond event time, so only predecessors
  // inside the window qualify. Still one shuffle + sorts on the same
  // (user_id, time) ordering.
  // ---------------------------------------------------------------------
  private val FunnelWindowUs = 6L * 3600 * 1000000

  def e6BoundedFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wr = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-FunnelWindowUs, 0)
    val lvl = Tables.events(s, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .withColumn("m_view", min(when($"event_type" === "view", $"us")).over(wr))
      .withColumn("click_us",
        when($"event_type" === "click" && $"us" > $"m_view", $"us"))
      .withColumn("m_click", min($"click_us").over(wr))
      .withColumn("purch_us",
        when($"event_type" === "purchase" && $"us" > $"m_click", $"us"))
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"us")).as("t1"),
        min($"click_us").as("t2"),
        min($"purch_us").as("t3"))
      .filter($"t1".isNotNull)
      .select(
        (lit(1) + when($"t2".isNotNull, 1).otherwise(0)
                + when($"t3".isNotNull, 1).otherwise(0)).as("funnel_level"))
    lvl.groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  // ---------------------------------------------------------------------
  // e2: cohort retention — cohort = day of user's first event; count
  // users active again exactly 1 and 7 days later. Activity is
  // de-dupped to (user, day) first so the join and the distinct counts
  // stay proportional to active-user-days, not raw events.
  // ---------------------------------------------------------------------
  /** Shared retention kernel, part 1: the (user_id, day) activity
    * grain every retention/cohort query (e2/e10/e14/e17) reduces to
    * FIRST — dedup before anything else, so all downstream joins and
    * aggregates run at active-user-days cardinality, never event
    * cardinality. */
  private[graft] def userDays(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()

  /** Shared retention kernel, part 2: the grain with each user's
    * first active day attached as `anchorCol` — the cohort anchor-min
    * join. The user-keyed min aggregate and the join back ride the
    * SAME user_id shuffle key the dedup already clustered on, so this
    * costs one exchange total on top of the grain. */
  private[graft] def anchored(act: DataFrame, anchorCol: String): DataFrame =
    act.join(act.groupBy(col("user_id")).agg(min(col("day")).as(anchorCol)),
      "user_id")

  def e2Retention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Reduce to one row per user (return-day flags) BEFORE the cohort
    // rollup: a multi-countDistinct over the raw activity join would
    // expand every row 3× through Spark's distinct-aggregate rewrite
    // and re-shuffle the expansion; per-user boolean flags aggregate
    // with cheap map-side partials on the same user_id key the
    // first-day aggregate already shuffled on.
    val perUser = anchored(userDays(s, d), "cohort")
      .groupBy($"user_id", $"cohort")
      .agg(
        max(when($"day" === $"cohort" + expr("INTERVAL 1 DAY"), 1).otherwise(0)).as("f1"),
        max(when($"day" === $"cohort" + expr("INTERVAL 7 DAY"), 1).otherwise(0)).as("f7"))
    perUser.groupBy($"cohort")
      .agg(
        count(lit(1)).as("n_users"),
        sum($"f1").as("retained_d1"),
        sum($"f7").as("retained_d7"))
      .orderBy($"cohort")
  }

  // ---------------------------------------------------------------------
  // e11: SESSION-SCOPED FUNNEL — the per-session conversion readout
  // product analytics actually ships (a purchase in tomorrow's session
  // doesn't convert today's): s10's gap-sessionization rule composed
  // with e1's ordered-stage detection, stages evaluated INSIDE each
  // (user, session). funnel_level 0 = session with no view (ClickHouse
  // windowFunnel's 0), 1..3 = stages completed strictly in order.
  // Shapes: one shuffle on user_id; the session-id cumsum and the
  // stage minima share the (user_id, ts, event_id) sort (sid is
  // monotone in that order, so the (user, sid) stage windows re-sort
  // already-clustered rows, no second exchange).
  // ---------------------------------------------------------------------
  private val SessionGapUs = 30L * 60 * 1000000

  def e11SessionFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("gap_us",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(wOrd)))
      .withColumn("new_s",
        when($"gap_us".isNull || $"gap_us" > SessionGapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_s").over(cum))
    val wf = Window.partitionBy($"user_id", $"sid").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess
      .withColumn("min_view", min(when($"event_type" === "view", $"ts")).over(wf))
      .withColumn("click_ts",
        when($"event_type" === "click" && $"ts" > $"min_view", $"ts"))
      .withColumn("min_click", min($"click_ts").over(wf))
      .withColumn("purch_ts",
        when($"event_type" === "purchase" && $"ts" > $"min_click", $"ts"))
      .groupBy($"user_id", $"sid")
      .agg(
        count(lit(1)).as("n_events"),
        min($"ts").as("s_start"),
        min(when($"event_type" === "view", $"ts")).as("t1"),
        min($"click_ts").as("t2"),
        min($"purch_ts").as("t3"))
      .select($"user_id", $"sid", $"s_start", $"n_events",
        when($"t1".isNull, 0)
          .otherwise(lit(1) + when($"t2".isNotNull, 1).otherwise(0)
                            + when($"t3".isNotNull, 1).otherwise(0)).as("funnel_level"))
      .orderBy($"user_id", $"sid")
  }

  // ---------------------------------------------------------------------
  // e13: ClickHouse `maxIntersections` — peak CONCURRENCY over the
  // session intervals (the "max simultaneous users" dashboard number;
  // CH pairs maxIntersections/maxIntersectionsPosition with the same
  // interval feeds). Sessions are e11's rule (30-min gap per user);
  // each [start, end] session becomes two boundary rows (+1 at start,
  // -1 at end, CLOSED intervals: +1 sorts before -1 at equal us so a
  // session ending exactly when another starts counts as overlap),
  // and the peak is the max of the running boundary sum.
  //
  // Scale shape: the sweep input is 2 rows per SESSION (not per
  // event) carrying (day, us, ±1) — the session reduction has already
  // collapsed the corpus. The running sum partitions on the report
  // day (the dashboard grain, same day-bounded window family as
  // s16/s20); the peak is invariant to intra-tie permutation because
  // ties order all +1s first, so per-day determinism needs no further
  // tie keys. A corpus whose SINGLE day outgrows one partition would
  // switch to the classic two-pass range-partitioned prefix sum; at
  // the day grain that cardinality is sessions-per-day, which is
  // bounded by fleet size × day length, not by corpus history.
  // ---------------------------------------------------------------------
  /** Shared gap-session kernel: e11's 30-min rule reduced to one row
    * per (user, session) with start/end/µs-bounds/event count — the
    * grain e13's concurrency sweep and e26's bounce report both
    * consume. One user_id exchange: the session-id cumsum rides the
    * (user_id; ts, event_id) sort and the (user, sid) reduction is
    * already clustered. */
  private[graft] def gapSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("gap_us",
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(wOrd)))
      .withColumn("new_s",
        when($"gap_us".isNull || $"gap_us" > SessionGapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_s").over(cum))
      .groupBy($"user_id", $"sid")
      .agg(min($"ts").as("s_start"),
        min(unix_micros($"ts")).as("a_us"),
        max(unix_micros($"ts")).as("b_us"),
        count(lit(1)).as("n_events"))
  }

  def e13MaxConcurrency(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sess = gapSessions(s, d)
      .select(date_trunc("day", $"s_start").as("day"), $"a_us", $"b_us")
    val bounds = sess.select($"day", explode(array(
      struct($"a_us".as("us"), lit(1).as("delta")),
      struct($"b_us".as("us"), lit(-1).as("delta")))).as("b"))
      .select($"day", $"b.us".as("us"), $"b.delta".as("delta"))
    val sweep = Window.partitionBy($"day").orderBy($"us".asc, $"delta".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n_started is the per-day count of +1 boundaries — derived from
    // the SAME sweep input, so the session assembly (two windows + an
    // aggregate) is evaluated once, not once per output column
    bounds
      .withColumn("cur", sum($"delta").over(sweep))
      .groupBy($"day")
      .agg(
        sum(when($"delta" === 1, 1L).otherwise(0L)).as("n_started"),
        max($"cur").as("peak_concurrent"))
      .select($"day", $"n_started", $"peak_concurrent")
      .orderBy($"day")
  }

  // ---------------------------------------------------------------------
  // e27: ClickHouse `maxIntersectionsPosition` — WHEN the concurrency
  // peak happens (e13 reports how high; this reports the µs position
  // where the peak is FIRST reached — the capacity-planning question
  // behind the number). Same kernel: gapSessions → 2 boundary rows
  // per session → the day-partitioned running sweep; the peak row is
  // selected by ONE combine-enabled max over a (cur, −us) struct key
  // (highest count, earliest position on ties — max_by's rule, same
  // single-branch discipline as e13's n_started: the sweep is
  // evaluated once, not once per output column).
  // ---------------------------------------------------------------------
  def e27PeakPosition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sess = gapSessions(s, d)
      .select(date_trunc("day", $"s_start").as("day"), $"a_us", $"b_us")
    val bounds = sess.select($"day", explode(array(
      struct($"a_us".as("us"), lit(1).as("delta")),
      struct($"b_us".as("us"), lit(-1).as("delta")))).as("b"))
      .select($"day", $"b.us".as("us"), $"b.delta".as("delta"))
    val sweep = Window.partitionBy($"day").orderBy($"us".asc, $"delta".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("cur", sum($"delta").over(sweep))
      .groupBy($"day")
      .agg(max(struct($"cur", (-$"us").as("neg_us"))).as("m"))
      .select($"day", $"m.cur".as("peak_concurrent"),
        (-$"m.neg_us").as("peak_us"))
      .orderBy($"day")
  }

  // ---------------------------------------------------------------------
  // e28: WEEKLY ACTIVITY HEATMAP — the day-of-week × hour-of-day
  // event-density grid every traffic dashboard renders, with each
  // cell's share of its weekday's total. Bucket ids computed
  // map-side; ONE combine-enabled groupBy to the CLOCK-BOUNDED 7×24
  // grid; the share window and the ordering run over those 168 rows.
  // dow is Spark's dayofweek − 1 == DuckDB's 0-based Sunday
  // (engine-agnostic by arithmetic, not by convention).
  // ---------------------------------------------------------------------
  def e28DowProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select((dayofweek($"ts") - 1).cast("int").as("dow"),
        hour($"ts").cast("int").as("hod"))
      .groupBy($"dow", $"hod")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("dow_total", sum($"n_events").over(Window.partitionBy($"dow")))
      .select($"dow", $"hod", $"n_events",
        ($"n_events".cast("double") / $"dow_total".cast("double"))
          .as("share_of_dow"))
      .orderBy($"dow", $"hod")
  }

  // ---------------------------------------------------------------------
  // e30: TRENDING / BURST DETECTION — week-over-week lift per event
  // type with add-one smoothing (the "what's suddenly hot" dashboard;
  // CH teams run it as a ratio of windowed counts): one combine-
  // enabled groupBy to the (type × week) grid (bounded by catalog ×
  // calendar), lag(1 week) over the type-partitioned bounded rows,
  // lift = (n+1)/(prev+1) — smoothing keeps new-type weeks finite and
  // is ONE divide of exact int64s. Weeks with no prior observation
  // report lift against zero (prev = 0 ⇒ smoothed baseline 1).
  // ---------------------------------------------------------------------
  def e30Trending(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"week")
    Tables.events(s, d)
      .select($"event_type", date_trunc("week", $"ts").as("week"))
      .groupBy($"event_type", $"week")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("prev", coalesce(lag($"n_events", 1).over(w), lit(0L)))
      .select($"event_type", $"week", $"n_events", $"prev",
        (($"n_events" + 1L).cast("double") / ($"prev" + 1L).cast("double"))
          .as("wow_lift"))
      .orderBy($"event_type", $"week")
  }

  // ---------------------------------------------------------------------
  // e26: BOUNCE RATE — single-event sessions over total sessions per
  // day (the engagement-quality headline next to e13's concurrency
  // peak; same dashboard family). Pure reuse of the shared
  // [[gapSessions]] kernel: sessions are already one row each, so the
  // daily rollup is a second aggregate over session-grain rows
  // (bounded by fleet size × day length, not corpus history) plus ONE
  // IEEE divide per day.
  // ---------------------------------------------------------------------
  def e26BounceRate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    gapSessions(s, d)
      .groupBy(date_trunc("day", $"s_start").as("day"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when($"n_events" === 1L, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate",
        $"n_bounces".cast("double") / $"n_sessions".cast("double"))
      .orderBy($"day")
  }

  // ---------------------------------------------------------------------
  // e14: COHORT RETENTION MATRIX — the full day-N retention triangle
  // (cohort day × day offset 0..6) that e2's single day-0∩day-7 cell
  // generalizes: users are cohorted by their FIRST active day, and
  // each (cohort, k) cell counts cohort members active k days later.
  // Same scale discipline as e10: dedup to (user, day) FIRST (the
  // cardinality is active-user-days, not events), derive the cohort
  // day with one user-keyed aggregate, join back on user (the pairs
  // are already user-clustered), one combine-enabled distinct per
  // (cohort, k) cell. Nothing driver-side, no per-cohort set unions.
  // ---------------------------------------------------------------------
  val CohortDays = 7

  def e14CohortMatrix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    anchored(userDays(s, d), "cohort_day")
      .withColumn("k", datediff($"day", $"cohort_day"))
      .filter($"k" < CohortDays)
      .groupBy($"cohort_day", $"k")
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_day", $"k")
  }

  // ---------------------------------------------------------------------
  // e15: ClickHouse `uniqUpTo(N)(x)` — exact distinct count saturating
  // at N+1, the "has this grain reached N distinct users?" gate whose
  // per-group state is bounded by the QUESTION (≤ N+1 ids) instead of
  // the data (s15's exact countDistinct shuffles every id; its HLL
  // variant answers approximately). Saturation commutes with union,
  // so unlike sketches the result is deterministic and the oracle
  // grades it EXACTLY: uniq_up_to(x, n) == LEAST(count(DISTINCT x),
  // n+1). Custom TypedImperativeAggregate (functions/UniqUpToAgg,
  // MinHashAgg pattern), registered in SQL via GraftExtensions.
  // ---------------------------------------------------------------------
  val UniqUpToN = 10

  def e15UniqUpto(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
      .agg(
        graft.functions.GraftFunctions.uniqUpTo($"user_id", UniqUpToN)
          .as("uniq_upto"),
        count(lit(1)).as("n_events"))
      .orderBy($"day", $"event_type")
  }

  // ---------------------------------------------------------------------
  // e10: ROLLING ACTIVES — DAU + trailing-7-day WAU per day, the
  // rolling-distinct dashboard analytic (ClickHouse runs it with
  // uniq states merged over a date range). Sliding DISTINCT doesn't
  // decompose like sums, so the scale-correct shape is: dedup to
  // (user, day) FIRST (cardinality = active-user-days, not events),
  // explode each pair into the ≤7 report days it contributes to
  // (map-side ×7 on the deduped pairs), keep only observed days,
  // then one combine-enabled distinct count per report day. No
  // per-day set unions on the driver, no window over collected sets.
  // ---------------------------------------------------------------------
  /** The generalized rolling-actives plan behind e10: DAU + trailing
    * `days`-day rolling distinct per report day. Window length is a
    * PARAMETER (7 → WAU, 28 → MAU: the same dashboard's other line) —
    * the plan shape is invariant in it; only the map-side explode
    * factor scales. Cost model (PLANS.md): the exploded relation is
    * (active-user-days × days) rows of (user_id, day) — dedup to
    * (user, day) FIRST keeps the base cardinality at active-user-days,
    * not events, so a 4× window (7→28) costs exactly 4× the explode
    * rows through the same combine-enabled distinct; nothing else in
    * the plan changes. */
  private[graft] def rollingActives(s: SparkSession, d: String, days: Int): DataFrame = {
    require(days >= 1, s"rolling window must be >= 1 day, got $days")
    import s.implicits._
    val act = userDays(s, d)
    val reportDays = act.select($"day").distinct()
    val dau = act.groupBy($"day").agg(countDistinct($"user_id").as("dau"))
    // activity on day d counts toward report days d..d+(days-1);
    // semi-join clips the fan-out to days that actually occur
    val roll = act
      .select($"user_id", explode(sequence($"day",
        $"day" + expr(s"INTERVAL ${days - 1} DAYS"), expr("INTERVAL 1 DAY"))).as("day"))
      .join(reportDays, Seq("day"), "left_semi")
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("rolling"))
    dau.join(roll, "day")
      .select($"day", $"dau", $"rolling")
      .orderBy($"day")
  }

  def e10RollingActives(s: SparkSession, d: String): DataFrame =
    rollingActives(s, d, 7).withColumnRenamed("rolling", "wau")

  // ---------------------------------------------------------------------
  // e25: STICKINESS — DAU / trailing-28-day MAU per day, the product
  // engagement ratio every growth dashboard pairs with e10's
  // DAU/WAU. Exactly the parameterized rolling-actives kernel at
  // days=28 (the plan shape is invariant in the window length; only
  // the map-side explode factor scales — see [[rollingActives]]'s
  // cost model) plus ONE IEEE divide per bounded report-day row.
  // ---------------------------------------------------------------------
  def e25Stickiness(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    rollingActives(s, d, 28).withColumnRenamed("rolling", "mau")
      .withColumn("stickiness",
        col("dau").cast("double") / col("mau").cast("double"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------------
  // e3: fixed-width histogram of `value` — 10 buckets of width 50 over
  // [0, 500), under/overflow clamped into the edge buckets
  // (width_bucket semantics). Bucket id computed map-side; single
  // grouped aggregate.
  // ---------------------------------------------------------------------
  def e3Histogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(least(greatest(floor($"value" / 50.0).cast("long"), lit(0L)), lit(9L))
        .as("bucket"), $"value")
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n"),
        min($"value").as("min_value"),
        max($"value").as("max_value"),
        davg($"value").as("avg_value"))
      .withColumn("bucket_lo", $"bucket" * 50.0)
      .withColumn("bucket_hi", ($"bucket" + 1) * 50.0)
      .select($"bucket", $"bucket_lo", $"bucket_hi", $"n",
        $"min_value", $"max_value", $"avg_value")
      .orderBy($"bucket")
  }

  // ---------------------------------------------------------------------
  // e4: JSON property extraction + aggregation — the reference stores
  // logger metadata as JSON (`props`); get_json_object is a codegen'd
  // per-row expression, so extraction is scan-rate work at 100 TB.
  // ---------------------------------------------------------------------
  def e4JsonExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type",
        get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct($"k").as("n_distinct_k"),
        sum($"k").as("sum_k"),
        (sum($"k").cast("double") / count(lit(1))).as("avg_k"))
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------------
  // e5: AS-OF join — each event matched to the user's latest order at
  // or before the event time. Union+window composition (SURVEY §2's
  // engine component): tag order rows 0 / event rows 1, sort each user
  // by (time, tag), carry order fields forward with last(ignoreNulls),
  // keep event rows. ONE shuffle on user, ONE sort — no per-row lookup,
  // no range self-join; this is the 100 TB-safe as-of shape.
  // Orders are first de-dupped to one row per (custkey, orderdate)
  // (max orderkey wins) so ties are deterministic in both engines.
  // ---------------------------------------------------------------------
  def e5AsofJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val od = Tables.orders(s, d)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"),
           max_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
    val ev = Tables.events(s, d)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    graft.plans.AsOfJoin.asOf(ev, od,
        leftKey = "user_id", leftTime = "ts",
        rightKey = "o_custkey", rightTime = "o_orderdate",
        tieBreak = Seq("o_orderkey"))
      .filter($"o_orderkey".isNotNull) // inner as-of
      .select($"event_id", $"user_id", $"ts", $"event_type",
        $"o_orderkey", $"o_orderdate", $"o_totalprice")
      .orderBy($"event_id")
  }

  // ---------------------------------------------------------------------
  // e7: top event-type 3-grams — ClickHouse sequence-mining idiom
  // (which ordered behavior patterns are most common). Per-user event
  // sequences are assembled map-side AFTER the groupBy shuffle:
  // sort_array over (ts, event_id, type) structs gives a deterministic
  // per-user timeline without a window sort; 3-grams come from zipping
  // the sequence with its two shifted tails (array expressions, no
  // explode until the final count). Two shuffles total: user grouping,
  // then the (tiny) n-gram count.
  // ---------------------------------------------------------------------
  val TopSequences = 15

  def e7TopSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seqCol = transform(
      sort_array(collect_list(struct($"ts", $"event_id", $"event_type"))),
      e => e("event_type"))
    val grams = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .groupBy($"user_id")
      .agg(seqCol.as("seq"))
      .filter(size($"seq") >= 3)
      .select(explode(zip_with(
        zip_with(
          slice($"seq", lit(1), size($"seq") - 2),
          slice($"seq", lit(2), size($"seq") - 2),
          (a, b) => concat_ws(">", a, b)),
        slice($"seq", lit(3), size($"seq") - 2),
        (ab, c) => concat_ws(">", ab, c))).as("pattern"))
    grams.groupBy($"pattern")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pattern")
      .limit(TopSequences)
  }

  // ---------------------------------------------------------------------
  // e12: ClickHouse `sequenceMatch` / `sequenceCount` — the event-
  // pattern-matching aggregates (reference dashboards pair them with
  // windowFunnel; CH docs: pattern conditions match a SUBSEQUENCE of
  // the user's ts-ordered events, `(?t<=N)` guards the gap between two
  // matched events). Two patterns over each user's timeline:
  //   matched    = sequenceMatch('(?1)(?t<=21600)(?2)(?3)'):
  //                ∃ view → click within 6 h of that view → purchase
  //                strictly later (all in (ts, event_id) order).
  //   n_matches  = sequenceCount('(?1)(?2)') with CH's restart-after-
  //                match semantics: a greedy state machine counting
  //                non-overlapping view→click completions.
  //
  // Both are ONE left-to-right fold over the user's sorted timeline, so
  // they share e7's assembly: one user_id shuffle, sort_array over
  // (us, event_id, code) structs, then a codegen'd higher-order
  // `aggregate` carrying (max prior view, min valid click, matched,
  // machine state, count) — no window sort, no self-joins, per-user
  // state is five scalars regardless of corpus size. The exists-chain
  // is fold-correct because the time guard only ever needs the LATEST
  // prior view (if any view is inside the click's window, the max one
  // is) and the purchase only needs the EARLIEST valid click.
  // ---------------------------------------------------------------------
  private val SeqGapUs = 6L * 3600 * 1000000

  def e12SequenceMatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val NegInf = Long.MinValue / 4
    val PosInf = Long.MaxValue / 4
    val seqCol = sort_array(collect_list(struct(
      unix_micros($"ts").as("us"), $"event_id",
      when($"event_type" === "view", 1L)
        .when($"event_type" === "click", 2L)
        .when($"event_type" === "purchase", 3L)
        .otherwise(0L).as("tc"))))
    // acc reflects STRICTLY PRIOR rows when x is examined (fold order),
    // mirroring the oracle's `ROWS ... AND 1 PRECEDING` frames.
    val fold = aggregate(seqCol,
      struct(lit(NegInf).as("maxv"), lit(PosInf).as("minvc"),
        lit(false).as("m"), lit(0L).as("st"), lit(0L).as("cnt")),
      (acc, x) => {
        val us = x.getField("us")
        val tc = x.getField("tc")
        val validClick = tc === 2L && acc.getField("maxv") >= us - SeqGapUs
        struct(
          when(tc === 1L, greatest(acc.getField("maxv"), us))
            .otherwise(acc.getField("maxv")).as("maxv"),
          when(validClick, least(acc.getField("minvc"), us))
            .otherwise(acc.getField("minvc")).as("minvc"),
          (acc.getField("m") ||
            (tc === 3L && acc.getField("minvc") < lit(PosInf))).as("m"),
          when(tc === 1L && acc.getField("st") === 0L, 1L)
            .when(tc === 2L && acc.getField("st") === 1L, 0L)
            .otherwise(acc.getField("st")).as("st"),
          (acc.getField("cnt") +
            when(tc === 2L && acc.getField("st") === 1L, 1L)
              .otherwise(0L)).as("cnt"))
      },
      acc => struct(acc.getField("m").as("m"), acc.getField("cnt").as("cnt")))
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .groupBy($"user_id")
      .agg(fold.as("r"))
      .select($"user_id", $"r.m".as("matched"), $"r.cnt".as("n_matches"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------------
  // e8: INTERVAL join — the general non-equi range join (e5's as-of is
  // the "latest single match" special case): each purchase aggregates
  // the same user's views from the trailing 6 hours. Plans as an equi
  // shuffle on user_id with the time range as a join filter — the only
  // scale-safe shape for fact-fact interval joins (no time-bucket
  // cross-products, no per-row lookups).
  // ---------------------------------------------------------------------
  private val LookbackUs = 6L * 3600 * 1000000

  def e8IntervalJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), unix_micros($"ts").as("v_us"), $"value")
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("p_us"))
    p.join(v, $"user_id" === $"v_user" &&
        $"v_us" >= $"p_us" - LookbackUs && $"v_us" <= $"p_us")
      .groupBy($"event_id")
      .agg(
        count(lit(1)).as("n_views"),
        davg($"value").as("avg_view_value"))
      .orderBy($"event_id")
  }

  // ---------------------------------------------------------------------
  // e9: FIRST-TOUCH attribution — for each purchase, credit the
  // earliest view inside the trailing 6 h window (the marketing-
  // attribution idiom; ClickHouse pairs it with windowFunnel). Same
  // equi-key-bounded interval join as e8, but the aggregate is a
  // composite argmin (`min_by` over a (v_us, view_id) struct —
  // map-side combinable, so the shuffle carries one candidate per
  // (purchase, map partition), not the window's full view fan-out).
  // ---------------------------------------------------------------------
  def e9Attribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"),
        unix_micros($"ts").as("v_us"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("p_us"))
    p.join(v, $"user_id" === $"v_user" &&
        $"v_us" >= $"p_us" - LookbackUs && $"v_us" <= $"p_us")
      .groupBy($"event_id", $"user_id", $"p_us") // event_id unique per purchase
      .agg(
        count(lit(1)).as("n_views"),
        min_by(struct($"view_id", $"v_us"), struct($"v_us", $"view_id")).as("first"))
      .select($"event_id", $"user_id", $"n_views",
        $"first.view_id".as("first_view_id"),
        ($"p_us" - $"first.v_us").as("gap_us"))
      .orderBy($"event_id")
  }

  // ---------------------------------------------------------------------
  // e16: ClickHouse `sequenceNextNode('forward', 'first_match')` — for
  // each user, the event that IMMEDIATELY follows the first 'view' on
  // their timeline (the "where do users go next" dashboard), rolled up
  // to counts per next-event-type. Shape: lead(event_type) over the
  // standard (user_id; ts, event_id) sort gives every event its
  // successor map-side-after-one-exchange; the first view is then the
  // row_number()==1 row among views — both windows share the one
  // user_id hash partitioning, so the query costs one exchange + the
  // final tiny rollup. Users whose first view is their LAST event get
  // the explicit '(none)' node (CH returns NULL; the placeholder keeps
  // the result order engine-agnostic). Scale: per-user state is one
  // row of lookahead — no per-user arrays, no collect_list.
  // ---------------------------------------------------------------------
  def e16NextEvent(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"event_type" === "view")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .groupBy(coalesce($"next_type", lit("(none)")).as("next_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"next_type")
  }

  // ---------------------------------------------------------------------
  // e17: ClickHouse `retention(cond1, …, condN)` — the per-user
  // conditional-chain aggregate: condition i counts only if condition
  // 1 holds (r_i = c_1 AND c_i), summed corpus-wide into the one-row
  // retention report. Conditions here are the standard product set:
  // active on one's own first day (c1 — true by construction, so the
  // chain is anchored per cohort like CH's typical date-anchored
  // usage), returned at +1 / +3 / +7 days. Shape: e2/e10 discipline —
  // dedup activity to (user, day) FIRST (combine-enabled distinct),
  // one user-keyed min for the anchor, per-user flags on the same
  // user_id clustering, then a single tiny global sum. No distinct-
  // aggregate Expand, no per-user arrays.
  // ---------------------------------------------------------------------
  def e17Retention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    anchored(userDays(s, d), "d0")
      .groupBy($"user_id")
      .agg(
        max(when($"day" === $"d0" + expr("INTERVAL 1 DAY"), 1).otherwise(0)).as("c2"),
        max(when($"day" === $"d0" + expr("INTERVAL 3 DAY"), 1).otherwise(0)).as("c3"),
        max(when($"day" === $"d0" + expr("INTERVAL 7 DAY"), 1).otherwise(0)).as("c4"))
      .agg(
        count(lit(1)).as("r1_users"),
        sum($"c2").cast("long").as("r2_day1"),
        sum($"c3").cast("long").as("r3_day3"),
        sum($"c4").cast("long").as("r4_day7"))
  }

  // ---------------------------------------------------------------------
  // e18: ClickHouse `windowFunnel(w, 'strict_order')` — the funnel mode
  // e1/e6/e11 don't cover: interleaving BREAKS the chain (CH docs'
  // A→B→D→C example stops at D with level 2; the plain mode's funnels
  // skip over non-matching events). Per user: the first view opens the
  // chain; each subsequent event either advances it (next stage, inside
  // the 6 h window) or ENDS the search at the level reached. One
  // left-to-right fold over the time-sorted packed stream (e12's
  // single-aggregate discipline): each event packs into one int64 as
  // us*8+typecode, the accumulator packs (chain_start_us, level, done)
  // into bits [63:3]/[2:1]/[0], so state never exceeds 8 bytes per
  // user and the fold is a codegen'd higher-order aggregate — one
  // user_id exchange, no window, no join. Sorting by the PACKED value
  // makes Spark's and DuckDB's orders identical (ties = identical
  // elements → transition-invariant). At 100 TB this is the cheapest
  // possible funnel shape: shuffle carries (user, packed-long) pairs.
  // ---------------------------------------------------------------------
  def e18FunnelStrict(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tc = when($"event_type" === "view", 1L)
      .when($"event_type" === "click", 2L)
      .when($"event_type" === "purchase", 3L)
      .otherwise(0L)
    val packed = sort_array(collect_list(unix_micros($"ts") * 8 + tc))
    val fold = aggregate(packed, lit(0L), (acc, x) => {
      val done = acc.bitwiseAND(lit(1L))
      val level = shiftright(acc, 1).bitwiseAND(lit(3L))
      val start = shiftright(acc, 3)
      val us = shiftright(x, 3)
      val xtc = x.bitwiseAND(lit(7L))
      when(done === 1L, acc)
        .when(level === 0L,
          when(xtc === 1L, shiftleft(us, 3) + 2L).otherwise(acc))
        .when(level === 1L,
          when(xtc === 2L && us - start <= FunnelWindowUs, acc + 2L)
            .otherwise(acc + 1L))
        .otherwise(
          when(xtc === 3L && us - start <= FunnelWindowUs, acc + 3L)
            .otherwise(acc + 1L))
    })
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_type")
      .groupBy($"user_id")
      .agg(fold.as("acc"))
      .select(shiftright($"acc", 1).bitwiseAND(lit(3L)).as("funnel_level"))
      .groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  // ---------------------------------------------------------------------
  // e29: ClickHouse `windowFunnel(w, 'strict_dedup')` — the FOURTH and
  // final funnel mode (plain e1/e6, strict_order e18, strict_increase
  // e21): non-matching events are skipped (unlike strict_order), but a
  // REPEAT of an already-matched condition interrupts the search at
  // the level reached (the CH docs' dedup rule — a second view while
  // hunting for the click means the chain is ambiguous, stop). An
  // out-of-window next-stage event likewise ends the search at the
  // level reached (e18's conservative rule, documented). Same 8-byte
  // packed fold as e18: one codegen'd higher-order aggregate, one
  // user_id exchange, no window, no join; packed-value sort makes tie
  // order identical in both engines.
  // ---------------------------------------------------------------------
  def e29FunnelDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tc = when($"event_type" === "view", 1L)
      .when($"event_type" === "click", 2L)
      .when($"event_type" === "purchase", 3L)
      .otherwise(0L)
    val packed = sort_array(collect_list(unix_micros($"ts") * 8 + tc))
    val fold = aggregate(packed, lit(0L), (acc, x) => {
      val done = acc.bitwiseAND(lit(1L))
      val level = shiftright(acc, 1).bitwiseAND(lit(3L))
      val start = shiftright(acc, 3)
      val us = shiftright(x, 3)
      val xtc = x.bitwiseAND(lit(7L))
      when(done === 1L, acc)
        .when(level === 0L,
          when(xtc === 1L, shiftleft(us, 3) + 2L).otherwise(acc))
        .when(level === 1L,
          when(xtc === 2L,
            when(us - start <= FunnelWindowUs, acc + 2L).otherwise(acc + 1L))
            .when(xtc === 1L, acc + 1L) // dedup: repeated matched stage
            .otherwise(acc))            // non-matching events skip
        .otherwise(
          when(xtc === 3L,
            when(us - start <= FunnelWindowUs, acc + 3L).otherwise(acc + 1L))
            .when(xtc === 1L || xtc === 2L, acc + 1L)
            .otherwise(acc))
    })
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_type")
      .groupBy($"user_id")
      .agg(fold.as("acc"))
      .select(shiftright($"acc", 1).bitwiseAND(lit(3L)).as("funnel_level"))
      .groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  // ---------------------------------------------------------------------
  // e19: ClickHouse `intervalLengthSum` — total length of the UNION of
  // overlapping intervals per user (each event projects a 30-min
  // activity interval; overlapping readings must not double-count, the
  // "total active time" dashboard stat). Classic sweep, all-integer
  // exact: running max interval-end over STRICTLY PRIOR rows (an
  // UnboundedPreceding frame — incremental O(n), the s21 lesson), a
  // new segment opens where the start clears it, segment id by
  // running sum, two combine-enabled aggregates. Everything shares
  // ONE (user_id) exchange; microsecond longs end to end — no float
  // tolerance anywhere. Segment membership at equal timestamps is
  // tie-order-invariant (a tie row's prior running end already covers
  // it), so (us, event_id) ordering is deterministic in both engines.
  // ---------------------------------------------------------------------
  private val ActiveIvUs = 30L * 60 * 1000000

  def e19IntervalSum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
      .withColumn("prev_end", max($"us" + ActiveIvUs).over(wPrev))
      .withColumn("new_seg",
        when($"prev_end".isNull || $"us" > $"prev_end", 1L).otherwise(0L))
      .withColumn("seg", sum($"new_seg").over(wRun))
      .groupBy($"user_id", $"seg")
      .agg(min($"us").as("s_us"), max($"us" + ActiveIvUs).as("e_us"))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_segments"),
        sum($"e_us" - $"s_us").as("covered_us"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------------
  // e20: ClickHouse `sequenceNextNode` — "after the chain matches,
  // what comes NEXT?": for every ADJACENT view→click pair in a user's
  // timeline (strict consecutive events, the CH base-condition form),
  // the distribution of the immediately-following event type, with
  // END marking chains that close the timeline. The path-exploration
  // readout e7's top-sequences can't answer (e7 counts fixed 3-grams;
  // this conditions on a matched prefix). Shape: both lead() columns
  // ride ONE (user_id) exchange and one (ts, event_id) sort — a
  // single WindowExec — then a tiny combine-enabled rollup over ≤
  // #event_types+1 groups. Nothing else scales with the corpus.
  // ---------------------------------------------------------------------
  def e20NextNode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e1", lead($"event_type", 1).over(w))
      .withColumn("e2", lead($"event_type", 2).over(w))
      .filter($"event_type" === "view" && $"e1" === "click")
      .groupBy(coalesce($"e2", lit("END")).as("next_node"))
      .agg(count(lit(1)).as("n_matches"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"next_node")
  }

  // ---------------------------------------------------------------------
  // e21: ClickHouse `windowFunnel(w, 'strict_increase')` — the third
  // funnel mode (e1/e6 plain, e18 strict_order): non-matching events
  // are SKIPPED (the chain survives interleaving), but consecutive
  // matched stages must carry STRICTLY increasing timestamps — two
  // events logged in the same microsecond cannot witness causality,
  // so same-ts stage pairs don't advance. Deterministic first-open-
  // chain variant (the first view opens the only chain considered;
  // stage k+1 is the first qualifying event after stage k).
  //
  // State needs (chain_start, last_matched_ts, level) — 3 longs, too
  // wide for e18's 8-byte packing — so the fold's accumulator is a
  // STRUCT: Spark's `aggregate` allows acc type ≠ element type, and
  // the whole fold stays one codegen'd higher-order aggregate over
  // the sorted packed stream. One user_id exchange, shuffle carries
  // (user, packed-long) pairs, no window sort, no joins. Transitions
  // are provably permutation-invariant within a same-us tie group (at
  // most one stage can fire per distinct us: every transition sets
  // last := us and later ones require us > last), so the packed-value
  // sort order and the oracle's (us, tc) order agree bit-for-bit.
  // ---------------------------------------------------------------------
  def e21FunnelInc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tc = when($"event_type" === "view", 1L)
      .when($"event_type" === "click", 2L)
      .when($"event_type" === "purchase", 3L)
      .otherwise(0L)
    val packed = sort_array(collect_list(unix_micros($"ts") * 8 + tc))
    val init = struct(lit(0L).as("start"), lit(0L).as("last"),
      lit(0L).as("level"))
    val fold = aggregate(packed, init, (acc, x) => {
      val us = shiftright(x, 3)
      val xtc = x.bitwiseAND(lit(7L))
      val lvl = acc.getField("level")
      val st = acc.getField("start")
      val la = acc.getField("last")
      val inWin = us - st <= FunnelWindowUs
      when(lvl === 0L && xtc === 1L,
        struct(us.as("start"), us.as("last"), lit(1L).as("level")))
        .when(lvl === 1L && xtc === 2L && us > la && inWin,
          struct(st.as("start"), us.as("last"), lit(2L).as("level")))
        .when(lvl === 2L && xtc === 3L && us > la && inWin,
          struct(st.as("start"), us.as("last"), lit(3L).as("level")))
        .otherwise(acc)
    })
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_type")
      .groupBy($"user_id")
      .agg(fold.getField("level").as("funnel_level"))
      .groupBy($"funnel_level")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"funnel_level")
  }

  // ---------------------------------------------------------------------
  // e22: Markov transition matrix over event types — P(next | current)
  // from every consecutive pair on each user's timeline (the "path
  // analysis" / Sankey-edge query). lead(event_type) over the standard
  // (user_id; ts, event_id) sort gives each event its successor after
  // ONE exchange; the matrix is a (from, to) count rollup over the
  // 5×5-bounded type space, the row total rides a window over those
  // bounded rows, and the probability is one IEEE divide per cell.
  // Per-user state is one row of lookahead — no arrays, no collects.
  // ---------------------------------------------------------------------
  def e22Markov(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total",
        sum($"n").over(Window.partitionBy($"from_type")))
      .select($"from_type", $"to_type", $"n",
        ($"n".cast("double") / $"from_total".cast("double")).as("p"))
      .orderBy($"from_type", $"to_type")
  }

  // ---------------------------------------------------------------------
  // e23: time-to-conversion distribution per signup cohort — each
  // user's first signup → first purchase AFTER it, the delay rolled up
  // per cohort day with EXACT rank-selected median/p90 (s14's order-
  // statistic discipline: rn == floor((n−1)·q)+1 over the value order,
  // deterministic — no interpolation ambiguity across engines).
  // Shapes: the per-user reduce is one combine-enabled groupBy (min
  // signup + conditional min purchase — no window), the cohort stats
  // ride one (cohort) exchange whose sort is bounded by users-per-
  // cohort-day, and delays are exact µs longs until the two display
  // divides. The conversion rate is cents-free integer n/n division.
  // ---------------------------------------------------------------------
  def e23ConversionDelay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, d)
      .filter($"event_type".isin("signup", "purchase"))
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "signup", $"us")).as("s_us"),
        min(when($"event_type" === "purchase", $"us")).as("p_us_any"))
      .filter($"s_us".isNotNull)
      .withColumn("p_us", when($"p_us_any" > $"s_us", $"p_us_any"))
    // first purchase strictly after first signup; users whose only
    // purchases precede signup count as unconverted on both engines
    val cohorts = perUser
      .withColumn("cohort", expr("timestamp_micros(s_us div 86400000000 * 86400000000)"))
      .withColumn("delay_us", $"p_us" - $"s_us")
    val rnkW = Window.partitionBy($"cohort").orderBy($"delay_us", $"user_id")
    val conv = cohorts.filter($"delay_us".isNotNull)
      .withColumn("rn", row_number().over(rnkW).cast("long"))
      .withColumn("nc", count(lit(1)).over(Window.partitionBy($"cohort")))
      .groupBy($"cohort")
      .agg(
        max($"nc").as("n_converted"),
        min(when($"rn" === expr("(nc - 1) div 2 + 1"), $"delay_us")).as("med_us"),
        min(when($"rn" === expr("(nc - 1) * 9 div 10 + 1"), $"delay_us")).as("p90_us"))
    cohorts
      .groupBy($"cohort")
      .agg(count(lit(1)).as("n_users"))
      .join(conv, Seq("cohort"), "left")
      .select($"cohort", $"n_users",
        coalesce($"n_converted", lit(0L)).as("n_converted"),
        (coalesce($"n_converted", lit(0L)).cast("double") /
          $"n_users".cast("double")).as("conversion_rate"),
        ($"med_us".cast("double") / 1000000.0).as("median_delay_s"),
        ($"p90_us".cast("double") / 1000000.0).as("p90_delay_s"))
      .orderBy($"cohort")
  }

  // ---------------------------------------------------------------------
  // e24: RFM segmentation — recency / frequency / monetary scores per
  // user with FIXED business thresholds (the scale-honest form: pure
  // map-side scoring after one combine-enabled per-user reduce; the
  // quantile-based variant needs a global ranking, which is exactly
  // t20's distributed-ranking idiom if ever wanted — documented, not
  // silently smuggled in as a single-partition ntile window). The
  // recency anchor is the corpus max ts — a one-row broadcast join,
  // the only cross-user coordination in the query. Monetary sums are
  // exact cents; every score boundary is an integer comparison.
  // Output is the per-segment rollup (bounded 3³ label space).
  // ---------------------------------------------------------------------
  def e24Rfm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val anchor = ev.agg(max(unix_micros($"ts")).as("a_us"))
    val perUser = ev
      .filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("us"),
        (graft.Exact.dec($"value") * 100).cast("long").as("cents"))
      .groupBy($"user_id")
      .agg(max($"us").as("last_us"), count(lit(1)).as("freq"),
        sum($"cents").as("cents"))
    val day = 86400000000L
    perUser
      .crossJoin(broadcast(anchor))
      .withColumn("rec_days", expr(s"(a_us - last_us) div $day"))
      .withColumn("r", when($"rec_days" <= 7L, 3).when($"rec_days" <= 14L, 2).otherwise(1))
      .withColumn("f", when($"freq" >= 4L, 3).when($"freq" >= 2L, 2).otherwise(1))
      .withColumn("m", when($"cents" >= 15000L, 3).when($"cents" >= 5000L, 2).otherwise(1))
      .groupBy(concat($"r".cast("string"), $"f".cast("string"),
        $"m".cast("string")).as("segment"))
      .agg(
        count(lit(1)).as("n_users"),
        sum($"freq").as("purchases"),
        (sum($"cents").cast("double") / 100.0).as("revenue"))
      .orderBy($"segment")
  }

  // ---------------------------------------------------------------------
  // e31: DAILY VOLUME ANOMALY — the ingest-monitoring query every
  // event pipeline runs (ClickHouse dashboards do exactly this over
  // the ingest table): each day's event count against its TRAILING
  // 28-day window — anomalous when (n − mean)² > (3σ)², i.e. a volume
  // spike or outage. The gate is EXACT integer-free-of-IEEE: cross-
  // multiplying clears both divides — (n·W − s)² > 9·(W·ss − s²) —
  // evaluated in DECIMAL(38,0) so it cannot overflow even at 10¹²
  // events/day (int64 squares would). z itself is display-only (one
  // mirrored sqrt + divide; NULL when the window variance is zero).
  // Scale shape: the daily rollup is ONE combine-enabled groupBy
  // (calendar-bounded output) DENSIFIED over the [min, max] day spine
  // (a groupBy over events cannot emit a row for a ZERO-event day —
  // the most extreme outage the detector exists for — and a missing
  // day would also starve the next W windows below n_window = W,
  // silencing the detector for a month after any full outage; the
  // spine join makes outage days explicit n=0 rows, which the gate
  // flags maximally). The trailing window is q37's triangular
  // broadcast self-join over those bounded rows — no global
  // single-partition window, no corpus-sized state anywhere. Days
  // with fewer than W predecessors are suppressed (cold start).
  // ---------------------------------------------------------------------
  val AnomWindow = 28

  def e31VolumeAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = "DECIMAL(38,0)"
    val observed = Tables.events(s, d)
      .groupBy(date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = observed
      .agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("INTERVAL 1 day"))).as("day"))
    // persistOnce: the bounded day table feeds both join sides;
    // repeated e31 calls in one session reuse the one CacheManager
    // entry instead of stacking never-unpersisted copies
    val daily = Tables.persistOnce(spine.join(observed, Seq("day"), "left")
      .select($"day", coalesce($"n", lit(0L)).as("n")))
    val hist = daily.select($"day".as("bd"), $"n".as("bn"))
    val W = lit(AnomWindow.toLong).cast(D)
    daily.as("a")
      .join(broadcast(hist),
        $"bd" < $"day" && $"bd" >= $"day" - expr(s"INTERVAL $AnomWindow days"))
      .groupBy($"day", $"n")
      .agg(count(lit(1)).as("n_window"),
        sum($"bn".cast(D)).as("s"),
        sum(($"bn".cast(D) * $"bn".cast(D)).cast(D)).as("ss"))
      .filter($"n_window" === AnomWindow.toLong)
      .withColumn("dev", ($"n".cast(D) * W - $"s").cast(D))
      .withColumn("varw", (W * $"ss" - $"s" * $"s").cast(D))
      .select($"day", $"n".as("n_events"),
        $"s".cast("long").as("window_sum"),
        ($"dev" * $"dev" > lit(9).cast(D) * $"varw").as("is_anomaly"),
        when($"varw" > lit(0).cast(D),
          $"dev".cast("double") / sqrt($"varw".cast("double"))).as("z"))
      .orderBy($"day")
  }

  // ---------------------------------------------------------------------
  // e32: ClickHouse `sequenceNextNode('backward', 'last_match')` —
  // e16's mirror direction (CH ships all four direction×base
  // combinations; e16 grades forward/first_match): the event
  // immediately PRECEDING each user's LAST purchase, rolled up to
  // counts per preceding type — "what do users do right before they
  // buy". Same plan discipline as e16: lag() over the full per-user
  // timeline and the last-purchase row_number on ONE user_id
  // exchange (the rn==1 filter plans as the TopKPerGroup heap);
  // '(none)' keeps purchase-first users engine-agnostic under NULL
  // ordering. Per-user state is one row — no arrays, no funnels.
  // ---------------------------------------------------------------------
  def e32PrevNode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    // The last purchase is derived ON THE ASCENDING PASS (r14): a
    // per-user max_by over the (ts, event_id) struct key replaces the
    // r13 descending row_number, whose (ts DESC, event_id DESC) order
    // forced a SECOND Sort + WindowExec on the shared user_id
    // exchange. Now the plan is one exchange, ONE sort, one
    // WindowExec (the lag), and the per-user reduction is a
    // combine-enabled aggregate that needs no exchange at all (the
    // data is already user_id-clustered) — per-user state stays one
    // row. (ts, event_id) is a unique key per user, so max_by is
    // deterministic and picks exactly the rn==1 row of the old form.
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(max_by(coalesce($"prev_type", lit("(none)")),
        struct($"ts", $"event_id")).as("prev_type"))
      .groupBy($"prev_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"prev_type")
  }

  // ---------------------------------------------------------------------
  // e33: ClickHouse `runningDifference` over the GLOBAL event stream —
  // per-event inter-arrival gap (ts − previous ts on the corpus-wide
  // (ts, event_id) total order), rolled up to a log₂-bucket gap
  // histogram: the ingestion-health profile an operator reads to spot
  // poll stalls and burst clustering (CH docs present runningDifference
  // with exactly this "time between events" example). The bare
  // `lag() OVER (ORDER BY …)` is Spark's third global-window funnel
  // (after rank and agg-over-()): natively every row moves to ONE task
  // for a computation whose true dependency is one neighbor row.
  // GroupedOffsetRewrite (plans/GroupedOffset.scala) plans it as one
  // range exchange + a boundary-VALUE exchange (O(partitions) driver
  // values), spec-pinned to appear in this query's executed plan. All
  // arithmetic integer (µs deltas, ⌊log₂(gap+1)⌋ via bin-length on the
  // integer bit pattern — d18's discipline, no IEEE log anywhere).
  // ---------------------------------------------------------------------
  def e33RunningDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"us", $"event_id")
    Tables.events(s, d)
      .select(unix_micros($"ts").as("us"), $"event_id")
      .withColumn("gap_us", $"us" - lag($"us", 1).over(w))
      .filter($"gap_us".isNotNull)
      .select((length(bin($"gap_us" + 1)) - 1).as("gap_log2"), $"gap_us")
      .groupBy($"gap_log2")
      .agg(count(lit(1)).as("n"),
        min($"gap_us").as("min_gap_us"),
        max($"gap_us").as("max_gap_us"))
      .orderBy($"gap_log2")
  }

  // ---------------------------------------------------------------------
  // e34: FLEET CUMULATIVE PROFILE on the write layout's ONE exchange —
  // every event annotated with the fleet's cumulative cents and event
  // count through the END of its calendar day (the RANGE tie
  // semantics: same-day events share the day's closing totals —
  // ClickHouse runningAccumulate at day grain, joined back to events
  // in one pass) plus the event-mass CDF of its day (cume_dist over
  // the closing cumulative: the fraction of all events on days at or
  // below this one). The row set is explicitly range-laid-out on
  // (day, user_id) — the layout a user-bucketed daily writer wants —
  // and the day-grain running aggregates ride that one exchange
  // instead of adding their own (RangePartitioning(day, user)
  // satisfies OrderedDistribution(day) by the prefix rule). That
  // reuse SPLITS day tie groups at every partition boundary, which is
  // exactly the configuration the r16 tie-chaining fix makes safe —
  // this query grades the CHAINED path through the DuckDB gate
  // (TieSplitSpec pins the plan: the agg operator on the explicit
  // exchange, no day-only exchange inserted). The CDF window orders
  // by cum_cents — a DIFFERENT order, and a column the agg node
  // produces (the dependency keeps CollapseWindow from merging the
  // two into one mixed, unrewritable node) — so it correctly gets its
  // own exchange on the rank operator. At 100 TB the reuse deletes a
  // corpus-wide day-grain shuffle; exact cents throughout.
  // ---------------------------------------------------------------------
  def e34FleetCumulative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the layout's partition count is the WRITER'S bucketing config,
    // not a property of this query — conf-driven (default 32, the
    // graded setting; a 100 TB deployment sets it to its write
    // fan-out). Explicit numPartitions also keeps AQE from coalescing
    // the layout away at small SFs, so the chained configuration is
    // what the gate actually grades.
    val layoutParts =
      s.conf.get("spark.graft.layout.partitions", "32").toInt
    val laid = Tables.events(s, d)
      .select($"event_id", date_trunc("day", $"ts").as("day"), $"user_id",
        (graft.Exact.dec($"value") * 100).cast("long").as("cents"))
      .repartitionByRange(layoutParts, $"day", $"user_id")
    laid
      .select($"event_id", $"day", $"user_id", $"cents",
        sum($"cents").over(Window.orderBy($"day")).as("cum_cents"),
        count(lit(1)).over(Window.orderBy($"day")).as("cum_events"))
      // user_id stays in the OUTPUT: pruning it above the layout
      // exchange would degrade the Project's partitioning to Unknown
      // and EnsureRequirements would insert a day-only exchange —
      // exactly the reuse-killing trap TieSplitSpec documents
      .select($"event_id", $"day", $"user_id", $"cents", $"cum_cents", $"cum_events",
        cume_dist().over(Window.orderBy($"cum_cents")).as("mass_cdf"))
      .orderBy($"event_id")
  }

  val queries: Map[String, Q] = Map(
    "e34_fleet_cumulative" -> (e34FleetCumulative _),
    "e33_running_diff" -> (e33RunningDiff _),
    "e32_prev_node" -> (e32PrevNode _),
    "e31_volume_anomaly" -> (e31VolumeAnomaly _),
    "e24_rfm" -> (e24Rfm _),
    "e23_conversion_delay" -> (e23ConversionDelay _),
    "e22_markov" -> (e22Markov _),
    "e21_funnel_inc" -> (e21FunnelInc _),
    "e20_next_node" -> (e20NextNode _),
    "e19_interval_sum" -> (e19IntervalSum _),
    "e29_funnel_dedup" -> (e29FunnelDedup _),
    "e18_funnel_strict" -> (e18FunnelStrict _),
    "e17_retention" -> (e17Retention _),
    "e16_next_event" -> (e16NextEvent _),
    "e11_session_funnel" -> (e11SessionFunnel _),
    "e25_stickiness" -> (e25Stickiness _),
    "e10_rolling_actives" -> (e10RollingActives _),
    "e9_attribution" -> (e9Attribution _),
    "e1_funnel" -> (e1Funnel _),
    "e6_bounded_funnel" -> (e6BoundedFunnel _),
    "e7_top_sequences" -> (e7TopSequences _),
    "e8_interval_join" -> (e8IntervalJoin _),
    "e12_sequence_match" -> (e12SequenceMatch _),
    "e13_max_concurrency" -> (e13MaxConcurrency _),
    "e26_bounce_rate" -> (e26BounceRate _),
    "e27_peak_position" -> (e27PeakPosition _),
    "e28_dow_profile" -> (e28DowProfile _),
    "e30_trending" -> (e30Trending _),
    "e14_cohort_matrix" -> (e14CohortMatrix _),
    "e15_uniq_upto" -> (e15UniqUpto _),
    "e2_retention" -> (e2Retention _),
    "e3_histogram" -> (e3Histogram _),
    "e4_json_extract" -> (e4JsonExtract _),
    "e5_asof_join" -> (e5AsofJoin _),
  )

  // DuckDB oracles. Discipline (learned round 2): DuckDB's sum(INTEGER/
  // BIGINT) is HUGEINT — always CAST back to BIGINT; double divisions
  // are left as single IEEE ops (bit-identical across engines).
  val oracles: Map[String, String] = Map(
    // e33: the same global-order lag in DuckDB's native window (which
    // single-threads it — fine at oracle scale); epoch_us mirrors
    // unix_micros (st8's precedent), bin-length mirrors the Spark
    // bucket rule exactly (d18's precedent).
    "e33_running_diff" ->
      """WITH x AS (
           SELECT epoch_us(ts) AS us, event_id FROM events),
         g AS (
           SELECT us - lag(us) OVER (ORDER BY us, event_id) AS gap_us
           FROM x)
         SELECT CAST(len(bin(gap_us + 1)) - 1 AS INT) AS gap_log2,
                CAST(count(*) AS BIGINT) AS n,
                CAST(min(gap_us) AS BIGINT) AS min_gap_us,
                CAST(max(gap_us) AS BIGINT) AS max_gap_us
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    // e32: e16's oracle mirrored — lag over the full timeline, the
    // last purchase by descending (ts, event_id) row_number.
    "e32_prev_node" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS prev_type
           FROM events),
         lp AS (
           SELECT *, row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
           FROM x WHERE event_type = 'purchase')
         SELECT COALESCE(prev_type, '(none)') AS prev_type,
                count(*) AS n_users
         FROM lp WHERE rn = 1
         GROUP BY 1 ORDER BY 1""",
    // e31: same densified day spine (generate_series is inclusive,
    // like Spark's sequence), same trailing-28 triangular join; the
    // exact integer gate runs in HUGEINT here vs DECIMAL(38,0) in
    // Spark — both exact in range, so every compare and the one
    // sqrt+divide (from exact integers → identical doubles) agree.
    "e31_volume_anomaly" ->
      s"""WITH obs AS (
           SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
         spine AS (
           SELECT unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
           FROM obs),
         daily AS (
           SELECT spine.day, coalesce(n, CAST(0 AS BIGINT)) AS n
           FROM spine LEFT JOIN obs ON spine.day = obs.day),
         j AS (
           SELECT a.day, a.n,
                  CAST(count(*) AS BIGINT) AS n_window,
                  sum(b.n::HUGEINT) AS s,
                  sum(b.n::HUGEINT * b.n::HUGEINT) AS ss
           FROM daily a JOIN daily b
             ON b.day < a.day AND b.day >= a.day - INTERVAL $AnomWindow DAY
           GROUP BY 1, 2),
         g AS (
           SELECT day, n, s, ss,
                  n::HUGEINT * $AnomWindow - s AS dev,
                  $AnomWindow * ss - s * s AS varw
           FROM j WHERE n_window = $AnomWindow)
         SELECT day, n AS n_events, CAST(s AS BIGINT) AS window_sum,
                dev * dev > 9 * varw AS is_anomaly,
                CASE WHEN varw > 0
                  THEN CAST(dev AS DOUBLE) / sqrt(CAST(varw AS DOUBLE)) END AS z
         FROM g ORDER BY day""",
    // e22: same lead() successor pairs over the same (ts, event_id)
    // order, bounded (from, to) rollup, one divide per cell.
    "e22_markov" ->
      """WITH p AS (
           SELECT event_type AS from_type,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (
           SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
         w AS (
           SELECT *, sum(n) OVER (PARTITION BY from_type) AS from_total
           FROM c)
         SELECT from_type, to_type, n,
                CAST(n AS DOUBLE) / CAST(from_total AS DOUBLE) AS p
         FROM w ORDER BY from_type, to_type""",
    // e23: same per-user conditional-min reduce, the same integer
    // rank-selection (floor((n−1)q)+1 over the (delay, user) order),
    // µs integers until the two display divides.
    "e23_conversion_delay" ->
      """WITH pu AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
                  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_any
           FROM events WHERE event_type IN ('signup', 'purchase')
           GROUP BY 1),
         u AS (
           SELECT user_id, s_us,
                  CASE WHEN p_any > s_us THEN p_any END AS p_us
           FROM pu WHERE s_us IS NOT NULL),
         ch AS (
           SELECT user_id,
                  make_timestamp(s_us // 86400000000 * 86400000000) AS cohort,
                  p_us - s_us AS delay_us
           FROM u),
         conv AS (
           SELECT cohort, delay_us,
                  CAST(row_number() OVER (PARTITION BY cohort
                    ORDER BY delay_us, user_id) AS BIGINT) AS rn,
                  count(*) OVER (PARTITION BY cohort) AS nc
           FROM ch WHERE delay_us IS NOT NULL),
         cs AS (
           SELECT cohort, CAST(max(nc) AS BIGINT) AS n_converted,
                  min(CASE WHEN rn = (nc - 1) // 2 + 1 THEN delay_us END) AS med_us,
                  min(CASE WHEN rn = (nc - 1) * 9 // 10 + 1 THEN delay_us END) AS p90_us
           FROM conv GROUP BY 1),
         base AS (
           SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
           FROM ch GROUP BY 1)
         SELECT base.cohort, base.n_users,
                coalesce(cs.n_converted, 0) AS n_converted,
                CAST(coalesce(cs.n_converted, 0) AS DOUBLE) /
                  CAST(base.n_users AS DOUBLE) AS conversion_rate,
                CAST(cs.med_us AS DOUBLE) / 1000000.0 AS median_delay_s,
                CAST(cs.p90_us AS DOUBLE) / 1000000.0 AS p90_delay_s
         FROM base LEFT JOIN cs USING (cohort)
         ORDER BY cohort""",
    // e24: same exact-cents per-user reduce, the same integer
    // threshold rules, one display divide.
    "e24_rfm" ->
      """WITH a AS (SELECT max(epoch_us(ts)) AS a_us FROM events),
         pu AS (
           SELECT user_id, max(epoch_us(ts)) AS last_us,
                  CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'
           GROUP BY 1),
         sc AS (
           SELECT user_id, freq, cents,
                  (a_us - last_us) // 86400000000 AS rec_days
           FROM pu CROSS JOIN a),
         lab AS (
           SELECT freq, cents,
                  (CASE WHEN rec_days <= 7 THEN 3 WHEN rec_days <= 14 THEN 2 ELSE 1 END) AS r,
                  (CASE WHEN freq >= 4 THEN 3 WHEN freq >= 2 THEN 2 ELSE 1 END) AS f,
                  (CASE WHEN cents >= 15000 THEN 3 WHEN cents >= 5000 THEN 2 ELSE 1 END) AS m
           FROM sc)
         SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment,
                CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(freq) AS BIGINT) AS purchases,
                CAST(sum(cents) AS DOUBLE) / 100.0 AS revenue
         FROM lab GROUP BY 1 ORDER BY segment""",
    // e21: DuckDB's list_reduce needs acc type == element type, so
    // the init struct is prepended and elements carry (us in .start,
    // tc in .level); the lambda mirrors the Spark fold case-for-case.
    // Ordered by (us, tc) — the packed-long order — and transitions
    // are tie-group permutation-invariant (see the Spark comment).
    "e21_funnel_inc" ->
      """WITH o AS (
           SELECT user_id, epoch_us(ts) AS us,
                  CASE WHEN event_type = 'view' THEN 1
                       WHEN event_type = 'click' THEN 2
                       WHEN event_type = 'purchase' THEN 3
                       ELSE 0 END AS tc
           FROM events),
         f AS (
           SELECT user_id,
                  list_reduce(
                    list_prepend(
                      struct_pack(start := CAST(0 AS BIGINT),
                                  last  := CAST(0 AS BIGINT),
                                  level := CAST(0 AS BIGINT)),
                      list(struct_pack(start := us, last := us,
                                       level := CAST(tc AS BIGINT))
                           ORDER BY us, tc)),
                    (acc, x) -> CASE
                      WHEN acc.level = 0 AND x.level = 1 THEN
                        struct_pack(start := x.start, last := x.start,
                                    level := CAST(1 AS BIGINT))
                      WHEN acc.level = 1 AND x.level = 2
                           AND x.start > acc.last
                           AND x.start - acc.start <= 21600000000 THEN
                        struct_pack(start := acc.start, last := x.start,
                                    level := CAST(2 AS BIGINT))
                      WHEN acc.level = 2 AND x.level = 3
                           AND x.start > acc.last
                           AND x.start - acc.start <= 21600000000 THEN
                        struct_pack(start := acc.start, last := x.start,
                                    level := CAST(3 AS BIGINT))
                      ELSE acc END).level AS funnel_level
           FROM o GROUP BY 1)
         SELECT funnel_level, count(*) AS n_users
         FROM f GROUP BY 1 ORDER BY funnel_level""",
    // e20: same two leads over the identical (user, ts, event_id)
    // order; END via coalesce.
    "e20_next_node" ->
      """WITH l AS (
           SELECT user_id, event_type,
                  lead(event_type, 1) OVER w AS e1,
                  lead(event_type, 2) OVER w AS e2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT coalesce(e2, 'END') AS next_node,
                count(*) AS n_matches,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM l WHERE event_type = 'view' AND e1 = 'click'
         GROUP BY 1 ORDER BY next_node""",
    // e19: same sweep in integer microseconds; count(*) and sums are
    // BIGINT-cast to match Spark's long columns.
    "e19_interval_sum" ->
      """WITH o AS (
           SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
         p AS (
           SELECT *, max(us + 1800000000) OVER
                       (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
           FROM o),
         q AS (
           SELECT *, CASE WHEN prev_end IS NULL OR us > prev_end THEN 1 ELSE 0 END AS new_seg
           FROM p),
         r AS (
           SELECT *, sum(new_seg) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
           FROM q),
         segs AS (
           SELECT user_id, seg, min(us) AS s_us, max(us + 1800000000) AS e_us
           FROM r GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_segments,
                CAST(sum(e_us - s_us) AS BIGINT) AS covered_us
         FROM segs GROUP BY 1 ORDER BY 1""",
    // e18: identical bit-packed fold (list_reduce with a prepended
    // zero accumulator, e12's pattern); same packed sort key.
    // e29: the identical packed fold with the dedup transitions —
    // repeats of matched stages end the search, non-matches skip.
    "e29_funnel_dedup" ->
      """WITH o AS (
           SELECT user_id,
                  epoch_us(ts) * 8 + (CASE WHEN event_type = 'view' THEN 1
                                           WHEN event_type = 'click' THEN 2
                                           WHEN event_type = 'purchase' THEN 3
                                           ELSE 0 END) AS p
           FROM events),
         f AS (
           SELECT user_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT), list(p ORDER BY p)),
                    (acc, x) -> CASE
                      WHEN (acc & 1) = 1 THEN acc
                      WHEN ((acc >> 1) & 3) = 0 THEN
                        CASE WHEN (x & 7) = 1 THEN ((x >> 3) << 3) + 2 ELSE acc END
                      WHEN ((acc >> 1) & 3) = 1 THEN
                        CASE WHEN (x & 7) = 2 THEN
                               CASE WHEN (x >> 3) - (acc >> 3) <= 21600000000
                                    THEN acc + 2 ELSE acc + 1 END
                             WHEN (x & 7) = 1 THEN acc + 1
                             ELSE acc END
                      ELSE
                        CASE WHEN (x & 7) = 3 THEN
                               CASE WHEN (x >> 3) - (acc >> 3) <= 21600000000
                                    THEN acc + 3 ELSE acc + 1 END
                             WHEN (x & 7) = 1 OR (x & 7) = 2 THEN acc + 1
                             ELSE acc END
                    END) AS acc
           FROM o GROUP BY 1)
         SELECT CAST((acc >> 1) & 3 AS BIGINT) AS funnel_level,
                count(*) AS n_users
         FROM f GROUP BY 1 ORDER BY 1""",
    "e18_funnel_strict" ->
      """WITH o AS (
           SELECT user_id,
                  epoch_us(ts) * 8 + (CASE WHEN event_type = 'view' THEN 1
                                           WHEN event_type = 'click' THEN 2
                                           WHEN event_type = 'purchase' THEN 3
                                           ELSE 0 END) AS p
           FROM events),
         f AS (
           SELECT user_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT), list(p ORDER BY p)),
                    (acc, x) -> CASE
                      WHEN (acc & 1) = 1 THEN acc
                      WHEN ((acc >> 1) & 3) = 0 THEN
                        CASE WHEN (x & 7) = 1 THEN ((x >> 3) << 3) + 2 ELSE acc END
                      WHEN ((acc >> 1) & 3) = 1 THEN
                        CASE WHEN (x & 7) = 2 AND (x >> 3) - (acc >> 3) <= 21600000000
                             THEN acc + 2 ELSE acc + 1 END
                      ELSE
                        CASE WHEN (x & 7) = 3 AND (x >> 3) - (acc >> 3) <= 21600000000
                             THEN acc + 3 ELSE acc + 1 END
                    END) AS acc
           FROM o GROUP BY 1)
         SELECT CAST((acc >> 1) & 3 AS BIGINT) AS funnel_level,
                count(*) AS n_users
         FROM f GROUP BY 1 ORDER BY 1""",
    // e17: same dedup-first + per-user flags + one global sum.
    "e17_retention" ->
      """WITH act AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         f AS (SELECT user_id, min(day) AS d0 FROM act GROUP BY 1),
         u AS (
           SELECT act.user_id,
                  max(CASE WHEN day = d0 + INTERVAL 1 DAY THEN 1 ELSE 0 END) AS c2,
                  max(CASE WHEN day = d0 + INTERVAL 3 DAY THEN 1 ELSE 0 END) AS c3,
                  max(CASE WHEN day = d0 + INTERVAL 7 DAY THEN 1 ELSE 0 END) AS c4
           FROM act JOIN f ON act.user_id = f.user_id GROUP BY 1)
         SELECT count(*) AS r1_users,
                CAST(sum(c2) AS BIGINT) AS r2_day1,
                CAST(sum(c3) AS BIGINT) AS r3_day3,
                CAST(sum(c4) AS BIGINT) AS r4_day7
         FROM u""",
    // e16: same lead + first-view-row selection on the shared
    // (user_id; ts, event_id) order.
    "e16_next_event" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS next_type
           FROM events),
         fv AS (
           SELECT *, row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
           FROM x WHERE event_type = 'view')
         SELECT COALESCE(next_type, '(none)') AS next_type,
                count(*) AS n_users
         FROM fv WHERE rn = 1
         GROUP BY 1 ORDER BY 1""",
    // s10's session rule (gap > 30 min) then e1's running-stage-minima
    // logic inside each (user, sid) — all windows on the shared
    // (ts, event_id) order.
    "e11_session_funnel" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, event_type, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         y AS (
           SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM x),
         z AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM y),
         f AS (
           SELECT *, min(CASE WHEN event_type = 'view' THEN ts END) OVER
                       (PARTITION BY user_id, sid ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_view
           FROM z),
         g AS (SELECT *, CASE WHEN event_type = 'click' AND ts > min_view THEN ts END AS click_ts FROM f),
         h AS (
           SELECT *, min(click_ts) OVER (PARTITION BY user_id, sid ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_click
           FROM g),
         i AS (SELECT *, CASE WHEN event_type = 'purchase' AND ts > min_click THEN ts END AS purch_ts FROM h),
         a AS (
           SELECT user_id, sid, count(*) AS n_events, min(ts) AS s_start,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
                  min(click_ts) AS t2, min(purch_ts) AS t3
           FROM i GROUP BY 1, 2)
         SELECT user_id, sid, s_start, n_events,
                CASE WHEN t1 IS NULL THEN 0
                     ELSE 1 + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
                            + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) END AS funnel_level
         FROM a ORDER BY user_id, sid""",
    // e25: e10's rolling-distinct oracle at 28 days + one divide.
    "e25_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         days AS (SELECT DISTINCT day FROM ud),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         mau AS (
           SELECT d.day, count(DISTINCT u.user_id) AS mau
           FROM days d JOIN ud u
             ON u.day >= d.day - INTERVAL 27 DAY AND u.day <= d.day
           GROUP BY 1)
         SELECT dau.day AS day, dau.dau, mau.mau,
                CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
         FROM dau JOIN mau ON dau.day = mau.day
         ORDER BY dau.day""",
    // e34: decimal-exact cents (e24's discipline); the repartition is
    // invisible to the oracle — DuckDB computes the same windows on
    // the logical row set. cume_dist is the same tie-end/N double
    // division in both engines.
    "e34_fleet_cumulative" ->
      """WITH e AS (
           SELECT event_id, date_trunc('day', ts) AS day, user_id,
                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           FROM events),
         c AS (
           SELECT event_id, day, user_id, cents,
                  CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum_cents,
                  CAST(count(*) OVER (ORDER BY day) AS BIGINT) AS cum_events
           FROM e)
         SELECT event_id, day, user_id, cents, cum_cents, cum_events,
                cume_dist() OVER (ORDER BY cum_cents) AS mass_cdf
         FROM c ORDER BY event_id""",
    "e10_rolling_actives" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         days AS (SELECT DISTINCT day FROM ud),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         wau AS (
           SELECT d.day, count(DISTINCT u.user_id) AS wau
           FROM days d JOIN ud u
             ON u.day >= d.day - INTERVAL 6 DAY AND u.day <= d.day
           GROUP BY 1)
         SELECT dau.day AS day, dau.dau, wau.wau
         FROM dau JOIN wau ON dau.day = wau.day
         ORDER BY dau.day""",
    // The matched flag mirrors the fold with prior-row-only window
    // frames; the greedy counter is the SAME state machine run by
    // DuckDB's list_reduce over the (ts, event_id)-ordered code list,
    // with (count, state) packed into one integer (acc = cnt*2 + st;
    // both legal transitions are exactly +1).
    "e12_sequence_match" ->
      """WITH o AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
         w1 AS (
           SELECT *, max(CASE WHEN event_type = 'view' THEN us END) OVER
                       (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_view
           FROM o),
         w2 AS (
           SELECT *, CASE WHEN event_type = 'click' AND max_view IS NOT NULL
                               AND max_view >= us - 21600000000 THEN us END AS valid_click
           FROM w1),
         w3 AS (
           SELECT *, min(valid_click) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_vc
           FROM w2),
         m AS (
           SELECT user_id, bool_or(event_type = 'purchase' AND min_vc IS NOT NULL) AS matched
           FROM w3 GROUP BY 1),
         c AS (
           SELECT user_id,
                  CAST(list_reduce(
                    list_prepend(0, list(CASE WHEN event_type = 'view' THEN 1
                                              WHEN event_type = 'click' THEN 2
                                              ELSE 0 END ORDER BY us, event_id)),
                    (acc, x) -> acc + (CASE WHEN x = 1 AND acc % 2 = 0 THEN 1
                                            WHEN x = 2 AND acc % 2 = 1 THEN 1
                                            ELSE 0 END)) // 2 AS BIGINT) AS n_matches
           FROM o GROUP BY 1)
         SELECT m.user_id, m.matched, c.n_matches
         FROM m JOIN c ON m.user_id = c.user_id
         ORDER BY m.user_id""",
    // e11's session rule, then the sweep: the per-day max of the
    // running ±1 sum is permutation-invariant within (us, delta) ties
    // (+1s sort first), so ORDER BY us, delta DESC is deterministic
    // where it matters.
    // e30: same (type, week) grid, same lag + add-one smoothing, one
    // divide. DuckDB's date_trunc('week') is ISO Monday — as is
    // Spark's.
    "e30_trending" ->
      """WITH g AS (
           SELECT event_type, date_trunc('week', ts) AS week,
                  CAST(count(*) AS BIGINT) AS n_events
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT *, coalesce(lag(n_events, 1) OVER (PARTITION BY event_type
                       ORDER BY week), 0) AS prev
           FROM g)
         SELECT event_type, week, n_events, CAST(prev AS BIGINT) AS prev,
                CAST(n_events + 1 AS DOUBLE) / CAST(prev + 1 AS DOUBLE) AS wow_lift
         FROM l ORDER BY event_type, week""",
    // e28: same 0-based dow arithmetic, bounded 7×24 grid, one divide.
    "e28_dow_profile" ->
      """WITH b AS (
           SELECT CAST(dayofweek(ts) AS INT) AS dow,
                  CAST(hour(ts) AS INT) AS hod
           FROM events),
         g AS (
           SELECT dow, hod, CAST(count(*) AS BIGINT) AS n_events
           FROM b GROUP BY 1, 2),
         w AS (
           SELECT *, sum(n_events) OVER (PARTITION BY dow) AS dow_total
           FROM g)
         SELECT dow, hod, n_events,
                CAST(n_events AS DOUBLE) / CAST(dow_total AS DOUBLE) AS share_of_dow
         FROM w ORDER BY dow, hod""",
    // e27: e13's session/sweep CTEs; the peak row via row_number over
    // the identical (cur DESC, us ASC) order — max((cur, −us))'s tie
    // rule spelled out.
    "e27_peak_position" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         y AS (
           SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM x),
         z AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM y),
         sess AS (
           SELECT date_trunc('day', min(ts)) AS day, min(us) AS a_us, max(us) AS b_us
           FROM z GROUP BY user_id, sid),
         b AS (
           SELECT day, a_us AS us, 1 AS delta FROM sess
           UNION ALL
           SELECT day, b_us AS us, -1 AS delta FROM sess),
         r AS (
           SELECT day, us, CAST(sum(delta) OVER (PARTITION BY day ORDER BY us, delta DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur
           FROM b),
         rk AS (
           SELECT day, us, cur,
                  row_number() OVER (PARTITION BY day ORDER BY cur DESC, us ASC) AS rn
           FROM r)
         SELECT day, cur AS peak_concurrent, CAST(us AS BIGINT) AS peak_us
         FROM rk WHERE rn = 1 ORDER BY day""",
    // e26: the same session CTE chain as e13, rolled to daily bounce
    // counts; integers + one divide.
    "e26_bounce_rate" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         y AS (
           SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM x),
         z AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM y),
         sess AS (
           SELECT date_trunc('day', min(ts)) AS day, count(*) AS n_events
           FROM z GROUP BY user_id, sid)
         SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
                CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
                CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS bounce_rate
         FROM sess GROUP BY 1 ORDER BY day""",
    "e13_max_concurrency" ->
      """WITH x AS (
           SELECT user_id, ts, event_id, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         y AS (
           SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
           FROM x),
         z AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
           FROM y),
         sess AS (
           SELECT date_trunc('day', min(ts)) AS day, min(us) AS a_us, max(us) AS b_us
           FROM z GROUP BY user_id, sid),
         b AS (
           SELECT day, a_us AS us, 1 AS delta FROM sess
           UNION ALL
           SELECT day, b_us AS us, -1 AS delta FROM sess),
         r AS (
           SELECT day, CAST(sum(delta) OVER (PARTITION BY day ORDER BY us, delta DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur
           FROM b),
         pk AS (SELECT day, max(cur) AS peak_concurrent FROM r GROUP BY 1),
         st AS (SELECT day, CAST(count(*) AS BIGINT) AS n_started FROM sess GROUP BY 1)
         SELECT st.day AS day, st.n_started, pk.peak_concurrent
         FROM st JOIN pk ON st.day = pk.day
         ORDER BY st.day""",
    "e14_cohort_matrix" ->
      s"""WITH ud AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1),
         j AS (
           SELECT ud.user_id, f.cohort_day,
                  CAST(date_diff('day', f.cohort_day, ud.day) AS INT) AS k
           FROM ud JOIN f ON ud.user_id = f.user_id)
         SELECT cohort_day, k, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         FROM j WHERE k < $CohortDays GROUP BY 1, 2 ORDER BY 1, 2""",
    // e15: saturation commutes with union → the saturated count is
    // deterministic and expressible exactly.
    "e15_uniq_upto" ->
      s"""SELECT date_trunc('day', ts) AS day, event_type,
                CAST(LEAST(count(DISTINCT user_id), ${UniqUpToN + 1}) AS INT) AS uniq_upto,
                CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    "e9_attribution" ->
      """WITH v AS (
           SELECT user_id AS v_user, event_id AS view_id, epoch_us(ts) AS v_us
           FROM events WHERE event_type = 'view'),
         p AS (
           SELECT event_id, user_id, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT p.event_id, p.user_id, p.p_us, v.view_id, v.v_us,
                  row_number() OVER (PARTITION BY p.event_id ORDER BY v.v_us, v.view_id) AS rn,
                  count(*) OVER (PARTITION BY p.event_id) AS n_views
           FROM p JOIN v ON p.user_id = v.v_user
             AND v.v_us >= p.p_us - 21600000000 AND v.v_us <= p.p_us)
         SELECT event_id, user_id, n_views, view_id AS first_view_id,
                p_us - v_us AS gap_us
         FROM j WHERE rn = 1 ORDER BY event_id""",
    "e1_funnel" ->
      """WITH b AS (
           SELECT user_id, ts, event_id, event_type,
             min(CASE WHEN event_type='view' THEN ts END) OVER w AS min_view
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         c AS (
           SELECT *, CASE WHEN event_type='click' AND ts > min_view THEN ts END AS click_ts
           FROM b),
         c2 AS (
           SELECT *, min(click_ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_click
           FROM c),
         p AS (
           SELECT *, CASE WHEN event_type='purchase' AND ts > min_click THEN ts END AS purch_ts
           FROM c2),
         u AS (
           SELECT user_id,
                  min(CASE WHEN event_type='view' THEN ts END) AS t1,
                  min(click_ts) AS t2, min(purch_ts) AS t3
           FROM p GROUP BY 1)
         SELECT 1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS funnel_level,
                count(*) AS n_users
         FROM u WHERE t1 IS NOT NULL
         GROUP BY 1 ORDER BY funnel_level""",
    "e6_bounded_funnel" ->
      """WITH b AS (
           SELECT user_id, event_type, epoch_us(ts) AS us,
             min(CASE WHEN event_type='view' THEN epoch_us(ts) END) OVER w AS m_view
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW)),
         c AS (
           SELECT *, CASE WHEN event_type='click' AND us > m_view THEN us END AS click_us
           FROM b),
         c2 AS (
           SELECT *, min(click_us) OVER (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW) AS m_click
           FROM c),
         p AS (
           SELECT *, CASE WHEN event_type='purchase' AND us > m_click THEN us END AS purch_us
           FROM c2),
         u AS (
           SELECT user_id,
                  min(CASE WHEN event_type='view' THEN us END) AS t1,
                  min(click_us) AS t2, min(purch_us) AS t3
           FROM p GROUP BY 1)
         SELECT 1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS funnel_level,
                count(*) AS n_users
         FROM u WHERE t1 IS NOT NULL
         GROUP BY 1 ORDER BY funnel_level""",
    "e7_top_sequences" ->
      """WITH sq AS (
           SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
           FROM events GROUP BY 1),
         g AS (
           SELECT unnest(list_transform(range(1, len(seq) - 1),
                    i -> seq[i] || '>' || seq[i+1] || '>' || seq[i+2])) AS pattern
           FROM sq)
         SELECT pattern, count(*) AS n
         FROM g GROUP BY 1 ORDER BY n DESC, pattern LIMIT 15""",
    "e8_interval_join" ->
      """WITH v AS (
           SELECT user_id AS v_user, epoch_us(ts) AS v_us, value
           FROM events WHERE event_type = 'view'),
         p AS (
           SELECT event_id, user_id, epoch_us(ts) AS p_us
           FROM events WHERE event_type = 'purchase')
         SELECT event_id, count(*) AS n_views,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_view_value
         FROM p JOIN v
           ON user_id = v_user AND v_us >= p_us - 21600000000 AND v_us <= p_us
         GROUP BY event_id ORDER BY event_id""",
    "e2_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         fst AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1)
         SELECT cohort,
                count(DISTINCT act.user_id) AS n_users,
                count(DISTINCT CASE WHEN day = cohort + INTERVAL 1 DAY THEN act.user_id END) AS retained_d1,
                count(DISTINCT CASE WHEN day = cohort + INTERVAL 7 DAY THEN act.user_id END) AS retained_d7
         FROM act JOIN fst ON act.user_id = fst.user_id
         GROUP BY cohort ORDER BY cohort""",
    "e3_histogram" ->
      """WITH b AS (
           SELECT least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9) AS bucket, value
           FROM events)
         SELECT bucket, bucket * 50.0 AS bucket_lo, (bucket + 1) * 50.0 AS bucket_hi,
                count(*) AS n, min(value) AS min_value, max(value) AS max_value,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
         FROM b GROUP BY bucket ORDER BY bucket""",
    "e4_json_extract" ->
      """SELECT event_type, count(*) AS n,
                count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*) AS avg_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "e5_asof_join" ->
      """WITH od AS (
           SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
                  arg_max(o_totalprice, o_orderkey) AS o_totalprice
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, e.ts, e.event_type,
                od.o_orderkey, od.o_orderdate, od.o_totalprice
         FROM events e ASOF JOIN od
           ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
         ORDER BY e.event_id""",
  )
}
