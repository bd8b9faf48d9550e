package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Event-stream analytics over the `events` table (SURVEY.md §2.8 E4/E5):
  * gap sessionization, tumbling windows, JSON-prop extraction, approximate
  * distinct. The batch formulations here share semantics with the
  * Structured Streaming versions in [[graft.streaming.EventStreams]].
  *
  * Determinism: timestamps are compared/emitted as epoch milliseconds;
  * double sums go through exact decimals; window orderings carry event_id
  * as the total-order tiebreaker.
  */
object Events {

  /** Order-insensitive exact sum of the double `value` column. */
  private def vsum = sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value")

  /** THE epoch-ms projection of the event timestamp — the single place the
    * ts→ms normalization lives. `Tables.load` guarantees `ts` arrives as
    * TimestampType regardless of the fixture's parquet encoding
    * (nanos-as-long / TIMESTAMP_NTZ / adjusted-to-UTC — the r5 fixture
    * regen broke every operator that re-derived this inline); operators
    * must use `tsMs`/[[withMs]] rather than calling `unix_millis` on `ts`
    * themselves, so the next encoding drift is one fix, not seven. */
  private val tsMs: Column = unix_millis(col("ts"))

  /** Project `events` down to `cols` plus the normalized `ms` column —
    * the shared head of every sequence/funnel-shaped operator. The
    * (ms, event_id) pair is the class-wide total-order convention. */
  private def withMs(events: DataFrame, cols: Column*): DataFrame =
    events.select(cols :+ tsMs.as("ms"): _*)

  /** Gap-based sessionization (30-min inactivity): lag + cumulative-sum of
    * session starts over (user_id, ts) — two window passes over one
    * shuffle-by-user, the canonical distributed formulation. At scale this
    * is a single hash partition by user_id; no state lives on the driver. */
  def sessionize(events: DataFrame, gapMillis: Long = 1800000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events
      .withColumn("prev_ms", lag(tsMs, 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || tsMs - col("prev_ms") > gapMillis, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(tsMs).as("start_ms"),
        max(tsMs).as("end_ms"),
        vsum)
      .orderBy("user_id", "session_id")
  }

  /** Multi-step ordered funnel: how many users complete each prefix of the
    * step sequence IN ORDER (step i+1 strictly after the user's earliest
    * completion time of step i). Emits one row per step with the user
    * count and the conversion rate vs step 1.
    *
    * Scale shape: one partial-agg shuffle per step on user_id, each joined
    * back co-partitioned (user_id keyed throughout — no re-shuffle after
    * the first), and a tiny final union of per-step counts. Steps are a
    * driver-side fold over the step LIST (bounded, like the quantizer),
    * not over the data. Determinism: epoch-ms minima, exact counts, one
    * IEEE division. */
  def funnelSteps(events: DataFrame,
                  steps: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty)
    val e = withMs(events, col("user_id"), col("event_type"))
    // reached(i): per-user earliest completion time of steps 0..i in order —
    // a driver-side fold over the (bounded) step list, building ONE plan;
    // no driver action, no collected data
    val reachedPerStep = steps.toIndexedSeq.zipWithIndex.tail
      .scanLeft(e.filter(col("event_type") === steps.head)
        .groupBy("user_id").agg(min("ms").as("t"))) { case (prev, (s, _)) =>
        e.filter(col("event_type") === s)
          .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
          .filter(col("ms") > col("prev_t"))
          .groupBy("user_id").agg(min("ms").as("t"))
      }
    val unioned = reachedPerStep.zip(steps).zipWithIndex
      .map { case ((df, s), i) =>
        df.select(lit(i + 1).as("step"), lit(s).as("event_type"), col("user_id")) }
      .reduce(_ unionAll _)
    unioned.groupBy("step", "event_type")
      .agg(count(lit(1)).as("n_users"))
      // the global window runs over ≤ steps.length rows by construction —
      // one partition is intended; partitioning by the constant-valued,
      // non-foldable step % 1 keeps WindowExec's move-all-data warning out
      // of every run's log (a bare OVER () triggers it)
      .withColumn("conversion",
        expr("round(n_users / max(CASE WHEN step = 1 THEN n_users END) OVER (PARTITION BY step % 1), 6)"))
      .orderBy("step")
  }

  /** Windowed heavy hitters: the top-`k` users per (day, event_type) by
    * event count — the trending/abuse-triage staple. Exact: daily
    * per-(day, type, user) partial-agg counts (combine map-side, so the
    * raw stream collapses to ≤ users·types rows per day before any
    * window), then a per-(day, type) top-k window (heap under AQE).
    * Ties break to the lower user_id — total order, oracle-deterministic.
    * At 100 TB the count agg is the only full-data shuffle; the window
    * runs over the already-tiny aggregate. */
  def topUsers(events: DataFrame, k: Int = 3): DataFrame = {
    val daily = events
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("day", "event_type", "user_id")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("day", "event_type")
      .orderBy(col("n").desc, col("user_id").asc)
    daily.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("day"), col("event_type"), col("rank").cast("int").as("rank"),
        col("user_id"), col("n"))
      .orderBy("day", "event_type", "rank")
  }

  /** Cohort funnel conversion: users grouped by the day of their FIRST
    * `fromType` event; converted = a `toType` event follows within
    * `horizonMs`. The staple product-analytics sequenced-event query.
    *
    * Scale shape: one partial-agg shuffle by user_id for the first-step
    * times, a user_id equi-join back to the events (both sides hash on
    * user_id — co-partitioned, no broadcast needed at any scale), a second
    * per-user min, and a final tiny cohort-day aggregation. No windows over
    * the raw event stream, no driver state.
    *
    * Determinism: epoch-ms comparisons, exact integer counts, one final
    * IEEE division for the rate; cohort_day derives from epoch-ms in the
    * UTC session (DuckDB timestamps are naive — identical calendar math). */
  def funnel(events: DataFrame, fromType: String = "signup",
             toType: String = "purchase", horizonMs: Long = 604800000L): DataFrame = {
    val e = withMs(events, col("user_id"), col("event_type"))
    val entered = e.groupBy("user_id")
      .agg(min(when(col("event_type") === fromType, col("ms"))).as("from_ms"))
      .filter(col("from_ms").isNotNull)
    val converted = e.join(entered, "user_id")
      .filter(col("event_type") === toType &&
        col("ms") >= col("from_ms") && col("ms") <= col("from_ms") + horizonMs)
      .groupBy("user_id").agg(min(col("ms")).as("to_ms"))
    entered.join(converted, Seq("user_id"), "left")
      .groupBy(expr("to_date(timestamp_millis(from_ms))").as("cohort_day"))
      .agg(count(lit(1)).as("n_users"), count(col("to_ms")).as("n_converted"))
      .withColumn("conversion", expr("round(n_converted / n_users, 6)"))
      .orderBy("cohort_day")
  }

  /** Day-N retention matrix: users cohorted by their first-ever active
    * day; cell (cohort_day, day_offset) counts users active again exactly
    * `offset` days later (0..maxDays). The other product-analytics staple
    * next to [[funnel]].
    *
    * Scale shape: distinct (user, day) prunes the event stream to at most
    * users×days rows BEFORE anything wide; cohort min and the activity
    * join both hash on user_id (co-partitioned); the matrix agg output is
    * cohorts×offsets — tiny. All-integer arithmetic. */
  def retention(events: DataFrame, maxDays: Int = 7): DataFrame = {
    val act = events.select(col("user_id"), expr("to_date(ts)").as("day")).distinct()
    val cohort = act.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    act.join(cohort, "user_id")
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= maxDays)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** USER-CONCENTRATION (whale/Pareto) report — how much of the event
    * volume the heaviest users carry: for each percentile bracket p, the
    * per-user event-count threshold (exact interpolated p-quantile), the
    * users at-or-above it, their event volume, and its share of all
    * events — the abuse/capacity-planning staple ("do 1% of users generate
    * half the load?").
    *
    * Scale shape: brackets are defined by COUNT QUANTILES, not by a global
    * top-k rank — one (user_id) partial agg collapses the stream to per-user
    * counts, one percentile agg over that bounded relation produces the
    * 1-row threshold table, and one conditional-sum pass over the counts
    * (thresholds broadcast) answers every bracket simultaneously. No
    * global sort, no rank window over users at any scale; ties at the
    * threshold are included (deterministic in both engines). */
  def userConcentration(events: DataFrame): DataFrame = {
    val counts = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    val agg = counts
      .agg(
        expr("percentile(n, 0.90e0)").as("t90"),
        expr("percentile(n, 0.95e0)").as("t95"),
        expr("percentile(n, 0.99e0)").as("t99"),
        sum("n").cast("long").as("total_events"),
        count(lit(1)).as("total_users"))
    val brackets = counts.crossJoin(broadcast(agg))
      .agg(
        min(col("t90")).as("t90"), min(col("t95")).as("t95"), min(col("t99")).as("t99"),
        min(col("total_events")).as("total_events"), min(col("total_users")).as("total_users"),
        sum(when(col("n") >= col("t90"), 1L).otherwise(0L)).as("u90"),
        sum(when(col("n") >= col("t90"), col("n")).otherwise(0L)).as("e90"),
        sum(when(col("n") >= col("t95"), 1L).otherwise(0L)).as("u95"),
        sum(when(col("n") >= col("t95"), col("n")).otherwise(0L)).as("e95"),
        sum(when(col("n") >= col("t99"), 1L).otherwise(0L)).as("u99"),
        sum(when(col("n") >= col("t99"), col("n")).otherwise(0L)).as("e99"))
    brackets.selectExpr(
      """stack(3,
        |  0.90e0, t90, u90, e90,
        |  0.95e0, t95, u95, e95,
        |  0.99e0, t99, u99, e99) AS (p, threshold, n_users, n_events)""".stripMargin,
      "total_users", "total_events")
      .withColumn("share", expr("round(n_events / total_events, 6)"))
      .select(col("p"), expr("round(threshold, 6)").as("threshold"), col("n_users"),
        col("n_events"), col("total_users"), col("total_events"), col("share"))
      .orderBy("p")
  }

  /** Conversion-LAG report — time-to-convert by signup cohort: for each
    * user whose first `fromType` event is strictly followed by a `toType`
    * event, the delay from first signup to FIRST subsequent purchase, then
    * per signup-day cohort the converted-user count and the exact p50/p90/
    * mean delay (milliseconds) — the growth-analytics companion to
    * [[funnel]] ("how fast do cohorts convert", not just "how many").
    *
    * Scale shape: two filtered partial aggs on user_id (first signup, first
    * later purchase) chained by ONE co-partitioned user_id join — no window
    * over raw events; the percentile agg buffers per-cohort lags (bounded
    * by converting users per day; `approx_percentile` is the documented
    * high-cardinality swap, same plan). Exact BIGINT lags; interpolated
    * `percentile` ≡ DuckDB `quantile_cont`; mean = one IEEE division. */
  def conversionLag(events: DataFrame, fromType: String = "signup",
                    toType: String = "purchase"): DataFrame = {
    val e = withMs(events, col("user_id"), col("event_type"))
    val first = e.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min(col("ms")).as("from_ms"))
    val conv = e.filter(col("event_type") === toType)
      .join(first, "user_id")
      .filter(col("ms") > col("from_ms"))
      .groupBy("user_id")
      .agg(min(col("ms")).as("to_ms"), min(col("from_ms")).as("from_ms"))
    conv
      .withColumn("lag_ms", col("to_ms") - col("from_ms"))
      .withColumn("cohort_day", expr("to_date(timestamp_millis(from_ms))"))
      .groupBy("cohort_day")
      .agg(count(lit(1)).as("n_users"),
        expr("round(percentile(lag_ms, 0.5e0), 6)").as("p50_ms"),
        expr("round(percentile(lag_ms, 0.9e0), 6)").as("p90_ms"),
        expr("round(sum(lag_ms) / count(1), 6)").as("mean_ms"))
      .orderBy("cohort_day")
  }

  /** Session-level event-type CO-OCCURRENCE with lift — the basket-analysis
    * staple over the 30-min-gap session definition shared with
    * [[sessionize]]: for every unordered type pair (a < b), the number of
    * sessions containing BOTH, each type's own session count, and
    * lift = P(ab) / (P(a)·P(b)) — >1 means the types cluster in the same
    * sessions beyond chance (feature affinity / abuse-pattern mining).
    *
    * Scale shape: the raw stream collapses to the DISTINCT
    * (user, session, type) incidence set right after the one session
    * window shuffle (lag + running sum share the user_id exchange) — all
    * later work is bounded by sessions × |types|, never raw events. The
    * pair enumeration is an equi-self-join ON the session key
    * (co-partitioned, per-session fan-out ≤ |types|²); per-type counts and
    * the one-row session total join back as broadcasts. Lift is one IEEE
    * division of exact BIGINT products. */
  def cooccurrence(events: DataFrame, gapMillis: Long = 1800000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val st = events
      .withColumn("prev_ms", lag(tsMs, 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || tsMs - col("prev_ms") > gapMillis, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
      // r15: materialize the session-incidence relation — the session
      // total, the per-type counts and BOTH pair-join sides read it, and
      // each reference re-ran the sessionize window + distinct.
      .localCheckpoint()
    val totals = st.select("user_id", "session_id").distinct()
      .agg(count(lit(1)).as("s_total"))
    val typeN = st.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(typeN.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(typeN.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(totals))
      .withColumn("lift", expr("round(n_ab * s_total / (n_a * n_b), 6)"))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"), col("lift"))
      .orderBy("type_a", "type_b")
  }

  /** [[cooccurrence]]'s SCALE-GUARD twin — per-session distinct-type cap
    * (the band-bucket discipline applied to basket fan-out): each
    * session's incidence set is truncated to the `maxTypes` types with
    * the EARLIEST first occurrence (ties by type name — a deterministic,
    * oracle-replayable rule), and pairs, per-type counts, and lift are
    * all computed over the CAPPED incidence space (the shingle-cap rule:
    * sizes count the same space the pairs do). The session total stays
    * uncapped (sessions don't change).
    *
    * Why: the pair stage fans out ≤ |session types|² rows per session.
    * At 5 fixture types that is bounded; with production type
    * cardinalities (hundreds of event names) one instrumentation-spammy
    * session contributes 10⁴-10⁵ pair rows and the join output goes
    * output-quadratic — this cap bounds it at maxTypes² regardless, the
    * same reason minhashLsh caps band buckets. The default is the
    * PRODUCTION path at scale; [[cooccurrence]] stays the exact oracle
    * anchor.
    *
    * Determinism: first-occurrence rank is over the exact (first_ms,
    * type) order; everything downstream is the uncapped operator's
    * arithmetic. */
  def cooccurrenceCapped(events: DataFrame, gapMillis: Long = 1800000L,
                         maxTypes: Int = 3): DataFrame = {
    require(maxTypes >= 2, "a pair needs at least two types per session")
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val st = events
      .withColumn("prev_ms", lag(tsMs, 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || tsMs - col("prev_ms") > gapMillis, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"), col("event_type"))
      .agg(min(tsMs).as("first_ms"))
      // r15: same multi-reference materialization as [[cooccurrence]] —
      // the uncapped totals and the capped relation both read st.
      .localCheckpoint()
    val bySession = Window.partitionBy("user_id", "session_id")
      .orderBy(col("first_ms").asc, col("event_type").asc)
    val capped = st
      .withColumn("rk", row_number().over(bySession))
      .filter(col("rk") <= maxTypes)
      .select("user_id", "session_id", "event_type")
      // ...and the per-type counts plus BOTH pair sides read the capped
      // incidence set.
      .localCheckpoint()
    val totals = st.select("user_id", "session_id").distinct()
      .agg(count(lit(1)).as("s_total"))
    val typeN = capped.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(typeN.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(typeN.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(totals))
      .withColumn("lift", expr("round(n_ab * s_total / (n_a * n_b), 6)"))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"), col("lift"))
      .orderBy("type_a", "type_b")
  }

  /** DAU / WAU / stickiness — the engagement dashboard staple: per active
    * calendar day, distinct users that day (DAU), distinct users active in
    * the trailing 7-day window [day-6, day] (WAU), and DAU/WAU (the
    * classic stickiness ratio).
    *
    * Scale shape: the raw stream collapses to distinct (user_id, day)
    * FIRST (one partial-agg shuffle) — nothing downstream scales with raw
    * event count. The trailing window is NOT a range self-join or a per-day
    * rescan: each user-day row is exploded to the exactly 7 window days it
    * can serve (a bounded ×7 Generate over the collapsed set), distinct'd
    * and counted per day — partial aggs end to end. Reported days = days
    * with any activity (inner join back to DAU). Stickiness is one IEEE
    * division of exact counts. */
  def dauWau(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), expr("to_date(ts)").as("day")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(0, 6)")).as("o"), col("day"))
      .select(col("user_id"), expr("date_add(day, o)").as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .withColumn("stickiness", expr("round(dau / wau, 6)"))
      .select(col("day"), col("dau"), col("wau"), col("stickiness"))
      .orderBy("day")
  }

  /** Rolling 7-day activity per user — the engagement-trend/churn-risk
    * read one level under [[dauWau]]'s corpus aggregate: for every
    * (user, active day), how many of the trailing `windowDays` days the
    * user was active (the "active days in last 7" retention feature), plus
    * the gap since their previous active day (gap > window = a lapsed
    * user returning — a streak restart).
    *
    * The rolling count is a RANGE frame over the integer epoch-day key —
    * calendar-correct (absent days are absent, not zero-rows), no
    * explode, no self-join. Exact integers throughout.
    *
    * Scale shape: one (user, day) distinct shuffle, then BOTH windows
    * (range count + lag) share the single (user_id) exchange and its
    * day_no sort — per-user state is bounded by the user's active-day
    * count, never materializing the calendar. */
  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1)
    val ud = events.select(col("user_id"), expr("to_date(ts)").as("day")).distinct()
      .withColumn("day_no", expr("datediff(day, DATE '1970-01-01')"))
    val wr = Window.partitionBy("user_id").orderBy("day_no")
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    val wo = Window.partitionBy("user_id").orderBy("day_no")
    ud.withColumn("active_days_7d", count(lit(1)).over(wr).cast("long"))
      .withColumn("gap_days",
        (col("day_no") - coalesce(lag("day_no", 1).over(wo), col("day_no"))).cast("long"))
      .select(col("user_id"), col("day"), col("active_days_7d"), col("gap_days"))
      .orderBy("user_id", "day")
  }

  /** Tumbling 1-hour windows per event_type via the native `window()`
    * grouping (maps to a single hash-shuffle on (window, type); at stream
    * time the identical expression runs under a watermark). */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"), vsum)
      .select(unix_millis(col("w.start")).as("window_start_ms"), col("event_type"),
        col("n"), col("n_users"), col("sum_value"))
      .orderBy("window_start_ms", "event_type")

  /** Sliding 1-hour windows every 30 minutes per event_type — each event
    * contributes to duration/slide = 2 windows (the native `window()` with a
    * slide emits both assignments before the hash-shuffle). */
  def slidingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), vsum)
      .select(unix_millis(col("w.start")).as("window_start_ms"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start_ms", "event_type")

  /** Native session windows: `session_window(ts, gap)` — Spark merges events
    * whose window [ts, ts+gap) overlaps, i.e. a gap of exactly `gap` starts
    * a NEW session (end-exclusive), unlike [[sessionize]]'s strict->. The
    * window end is last_ts + gap. One shuffle on (user, merged-window). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), vsum)
      .select(col("user_id"), unix_millis(col("sw.start")).as("start_ms"),
        unix_millis(col("sw.end")).as("end_ms"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_ms")

  /** JSON property extraction (`props` is a JSON string — the reference's
    * records are JSON dicts; SURVEY.md §1.4): pull `$.k`, aggregate per
    * event type. get_json_object is a codegen'd expression — no UDF. */
  def jsonProps(events: DataFrame): DataFrame =
    events
      .withColumn("k", expr("CAST(get_json_object(props, '$.k') AS INT)"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k").cast("bigint")).as("sum_k"))
      .orderBy("event_type")

  /** Hourly spike detection per event type: each bucket scored against the
    * mean of its trailing `trailing` OBSERVED buckets (ROWS frame — gap
    * hours don't dilute the baseline; documented deviation from a
    * calendar-RANGE frame). Score = (n − baseline) / (baseline + 1): the
    * sqrt-free relative deviation, so the arithmetic is exact integer sums
    * with two final IEEE divisions — bit-identical in the oracle. Buckets
    * with no history are dropped (no baseline to score against).
    *
    * Scale shape: one hash-shuffle to hourly counts (map-side partial agg
    * collapses the raw stream to ≤ types·hours rows), then a per-type
    * ordered window over that tiny relation. */
  def anomalyHourly(events: DataFrame, trailing: Int = 24): DataFrame = {
    val hourly = events
      .groupBy(expr("date_trunc('hour', ts)").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-trailing, -1)
    hourly
      .withColumn("prev_sum", sum(col("n")).over(w))
      .withColumn("prev_cnt", count(lit(1)).over(w))
      .filter(col("prev_cnt") >= 1)
      .withColumn("baseline", expr("CAST(prev_sum AS DOUBLE) / CAST(prev_cnt AS DOUBLE)"))
      .select(unix_millis(col("hour")).as("hour_ms"), col("event_type"), col("n"),
        expr("round(baseline, 6)").as("baseline"),
        expr("round((CAST(n AS DOUBLE) - baseline) / (baseline + 1e0), 6)").as("spike_score"))
      .orderBy("hour_ms", "event_type")
  }

  /** Approximate distinct users per event type: HLL++ (SURVEY.md §2.8 E5).
    * Approximation is engine-specific → rows-only check, no DuckDB oracle;
    * the exact twin is `soql_count_distinct`. */
  def approxDistinct(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** [[approxDistinct]]'s ORACLE-CHECKABLE projection: every deterministic
    * column verified exactly (group keys, row count, and the exact
    * distinct-user count the sketch approximates), plus a bounds flag on
    * the one engine-specific value — `approx_within_10pct` = 1 iff the
    * HLL++ estimate lands within ±10% of the exact count. At rsd = 0.02
    * that bound is 5 standard errors, and HLL++'s sparse mode is EXACT
    * below ~6k distinct values, so the flag is deterministically 1 on any
    * fixture; the oracle asserts exactly that. The raw `approx_users`
    * value itself is the documented exclusion (sketches are
    * engine-specific byte layouts, not portable numbers) — this projection
    * turns the former rows-only check into a hash-verified row where only
    * the sketch VALUE, never the sketch's correctness envelope, is
    * unchecked. Exact count-distinct here is verification-scale cost;
    * the production op remains [[approxDistinct]], which never pays it. */
  def approxDistinctChecked(events: DataFrame): DataFrame =
    events
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"), col("exact_users"),
        when(expr("abs(CAST(approx_users AS DOUBLE) - exact_users) <= 0.1e0 * exact_users"), 1)
          .otherwise(0).cast("int").as("approx_within_10pct"))
      .orderBy("event_type")

  /** Per-type VALUE distribution report — the revenue/latency dashboard
    * staple: exact count/sum plus exact interpolated p50/p90/p99 of
    * `value` per event type. `percentile` is Spark's EXACT
    * linear-interpolated quantile (same definition as DuckDB's
    * `quantile_cont`); the sum goes through decimals (order-insensitive).
    *
    * Scale shape: one (event_type) shuffle. Exact percentiles buffer each
    * group's values — right for bounded group counts like event types; for
    * high-cardinality keys swap `approx_percentile` (documented trade,
    * same plan). */
  def valueStats(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      vsum,
      expr("round(percentile(value, 0.5e0), 6)").as("p50_value"),
      expr("round(percentile(value, 0.9e0), 6)").as("p90_value"),
      expr("round(percentile(value, 0.99e0), 6)").as("p99_value"))
      .orderBy("event_type")

  /** FIRST-TOUCH attribution: users grouped by the type of their very
    * first event (the acquisition channel), with the share who later
    * convert — a `toType` event STRICTLY after the first touch (a first
    * touch that is itself a purchase does not self-convert; a later one
    * does). The marketing-attribution staple next to [[funnel]].
    *
    * Scale shape: the first touch is `min(struct(ms, event_id, type))` —
    * a partial agg with map-side combine, so the raw stream collapses to
    * one row per user BEFORE the shuffle (no window over raw events); the
    * conversion probe re-joins events on user_id (both sides hash on
    * user_id — co-partitioned) and collapses again per user. Final output
    * is one row per event type. Total order: (ms, event_id) breaks
    * same-millisecond ties exactly. */
  def attribution(events: DataFrame, toType: String = "purchase"): DataFrame = {
    val e = withMs(events, col("user_id"), col("event_id"), col("event_type"))
    val first = e
      .groupBy("user_id")
      .agg(min(struct(col("ms"), col("event_id"), col("event_type"))).as("f"))
      .select(col("user_id"), col("f.ms").as("first_ms"),
        col("f.event_type").as("first_touch"))
    val converted = e.filter(col("event_type") === toType)
      .join(first, "user_id")
      .filter(col("ms") > col("first_ms"))
      .groupBy("user_id").agg(min(col("ms")).as("conv_ms"))
    first.join(converted, Seq("user_id"), "left")
      .groupBy("first_touch")
      .agg(count(lit(1)).as("n_users"), count(col("conv_ms")).as("n_converted"))
      .withColumn("conversion", expr("round(n_converted / n_users, 6)"))
      .orderBy("first_touch")
  }

  /** Top user-JOURNEY paths: the most frequent trigrams of consecutive
    * event types within a user's stream (ordered by (ts, event_id)) — the
    * "what do users actually do" exploration query.
    *
    * Scale shape: one user_id window shuffle builds the trigrams (two
    * lead()s over the same window spec — one exchange, one sort), then a
    * (path) partial-agg with map-side combine, then a top-k rank over the
    * bounded path aggregate (at most |types|³ rows). Ties break path-asc
    * — total order, oracle-deterministic. */
  def topPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms").asc, col("event_id").asc)
    val tri = withMs(events, col("user_id"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
    val counts = tri.groupBy("path").agg(count(lit(1)).as("n"))
    val rw = Window.partitionBy("__one").orderBy(col("n").desc, col("path").asc)
    counts.withColumn("__one", graft.ops.Scale.constKey(col("n")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("rank").cast("int").as("rank"), col("path"), col("n"))
      .orderBy("rank")
  }

  /** Session MARKOV TRANSITION matrix: for every ordered pair of event
    * types, how often the second directly follows the first inside one
    * session (the [[sessionize]] 30-min-gap definition), with the
    * conditional probability P(to | from) — the behavioral fingerprint a
    * product-analytics stack derives funnels and anomaly baselines from.
    *
    * Session boundaries WITHOUT a session id: the next event's
    * new-session flag (computed from the same lag) is led alongside the
    * next event's type, and boundary-crossing transitions are dropped —
    * so lag, both leads, and the running flag all share the ONE user_id
    * window exchange (a second (user_id, session_id) window spec would
    * plan its own exchange; plan-locked to one).
    *
    * Scale shape: one user_id window shuffle, then a (from, to)
    * partial-agg with map-side combine to at most |types|² rows; the
    * probability normalization windows over that bounded aggregate.
    * P(to|from) is ONE IEEE division of exact BIGINTs, round-6 —
    * bit-identical to the oracle. */
  def transitions(events: DataFrame, gapMillis: Long = 1800000L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_ms", lag(tsMs, 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || tsMs - col("prev_ms") > gapMillis, 1)
          .otherwise(0))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .withColumn("next_new", lead(col("new_session"), 1).over(byUser))
      .filter(col("next_type").isNotNull && col("next_new") === 0)
      .groupBy(col("event_type").as("from_event"), col("next_type").as("to_event"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", expr(
        "round(n / sum(n) OVER (PARTITION BY from_event), 6)"))
      .orderBy("from_event", "to_event")
  }

  /** A/B EXPERIMENT READOUT with deterministic hash cohorts — the product
    * analytics any event pipeline ends in: users split 50/50 by the same
    * md5-hex-region bucket the sampling ops use (no RNG — assignment is
    * reproducible across runs/engines, the experiment-platform property).
    * Metric = per-user count of `metricType` events (a conversion-RATE
    * readout saturates on this fixture: every user purchases); the one-row
    * report carries per-cohort n/total/mean, the mean difference, and the
    * Welch z statistic.
    *
    * Determinism discipline: all moments (n, Σm, Σm²) are exact BIGINTs —
    * Σm² of integer counts needs no decimal detour — and mean/diff/z are
    * IEEE expressions written with the SAME literal shape in the oracle
    * (sqrt is IEEE-correctly-rounded), so even the z hash-matches. The one
    * deliberate double cast: Σm·Σm would overflow BIGINT at ~10⁹ users, so
    * the square in the variance is `CAST(s AS DOUBLE) * s` on both sides.
    * Degenerate edges (cohort of ≤1 user, zero variance) yield NULL, never
    * ±inf — guarded identically in both engines.
    *
    * Scale shape: one partial-agg shuffle on user_id (the per-user metric),
    * then a global 1-row conditional aggregate — no join, no window,
    * nothing driver-side. */
  def abLift(events: DataFrame, metricType: String = "purchase"): DataFrame = {
    val users = events
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === metricType, 1).otherwise(0)).cast("long").as("m"))
      .withColumn("cohort", when(
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 4), 16, 10) AS BIGINT) % 100") < 50,
        lit("A")).otherwise(lit("B")))
    // Welch variance term per cohort: ((ss - s²/n) / (n-1)) / n, written
    // once here and verbatim in the oracle so the IEEE op order matches
    def vterm(s: String, ss: String, n: String) =
      s"(($ss - CAST($s AS DOUBLE) * $s / $n) / ($n - 1)) / $n"
    val va = vterm("s_a", "ss_a", "n_a")
    val vb = vterm("s_b", "ss_b", "n_b")
    users.agg(
        sum(when(col("cohort") === "A", 1).otherwise(0)).cast("long").as("n_a"),
        sum(when(col("cohort") === "A", col("m")).otherwise(0)).cast("long").as("s_a"),
        sum(when(col("cohort") === "A", col("m") * col("m")).otherwise(0)).cast("long").as("ss_a"),
        sum(when(col("cohort") === "B", 1).otherwise(0)).cast("long").as("n_b"),
        sum(when(col("cohort") === "B", col("m")).otherwise(0)).cast("long").as("s_b"),
        sum(when(col("cohort") === "B", col("m") * col("m")).otherwise(0)).cast("long").as("ss_b"))
      .select(col("n_a"), col("s_a"),
        expr("round(s_a / n_a, 6)").as("mean_a"),
        col("n_b"), col("s_b"),
        expr("round(s_b / n_b, 6)").as("mean_b"),
        expr("round(s_b / n_b - s_a / n_a, 6)").as("diff"),
        expr(s"""CASE WHEN n_a > 1 AND n_b > 1 AND ($va + $vb) > 0
                 |  THEN round((s_b / n_b - s_a / n_a) / sqrt($va + $vb), 6)
                 |END""".stripMargin).as("z"))
  }

  /** SEASONAL-NAIVE FORECAST EVAL — the capacity-planning readout: predict
    * each hour's per-type event count as the SAME hour one day earlier
    * (the standard naive baseline every real forecaster must beat), then
    * report per type the evaluated-hour count, MAE, and mean bias
    * (signed — systematic growth shows as positive bias before it shows
    * in MAE). Hours whose previous-day hour has no bucket are excluded
    * (no fabricated zeros — the same rule in the oracle).
    *
    * Scale shape: one (type, hour) partial-agg shuffle collapses raw
    * events to the bucket series; the forecast join is a co-partitioned
    * equi-join of that bounded relation against itself shifted by 24 h
    * (hash keys (type, hour) on both sides — never a window over a
    * possibly-gappy series, never raw events twice); the report is a
    * |types|-row aggregate.
    *
    * Determinism: counts and absolute/signed error sums are exact
    * BIGINTs; MAE/bias are single IEEE divisions rounded to 6. */
  def forecastEval(events: DataFrame, periodMs: Long = 86400000L): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        unix_millis(date_trunc("hour", col("ts"))).as("hour_ms"))
      .agg(count(lit(1)).as("n"))
    val prior = hourly.select(col("event_type"),
      (col("hour_ms") + periodMs).as("hour_ms"), col("n").as("fcst"))
    hourly.join(prior, Seq("event_type", "hour_ms"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours_eval"),
        sum(abs(col("n") - col("fcst"))).cast("long").as("abs_err_total"),
        sum(col("n") - col("fcst")).cast("long").as("err_total"))
      .withColumn("mae", expr("round(abs_err_total / n_hours_eval, 6)"))
      .withColumn("bias", expr("round(err_total / n_hours_eval, 6)"))
      .select(col("event_type"), col("n_hours_eval"), col("abs_err_total"),
        col("err_total"), col("mae"), col("bias"))
      .orderBy("event_type")
  }

  /** STATUS HISTORY — SCD2-style validity intervals from an event stream:
    * per user, consecutive runs of the same event_type (in the (ms,
    * event_id) total order) collapse to one row carrying the status, its
    * [valid_from, valid_to) interval (valid_to = the NEXT run's start,
    * NULL while current — the open row of a type-2 dimension), and the
    * run's event count. The warehouse history-building verb: the same
    * run-length encoding that turns a CDC/change feed into queryable
    * state intervals.
    *
    * Scale shape: the sessionize discipline on a different change
    * predicate — lag + running sum over ONE user_id window shuffle, a
    * co-partitioned (user, run) partial agg, and the valid_to lead over
    * the RUN relation (bounded by run count, not raw events) which reuses
    * the same user_id partitioning. Nothing driver-side, no joins.
    *
    * Determinism: run boundaries are exact comparisons on the total
    * order; all outputs are exact BIGINTs (no IEEE anywhere). */
  def statusHistory(events: DataFrame): DataFrame = {
    val e = withMs(events, col("user_id"), col("event_id"), col("event_type"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ms").asc, col("event_id").asc)
    val runs = e
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("chg",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1).otherwise(0))
      .withColumn("run_id", sum(col("chg")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      .agg(min(col("event_type")).as("status"),
        min(col("ms")).as("valid_from_ms"),
        count(lit(1)).as("n_events"))
    runs
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(
        Window.partitionBy("user_id").orderBy(col("run_id").asc)))
      .select(col("user_id"), col("run_id"), col("status"),
        col("valid_from_ms"), col("valid_to_ms"), col("n_events"))
      .orderBy("user_id", "run_id")
  }

  /** AS-OF JOIN — for every `leftType` event, the most recent `rightTypes`
    * event by the same user strictly before it in the (ms, event_id) total
    * order (the last-touch lookup every attribution/enrichment pipeline
    * needs; Spark has no ASOF JOIN operator, so this is the composed
    * formulation).
    *
    * Implementation is the union-tag + ignore-nulls-window pattern, NOT a
    * join: both sides land in ONE relation, one shuffle on user_id, and a
    * running `last(..., ignoreNulls)` over the ordered per-user scan
    * carries the latest right-side attributes forward; filtering back to
    * the left side yields exactly the as-of match. A range/inequality join
    * would rescan right-side history per left row (quadratic per user);
    * the window formulation is linear in events and never materializes
    * candidate pairs — THE scalable as-of shape at 100 TB, where the only
    * cost is the single user_id exchange that sessionize already pays.
    *
    * Determinism: matches are defined on the (ms, event_id) total order —
    * equal-timestamp events resolve by event_id, and the frame stops at
    * `1 PRECEDING` so an equal-key right event that sorts after the left
    * event never matches backwards. `lag_ms` is exact BIGINT arithmetic;
    * unmatched left events keep NULL match columns (left-as-of, not
    * inner). */
  def asofJoin(events: DataFrame,
               leftType: String = "purchase",
               rightTypes: Seq[String] = Seq("click", "view")): DataFrame = {
    require(rightTypes.nonEmpty && !rightTypes.contains(leftType))
    val t = withMs(events.filter(col("event_type").isin(leftType +: rightTypes: _*)),
      col("user_id"), col("event_id"), col("event_type"), col("value"))
    val isRight = col("event_type").isin(rightTypes: _*)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ms").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("match_event_id", last(when(isRight, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("match_type", last(when(isRight, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("match_ms", last(when(isRight, col("ms")), ignoreNulls = true).over(w))
      .filter(col("event_type") === leftType)
      .select(col("event_id"), col("user_id"), col("ms"), col("value"),
        col("match_event_id"), col("match_type"), col("match_ms"),
        (col("ms") - col("match_ms")).as("lag_ms"))
      .orderBy("event_id")
  }

  /** RANGE (interval-overlap) JOIN via bucketization — events joined
    * against derived incident windows (±5 min around the top-`topK`
    * `anchorType` events by value), aggregated to one blast-radius row per
    * incident: events/users/errors inside the window plus the exact value
    * sum. The interval-containment join Spark would otherwise plan as a
    * broadcast nested loop.
    *
    * Implementation: both sides are mapped to coarse time buckets (bucket
    * width = the interval width, so an interval overlaps at most 2
    * buckets) and joined on the BUCKET as an equi-key, with the exact
    * `lo <= ms < hi` predicate applied after. This is the generic
    * scale-safe range-join shape: the equi-join shuffles/hashes on bucket
    * regardless of interval count, so it survives the case where the
    * interval side is far too big to broadcast (here it is also tiny, so
    * Catalyst broadcasts the exploded 2·topK-row side on top — both
    * optimizations compose). Point events land in exactly ONE bucket and
    * an interval's exploded buckets are distinct, so no pair can appear
    * twice and no post-join dedup is needed (interval×interval overlap
    * WOULD need one — documented asymmetry of the pattern).
    *
    * Determinism: anchors are a heap cut on (value DESC, event_id) —
    * TakeOrderedAndProject, never a global sort; window bounds and the
    * bucket math are exact BIGINT; the value sum crosses rows as
    * DECIMAL(18,6). */
  def rangeJoin(events: DataFrame,
                anchorType: String = "error",
                halfWidthMs: Long = 300000L,
                topK: Int = 20): DataFrame = {
    val width = 2 * halfWidthMs
    val e = withMs(events, col("user_id"), col("event_id"), col("event_type"), col("value"))
    val anchors = e.filter(col("event_type") === anchorType)
      .orderBy(col("value").desc, col("event_id").asc).limit(topK)
      .select(col("event_id").as("anchor_id"),
        (col("ms") - halfWidthMs).as("lo"), (col("ms") + halfWidthMs).as("hi"))
    // interval → its covered coarse buckets (≤2 by construction: hi-lo ==
    // bucket width); sequence() is inclusive so the hi-1 end handles the
    // exactly-aligned interval without a third bucket
    val ibuckets = anchors.withColumn("bucket",
      explode(expr(s"sequence(CAST(floor(lo / $width) AS BIGINT), CAST(floor((hi - 1) / $width) AS BIGINT))")))
    val ebuckets = e.withColumn("bucket", expr(s"CAST(floor(ms / $width) AS BIGINT)"))
    ebuckets.join(ibuckets, Seq("bucket"))
      .filter(col("ms") >= col("lo") && col("ms") < col("hi"))
      .groupBy(col("anchor_id"), col("lo").as("window_start_ms"), col("hi").as("window_end_ms"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(when(col("event_type") === anchorType, 1).otherwise(0)).cast("long").as("n_errors"),
        vsum)
      .orderBy("anchor_id")
  }
}
