package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch store — exact-enough distinct counting over ARBITRARY
  * day ranges without ever rescanning raw events: one Datasketches HLL
  * sketch per day ([[org.apache.spark.sql.functions.hll_sketch_agg]] —
  * Spark's public Apache DataSketches binding), published atomically; a
  * trailing-window (or ad-hoc range) distinct-user count is then a UNION
  * of the window's sketch rows (`hll_union_agg` + `hll_sketch_estimate`)
  * — O(days) tiny rows read, never O(events).
  *
  * This is the storage-side answer to the same question
  * [[Events.approxDistinctChecked]] answers in-line: at 100 TB the raw
  * event log for a 30-day window is re-shuffled per report by
  * `count(distinct)`, while the sketch store reads 30 rows of ~2^lgK
  * bytes. The HLL register array is a MAX fold — commutative, associative,
  * idempotent — so daily appends in any order, re-delivered days, and
  * per-day row splits all merge to the identical sketch (append ≡ rebuild
  * is spec'd as BYTE equality of the merged estimates, not a tolerance).
  *
  * Store layout (the [[graft.ops.StoreLifecycle]] discipline — atomic
  * publish, writer-locked mutation, `_SUCCESS`-last):
  *
  *   days/     (day DATE, sk BINARY) — one or more sketch rows per day
  *             (append just lands new rows; union folds duplicates)
  *   meta.txt  lgK — probes MUST union at the builder's precision
  *   _SUCCESS
  *
  * Estimates are deterministic (DataSketches HLL is a pure function of
  * the inserted value SET — register maxes are order-independent), so the
  * stored probe is spec'd EQUAL to the in-line sketch over raw events,
  * and the registry's checked twin pins the estimate inside a 5% envelope
  * against the exact count the DuckDB oracle replays — the
  * [[Events.approxDistinctChecked]] correctness pattern. */
object SketchStore {

  /** (day, sk) — one HLL sketch row per calendar day of `events`. */
  private def daySketches(events: DataFrame, lgK: Int): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))

  /** Build + atomically publish the daily sketch relation. */
  def buildSketchStore(events: DataFrame, storeDir: String, lgK: Int = 12): Unit = {
    require(lgK >= 4 && lgK <= 21, s"lgK $lgK outside DataSketches' [4, 21]")
    HistStore.publishDays(storeDir, s"lgK=$lgK")(daySketches(events, lgK))
  }

  /** Fold a day's (or backfill's) events in at O(increment): sketch the
    * new rows at the STORE's lgK and append them to `days/`. Re-delivered
    * days simply add rows — the union's max-fold makes the probe
    * idempotent to them; [[compactSketchStore]] folds the splits away. */
  def appendToSketchStore(events: DataFrame, storeDir: String): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir) {
      val lgK = readLgK(events.sparkSession, storeDir)
      daySketches(events, lgK).write.mode("append").parquet(s"$storeDir/days")
    }

  /** Merge multi-row days back to one sketch row per day (a new atomic
    * snapshot — probes racing the swap keep their planned version). */
  def compactSketchStore(spark: SparkSession, storeDir: String): Unit = {
    val lgK = readLgK(spark, storeDir)
    HistStore.publishDays(storeDir, s"lgK=$lgK")(readDays(spark, storeDir)
      .groupBy("day").agg(hll_union_agg(col("sk"), lit(false)).as("sk")))
  }

  private def readLgK(spark: SparkSession, storeDir: String): Int =
    graft.ops.StoreLifecycle.readMeta(storeDir)("lgK").toInt

  /** `days/` as [[daySketches]] writes it; reads declare it, so building a
    * probe runs no schema-inference job. */
  private[graft] val daysSchema = "day DATE, sk BINARY"

  private def readDays(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.schema(daysSchema).parquet(s"$storeDir/days")

  /** Trailing-`windowDays` distinct-user estimates, one row per stored
    * day: the window's sketch rows union in one single-task job over the
    * TINY store relation ([[HistStore.trailingWindows]]) — raw events are
    * never read. Returns (day, n_days, approx_users). */
  def trailingDistinct(spark: SparkSession, storeDir: String,
                       windowDays: Int = 7): DataFrame = {
    readLgK(spark, storeDir) // _SUCCESS + meta guard
    HistStore.trailingWindows(readDays(spark, storeDir), windowDays)
      .groupBy(col("anchor").as("day"))
      .agg(max("n_days").as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"))
  }

  /** Distinct-user estimate over an ARBITRARY `[startDay, endDay]` range —
    * the store's pitch made an entry point: the range's sketch rows union
    * to ONE row (n_days, approx_users). Same union shape as
    * [[trailingDistinct]] without the per-anchor fan-out, in one task; the
    * day filter reads only the range's O(days) sketch rows, raw events never. */
  def rangeDistinct(spark: SparkSession, storeDir: String,
                    startDay: String, endDay: String): DataFrame = {
    readLgK(spark, storeDir) // _SUCCESS + meta guard
    // malformed dates and an inverted range are CALLER errors — refuse at
    // construction (LocalDate.parse also rejects non-ISO strings) instead
    // of silently matching zero rows
    val s = java.time.LocalDate.parse(startDay)
    require(!s.isAfter(java.time.LocalDate.parse(endDay)),
      s"rangeDistinct: startDay $startDay is after endDay $endDay")
    readDays(spark, storeDir)
      .filter(col("day").between(lit(startDay).cast("date"), lit(endDay).cast("date")))
      .coalesce(1)
      .agg(countDistinct(col("day")).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"))
      // a range covering NO stored days would emit (0, NULL) — a union
      // over zero sketches — and the checked twin would then report a
      // NULL-driven est_within_5pct=0; fail loudly at execution instead
      .select(col("n_days"),
        when(col("n_days") === lit(0), raise_error(lit(
          s"rangeDistinct: [$startDay, $endDay] covers no stored days — " +
            "check the range against the store's published days")))
          .otherwise(col("approx_users")).as("approx_users"))
  }

  /** [[rangeDistinct]]'s oracle-checked twin — the
    * [[trailingDistinctChecked]] pattern: the stored estimate beside the
    * exact range distinct from raw events, envelope flag pinned to 1 by
    * the oracle. The two 1-row aggregates cross-join (bounded by
    * construction). */
  def rangeDistinctChecked(events: DataFrame, storeDir: String,
                           startDay: String, endDay: String): DataFrame = {
    val est = rangeDistinct(events.sparkSession, storeDir, startDay, endDay)
    val exact = events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .filter(col("day").between(lit(startDay).cast("date"), lit(endDay).cast("date")))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.crossJoin(exact)
      .select(col("n_days").cast("long").as("n_days"),
        col("exact_users").cast("long").as("exact_users"),
        when(expr("abs(approx_users - exact_users) <= 0.05e0 * exact_users"), 1)
          .otherwise(0).cast("int").as("est_within_5pct"))
  }

  /** The oracle-checked twin: [[trailingDistinct]] plus the EXACT trailing
    * distinct computed from raw events, emitting the envelope flag the
    * oracle pins to 1 — exactness is the CHECK's job; production runs the
    * estimate-only probe above. Exact side collapses events to daily
    * distinct (user, day) pairs BEFORE the window join, so the range join
    * fans out per active user-day, not per event. */
  def trailingDistinctChecked(events: DataFrame, storeDir: String,
                              windowDays: Int = 7): DataFrame = {
    val est = trailingDistinct(events.sparkSession, storeDir, windowDays)
    val du = events.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val anchors = du.select(col("day").as("anchor")).distinct()
    val exact = du.join(broadcast(anchors),
        col("day").between(date_sub(col("anchor"), windowDays - 1), col("anchor")))
      .groupBy(col("anchor").as("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, Seq("day"))
      .select(col("day"), col("n_days").cast("long").as("n_days"),
        col("exact_users").cast("long").as("exact_users"),
        when(expr("abs(approx_users - exact_users) <= 0.05e0 * exact_users"), 1)
          .otherwise(0).cast("int").as("est_within_5pct"))
      .orderBy("day")
  }
}
