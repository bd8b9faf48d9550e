package graft.ext

import scala.collection.mutable.ArrayBuffer
import org.apache.datasketches.hll.{HllSketch, Union}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Mergeable-sketch store — exact-enough distinct counting over ARBITRARY
  * day ranges without ever rescanning raw events: one Datasketches HLL
  * sketch per day ([[org.apache.spark.sql.functions.hll_sketch_agg]] —
  * Spark's public Apache DataSketches binding), published atomically; a
  * trailing-window (or ad-hoc range) distinct-user count is then a UNION
  * of the window's sketch rows — O(days) tiny rows read, never O(events).
  * Each report is one kernel: the store rows are read in one task and
  * folded there into day → sketch rows, and each window or range is
  * unioned the way `hll_sketch_estimate(hll_union_agg(sk, false))` does it
  * ([[unionEstimate]]); memory bound at [[Folded]].
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

  /** (epoch day, sk) in one partition: the rows both sketch kernels fold.
    * Days travel as epoch-day ints, as in [[HistStore]]'s kernels. */
  private def kernelInput(days: DataFrame): DataFrame =
    days.select(unix_date(col("day")), col("sk")).coalesce(1)

  /** The sketch rows in the order the task reads them, and each stored
    * day with the positions of its rows, ascending by day. A day whose rows
    * all hold a null sketch is still stored; rows without a day are
    * dropped. The task holds every sketch row, about 4 KB each at lgK 12. */
  private final class Folded(rows: Iterator[Row]) {
    private val sketches = ArrayBuffer.empty[Array[Byte]]
    val days: Array[(Int, Array[Int])] = {
      val at = scala.collection.mutable.HashMap.empty[Int, ArrayBuffer[Int]]
      for (r <- rows if !r.isNullAt(0)) {
        val pos = at.getOrElseUpdate(r.getInt(0), ArrayBuffer.empty)
        if (!r.isNullAt(1)) { pos += sketches.length; sketches += r.getAs[Array[Byte]](1) }
      }
      at.iterator.map { case (d, pos) => d -> pos.toArray }.toArray.sortBy(_._1)
    }

    /** The union estimate of stored days `from` to `to` (positions in
      * [[days]]), their sketches taken in read order: a union's estimate
      * can depend on the order its sketches arrive (the HIP estimator), and
      * Spark's aggregate takes them in scan order. */
    def estimate(from: Int, to: Int): Long =
      unionEstimate((from to to).flatMap(days(_)._2).sorted.iterator.map(sketches))
  }

  /** `hll_sketch_estimate(hll_union_agg(sk, false))` over `sketches`, the
    * way Spark computes it: a union at the first sketch's lgConfigK, each
    * sketch wrapped in place, a mix of lgConfigK values refused, and the
    * estimate of the union's serialized form, rounded. No sketch gives the
    * estimate of an empty union, 0. */
  private def unionEstimate(sketches: Iterator[Array[Byte]]): Long = {
    var union: Union = null
    for (bytes <- sketches) {
      val sk = HllSketch.wrap(Memory.wrap(bytes))
      if (union == null) union = new Union(sk.getLgConfigK)
      require(union.getLgConfigK == sk.getLgConfigK,
        s"hll_union_agg: sketches have different lgConfigK values " +
          s"${union.getLgConfigK} and ${sk.getLgConfigK}")
      union.update(sk)
    }
    if (union == null) union = new Union()
    Math.round(HllSketch.heapify(Memory.wrap(union.toUpdatableByteArray)).getEstimate)
  }

  /** Trailing-`windowDays` distinct-user estimates, one row per stored
    * day: (day, n_days, approx_users), where n_days counts the stored days
    * in `[day − windowDays + 1, day]`. The store relation is read in one
    * task and folded there ([[trailingUnion]]) — raw events are never read. */
  def trailingDistinct(spark: SparkSession, storeDir: String,
                       windowDays: Int = 7): DataFrame = {
    readLgK(spark, storeDir) // _SUCCESS + meta guard
    trailingUnion(readDays(spark, storeDir), windowDays)
  }

  /** The trailing report over a (day, sk) relation, as one kernel:
    * `coalesce(1)` and one `mapPartitions` that folds the rows into
    * day → sketch rows ([[Folded]]), then unions each stored day's window. */
  private[graft] def trailingUnion(days: DataFrame, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays $windowDays must be positive")
    kernelInput(days).mapPartitions { rows =>
      val f = new Folded(rows)
      f.days.indices.iterator.map { i =>
        val anchor = f.days(i)._1
        var j = i
        while (j > 0 && f.days(j - 1)._1 > anchor - windowDays) j -= 1
        Row(anchor, (i - j + 1).toLong, f.estimate(j, i))
      }
    }(Encoders.row(StructType.fromDDL("day INT, n_days BIGINT, approx_users BIGINT")))
      .withColumn("day", date_from_unix_date(col("day")))
  }

  /** Distinct-user estimate over an ARBITRARY `[startDay, endDay]` range —
    * the store's pitch made an entry point: the range's sketch rows union
    * to ONE row (n_days, approx_users) in one task; the day filter reads
    * only the range's O(days) sketch rows, raw events never. */
  def rangeDistinct(spark: SparkSession, storeDir: String,
                    startDay: String, endDay: String): DataFrame = {
    readLgK(spark, storeDir) // _SUCCESS + meta guard
    // malformed dates and an inverted range are CALLER errors — refuse at
    // construction (LocalDate.parse also rejects non-ISO strings) instead
    // of silently matching zero rows
    val s = java.time.LocalDate.parse(startDay)
    require(!s.isAfter(java.time.LocalDate.parse(endDay)),
      s"rangeDistinct: startDay $startDay is after endDay $endDay")
    // a range covering NO stored days would answer n_days 0 beside the
    // estimate of a union over zero sketches, and the checked twin would
    // then report a bogus est_within_5pct=0; fail loudly at execution instead
    val empty = s"rangeDistinct: [$startDay, $endDay] covers no stored days — " +
      "check the range against the store's published days"
    rangeUnion(readDays(spark, storeDir)
      .filter(col("day").between(lit(startDay).cast("date"), lit(endDay).cast("date"))), empty)
  }

  /** The range report over a (day, sk) relation already cut to the range:
    * every sketch row unions, in scan order, to one row in one task; no
    * stored day fails the task with `emptyMessage`. (The replaced single
    * aggregate also counted distinct days, so Spark unioned each day first
    * and merged the day unions; on multi-day ranges in HLL mode that
    * estimate can differ from this one in its last digits.) */
  private[graft] def rangeUnion(days: DataFrame, emptyMessage: String): DataFrame =
    kernelInput(days).mapPartitions { rows =>
      val f = new Folded(rows)
      if (f.days.isEmpty) throw new IllegalStateException(emptyMessage)
      Iterator.single(Row(f.days.length.toLong, f.estimate(0, f.days.length - 1)))
    }(Encoders.row(StructType.fromDDL("n_days BIGINT, approx_users BIGINT")))

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
