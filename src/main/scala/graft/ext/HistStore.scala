package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable HISTOGRAM store — exact-deterministic value-distribution
  * reporting over ARBITRARY day ranges without ever rescanning raw
  * events: one fixed-width bin-count relation per day, published
  * atomically; a trailing-window (or ad-hoc range) quantile report then
  * SUMs the window's bin rows and interpolates inside the crossing bin —
  * O(days × bins) tiny rows read, never O(events).
  *
  * This is [[SketchStore]]'s sibling for the QUANTILE question (p50/p95
  * latency, value-distribution drift): where the HLL store answers
  * "how many distinct" with an implementation-specific estimate (hash
  * gated through a 5% envelope), fixed-width bin counts are a pure ADD
  * fold of exact integers, so every output column — including the
  * interpolated quantile estimates — is deterministic and the DuckDB
  * oracle hash-matches the whole row, no envelope. The trade is the
  * estimate's resolution: error is bounded by the bin width (the stored
  * answer is exact linear interpolation over the true per-bin counts),
  * chosen once at build time and pinned in `meta.txt`.
  *
  * At 100 TB: a 30-day p99 report over raw events is a full re-shuffle
  * of the window per report; the store reads ≤ days × bins rows (here
  * 30 × ~100). Appends are O(increment): a day's (or an hourly slice's)
  * bin counts just land as new rows — counts are commutative/associative
  * under addition, so day SPLITS in any order sum to the identical
  * histogram (append ≡ rebuild, spec'd as exact row equality) and
  * [[compactHistStore]] folds split rows away. Unlike the HLL register
  * MAX-fold, addition is NOT idempotent to re-delivery — a re-delivered
  * slice double-counts — so the caller owes exactly-once slicing: the
  * daily loop gets it from the build→append order, and the streaming
  * loop gets it STRUCTURALLY from [[appendStreamBatch]]'s batchId-keyed
  * atomic rename (a replayed micro-batch finds its slot occupied and
  * no-ops). This is the honest semantics of any additive summary.
  *
  * Store layout (the [[graft.ops.StoreLifecycle]] discipline — atomic
  * publish, writer-locked mutation, `_SUCCESS`-last):
  *
  *   days/         (day DATE, bin BIGINT, cnt BIGINT) — bin =
  *                 floor(value / binWidth); one or more rows per (day, bin)
  *   days_stream/  batch-&lt;id&gt; slots from the streaming loop
  *                 ([[appendStreamBatch]]) — each an atomically-renamed
  *                 per-micro-batch histogram; probes union them with
  *                 days/, compact folds them away
  *   meta.txt      binWidth — probes MUST bin at the builder's width
  *   _SUCCESS
  *
  * Quantile math (mirrored verbatim by the oracle SQL): within a window,
  * cum = running sum of cnt in bin order, n = window total; for target
  * rank t = q·n the CROSSING bin is the unique row with
  * cum − cnt < t ≤ cum (cnt ≥ 1 keeps cum strictly increasing), and the
  * estimate is bin·w + ((t − (cum − cnt)) / cnt)·w — exact linear
  * interpolation, one IEEE division, identical operation order on both
  * engines. */
object HistStore {

  private def path(s: String) = java.nio.file.Paths.get(s)

  /** (day, bin, cnt) — the per-day fixed-width histogram of `value`. */
  private def dayHistogram(events: DataFrame, binWidth: Double): DataFrame =
    events
      .select(to_date(col("ts")).as("day"),
        floor(col("value") / lit(binWidth)).cast("bigint").as("bin"))
      .groupBy("day", "bin")
      .agg(count(lit(1)).as("cnt"))

  /** Atomically publish a snapshot of a days-relation store (this one or
    * [[SketchStore]]): `days/` from `days`, built under the publish lock,
    * then the one-line `meta.txt`, then `_SUCCESS`. */
  private[ext] def publishDays(storeDir: String, meta: String)(days: => DataFrame): Unit =
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      days.write.mode("overwrite").parquet(s"$tmp/days")
      java.nio.file.Files.write(path(tmp).resolve("meta.txt"), s"$meta\n".getBytes("UTF-8"))
      java.nio.file.Files.write(path(tmp).resolve("_SUCCESS"), Array.empty[Byte])
    }

  /** Build + atomically publish the daily histogram relation. */
  def buildHistStore(events: DataFrame, storeDir: String,
                     binWidth: Double = 5.0): Unit = {
    require(binWidth > 0, s"binWidth $binWidth must be positive")
    publishDays(storeDir, s"binWidth=$binWidth")(dayHistogram(events, binWidth))
  }

  /** Fold a day's (or an hourly slice's) events in at O(increment): bin
    * the new rows at the STORE's width and append them to `days/`. Day
    * splits in any order sum exactly (append ≡ rebuild);
    * [[compactHistStore]] folds the split rows away. Re-delivery is the
    * CALLER's to prevent (additive counts double-count) — see the object
    * doc. */
  def appendToHistStore(events: DataFrame, storeDir: String): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir) {
      val w = readBinWidth(storeDir)
      dayHistogram(events, w).write.mode("append").parquet(s"$storeDir/days")
    }

  /** Merge split rows — flat appends AND stream batch slots — back to
    * one per (day, bin) in a new atomic snapshot (probes racing the swap
    * keep their planned version; the swap also sweeps `days_stream/`,
    * orphaned `.tmp-*` stages included). */
  def compactHistStore(spark: SparkSession, storeDir: String): Unit = {
    val w = readBinWidth(storeDir)
    publishDays(storeDir, s"binWidth=$w")(
      readDays(spark, storeDir).groupBy("day", "bin").agg(sum("cnt").as("cnt")))
  }

  private def readBinWidth(storeDir: String): Double = {
    val w = graft.ops.StoreLifecycle.readMeta(storeDir)("binWidth").toDouble
    require(w > 0, s"corrupt meta: binWidth=$w")
    w
  }

  /** `days/` as [[dayHistogram]] writes it; reads declare it, so building a
    * probe runs no schema-inference job. */
  private[graft] val daysSchema = "day DATE, bin BIGINT, cnt BIGINT"

  /** The store's full histogram relation: the flat batch-maintained
    * `days/` files plus every stream-published `days_stream/batch-*`
    * slot. One read path for every probe and the compaction, whichever
    * loop maintains the store. */
  private def readDays(spark: SparkSession, storeDir: String): DataFrame = {
    val streamRoot = new java.io.File(s"$storeDir/days_stream")
    val batchDirs = Option(streamRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch-"))
      .map(_.getPath).sorted.toSeq
    spark.read.schema(daysSchema).parquet(s"$storeDir/days" +: batchDirs: _*)
  }

  /** Fold ONE micro-batch in, EXACTLY-ONCE under at-least-once
    * `foreachBatch` replay: the batch's histogram is staged to a temp dir
    * and atomically RENAMED to its deterministic
    * `days_stream/batch-<id>` slot; a replayed batch finds the slot
    * occupied and no-ops. The HLL store gets replay safety from its
    * register MAX-fold — an ADDITIVE summary must get it from
    * publication atomicity instead, and the batchId-keyed rename is that
    * atom (a crash mid-stage leaves only an orphaned `.tmp-*`, swept by
    * the next [[compactHistStore]] snapshot). */
  def appendStreamBatch(events: DataFrame, storeDir: String, batchId: Long): Unit =
    graft.ops.StoreLifecycle.withWriterLock(storeDir) {
      val target = path(s"$storeDir/days_stream/batch-$batchId")
      if (!java.nio.file.Files.exists(target)) {
        val w = readBinWidth(storeDir)
        java.nio.file.Files.createDirectories(target.getParent)
        val tmp = path(s"$storeDir/days_stream/.tmp-" +
          java.util.UUID.randomUUID().toString.take(8))
        dayHistogram(events, w).write.mode("overwrite").parquet(tmp.toString)
        try java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException =>
            // a concurrent (or replayed) writer won the slot — theirs is
            // the batch's one publication; drop ours
            require(java.nio.file.Files.exists(target),
              s"stream batch publish failed and no winner exists at $target")
            graft.ops.Scale.deleteRecursively(tmp.toFile)
        }
      }
    }

  /** The crossing-bin interpolated estimate for quantile `q`, as a column
    * over the (bin, cnt, cum, n) relation. Exactly one row per group
    * satisfies the crossing predicate, so the max() picks it. */
  private def estCol(q: Double, w: Double): Column = {
    val target = lit(q) * col("n")
    round(max(when(col("cum") - col("cnt") < target && target <= col("cum"),
      (col("bin") * lit(w)) +
        ((target - (col("cum") - col("cnt"))) / col("cnt")) * lit(w))), 6)
      .as(f"est_p${(q * 100).round}%d")
  }

  /** Each row of `rows` (`day` plus payload) once per trailing
    * `windowDays` window that holds it, keyed by the window's last day
    * `anchor`, with `n_days` (bigint) the stored days in that window; only
    * stored-day anchors are kept. Shared by the trailing reports here and
    * in [[SketchStore]]. One partition is the right plan: a store relation
    * has at most days × bins rows (sketch store: days × append splits), so
    * 10 years × 1,000 bins × 7 anchors is 25M narrow rows in one task, and
    * one partition satisfies every clustering and ordering above it — the
    * report plans no exchange and runs as ONE Spark job. */
  private[ext] def trailingWindows(rows: DataFrame, windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays $windowDays must be positive")
    rows.coalesce(1)
      .withColumn("anchor", explode(sequence(col("day"), date_add(col("day"), windowDays - 1))))
      .withColumn("days", collect_set(col("day")).over(Window.partitionBy("anchor")))
      .filter(array_contains(col("days"), col("anchor")))
      .withColumn("n_days", size(col("days")).cast("bigint"))
      .drop("days")
  }

  /** Trailing-`windowDays` quantile report, one row per stored day:
    * (day, n_days, n, est_p50, est_p90, est_p99). The window's bin rows
    * SUM, then a bins-bounded window pass computes the running sum the
    * crossing-bin rule needs — one single-task job over the TINY store
    * relation ([[trailingWindows]]), raw events never read. Every column
    * is exact-deterministic — the oracle replays the math verbatim. */
  def trailingQuantiles(spark: SparkSession, storeDir: String,
                        windowDays: Int = 7,
                        qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad quantiles $qs")
    val w = readBinWidth(storeDir)
    trailingReport(trailingWindows(readDays(spark, storeDir), windowDays), w, qs)
  }

  /** The report over (anchor, bin, cnt, n_days) window rows. */
  private def trailingReport(win: DataFrame, w: Double, qs: Seq[Double]): DataFrame = {
    val cum = Window.partitionBy("anchor").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    win.groupBy("anchor", "bin").agg(sum("cnt").as("cnt"), max("n_days").as("n_days"))
      .withColumn("cum", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over(Window.partitionBy("anchor")))
      .groupBy("anchor")
      .agg(max("n_days").as("n_days"), max("n").as("n") +: qs.map(estCol(_, w)): _*)
      .select(Seq(col("anchor").as("day"), col("n_days"), col("n")) ++
        qs.map(q => col(f"est_p${(q * 100).round}%d")): _*)
      .orderBy("day")
  }

  /** Quantiles over an ARBITRARY `[startDay, endDay]` range — the store's
    * pitch made an entry point: the range's bin rows fold to ONE row
    * (n_days, n, est_p50, est_p90, est_p99); the day filter reads only
    * the range's O(days × bins) rows, raw events never. */
  def rangeQuantiles(spark: SparkSession, storeDir: String,
                     startDay: String, endDay: String,
                     qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad quantiles $qs")
    val w = readBinWidth(storeDir)
    // malformed dates and an inverted range are CALLER errors — refuse at
    // construction instead of silently matching zero rows
    val s = java.time.LocalDate.parse(startDay)
    require(!s.isAfter(java.time.LocalDate.parse(endDay)),
      s"rangeQuantiles: startDay $startDay is after endDay $endDay")
    // a GENUINE global prefix sum over the range's O(days × bins) store
    // rows, never raw events: one partition, as in [[trailingWindows]], so
    // the unpartitioned windows and global aggregate need no exchange
    val cum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    readDays(spark, storeDir)
      .filter(col("day").between(lit(startDay).cast("date"), lit(endDay).cast("date")))
      .coalesce(1)
      .withColumn("n_days", size(collect_set(col("day")).over()).cast("bigint"))
      .groupBy("bin").agg(sum("cnt").as("cnt"), max("n_days").as("n_days"))
      .withColumn("cum", sum("cnt").over(cum))
      .withColumn("n", sum("cnt").over())
      // a range covering no stored days still answers one row, n_days 0
      .agg(coalesce(max("n_days"), lit(0L)).as("n_days"),
        max("n").as("n") +: qs.map(estCol(_, w)): _*)
  }

  /** Day-over-day distribution-drift monitor on the stored report: each
    * day's trailing-window p50 against the previous day's, with the
    * relative shift and a >5% drift flag — the alerting verdict a
    * value-distribution monitor pages on (ingestion mix change, unit
    * regression upstream). Pure composition over [[trailingQuantiles]],
    * so it reads the same O(days × bins) store rows and every column is
    * exact-deterministic; the lag window runs in the report's one
    * partition over the days-bounded report relation, never the raw log. */
  def quantileDrift(spark: SparkSession, storeDir: String,
                    windowDays: Int = 7,
                    driftPct: Double = 0.05): DataFrame = {
    val rep = trailingQuantiles(spark, storeDir, windowDays)
    // day-over-day lag needs a total order over the REPORT relation — one
    // row per stored day, O(days), already in one partition
    val w = Window.orderBy("day")
    rep.withColumn("prev_p50", lag(col("est_p50"), 1).over(w))
      .filter(col("prev_p50").isNotNull)
      .withColumn("shift",
        round(abs(col("est_p50") - col("prev_p50")) / col("prev_p50"), 6))
      .withColumn("drifted", (col("shift") > lit(driftPct)).cast("int"))
      .select("day", "est_p50", "prev_p50", "shift", "drifted")
      .orderBy("day")
  }

  /** The IN-LINE twin: the same trailing report computed directly from
    * raw events (what a store-less pipeline pays per report) — the bench's
    * scale contrast; the binning stays parallel, only its result is one task. */
  def trailingQuantilesInline(events: DataFrame, windowDays: Int = 7,
                              binWidth: Double = 5.0,
                              qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    trailingReport(trailingWindows(dayHistogram(events, binWidth), windowDays),
      binWidth, qs)
}
