package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * Quantile math (the kernel follows the oracle's operation order):
  * within a window, cum = running sum of cnt in bin order, n = window
  * total; for target rank t = q·n the CROSSING bin is the unique row with
  * cum − cnt < t ≤ cum (cnt ≥ 1 keeps cum strictly increasing), and the
  * estimate is bin·w + ((t − (cum − cnt)) / cnt)·w — exact linear
  * interpolation, one IEEE division, identical operation order on both
  * engines.
  *
  * Each report is one kernel: `coalesce(1)` and one `mapPartitions` that
  * folds the store rows into day → (bin → cnt) and walks the stored days
  * in order, so a report compiles a scan and one map instead of a chain of
  * window, aggregate and sort operators. Memory bound: the task holds the
  * folded histogram, at most days × bins (bin, cnt) pairs kept per day in
  * primitive arrays at 16 B a pair — 10 years × 1,000 bins is about 58 MB;
  * while folding, each store row takes 16 B (up to twice that in growth
  * headroom) until its day is summed. */
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

  /** A histogram folded in memory: its bins ascending with each bin's
    * summed count, and the count of the null bin (rows whose value was
    * null), which sorts before every bin as Spark's ascending order puts
    * nulls first. Primitive arrays, 16 B per (bin, cnt) pair. */
  private final class Hist(val nullCnt: Long, val bins: Array[Long], val cnts: Array[Long]) {
    def n: Long = cnts.foldLeft(nullCnt)(_ + _)
  }

  /** Collects (bin, cnt) rows in any order, split rows included, and sums
    * them per bin into a [[Hist]]. */
  private final class HistBuilder {
    private var bins = new Array[Long](8)
    private var cnts = new Array[Long](8)
    private var rows = 0
    private var nullCnt = 0L

    def addNull(cnt: Long): Unit = nullCnt += cnt

    def add(bin: Long, cnt: Long): Unit = {
      if (rows == bins.length) {
        bins = java.util.Arrays.copyOf(bins, 2 * rows)
        cnts = java.util.Arrays.copyOf(cnts, 2 * rows)
      }
      bins(rows) = bin; cnts(rows) = cnt; rows += 1
    }

    def add(h: Hist): Unit = {
      addNull(h.nullCnt)
      for (i <- h.bins.indices) add(h.bins(i), h.cnts(i))
    }

    def result(): Hist = {
      val keys = java.util.Arrays.copyOf(bins, rows)
      java.util.Arrays.sort(keys)
      var k = 0
      for (b <- keys) if (k == 0 || keys(k - 1) != b) { keys(k) = b; k += 1 }
      val sums = new Array[Long](k)
      for (i <- 0 until rows) sums(java.util.Arrays.binarySearch(keys, 0, k, bins(i))) += cnts(i)
      new Hist(nullCnt, java.util.Arrays.copyOf(keys, k), sums)
    }
  }

  /** (epoch day, bin, cnt) in one partition: the rows every histogram
    * kernel folds. Days travel as epoch-day ints (`unix_date` in,
    * `date_from_unix_date` out), so no kernel depends on whether a `Row`
    * gives dates as `java.sql.Date` or `java.time.LocalDate`
    * (`spark.sql.datetime.java8API.enabled`). */
  private def kernelInput(hist: DataFrame): DataFrame =
    hist.select(unix_date(col("day")), col("bin"), col("cnt")).coalesce(1)

  /** One histogram per stored day, ascending by day; a day's split rows
    * sum per bin. Rows without a day belong to no day and are dropped. */
  private def foldDays(rows: Iterator[Row]): Array[(Int, Hist)] = {
    val days = scala.collection.mutable.HashMap.empty[Int, HistBuilder]
    for (r <- rows if !r.isNullAt(0)) {
      val b = days.getOrElseUpdate(r.getInt(0), new HistBuilder)
      if (r.isNullAt(1)) b.addNull(r.getLong(2)) else b.add(r.getLong(1), r.getLong(2))
    }
    days.iterator.map { case (d, b) => d -> b.result() }.toArray.sortBy(_._1)
  }

  /** For each stored day, ascending: the day, the number of stored days in
    * its trailing window `[day − windowDays + 1, day]`, and the merged
    * histogram of those days. */
  private def trailingHists(days: Array[(Int, Hist)], windowDays: Int): Iterator[(Int, Int, Hist)] =
    days.indices.iterator.map { i =>
      val anchor = days(i)._1
      var j = i
      while (j > 0 && days(j - 1)._1 > anchor - windowDays) j -= 1
      val merged = new HistBuilder
      for (k <- j to i) merged.add(days(k)._2)
      (anchor, i - j + 1, merged.result())
    }

  /** Spark's `round(x, 6)` on a double, HALF_UP on the decimal form. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The crossing-bin interpolated estimate for quantile `q`, in the
    * oracle's operation order: t = q·n as a double, before = cum − cnt as
    * a long, the crossing bin is the one with before < t ≤ cum, and the
    * estimate is bin·w + ((t − before) / cnt)·w, rounded to 6 decimals.
    * The null bin counts toward cum but has no estimate; the max over
    * crossing bins mirrors the oracle, though cnt ≥ 1 makes it unique.
    * Null (boxed) when no bin crosses. */
  private def estimate(h: Hist, q: Double, w: Double): java.lang.Double = {
    val t = q * h.n
    var cum = h.nullCnt
    var est: java.lang.Double = null
    for (i <- h.bins.indices) {
      val before = cum
      cum += h.cnts(i)
      if (before < t && t <= cum) {
        val e = h.bins(i) * w + ((t - before) / h.cnts(i)) * w
        if (est == null || e > est) est = e
      }
    }
    if (est == null) null else round6(est)
  }

  private def estName(q: Double) = f"est_p${(q * 100).round}%d"

  private def checkQuantiles(qs: Seq[Double]): Unit =
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"bad quantiles $qs")

  /** Trailing-`windowDays` quantile report, one row per stored day:
    * (day, n_days, n, est_p50, est_p90, est_p99). The store relation is
    * read in one task and folded there ([[trailingReport]]), raw events
    * never read. Every column is exact-deterministic — the kernel follows
    * the oracle's operation order. */
  def trailingQuantiles(spark: SparkSession, storeDir: String,
                        windowDays: Int = 7,
                        qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    trailingReport(readDays(spark, storeDir), readBinWidth(storeDir), windowDays, qs)

  /** The trailing report over a (day, bin, cnt) relation, as one kernel
    * (see the object doc for its memory bound): the rows fold into
    * day → (bin → cnt), then the stored days are walked in order. */
  private[graft] def trailingReport(hist: DataFrame, w: Double, windowDays: Int,
                                    qs: Seq[Double]): DataFrame = {
    require(windowDays >= 1, s"windowDays $windowDays must be positive")
    checkQuantiles(qs)
    val qa = qs.toArray
    val out = StructType.fromDDL("day INT, n_days BIGINT, n BIGINT" +
      qs.map(q => s", ${estName(q)} DOUBLE").mkString)
    kernelInput(hist).mapPartitions { rows =>
      trailingHists(foldDays(rows), windowDays).map { case (day, nDays, h) =>
        Row.fromSeq(Seq[Any](day, nDays.toLong, h.n) ++ qa.map(estimate(h, _, w)))
      }
    }(Encoders.row(out)).withColumn("day", date_from_unix_date(col("day")))
  }

  /** Quantiles over an ARBITRARY `[startDay, endDay]` range — the store's
    * pitch made an entry point: the range's bin rows fold to ONE row
    * (n_days, n, est_p50, est_p90, est_p99); the day filter reads only
    * the range's O(days × bins) rows, raw events never. */
  def rangeQuantiles(spark: SparkSession, storeDir: String,
                     startDay: String, endDay: String,
                     qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val w = readBinWidth(storeDir)
    // malformed dates and an inverted range are CALLER errors — refuse at
    // construction instead of silently matching zero rows
    val s = java.time.LocalDate.parse(startDay)
    require(!s.isAfter(java.time.LocalDate.parse(endDay)),
      s"rangeQuantiles: startDay $startDay is after endDay $endDay")
    rangeReport(readDays(spark, storeDir)
      .filter(col("day").between(lit(startDay).cast("date"), lit(endDay).cast("date"))), w, qs)
  }

  /** The range report over a (day, bin, cnt) relation already cut to the
    * range: every row folds into one histogram in one task. A range with
    * no stored days still answers one row: n_days 0, the rest null. The
    * row comes from the one task `coalesce(1)` runs over a relation read at
    * execution, as a store read is; a relation the planner already knows
    * to be empty plans no task and answers no row. */
  private[graft] def rangeReport(hist: DataFrame, w: Double, qs: Seq[Double]): DataFrame = {
    checkQuantiles(qs)
    val qa = qs.toArray
    val out = StructType.fromDDL("n_days BIGINT, n BIGINT" +
      qs.map(q => s", ${estName(q)} DOUBLE").mkString)
    kernelInput(hist).mapPartitions { rows =>
      val days = foldDays(rows)
      val all = new HistBuilder
      days.foreach { case (_, h) => all.add(h) }
      val h = all.result()
      Iterator.single(
        if (days.isEmpty) Row.fromSeq(0L +: Seq.fill(1 + qa.length)(null))
        else Row.fromSeq(Seq[Any](days.length.toLong, h.n) ++ qa.map(estimate(h, _, w))))
    }(Encoders.row(out))
  }

  /** Day-over-day distribution-drift monitor on the stored report: each
    * day's trailing-window p50 against the previous day's, with the
    * relative shift and a >5% drift flag — the alerting verdict a
    * value-distribution monitor pages on (ingestion mix change, unit
    * regression upstream). The same kernel as [[trailingQuantiles]] pairs
    * each report row with the one before it, so it reads the same
    * O(days × bins) store rows and every column is exact-deterministic. */
  def quantileDrift(spark: SparkSession, storeDir: String,
                    windowDays: Int = 7,
                    driftPct: Double = 0.05): DataFrame =
    driftReport(readDays(spark, storeDir), readBinWidth(storeDir), windowDays, driftPct)

  /** The drift report over a (day, bin, cnt) relation: (day, est_p50,
    * prev_p50, shift, drifted) for each stored day after the first whose
    * previous report row has a p50. shift = round6(|p50 − prev| / prev),
    * and the flag compares the rounded shift. A zero prev divides by zero
    * as Spark's division does: an error under ANSI mode, else null. */
  private[graft] def driftReport(hist: DataFrame, w: Double, windowDays: Int,
                                 driftPct: Double): DataFrame = {
    require(windowDays >= 1, s"windowDays $windowDays must be positive")
    val ansi = hist.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    val out = StructType.fromDDL(
      "day INT, est_p50 DOUBLE, prev_p50 DOUBLE, shift DOUBLE, drifted INT")
    kernelInput(hist).mapPartitions { rows =>
      val p50 = trailingHists(foldDays(rows), windowDays)
        .map { case (day, _, h) => (day, estimate(h, 0.5, w)) }.toSeq
      p50.zip(p50.drop(1)).collect { case ((_, prev), (day, cur)) if prev != null =>
        val shift: java.lang.Double =
          if (cur == null) null
          else if (prev.doubleValue == 0.0) {
            if (ansi) throw new ArithmeticException(
              s"[DIVIDE_BY_ZERO] quantileDrift: the p50 before ${java.time.LocalDate.ofEpochDay(day)} is 0")
            null
          } else round6(math.abs(cur - prev) / prev)
        val drifted = if (shift == null) null else Int.box(if (shift.doubleValue > driftPct) 1 else 0)
        Row(day, cur, prev, shift, drifted)
      }.iterator
    }(Encoders.row(out)).withColumn("day", date_from_unix_date(col("day")))
  }

  /** The IN-LINE twin: the same trailing report computed directly from
    * raw events (what a store-less pipeline pays per report) — the bench's
    * scale contrast; the binning stays parallel, only the kernel is one task. */
  def trailingQuantilesInline(events: DataFrame, windowDays: Int = 7,
                              binWidth: Double = 5.0,
                              qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    trailingReport(dayHistogram(events, binWidth), binWidth, windowDays, qs)
}
