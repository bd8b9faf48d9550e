package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-gated EXACT incremental dedup — the store-free membership twin of
  * [[Dedup.exact]]'s key space (the same 80-char-prefix content key), and
  * the cheapest possible "have we seen this document before?" gate at
  * corpus scale: the whole history collapses to a bit array (~9.6 bits per
  * key at 1% false-positive rate — ~1.2 GB per billion docs), so the daily
  * increment is gated by a stateless codegen'd predicate with NO join, NO
  * shuffle, and NO scan of historical text (plan-locked in PlanSpec). The
  * public-literature shape is the Bloom-filter dedup pass of large corpus
  * pipelines (Dolma's deduper; Bloom 1970); the Spark-native realization
  * reuses the engine's own machinery — the filter is built by the public
  * `DataFrameStatFunctions.bloomFilter` (a treeAggregate of per-partition
  * bit arrays: the driver only ever holds the final bytes, never rows) and
  * probed by the built-in `BloomFilterMightContain` predicate (the same
  * codegen'd expression Spark's runtime row-level filter injection uses),
  * registered as `bloom_might_contain` so it is callable over a folded
  * filter literal.
  *
  * The guarantee is one-sided, which is exactly what a dedup GATE wants: a
  * Bloom filter has NO false negatives — a true duplicate can never slip
  * through — while a false positive only sends a fresh doc to the (cheap
  * because rare) exact confirmation, a loss bounded by `fpp`. Both halves
  * are spec'd: the no-false-negative property over fuzz corpora, and the
  * measured FP rate within bound on a tightly-sized filter
  * (BloomDedupSpec).
  *
  * Store lifecycle ([[buildBloomStore]] / [[appendToBloomStore]] /
  * [[probeStored]]): the 6th stored index in the incremental-dedup family,
  * and the only one whose append is BITWISE — merging an increment's
  * filter is an order-independent OR of equal-sized bit arrays, so
  * append ≡ rebuild EXACTLY (byte-identical store bytes, spec-asserted)
  * and no compaction verb is needed at all. Publication follows the
  * family's rename-atomic discipline: build to a side directory, swap via
  * atomic moves, a crash leaves a recoverable `.old`.
  *
  * Scale limits, stated: one filter serves the `expectedItems` it was
  * sized for — sizing is a deliberate parameter (a known corpus estimate),
  * never inferred, because re-sizing means rebuild and an undersized
  * filter silently degrades fpp. Beyond ~4B keys per filter, shard by a
  * hash prefix into k filters probed by k plan branches (the filter
  * argument must stay a foldable literal for the codegen'd predicate), or
  * accept a higher fpp; the bit array itself ships to executors once per
  * query as a literal, the same transport as a broadcast.
  */
object BloomDedup {

  /** ONE definition of the content key, shared by build / probe / gate /
    * streaming twin and replayed verbatim by the DuckDB oracle:
    * [[Dedup.exact]]'s 80-char prefix, so the gate answers membership in
    * exactly the key space the batch exact-dedup keeps one doc per. */
  private[graft] def contentKey(textCol: Column): Column =
    substring(textCol, 1, 80)

  private def keyHash(textCol: Column): Column = xxhash64(contentKey(textCol))

  /** Build the history filter: one narrow scan of the key column,
    * treeAggregate of per-partition bit arrays. Deterministic regardless
    * of partitioning: the bit array is an order-independent OR of per-key
    * hash positions. */
  def buildFilterBytes(history: DataFrame, expectedItems: Long,
                       fpp: Double = 0.01,
                       textCol: String = "text"): Array[Byte] = {
    require(expectedItems > 0, "size the filter from a known corpus estimate")
    val bf = history.select(keyHash(col(textCol)).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** The probe predicate: `bloom_might_contain(<filter literal>,
    * xxhash64(key))` — stateless, codegen'd, foldable filter argument. */
  private[graft] def probeCol(filterBytes: Array[Byte],
                              textCol: Column): Column =
    call_function("bloom_might_contain", lit(filterBytes), keyHash(textCol))

  /** PRODUCTION probe: the incoming rows plus `bloom_hit`, nothing else —
    * no join, no shuffle, no history scan (plan-locked). This is the shape
    * a 100-TB daily run executes; [[exactBloomGate]] wraps it with the
    * exact confirmation the oracle checks. */
  def probe(incoming: DataFrame, filterBytes: Array[Byte],
            textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(incoming.sparkSession)
    incoming.withColumn("bloom_hit", probeCol(filterBytes, col(textCol)))
  }

  /** Oracle-facing end-to-end gate: build the filter over `history`, probe
    * `incoming`, confirm every verdict with the exact key join (the
    * verification the gate exists to make rare), and emit the two
    * one-sided guarantees as checkable columns — `missed_by_bloom` must be
    * universally FALSE (no false negatives, structural), `fp_within_bound`
    * universally TRUE (measured FP rate ≤ `fpBoundFactor`·fpp). The oracle
    * replays `exact_dup` exactly and pins both flags to their guaranteed
    * constants, so any violation hash-mismatches. */
  def exactBloomGate(history: DataFrame, incoming: DataFrame,
                     expectedItems: Long, fpp: Double = 0.01,
                     fpBoundFactor: Double = 3.0): DataFrame =
    gateOutput(probe(incoming, buildFilterBytes(history, expectedItems, fpp)),
      history, fpp * fpBoundFactor)

  /** The stored gate's FP-bound MULTIPLIER (bound = factor · the fpp the
    * store's meta records) — a distinct type, not a bare Double, because
    * this slot previously held an ABSOLUTE bound: a stale positional
    * caller passing 0.03 would otherwise silently get 0.03 × fpp, a 100×
    * tighter check with no compile error. */
  final case class FpBoundFactor(value: Double) {
    require(value >= 1.0, s"fp bound factor $value < 1 can reject a filter meeting its own design fpp")
  }

  /** [[exactBloomGate]] probing a PRECOMPUTED store instead of building
    * the filter in-line — same output, same oracle; `history` is joined
    * only for the exact confirmation columns. The FP bound derives from
    * the fpp the store's meta.txt RECORDS ([[FpBoundFactor]] · stored
    * fpp), so a store built with a non-default fpp is judged against its
    * own design point, never a hardcoded constant. */
  def gateStored(incoming: DataFrame, storeDir: String, history: DataFrame,
                 factor: FpBoundFactor = FpBoundFactor(3.0)): DataFrame =
    gateOutput(probeStored(incoming, storeDir), history,
      factor.value * readMeta(storeDir)._2)

  private def gateOutput(probed: DataFrame, history: DataFrame,
                         fpBound: Double): DataFrame = {
    val histKeys = history
      .select(contentKey(col("text")).as("k")).distinct()
      .withColumn("seen", lit(true))
    val confirmed = probed
      .withColumn("k", contentKey(col("text")))
      .join(histKeys, Seq("k"), "left")
      .withColumn("exact_dup", coalesce(col("seen"), lit(false)))
      .withColumn("missed_by_bloom", col("exact_dup") && !col("bloom_hit"))
    // FP rate over the true negatives; the denominator guard only fires on
    // an all-duplicate increment, where the FP rate is vacuously 0
    val fpStats = confirmed.agg(
      (sum(when(col("bloom_hit") && !col("exact_dup"), 1L).otherwise(0L)) /
        greatest(sum(when(!col("exact_dup"), 1L).otherwise(0L)), lit(1L)))
        .as("fp_rate"))
      .select((col("fp_rate") <= fpBound).as("fp_within_bound"))
    confirmed
      .crossJoin(broadcast(fpStats))
      .select(col("doc_id"), col("exact_dup"), col("missed_by_bloom"),
        col("fp_within_bound"))
      .orderBy("doc_id")
  }

  // ---- store lifecycle --------------------------------------------------

  private def binPath(storeDir: String) = s"$storeDir/bloom.bin"

  /** Write `storeDir/{bloom.bin, meta.txt, _SUCCESS}` via the family's
    * build-then-atomic-swap discipline. meta.txt records the sizing params
    * because every future [[appendToBloomStore]] MUST build its increment
    * filter with the same (expectedItems, fpp) — equal bit-array size and
    * hash count are what make the merge a plain OR. */
  def buildBloomStore(history: DataFrame, storeDir: String,
                      expectedItems: Long, fpp: Double = 0.01): Unit =
    publish(storeDir, buildFilterBytes(history, expectedItems, fpp),
      expectedItems, fpp)

  /** O(increment) append: hash only the increment, OR its filter into the
    * live bytes, republish atomically. Order-independent and idempotent
    * per key — append ≡ rebuild byte-for-byte (spec-asserted), so there is
    * no compaction debt, ever.
    *
    * SINGLE-WRITER, like every mutating store verb (the
    * [[graft.ops.StoreLifecycle]] contract): the read-merge-publish is
    * guarded against TORN stores (`readMeta` requires the `_SUCCESS`
    * marker, so a half-published store is never merged into) but not
    * against concurrent appends — two writers OR-merging in parallel is a
    * lost-update race (last publish wins one increment's bits away); the
    * daily loop's one owner runs it. */
  def appendToBloomStore(increment: DataFrame, storeDir: String): Unit =
    // the writer lock spans the whole READ-merge-publish, not just the
    // inner publish — two appends interleaving their reads is exactly the
    // lost-bits race the lock exists to refuse
    graft.ops.StoreLifecycle.withWriterLock(storeDir) {
    val (expectedItems, fpp) = readMeta(storeDir)
    val live = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(binPath(storeDir)))))
    val inc = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(
        buildFilterBytes(increment, expectedItems, fpp)))
    live.mergeInPlace(inc)
    val bos = new java.io.ByteArrayOutputStream()
    live.writeTo(bos)
    publish(storeDir, bos.toByteArray, expectedItems, fpp)
    }

  /** Probe against the stored filter: reading the store costs exactly the
    * filter bytes (bounded by sizing, never by corpus rows), and the probe
    * plan is [[probe]]'s — one scan of the increment, zero joins. */
  def probeStored(incoming: DataFrame, storeDir: String,
                  textCol: String = "text"): DataFrame = {
    readMeta(storeDir) // _SUCCESS guard: never probe a torn store
    probe(incoming, java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(binPath(storeDir))), textCol)
  }

  /** Read the store's recorded sizing params through the shared
    * [[graft.ops.StoreLifecycle.readMeta]], which refuses a torn store: the
    * `_SUCCESS` marker is written last inside the published snapshot, so
    * its absence means a half-written or foreign directory. Package-open
    * so composite stores (the triage root) can VALIDATE their embedded
    * Bloom snapshot before copying it forward at compact time. */
  private[ext] def readMeta(storeDir: String): (Long, Double) = {
    val kv = graft.ops.StoreLifecycle.readMeta(storeDir)
    (kv("expectedItems").toLong, kv("fpp").toDouble)
  }

  private def publish(storeDir: String, bytes: Array[Byte],
                      expectedItems: Long, fpp: Double): Unit =
    graft.ops.StoreLifecycle.publish(storeDir) { tmp =>
      val next = java.nio.file.Paths.get(tmp)
      java.nio.file.Files.createDirectories(next)
      java.nio.file.Files.write(next.resolve("bloom.bin"), bytes)
      java.nio.file.Files.write(next.resolve("meta.txt"),
        s"expectedItems=$expectedItems\nfpp=$fpp\n".getBytes("UTF-8"))
      java.nio.file.Files.write(next.resolve("_SUCCESS"), Array.empty[Byte])
    }
}
