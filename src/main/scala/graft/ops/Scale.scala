package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale utilities for the shapes that only bite at 100 TB: skewed join
  * keys and scan pruning on clustered files. The reference never needs
  * these (whole result set in one Python process); on a 1000-executor
  * cluster they are the difference between a straggler task holding a stage
  * for hours and an even spread.
  */
object Scale {

  /** The rank-window-on-a-tiny-aggregate key: a constant-VALUED but
    * non-foldable expression over an existing column. `lit(1)` does NOT
    * work — Catalyst constant-folds it back to an empty partition spec and
    * WindowExec warns about (and plans) a partitionless window; this
    * expression survives folding, so the K-row rank window gets its one
    * INTENDED partition. Shared by every top-k ranking site (vocab, paths,
    * outliers, key skew, mixture). */
  def constKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(length(c.cast("string")) % 1, lit(0))

  /** Recursive local-filesystem delete — the store-lifecycle cleanup used
    * by the band-store race loser and the compaction swap, and Verify's
    * per-query output reset. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Skew-mitigated equi-join of a big `fact` against a big-ish `dim` that
    * is too large to broadcast but has hot join keys on the fact side.
    *
    * Standard salting: the fact side scatters each row into one of `salt`
    * sub-keys (deterministic row hash — no RNG, so retried tasks re-derive
    * the same salt), the dim side replicates each row to ALL `salt`
    * sub-keys, and the join runs on (key, salt). A key holding 10% of the
    * fact now spreads across `salt` tasks instead of one; dim shuffle
    * volume grows ×salt (bounded, chosen by the caller).
    *
    * AQE's skew-join split handles the same problem reactively when stats
    * surface it; this is the deterministic, plan-time tool for keys KNOWN
    * to be hot (the 100 TB "null key" / "default tenant" cases).
    *
    * Result equals the plain inner join column-for-column (spec-asserted):
    * salting only re-buckets rows, it never changes the match set. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salt: Int = 8): DataFrame = {
    require(salt > 0, "salt must be positive")
    val factCols = fact.columns.map(col).toIndexedSeq
    val fs = fact.withColumn("__salt", pmod(hash(factCols: _*), lit(salt)))
    val ds = dim.withColumn("__salt", explode(expr(s"sequence(0, ${salt - 1})")))
    fs.join(ds, fs(key) === ds(key) && fs("__salt") === ds("__salt"))
      .drop(ds(key)).drop(fs("__salt")).drop(ds("__salt"))
  }

  /** Join/groupBy KEY-SKEW triage — the diagnosis that decides between
    * [[saltedJoin]] and AQE: per-key row counts, top-`topK` heavy keys
    * with each key's share of all rows and its skew factor (count ÷ the
    * uniform per-key mean). A skew factor of 40 on a join key means that
    * key's task runs ~40× the average — the straggler report to read
    * BEFORE a 100 TB shuffle, not after it hangs.
    *
    * Scale shape: one (key) partial-agg shuffle with map-side combine
    * collapses the table to its key cardinality; the top-k is a
    * TakeOrdered heap over that aggregate (never a global sort); the
    * 1-row stats (key count, total) broadcast onto the K survivors.
    * Ties break key-asc NULLS LAST on the stringified key — total order
    * that matches DuckDB's bare ASC even when the key is NULL. */
  def keySkew(df: DataFrame, key: String, topK: Int = 10): DataFrame = {
    val counts = df.select(col(key).cast("string").as("key_value"))
      .groupBy("key_value").agg(count(lit(1)).as("n_rows"))
    val stats = counts.agg(count(lit(1)).cast("long").as("n_keys"),
      sum("n_rows").cast("long").as("total"))
    // asc_nulls_last: a NULL key (the classic skew key this operator
    // exists to find) must sort where DuckDB's bare ASC puts it (last),
    // or the topK cut and rank diverge from the oracle on a tie
    val top = counts
      .orderBy(col("n_rows").desc, col("key_value").asc_nulls_last).limit(topK)
      .withColumn("__one", constKey(col("n_rows")))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("__one").orderBy(col("n_rows").desc, col("key_value").asc_nulls_last)
    top.crossJoin(broadcast(stats))
      .withColumn("rank", row_number().over(rw))
      .select(col("rank").cast("int").as("rank"), col("key_value"), col("n_rows"),
        expr("round(n_rows / total, 6)").as("share"),
        expr("round(n_rows * n_keys / total, 6)").as("skew_factor"))
      .orderBy("rank")
  }

  /** Range-clustered parquet write: range-partition on `clusterCols` and
    * sort within each partition, so every output file covers a tight,
    * near-disjoint key range. Parquet row-group min/max stats on those
    * columns then let a filtered scan skip whole files — the table layout
    * that makes `WHERE date BETWEEN …` read 1/1000th of a 100 TB table.
    * `numFiles` sizes output files explicitly (the small-file problem is
    * the other half of this; aim for ~128 MB-1 GB per file at scale).
    *
    * `mode = "append"` adds a new clustered file SET beside the existing
    * ones (an incremental store batch): each batch's files still cover
    * tight, near-disjoint key ranges, so per-file min/max pruning keeps
    * working — a probe reads at most one file set's worth per batch.
    * Compact periodically when batch count grows. */
  def clusteredParquet(df: DataFrame, outDir: String, clusterCols: Seq[String],
                       numFiles: Int, mode: String = "overwrite"): Unit = {
    val cs = clusterCols.map(col)
    df.repartitionByRange(numFiles, cs: _*)
      .sortWithinPartitions(cs: _*)
      .write.mode(mode).parquet(outDir)
  }
}
