package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. [[Verify]] and the test session build
  * through [[apply]], so the oracle check and the specs run under one
  * conf. The only parameter is the core count; everything else is a
  * constant here. */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS` when set, else this machine's
    * processors. */
  def envCpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** A set value must be a positive integer; anything else (`*`, `0`,
    * `abc`) fails loudly instead of reaching `local[...]` or a JSON
    * artifact. */
  private[graft] def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def apply(cpus: Int = envCpus): SparkSession = {
    require(cpus > 0, s"core count must be positive, got $cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // Each value below was A/B'd at 32 and 8 cores (OPTIMIZATION_r16.md
      // item #2). Those A/Bs always ran the base in the slow first slot;
      // unbiased runs found the total flat, so treat the gains as
      // unconfirmed.
      // - parallelismFirst=false: AQE coalesces post-shuffle partitions to
      //   the advisory size instead of preserving core-count parallelism
      //   (32c total 200.2→155.9 s, 8c 190.5→140.8 s). The compute-dense
      //   exceptions (Σ df² pair tiles, the levenshtein DP) pin their own
      //   width via Dedup.explodingJoinParts, which AQE honors.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // - advisory 4m is the local grain: sf0.1's per-core work quantum
      //   (the 64m default folded 10-70 MB CPU-bound stages to ONE
      //   partition — dedup_containment +47%). A 100 TB deployment wants
      //   100 MB-1 GB reduce partitions; no operator assumes this value.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      // - 512m input splits cut the scan-task count; measured neutral to
      //   positive at sf0.1 (155.9 vs 158.9 s).
      .config("spark.sql.files.maxPartitionBytes", "512m")
      // - shuffle codec: zstd vs lz4 measured a wash at sf0.1 (median
      //   ratio 1.004 over the shuffle-heavy subset, 4 alternating JVMs);
      //   shuffles here are too small to tell them apart.
      .config("spark.io.compression.codec", "lz4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
