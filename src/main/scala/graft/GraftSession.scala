package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. [[Verify]] and the test session build
  * through [[apply]], so the oracle check and the specs run under one
  * conf. It sets deployment settings only (master, shuffle width,
  * timezone, UI, warehouse dir, log level) and leaves every tuning key at
  * Spark's default, the same conf the perfbench harness times. The only
  * parameter is the core count. */
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
