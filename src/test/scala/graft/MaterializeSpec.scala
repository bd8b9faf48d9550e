package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.Materialize._

/** The r16 materialization seam (VERDICT r15 #4): by default
  * `materialize()` IS `localCheckpoint` (the r15 behavior, bit-identical);
  * under `spark.graft.materialize.reliable=true` it routes through the
  * fault-tolerant `Dataset.checkpoint`, so cluster deployments can trade
  * re-read cost for executor-loss survivability with one conf. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("default path: same rows, lineage cut to a materialized relation") {
    val df = spark.range(0, 100).select(col("id"), (col("id") * 3).as("v"))
    val m = df.materialize()
    assert(m.collect().map(_.getLong(1)).sorted.toSeq ===
      (0L until 100L).map(_ * 3).toSeq)
  }

  test("reliable=true writes through the reliable checkpoint dir; results identical; clusters end-to-end unchanged") {
    val dir = java.nio.file.Paths.get(SparkTestSession.checkpointDir)
    // the dir is shared with other suites: count files, not emptiness
    def files() = {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count() finally s.close()
    }
    val filesBefore = files()
    spark.conf.set("spark.graft.materialize.reliable", "true")
    try {
      val df = spark.range(0, 50).select(col("id"), (col("id") + 7).as("v"))
      val m = df.materialize()
      assert(m.collect().map(_.getLong(1)).sorted.toSeq ===
        (7L until 57L).toSeq)
      // the reliable path must actually land blocks in the checkpoint dir
      assert(files() > filesBefore, s"reliable materialize wrote nothing to $dir")
      // end-to-end through the closure's one materialize site (its
      // spanning forest): same labels as the conf-off default
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 4L)).toDF("a", "b")
      val reliable = ext.Dedup.clusters(pairs).collect().map(_.toSeq).toSeq
      spark.conf.set("spark.graft.materialize.reliable", "false")
      val local = ext.Dedup.clusters(pairs).collect().map(_.toSeq).toSeq
      assert(reliable === local)
    } finally spark.conf.set("spark.graft.materialize.reliable", "false")
  }
}
