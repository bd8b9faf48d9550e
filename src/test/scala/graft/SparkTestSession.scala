package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one session per
  * suite via lazy val; sharing across suites is fine in one JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4)
  val sfDir = "/root/testdata/sf0.001"

  /** The reliable-checkpoint dir, one per test JVM and removed when the
    * JVM exits. Spark's checkpoint dir is JVM-global and cannot be unset,
    * so no suite may delete it; suites that need it share this one. */
  lazy val checkpointDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toFile
    sys.addShutdownHook(graft.ops.Scale.deleteRecursively(dir))
    spark.sparkContext.setCheckpointDir(dir.toString)
    dir.toString
  }
}
