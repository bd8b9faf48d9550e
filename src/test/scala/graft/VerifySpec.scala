package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.run` must not let a failing query pass on an earlier run's
  * output: the query's dir is removed before it runs, and its name comes
  * back as failed. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a query that throws is reported failed and leaves no stale output") {
    val out = Files.createTempDirectory("verify-spec").toFile
    try {
      val name = "extract_shape_lineitem"
      val stale = new java.io.File(out, name)
      assert(stale.mkdirs())
      Files.writeString(new java.io.File(stale, "part-00000.parquet").toPath, "stale")
      val missing = new java.io.File(out, "no_such_sf").getPath
      val failed = Verify.run(spark, missing, out.getPath, _ == name)
      assert(failed === Seq(name))
      assert(!stale.exists(), "the stale output dir survived the failed query")
    } finally ops.Scale.deleteRecursively(out)
  }
}
