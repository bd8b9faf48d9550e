package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` parsing: a set value must be a positive integer,
  * unset falls back to the machine's processors, and anything else fails
  * loudly before it can reach `local[...]` or a bench artifact. */
class GraftSessionSpec extends AnyFunSuite {

  test("a positive integer is the core count") {
    assert(GraftSession.parseCpus(Some("4")) === 4)
    assert(GraftSession.parseCpus(Some(" 32 ")) === 32)
  }

  test("unset falls back to availableProcessors") {
    assert(GraftSession.parseCpus(None) === Runtime.getRuntime.availableProcessors)
  }

  for (bad <- Seq("*", "0", "-2", "abc", "", "4.5"))
    test(s"malformed value '$bad' is rejected with the variable named") {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
      assert(e.getMessage.contains(s"'$bad'"))
    }

  test("the test session runs under the factory's conf") {
    val conf = SparkTestSession.spark.conf
    assert(SparkTestSession.spark.sparkContext.master === "local[4]")
    // tuning stays out of the factory: these keys read Spark's defaults,
    // the conf the perfbench harness times
    val defaults = new org.apache.spark.sql.internal.SQLConf
    for (key <- Seq("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                    "spark.sql.files.maxPartitionBytes")) {
      assert(!SparkTestSession.spark.sparkContext.getConf.contains(key), key)
      assert(conf.get(key) === defaults.getConfString(key), key)
    }
  }
}
