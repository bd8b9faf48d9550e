package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tool: dump `.explain("formatted")` for queries to
  * files, for the plans/r{N}/ before/after artifacts. No execution — plans
  * only. Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [patterns]
  * (patterns = comma-separated name substrings; default = bench queries).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2) // e.g. "before" | "after"
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 3) {
        val ps = args(3).split(',')
        SparkEntry.queries.keys.toSeq.sorted.filter(n => ps.exists(n.contains))
      } else SparkEntry.benchQueries
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        val nEx = "Exchange".r.findAllIn(plan).length
        println(s"[plandump] $name: ${plan.linesIterator.length} lines, $nEx Exchange-mentions")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
