package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits nonzero
  * when any query fails. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name substrings to run a subset locally
    val only: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(','); n => pats.exists(n.contains) }
      else _ => true
    val spark = GraftSession()
    val failed = run(spark, sfDir, outDir, only)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each selected query's result to `<outDir>/<name>` and returns
    * the names that failed. A query's previous output is deleted before it
    * runs, so a query that throws leaves no stale parquet for the oracle
    * compare to match. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: String => Boolean): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.filter(kv => only(kv._1)).flatMap { case (name, fn) =>
      ops.Scale.deleteRecursively(new java.io.File(s"$outDir/$name"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
  }
}
