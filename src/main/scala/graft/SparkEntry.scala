package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by capability module:
  *   - [[ParityQueries]]  — reference-parity operators (SURVEY.md §2.1-2.6)
  *   - [[ExtQueries]]     — LLM-data-pipeline extensions (SURVEY.md §2.8)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SalesforceToS3Operator happy path (SURVEY.md §7.2 step 1):
    * scan → project → shape → epoch coercion → audit column. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val shaped = ParityQueries.queries("extract_shape_lineitem")(spark, dir)
    ops.Shape.auditColumn(shaped, System.currentTimeMillis())
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ParityQueries.queries ++ ExtQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ParityQueries.oracles ++ ExtQueries.oracles
}
