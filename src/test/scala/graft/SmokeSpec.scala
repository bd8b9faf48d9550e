package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's t1 smoke contract: SparkEntry.entry returns rows on
  * sf0.001, and every registered query name has resolvable wiring. */
class SmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("entry flagship returns rows with the audit column stamped") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.contains("time_fetched_from_salesforce_at"))
    assert(df.limit(1).count() === 1)
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val orphanOracles = SparkEntry.oracleSql.keySet -- qs
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
  }

  test("README operator counts track SparkEntry (no hand-edit drift)") {
    // This guard failed in r7 AND r8 because new operators landed after
    // the last hand-edit. The test only reads: the committed README must
    // carry the live counts, and a failure names the number to type.
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = """(\d+) driver-checked""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README lost its 'N driver-checked' line")
    assert(m.get.group(1).toInt === SparkEntry.queries.size,
      s"README says ${m.get.group(1)} but SparkEntry.queries has ${SparkEntry.queries.size}")
    val h = """(\d+)\s*\nhash-match""".r.findFirstMatchIn(readme)
    assert(h.isDefined && h.get.group(1).toInt === SparkEntry.oracleSql.size,
      s"README hash-match count vs oracleSql.size=${SparkEntry.oracleSql.size}")
  }
}
