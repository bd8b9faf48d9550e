package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.ext.{HistStore, SketchStore}

/** The histogram and sketch store reports over a hand-built store with gap
  * days and split days: the values they answer and the Spark jobs they
  * run. */
class StoreReportSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(day: String) = java.sql.Timestamp.valueOf(s"2024-03-$day 12:00:00")
  private def date(day: String) = java.time.LocalDate.parse(s"2024-03-$day")

  /** Stored days 03-01, 03-02 and 03-06. Day 03-02 is split: the histogram
    * store holds it in its build, a flat append and a `days_stream` slot,
    * the sketch store in its build and an append. binWidth 5, so values
    * 1, 2 and 3 fall in bin 0, 7 and 8 in bin 1, 12 in bin 2. */
  private lazy val stores: (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_store_report").toString
    val (hist, sketch) = (s"$base/hist", s"$base/sketch")
    def ev(rows: (String, Long, Double)*): DataFrame =
      rows.map { case (d, u, v) => (ts(d), u, v) }.toDF("ts", "user_id", "value")
    HistStore.buildHistStore(ev(("01", 1L, 1.0), ("01", 2L, 2.0), ("02", 2L, 7.0),
      ("06", 5L, 3.0)), hist)
    HistStore.appendToHistStore(ev(("02", 3L, 8.0)), hist)
    HistStore.appendStreamBatch(ev(("02", 4L, 12.0)), hist, batchId = 0L)
    SketchStore.buildSketchStore(ev(("01", 1L, 1.0), ("01", 2L, 2.0), ("02", 2L, 7.0),
      ("02", 3L, 8.0), ("06", 5L, 3.0)), sketch)
    SketchStore.appendToSketchStore(ev(("02", 4L, 12.0)), sketch)
    (hist, sketch)
  }

  /** The hand-fixture reports on session `s`, whose rows give dates as
    * `dayClass`. */
  private def checkHandFixture(s: SparkSession, dayClass: Class[_]): Unit = {
    val (hist, sketch) = stores
    def day(r: Row) = {
      val d = r.getAs[Any]("day")
      assert(d.getClass === dayClass)
      d match {
        case d: java.time.LocalDate => d
        case d: java.sql.Date => d.toLocalDate
      }
    }
    // windowDays = 3. Anchor 03-01: window [02-28, 03-01] holds 03-01 (bin 0
    // cnt 2, n 2). Anchor 03-02: 03-01 and 03-02 (bin 0 cnt 2, bin 1 cnt
    // 1 + 1 from build and append, bin 2 cnt 1 from the stream slot; n 5).
    // Anchor 03-06: [03-04, 03-06] holds only 03-06 (bin 0 cnt 1). 03-03
    // has two stored days in its window but is not stored, so no row.
    // Estimates bin·5 + ((q·n − prev) / cnt)·5 at the crossing bin:
    //   03-01: p50 t=1 → 2.5, p90 t=1.8 → 4.5, p99 t=1.98 → 4.95
    //   03-02: p50 t=2.5 crosses bin 1 (2 < 2.5 ≤ 4) → 5 + 0.25·5 = 6.25,
    //          p90 t=4.5 crosses bin 2 → 10 + 0.5·5 = 12.5, p99 t=4.95 → 14.75
    //   03-06: p50 t=0.5 → 2.5, p90 t=0.9 → 4.5, p99 t=0.99 → 4.95
    val rep = HistStore.trailingQuantiles(s, hist, windowDays = 3).collect()
      .map(r => (day(r), r.getAs[Long]("n_days"), r.getAs[Long]("n"),
        r.getAs[Double]("est_p50"), r.getAs[Double]("est_p90"), r.getAs[Double]("est_p99")))
      .toSeq
    assert(rep === Seq(
      (date("01"), 1L, 2L, 2.5, 4.5, 4.95),
      (date("02"), 2L, 5L, 6.25, 12.5, 14.75),
      (date("06"), 1L, 1L, 2.5, 4.5, 4.95)))
    // drift over the same report: 03-02 against 03-01 (6.25 vs 2.5, shift
    // 1.5) and 03-06 against 03-02 (2.5 vs 6.25, shift 0.6)
    val drift = HistStore.quantileDrift(s, hist, windowDays = 3).collect()
      .map(r => (day(r), r.getAs[Double]("shift"), r.getAs[Int]("drifted"))).toSeq
    assert(drift === Seq((date("02"), 1.5, 1), (date("06"), 0.6, 1)))
    // users: 03-01 {1, 2}, 03-02 {2, 3} + appended {4}, 03-06 {5}; the
    // rounded HLL estimate is exact at this cardinality
    val sk = SketchStore.trailingDistinct(s, sketch, windowDays = 3).collect()
      .map(r => (day(r), r.getAs[Long]("n_days"), r.getAs[Long]("approx_users")))
      .toSeq
    assert(sk === Seq((date("01"), 1L, 2L), (date("02"), 2L, 4L), (date("06"), 1L, 1L)))
  }

  test("hand fixture with gap days: anchors are the stored days, n_days counts stored days in the window, split counts sum") {
    checkHandFixture(spark, classOf[java.sql.Date])
  }

  test("the hand fixture answers the same when rows give dates as java.time.LocalDate") {
    val java8 = spark.newSession()
    java8.conf.set("spark.sql.datetime.java8API.enabled", "true")
    checkHandFixture(java8, classOf[java.time.LocalDate])
  }

  test("building each store report runs no Spark job, and collecting it runs exactly one") {
    val (hist, sketch) = stores
    val reports: Seq[(String, () => DataFrame)] = Seq(
      "trailingQuantiles" -> (() => HistStore.trailingQuantiles(spark, hist)),
      "quantileDrift" -> (() => HistStore.quantileDrift(spark, hist)),
      "rangeQuantiles" -> (() => HistStore.rangeQuantiles(spark, hist, "2024-03-01", "2024-03-06")),
      "trailingDistinct" -> (() => SketchStore.trailingDistinct(spark, sketch)),
      "rangeDistinct" -> (() => SketchStore.rangeDistinct(spark, sketch, "2024-03-01", "2024-03-06")))
    for ((name, build) <- reports) {
      val (df, built) = SparkTestSession.jobsIn(build())
      val (rows, collected) = SparkTestSession.jobsIn(df.collect().length)
      assert(rows > 0, s"$name returned no rows")
      assert((built, collected) === ((0, 1)), s"$name: (build, collect) jobs")
    }
  }
}
