package graft

import scala.util.Try
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.{AnyOperators, propBoolean}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ext.{HistStore, SketchStore}

/** The store report kernels against the SQL formulation they replaced:
  * random small histogram and sketch relations (gap days, (day, bin) rows
  * split across several rows, null bins and days), every report row for
  * row, with no tolerance. */
class StoreKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Raw-ScalaCheck bridge, as in `SfSchemaSpec`; no shrinking, because
    * every case runs Spark jobs. */
  private def checkProp(n: Int)(p: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private val day0 = java.time.LocalDate.parse("2024-03-01")
  private def date(offset: Int) = java.sql.Date.valueOf(day0.plusDays(offset))

  /** The reports as Spark SQL operator chains: the formulation the
    * kernels replaced, kept here as their reference. */
  private object Reference {
    def trailingWindows(rows: DataFrame, windowDays: Int): DataFrame =
      rows.coalesce(1)
        .withColumn("anchor", explode(sequence(col("day"), date_add(col("day"), windowDays - 1))))
        .withColumn("days", collect_set(col("day")).over(Window.partitionBy("anchor")))
        .filter(array_contains(col("days"), col("anchor")))
        .withColumn("n_days", size(col("days")).cast("bigint"))
        .drop("days")

    def estCol(q: Double, w: Double): Column = {
      val target = lit(q) * col("n")
      round(max(when(col("cum") - col("cnt") < target && target <= col("cum"),
        (col("bin") * lit(w)) +
          ((target - (col("cum") - col("cnt"))) / col("cnt")) * lit(w))), 6)
        .as(f"est_p${(q * 100).round}%d")
    }

    def trailingReport(hist: DataFrame, w: Double, windowDays: Int, qs: Seq[Double]): DataFrame = {
      val cum = Window.partitionBy("anchor").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      trailingWindows(hist, windowDays)
        .groupBy("anchor", "bin").agg(sum("cnt").as("cnt"), max("n_days").as("n_days"))
        .withColumn("cum", sum("cnt").over(cum))
        .withColumn("n", sum("cnt").over(Window.partitionBy("anchor")))
        .groupBy("anchor")
        .agg(max("n_days").as("n_days"), max("n").as("n") +: qs.map(estCol(_, w)): _*)
        .select(Seq(col("anchor").as("day"), col("n_days"), col("n")) ++
          qs.map(q => col(f"est_p${(q * 100).round}%d")): _*)
        .orderBy("day")
    }

    def rangeReport(hist: DataFrame, w: Double, qs: Seq[Double]): DataFrame = {
      val cum = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.coalesce(1)
        .withColumn("n_days", size(collect_set(col("day")).over()).cast("bigint"))
        .groupBy("bin").agg(sum("cnt").as("cnt"), max("n_days").as("n_days"))
        .withColumn("cum", sum("cnt").over(cum))
        .withColumn("n", sum("cnt").over())
        .agg(coalesce(max("n_days"), lit(0L)).as("n_days"),
          max("n").as("n") +: qs.map(estCol(_, w)): _*)
    }

    def driftReport(hist: DataFrame, w: Double, windowDays: Int, driftPct: Double): DataFrame =
      trailingReport(hist, w, windowDays, Seq(0.5, 0.9, 0.99))
        .withColumn("prev_p50", lag(col("est_p50"), 1).over(Window.orderBy("day")))
        .filter(col("prev_p50").isNotNull)
        .withColumn("shift",
          round(abs(col("est_p50") - col("prev_p50")) / col("prev_p50"), 6))
        .withColumn("drifted", (col("shift") > lit(driftPct)).cast("int"))
        .select("day", "est_p50", "prev_p50", "shift", "drifted")
        .orderBy("day")

    def trailingUnion(days: DataFrame, windowDays: Int): DataFrame =
      trailingWindows(days, windowDays)
        .groupBy(col("anchor").as("day"))
        .agg(max("n_days").as("n_days"),
          hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"))
        .orderBy("day")

    /** n_days and the union as two aggregates. In one aggregate, as the
      * replaced report had them, Spark plans count(distinct day) by first
      * unioning each day's sketches and then merging the day unions, and
      * that estimate can differ in the last digits from the one union in
      * scan order that `hll_union_agg` alone takes and the kernel takes. */
    def rangeUnion(days: DataFrame): DataFrame =
      days.agg(countDistinct(col("day")).as("n_days")).crossJoin(days.coalesce(1)
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users")))
  }

  private val histSchema = StructType.fromDDL(HistStore.daysSchema)

  /** A (day, bin, cnt) relation from (day offset, bin, cnt) rows; None is
    * null. Like a store read, it is known only when it runs: a local
    * relation could be found empty while planning, and planned as no task. */
  private def histDf(rs: Seq[HistRow]): DataFrame = {
    val data = rs.map { case (d, b, c) => Row(d.map(date).orNull, b.map(Long.box).orNull, c) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), histSchema)
  }

  /** Split `total` (≥ 1) into 1–3 positive parts. */
  private def splits(total: Long): Gen[Seq[Long]] =
    Gen.choose(1, math.min(3L, total).toInt).flatMap { k =>
      Gen.listOfN(k - 1, Gen.choose(1L, total)).map { cuts =>
        val cs = (0L +: cuts.map(_ % total).filter(_ > 0).distinct.sorted :+ total)
        cs.zip(cs.tail).map { case (a, b) => b - a }
      }
    }

  private type HistRow = (Option[Int], Option[Long], Long)

  /** Day `d`'s rows: 1–5 bins in [-3, 12] (a null bin now and then), each
    * count split over 1–3 rows. */
  private def dayRows(d: Int): Gen[List[HistRow]] = for {
    nb <- Gen.choose(1, 5)
    bins <- Gen.pick(nb, -3L to 12L)
    withNull <- Gen.frequency(9 -> Gen.const(false), 1 -> Gen.const(true))
    keyed = bins.toList.map(Option(_)) ++ (if (withNull) List(None) else Nil)
    parts <- Gen.sequence[List[Seq[Long]], Seq[Long]](
      keyed.map(_ => Gen.choose(1L, 20L).flatMap(splits)))
  } yield keyed.zip(parts).flatMap { case (b, ps) => ps.map(c => (Option(d), b, c)) }

  /** A random small store relation: stored days picked with gaps from
    * three weeks, now and then a row without a day, rows in random order. */
  private val histRows: Gen[List[HistRow]] = for {
    nDays <- Gen.choose(0, 8)
    days <- Gen.pick(nDays, 0 until 21)
    perDay <- Gen.sequence[List[List[HistRow]], List[HistRow]](days.toList.map(dayRows))
    dayless <- Gen.frequency(9 -> Gen.const(List.empty[HistRow]),
      1 -> Gen.const(List[HistRow]((None, Some(1L), 3L))))
    all = perDay.flatten ++ dayless
    order <- Gen.listOfN(all.size, Gen.choose(0, Int.MaxValue))
  } yield all.zip(order).sortBy(_._2).map(_._1)

  private val quantiles = Seq(0.01, 0.1, 0.25, 0.333, 0.5, 0.75, 0.9, 0.99, 1.0)

  private val histCase = for {
    rs <- histRows
    w <- Gen.oneOf(5.0, 0.25, 1.5, 0.001)
    windowDays <- Gen.choose(1, 8)
    qs <- Gen.atLeastOne(quantiles).map(_.toSeq.sorted)
    start <- Gen.choose(-2, 22)
    len <- Gen.oneOf(0, 0, 1, 3, 7, 25)
  } yield (rs, w, windowDays, qs, start, start + len)

  test("histogram kernels equal the SQL reports row for row on random split stores") {
    checkProp(40)(Prop.forAllNoShrink(histCase) { case (rs, w, windowDays, qs, lo, hi) =>
      val hist = histDf(rs)
      val inRange = hist.filter(col("day").between(lit(date(lo)), lit(date(hi))))
      val drift = (df: DataFrame) => Try(rows(df)).toOption
      ((rows(HistStore.trailingReport(hist, w, windowDays, qs)) ?=
        rows(Reference.trailingReport(hist, w, windowDays, qs))) :| "trailing") &&
        ((rows(HistStore.rangeReport(inRange, w, qs)) ?=
          rows(Reference.rangeReport(inRange, w, qs))) :| "range") &&
        ((drift(HistStore.driftReport(hist, w, windowDays, 0.05)) ?=
          drift(Reference.driftReport(hist, w, windowDays, 0.05))) :| "drift")
    })
  }

  test("rounding ties at the sixth decimal round half up, as Spark's round does") {
    // est = bin·w + ((q·n − before) / cnt)·w lands on a 7th-decimal 5:
    //   bin 0, cnt 2, w 1e-6, q 0.5: 0.5e-6 = 5.0E-7 → 1.0E-6
    //   bin 2, cnt 4, w 1, q 5e-7: 2 + 5e-7 = 2.0000005 → 2.000001
    //   bin -1, cnt 4, w 1, q 5e-7: -1 + 5e-7 = -0.9999995 → -1.0
    val ties = Seq((0L, 2L, 1e-6, 0.5, 1.0e-6), (2L, 4L, 1.0, 5e-7, 2.000001),
      (-1L, 4L, 1.0, 5e-7, -1.0))
    for ((bin, cnt, w, q, expected) <- ties) {
      val hist = histDf(Seq((Some(0), Some(bin), cnt)))
      val kernel = rows(HistStore.trailingReport(hist, w, 1, Seq(q)))
      assert(kernel === rows(Reference.trailingReport(hist, w, 1, Seq(q))), (bin, cnt, w, q))
      assert(kernel.head(3) === expected, (bin, cnt, w, q))
    }
    // the drift flag compares the ROUNDED shift: p50s 2.5w, 3.5w, 2.5w give
    // a shift of 0.4 only up to float error, which rounding settles, so a
    // 0.4 threshold flags neither day
    for (w <- Seq(0.2, 0.3, 1.0000005)) {
      val hist = histDf(Seq((Some(0), Some(2L), 2L), (Some(1), Some(3L), 2L), (Some(2), Some(2L), 1L)))
      val kernel = rows(HistStore.driftReport(hist, w, 1, 0.4))
      assert(kernel === rows(Reference.driftReport(hist, w, 1, 0.4)), w)
      assert(kernel.map(r => (r(3), r(4))) === Seq((0.4, 0), (0.285714, 0)), w)
    }
  }

  /** (day offset, sketch) rows at `lgK`: each day's users split over 1–3
    * sketch rows. The rows are sketched once and then served in one fixed
    * order, as a store's files are: a union's estimate can depend on the
    * order of its sketches. */
  private def sketchDf(days: Seq[(Int, Seq[Long], Int)], lgK: Int): DataFrame = {
    import spark.implicits._
    val sketched = days.flatMap { case (d, users, parts) => users.map(u => (date(d), (u % parts).toInt, u)) }
      .toDF("day", "part", "user_id")
      .groupBy("day", "part").agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
      .select("day", "sk").collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(sketched, 3),
      StructType.fromDDL(SketchStore.daysSchema))
  }

  /** Stored days with gaps over three weeks, each with 1–700 users drawn
    * from overlapping ranges (so windows share users), split 1–3 ways. */
  private val sketchCase = for {
    nDays <- Gen.choose(1, 6)
    days <- Gen.pick(nDays, 0 until 21)
    perDay <- Gen.sequence[Seq[(Int, Seq[Long], Int)], (Int, Seq[Long], Int)](days.map { d =>
      for {
        n <- Gen.oneOf(1, 5, 60, 300, 700)
        from <- Gen.choose(0L, 500L)
        parts <- Gen.choose(1, 3)
      } yield (d, (from until from + n).toSeq, parts)
    })
    lgK <- Gen.oneOf(4, 8, 12)
    windowDays <- Gen.choose(1, 8)
    lo <- Gen.choose(-2, 20)
    len <- Gen.oneOf(0, 3, 7, 25)
  } yield (perDay, lgK, windowDays, lo, lo + len)

  test("sketch kernels equal hll_sketch_estimate(hll_union_agg(sk, false)) on random split sketch rows") {
    checkProp(20)(Prop.forAllNoShrink(sketchCase) { case (perDay, lgK, windowDays, lo, hi) =>
      val days = sketchDf(perDay, lgK)
      val inRange = days.filter(col("day").between(lit(date(lo)), lit(date(hi))))
      val covered = perDay.exists { case (d, _, _) => d >= lo && d <= hi }
      val range = Try(rows(SketchStore.rangeUnion(inRange, "no stored days")))
      ((rows(SketchStore.trailingUnion(days, windowDays)) ?=
        rows(Reference.trailingUnion(days, windowDays))) :| "trailing") &&
        (if (covered) (range.toOption ?= Some(rows(Reference.rangeUnion(inRange)))) :| "range"
         else Prop(range.failed.toOption.exists(_.toString.contains("no stored days"))) :| "empty range")
    })
  }

  test("sketch kernel refuses a mix of lgConfigK values, as hll_union_agg(sk, false) does") {
    val mixed = sketchDf(Seq((0, 1L to 50L, 1)), 4).union(sketchDf(Seq((1, 1L to 50L, 1)), 12))
    assert(Try(rows(Reference.trailingUnion(mixed, 2))).isFailure)
    val e = intercept[Exception](rows(SketchStore.trailingUnion(mixed, 2)))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("different lgConfigK")), e.getMessage)
  }
}
