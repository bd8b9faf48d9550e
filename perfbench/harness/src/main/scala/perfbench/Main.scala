package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.io.Source
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One timed operation. `kind` is `read` for queries whose output goes to
  * the noop sink, and `load`, `append`, `compact` or `trigger` for writes. */
final case class Op(name: String, kind: String, run: Int => Unit)

/** Runs one workload of the benchmark against the program and writes every
  * record of the run to `<work>/records.jsonl`, which `run.py` reduces to
  * metrics.
  *
  * Usage: `Main <workload> <fixture-dir> <work-dir> <seconds> <trace 0|1> <cores>`,
  * or `Main list <workload>` to print the workload's ops and their kinds.
  * `<work-dir>/plan.txt` holds one line per pass, `<pass> <day> <op>...`,
  * made from the seed by `run.py`.
  */
object Main {
  def workload(name: String, h: Harness): Workload = name match {
    case "llm_pipeline" => Workloads.llm(h)
    case "ingest" => new Ingest(h)
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "list") {
      // `list <workload>`: the workload's ops, `<name> <kind>` per line
      val ops = workload(args(1), new Harness(null, new Records, "", "")).ops.values
      ops.toSeq.sortBy(_.name).foreach(op => println(s"${op.name} ${op.kind}"))
      return
    }
    val t0 = System.nanoTime()
    val Array(name, fixture, work, secondsArg, traceArg, cores) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val rec = new Records
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.driver.memory", sys.props.getOrElse("perfbench.heap", "2g"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.getConf.getAll.sorted.foreach { case (k, v) =>
      rec.add("t" -> "conf", "k" -> k, "v" -> v)
    }
    val h = new Harness(spark, rec, fixture, work)
    val w = workload(name, h)
    val plan = Source.fromFile(s"$work/plan.txt").getLines()
      .map(_.split(" ").toSeq).map(a => (a(0).toInt, a(1).toInt, a.drop(2))).toIndexedSeq

    w.warm()
    // Untimed passes from the head of the plan: after the first pass the
    // JIT still compiles for several passes, and which passes it slows
    // differs from run to run.
    plan.take(w.warmPasses).foreach { case (_, day, names) =>
      w.beforePass(day)
      names.foreach(n => h.run(w.ops(n), -1, day))
    }
    rec.add("t" -> "setup", "s" -> (System.nanoTime() - t0) / 1e9)

    // Whole passes (whole day cycles for ingest) until the time is up and,
    // untraced, at least `minPasses` have run, so that a slow run's median
    // is not taken over fewer passes than a fast run's. A traced run
    // alternates untraced and traced stretches, starting and ending
    // untraced. A stretch is one pass, or on ingest one cycle of days, so
    // that each traced day has untraced twins on the same store state. The
    // first untraced stretch still runs while the JIT speeds passes up; the
    // overhead ratio leaves it out.
    val tracer = if (traced) Some(new Tracer(rec)) else None
    tracer.foreach(t => spark.streams.addListener(t.streamListener))
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var tracedPasses = 0
    var i = w.warmPasses
    while (i < plan.size && !(elapsed >= seconds && w.boundary(plan(i)._2) &&
        (if (traced) tracedPasses > 0 && !h.traced else i - w.warmPasses >= w.minPasses))) {
      val (pass, day, names) = plan(i)
      if (traced && i > w.warmPasses && w.boundary(day)) {
        tracer.foreach(t => if (h.traced) t.detach(spark) else t.attach(spark))
        h.traced = !h.traced
      }
      w.beforePass(day)
      val p0 = System.nanoTime()
      val (c0, st0) = (Harness.cpuNs(), Harness.steal())
      names.foreach(n => h.run(w.ops(n), pass, day))
      rec.add("t" -> "pass", "pass" -> pass, "day" -> day, "traced" -> h.traced,
        "s" -> (System.nanoTime() - p0) / 1e9, "cpu_s" -> (Harness.cpuNs() - c0) / 1e9,
        "steal" -> (Harness.steal() - st0))
      if (h.traced) tracedPasses += 1
      i += 1
    }
    if (h.traced) tracer.foreach(_.detach(spark))
    h.traced = false
    w.check()
    rec.add("t" -> "rss", "mb" -> Harness.vmHwmMb())
    spark.stop()
    rec.writeTo(s"$work/records.jsonl")
  }
}

/** A workload: its ops by name, the untimed warm-up, and the output checks. */
trait Workload {
  def ops: Map[String, Op]
  /** Whether a pass for `day` may start or end a measured stretch. */
  def boundary(day: Int): Boolean = true
  /** Untimed passes after `warm()`, part of the set-up. */
  def warmPasses: Int = 0
  /** Measured passes an untraced run makes at least, however long they take. */
  def minPasses: Int = 1
  def beforePass(day: Int): Unit = ()
  def warm(): Unit
  def check(): Unit
}

/** Runs ops, timing them and, in a traced run, recording their phase spans
  * and tagging Spark jobs with the phase span's id. */
final class Harness(val spark: SparkSession, val rec: Records, val fixture: String,
                    val work: String) {
  var traced = false
  /** When set, read ops write their output as parquet here, for checking. */
  var checkDir: Option[String] = None
  private var nextId = 0L
  private var opId = 0L

  private def newId(): Long = { nextId += 1; nextId }

  def phase[T](kind: String)(body: => T): T =
    if (!traced) body
    else {
      val id = newId()
      spark.sparkContext.setLocalProperty("perfbench.span", id.toString)
      val start = System.currentTimeMillis()
      try body
      finally {
        spark.sparkContext.setLocalProperty("perfbench.span", null)
        rec.add("t" -> "span", "id" -> id, "parent" -> opId, "kind" -> kind,
          "start" -> start, "end" -> System.currentTimeMillis())
      }
    }

  /** Runs `op`; returns whether it succeeded. */
  def run(op: Op, pass: Int, day: Int): Boolean = {
    opId = newId()
    val start = System.currentTimeMillis()
    val t = System.nanoTime()
    val err = try { op.run(day); None } catch { case NonFatal(e) => Some(Harness.describe(e)) }
    rec.add("t" -> "op", "id" -> opId, "name" -> op.name, "kind" -> op.kind,
      "pass" -> pass, "day" -> day, "traced" -> traced, "start" -> start,
      "end" -> System.currentTimeMillis(), "ms" -> (System.nanoTime() - t) / 1e6,
      "ok" -> err.isEmpty, "err" -> err)
    err.isEmpty
  }

  def check(name: String)(body: => Option[String]): Unit = {
    val t = System.nanoTime()
    val problem = try body catch { case NonFatal(e) => Some(Harness.describe(e)) }
    rec.add("t" -> "check", "name" -> name, "ok" -> problem.isEmpty, "detail" -> problem,
      "s" -> (System.nanoTime() - t) / 1e9)
  }

  /** A query op: build the DataFrame, then run it to the noop sink (or, in
    * the warm pass, to parquet for the output check). */
  def read(name: String)(build: Int => DataFrame): Op = Op(name, "read", day => {
    val df = phase("construct")(build(day))
    phase("execute")(checkDir match {
      case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
      case None => df.write.format("noop").mode("overwrite").save()
    })
  })

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}

object Harness {
  /** CPU time of this process. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Clock ticks the hypervisor has taken from this machine's CPUs (`steal`
    * in `/proc/stat`): time a shared host lends elsewhere shows here. */
  def steal(): Long = Source.fromFile("/proc/stat").getLines().next().split("\\s+")(8).toLong

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Peak resident set of this process, from `/proc/self/status`. */
  def vmHwmMb(): Double = Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Rows of `a` and `b` (small results, compared as multisets on the
    * driver) that differ, as a problem description. */
  def sameRows(a: DataFrame, b: DataFrame): Option[String] = {
    def bag(df: DataFrame) =
      df.select(b.columns.toSeq.map(col): _*).collect().groupBy(identity).view.mapValues(_.length).toMap
    val (x, y) = (bag(a), bag(b))
    val onlyA = x.map { case (r, n) => math.max(0, n - y.getOrElse(r, 0)) }.sum
    val onlyB = y.map { case (r, n) => math.max(0, n - x.getOrElse(r, 0)) }.sum
    if (onlyA == 0 && onlyB == 0) None else Some(s"$onlyA rows only in output, $onlyB only in reference")
  }

  def copyAtomically(src: String, dstDir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(dstDir))
    val tmp = Paths.get(dstDir, s".$name.tmp")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dstDir, name), StandardCopyOption.ATOMIC_MOVE)
  }
}

object Workloads {
  /** LLM data-prep pipelines: MinHash near-dup clusters and embedding
    * semantic dedup (construction-time jobs, materializations and pair
    * joins), n-gram decontamination, sequence packing and quality pruning.
    * The slower trained-index and DSIR pipelines are left out so that a
    * pass stays short. An odd count keeps the median on one op rather than
    * between two.
    * The `_stored` variants are left out: their store cache lives in /tmp,
    * outside any directory a run owns. */
  val llmQueries: Seq[String] = Seq(
    "pipeline_near_dedup", "pipeline_semdedup", "pipeline_decontaminate",
    "pipeline_pack", "pipeline_quality_prune")

  private def registry(h: Harness, names: Seq[String]): Map[String, Op] =
    names.map { n =>
      val q = graft.SparkEntry.queries(n)
      n -> h.read(n)(_ => q(h.spark, h.fixture))
    }.toMap

  /** The untimed warm pass. It also writes every read op's output for the
    * oracle check in `run.py` and records each op's oracle SQL. */
  private def warmRegistry(h: Harness, ops: Map[String, Op]): Unit = {
    h.checkDir = Some(s"${h.work}/check")
    ops.values.toSeq.sortBy(_.name).foreach { op =>
      val ok = h.run(op, -1, -1)
      if (op.kind == "read") h.rec.add("t" -> "oracle", "name" -> op.name, "ran" -> ok,
        "sql" -> graft.SparkEntry.oracleSql.get(op.name))
    }
    h.checkDir = None
  }

  /** A write op: build `build`, then write it with `graft.ops.Load.ndjson`.
    * The check re-reads the written files and compares them with the source. */
  private final case class LoadOp(name: String, build: () => DataFrame)

  private def loadOps(h: Harness, loads: Seq[LoadOp]): Map[String, Op] =
    loads.map { l =>
      l.name -> Op(l.name, "load", _ => {
        val df = h.phase("construct")(l.build())
        h.phase("load")(graft.ops.Load.ndjson(df, s"${h.work}/load/${l.name}"))
      })
    }.toMap

  private def checkLoads(h: Harness, loads: Seq[LoadOp]): Unit = loads.foreach { l =>
    h.check(l.name) {
      val src = l.build()
      Harness.sameRows(h.spark.read.schema(src.schema).json(s"${h.work}/load/${l.name}"), src)
    }
  }

  /** The pipelines above; the writes export two of them as NDJSON training
    * shards. */
  def llm(h: Harness): Workload = new Workload {
    private val loads = Seq("pipeline_pack", "pipeline_pii_scrub").map(n =>
      LoadOp(s"export_$n", () => graft.SparkEntry.queries(n)(h.spark, h.fixture)))
    val ops: Map[String, Op] = registry(h, llmQueries) ++ loadOps(h, loads)
    def warm(): Unit = warmRegistry(h, ops)
    override def warmPasses: Int = 2
    override def minPasses: Int = 5
    def check(): Unit = checkLoads(h, loads)
  }
}

/** Daily batches over growing stores. Day 0 builds the band, histogram,
  * sketch and Bloom stores and starts the store-ingest stream; each later
  * day lands its documents and triggers the stream, appends to the other
  * three stores (compacting on the last day of the plan's cycle) and then
  * queries them. Days before `FirstDay` are the untimed warm-up; a pass is
  * one measured day, from `FirstDay` on.
  * A plan that returns to `FirstDay` starts the stores over. */
final class Ingest(h: Harness) extends Workload {
  import graft.ext.{BloomDedup, Dedup, HistStore, SketchStore}
  private val spark = h.spark
  private val root = s"${h.work}/ingest"
  private val slices = s"${h.work}/slices"
  private val band = s"$root/band"
  private val hist = s"$root/hist"
  private val sketch = s"$root/sketch"
  private val bloom = s"$root/bloom"
  private val landing = s"$root/landing"
  private var query: Option[StreamingQuery] = None
  private var lastDay = 0
  private lazy val nDocs = spark.read.parquet(s"${h.fixture}/documents.parquet").count()

  private def docs(d: Int): DataFrame =
    spark.read.parquet(f"$slices/docs/day=$d%02d.parquet").select("doc_id", "text", "lang", "source")
  private def events(d: Int): DataFrame = graft.Tables.load(spark, s"$slices/events", f"day=$d%02d")

  private def reset(): Unit = {
    query.foreach(_.stop())
    h.delete(root)
    val d0 = docs(0)
    Dedup.buildBandStore(d0.select("doc_id", "text"), band)
    HistStore.buildHistStore(events(0), hist)
    SketchStore.buildSketchStore(events(0), sketch)
    BloomDedup.buildBloomStore(d0, bloom, expectedItems = nDocs * 2)
    Files.createDirectories(Paths.get(landing))
    query = Some(graft.streaming.DocStreams.runStoreIngest(
      spark, landing, band, s"$root/accepted", s"$root/checkpoint"))
    for (d <- 1 until Ingest.FirstDay)
      Seq("stream_trigger", "hist_append", "sketch_append", "bloom_append", "hist_trailing",
        "hist_drift", "sketch_trailing", "sketch_range", "bloom_probe").foreach(n => h.run(ops(n), -1, d))
    lastDay = Ingest.FirstDay - 1
  }

  private def store(name: String, kind: String)(f: Int => Unit): (String, Op) =
    name -> Op(name, kind, d => h.phase("store")(f(d)))

  val ops: Map[String, Op] = Map(
    // the day's documents land inside the op: the stream starts on them
    // as soon as they appear, and that work belongs to this op alone
    "stream_trigger" -> Op("stream_trigger", "trigger", d => h.phase("stream") {
      Harness.copyAtomically(f"$slices/docs/day=$d%02d.parquet", landing, f"docs-$d%02d.parquet")
      query.get.processAllAvailable()
    }),
    store("hist_append", "append")(d => HistStore.appendToHistStore(events(d), hist)),
    store("sketch_append", "append")(d => SketchStore.appendToSketchStore(events(d), sketch)),
    store("bloom_append", "append")(d => BloomDedup.appendToBloomStore(docs(d), bloom)),
    store("band_compact", "compact")(_ => Dedup.compactBandStore(spark, band)),
    store("hist_compact", "compact")(_ => HistStore.compactHistStore(spark, hist)),
    store("sketch_compact", "compact")(_ => SketchStore.compactSketchStore(spark, sketch)),
    "hist_trailing" -> h.read("hist_trailing")(_ => HistStore.trailingQuantiles(spark, hist)),
    "hist_drift" -> h.read("hist_drift")(_ => HistStore.quantileDrift(spark, hist)),
    "sketch_trailing" -> h.read("sketch_trailing")(_ => SketchStore.trailingDistinct(spark, sketch)),
    "sketch_range" -> h.read("sketch_range")(d =>
      SketchStore.rangeDistinct(spark, sketch, Ingest.date(math.max(0, d - 6)), Ingest.date(d))),
    "bloom_probe" -> h.read("bloom_probe")(d => BloomDedup.probeStored(docs(d), bloom)))

  override def boundary(day: Int): Boolean = day == Ingest.FirstDay

  override def beforePass(day: Int): Unit = {
    if (day <= lastDay) reset()
    lastDay = day
  }

  def warm(): Unit = reset()

  /** The stores' answers after the last day against the program's in-line
    * and checked twins over every event and document landed so far. */
  def check(): Unit = {
    val days = 0 to lastDay
    val allEvents = days.map(events).reduce(_ unionByName _)
    val allDocs = days.map(docs).reduce(_ unionByName _)
    h.check("hist_trailing") {
      Harness.sameRows(HistStore.trailingQuantiles(spark, hist),
        HistStore.trailingQuantilesInline(allEvents))
    }
    h.check("sketch_trailing") {
      val flags = SketchStore.trailingDistinctChecked(allEvents, sketch)
        .select("est_within_5pct").collect().map(_.getInt(0))
      val bad = flags.count(_ != 1)
      if (flags.length == days.size && bad == 0) None
      else Some(s"${flags.length} days, $bad outside the 5% envelope")
    }
    h.check("sketch_range") {
      val flags = SketchStore.rangeDistinctChecked(allEvents, sketch, Ingest.date(0), Ingest.date(lastDay))
        .select("est_within_5pct").collect().map(_.getInt(0)).toSeq
      if (flags == Seq(1)) None else Some(s"envelope flags ${flags.mkString(",")}, expected 1")
    }
    h.check("bloom_probe") {
      val missed = BloomDedup.probeStored(allDocs, bloom).filter(!col("bloom_hit")).count()
      if (missed == 0) None else Some(s"$missed appended docs missed by the filter")
    }
    h.check("stream_trigger") {
      query.foreach(_.processAllAvailable())
      val accepted = spark.read.parquet(s"$root/accepted").select("doc_id").collect()
      val (n, ids) = (accepted.length, accepted.distinct.length)
      val landed = days.drop(1).map(docs).reduce(_ unionByName _).count()
      if (n == ids && n > 0 && n <= landed) None
      else Some(s"$n accepted rows, $ids distinct ids, $landed landed")
    }
    query.foreach(_.stop())
  }
}

object Ingest {
  val FirstDay = 3
  /** The calendar date of `day`: the events start on 2024-01-01 (day 0). */
  def date(day: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString
}
