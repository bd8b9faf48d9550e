package perfbench

import java.io.PrintWriter
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON-lines records of one run, kept in memory and written when it ends. */
final class Records {
  private val lines = mutable.ArrayBuffer.empty[String]

  def add(fields: (String, Any)*): Unit = synchronized {
    lines += fields.map { case (k, v) => s"${Records.str(k)}:${Records.value(v)}" }
      .mkString("{", ",", "}")
  }

  def writeTo(path: String): Unit = synchronized {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

object Records {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s => str(s.toString)
  }
}

/** The traced run's listeners. Jobs are attributed to the phase span whose
  * id the harness put in the `perfbench.span` local property before the
  * call; stages and tasks follow their job. Planning and streaming
  * progress carry no local properties, so they are attributed afterwards by
  * their start time. Every listener only appends to [[Records]]. */
final class Tracer(rec: Records) extends SparkListener {
  private final class StageAcc {
    var tasks, empty = 0L
    var runMs, cpuNs, inBytes, inRecs, shrBytes, shwBytes, spill, outBytes, waitMs = 0L
  }
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, String]
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .getOrElse("")
    jobSpan(e.jobId) = span
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    rec.add("t" -> "job", "job" -> e.jobId, "span" -> span, "start" -> e.time,
      "stages" -> e.stageIds.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    rec.add("t" -> "job_end", "job" -> e.jobId, "end" -> e.time)
    if (jobSpan.get(e.jobId).contains(Tracer.Drain)) drained = true
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    stageSubmit((s.stageId, s.attemptNumber())) =
      s.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val acc = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    acc.tasks += 1
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.inBytes += m.inputMetrics.bytesRead
      acc.inRecs += m.inputMetrics.recordsRead
      acc.shrBytes += m.shuffleReadMetrics.totalBytesRead
      acc.shwBytes += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.outBytes += m.outputMetrics.bytesWritten
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) acc.empty += 1
    }
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      acc.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val key = (s.stageId, s.attemptNumber())
    val a = stages.remove(key).getOrElse(new StageAcc)
    val start = stageSubmit.remove(key).getOrElse(0L)
    val job = stageJob.getOrElse(s.stageId, -1)
    rec.add("t" -> "stage", "stage" -> s.stageId, "job" -> job,
      "span" -> jobSpan.getOrElse(job, ""), "start" -> start,
      "end" -> s.completionTime.getOrElse(start), "tasks" -> a.tasks,
      "empty" -> a.empty, "run_ms" -> a.runMs, "cpu_ms" -> a.cpuNs / 1e6,
      "in_bytes" -> a.inBytes, "in_rows" -> a.inRecs, "shr_bytes" -> a.shrBytes,
      "shw_bytes" -> a.shwBytes, "spill" -> a.spill, "out_bytes" -> a.outBytes,
      "wait_ms" -> a.waitMs)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = blocks.getOrElse(id, 0L)
      if (size > 0) blocks(id) = size else blocks.remove(id)
      cached += size - before
      rec.add("t" -> "block", "time" -> System.currentTimeMillis(),
        "added" -> (before == 0 && size > 0), "cached" -> cached)
    }
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) rec.add("t" -> "plan",
        "start" -> phases.values.map(_.startTimeMs).min,
        "ms" -> phases.values.map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      rec.add("t" -> "trigger", "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "commit_ms" -> (d.getOrElse("commitOffsets", 0L) + d.getOrElse("commitBatch", 0L) +
          d.getOrElse("walCommit", 0L)),
        "rows" -> p.numInputRows)
    }
  }

  @volatile private var drained = false

  /** Starts a traced stretch: registers the job and planning listeners
    * and resets the heap pools' peaks. */
  def attach(spark: SparkSession): Unit = {
    // blocks dropped while detached were never seen: count from zero
    blocks.clear()
    cached = 0L
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    Tracer.jvm(rec, "jvm_start")
  }

  /** Ends a traced stretch. The listener bus is asynchronous, so a marker
    * job runs first and the listeners stay until its end event arrives:
    * every event before it has then been delivered. */
  def detach(spark: SparkSession): Unit = {
    Tracer.jvm(rec, "jvm_end")
    drained = false
    spark.sparkContext.setLocalProperty("perfbench.span", Tracer.Drain)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty("perfbench.span", null)
    val deadline = System.currentTimeMillis() + 30000
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(5)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  /** Span id of the marker job; phase span ids start at 1. */
  val Drain = "0"

  /** Cumulative GC time and the heap pools' peak use since the last
    * `jvm_start` (which resets the peaks). */
  def jvm(rec: Records, tag: String): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val peakMb = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (tag == "jvm_start") pools.foreach(_.resetPeakUsage())
    rec.add("t" -> tag, "gc_ms" -> gcMs, "heap_peak_mb" -> peakMb)
  }
}
