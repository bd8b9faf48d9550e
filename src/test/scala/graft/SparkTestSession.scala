package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one session per
  * suite via lazy val; sharing across suites is fine in one JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4)
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the Spark jobs it starts, counted under a job
    * group. A marker job in another group drains the listener bus: the bus
    * delivers in order, so once the marker's end arrives every event of
    * `body` has been seen. */
  def jobsIn[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime()}"
    val marker = s"$group-drain"
    def groupOf(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case `group` => jobs.incrementAndGet()
        case `marker` => markerJobs.add(e.jobId)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "drain the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
