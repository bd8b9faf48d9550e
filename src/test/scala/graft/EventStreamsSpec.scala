package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Event, EventStreams}

class EventStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ev(id: Long, ms: Long, user: Long = 42L, value: Double = 1.0) =
    Event(id, new Timestamp(ms), user, "click", value)

  test("streaming sessionize closes sessions on gap and matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("sessions_out").outputMode("append").start()
    try {
      // batch 1: two events 1s apart, then a 2h-later event → first session
      // closes. Times start at 1000ms: an event at exactly the initial
      // watermark (0) is dropped by the stateful late-record filter.
      input.addData(ev(1, 1000), ev(2, 2000))
      q.processAllAvailable()
      input.addData(ev(3, 2 * h))
      q.processAllAvailable()
      val afterGap = spark.table("sessions_out").collect()
      assert(afterGap.length === 1)
      val s1 = afterGap.head
      assert(s1.getAs[Long]("session_id") === 1L)
      assert(s1.getAs[Long]("n_events") === 2L)
      assert(s1.getAs[Long]("start_ms") === 1000L && s1.getAs[Long]("end_ms") === 2000L)
      assert(s1.getAs[Double]("sum_value") === 2.0)

      // advancing the watermark far ahead times out and closes the open session
      input.addData(ev(4, 10 * h, user = 7L))
      q.processAllAvailable()
      input.addData(ev(5, 20 * h, user = 7L))
      q.processAllAvailable()
      input.addData(ev(6, 30 * h, user = 7L))
      q.processAllAvailable()
      val out = spark.table("sessions_out").collect()
      assert(out.count(_.getAs[Long]("user_id") == 42L) === 2,
        out.map(_.toSeq.mkString(",")).mkString("; "))
    } finally q.stop()
  }

  test("sessionize equals batch under RANDOM in-order micro-batch splits (200 events)") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    // 200 in-order events over 5 users with random gaps up to 50 min —
    // many sessions split across random batch boundaries
    var t = 1000L
    val events = (1 to 200).map { i =>
      t += rnd.nextInt(50 * 60 * 1000).toLong
      Event(i.toLong, new Timestamp(t), 1L + rnd.nextInt(5), "click", 1.0)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("rand_sessions").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(20)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      // sentinel advances flush every open session past the watermark
      for (k <- 1 to 3) {
        input.addData(Event(10000L + k, new Timestamp(t + k * 36000000L), 9999L, "click", 1.0))
        q.processAllAvailable()
      }
      val streamed = spark.table("rand_sessions").collect()
        .filter(_.getAs[Long]("user_id") != 9999L)
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"), r.getAs[Long]("end_ms")))
        .sorted
      val batch = graft.ext.Events.sessionize(events.toDF()).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("start_ms"), r.getAs[Long]("end_ms")))
        .sorted
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length > 20, s"degenerate fixture: ${streamed.length} sessions")
    } finally q.stop()
  }

  test("late event more than gap before the open session splits off, never merges") {
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("late_split_out").outputMode("append").start()
    try {
      // open a session at 12:00 (=12h)
      input.addData(ev(1, 12 * h))
      q.processAllAvailable()
      // late event at 10:35 — within the 2h watermark but >30min before the
      // session start: must become its own closed session, not merge into
      // one spanning 10:35-12:00 with an 85-min internal silence
      input.addData(ev(2, 10 * h + 35 * 60000))
      q.processAllAvailable()
      val out = spark.table("late_split_out").collect()
      assert(out.length === 1, out.map(_.toSeq.mkString(",")).mkString("; "))
      assert(out.head.getAs[Long]("n_events") === 1L)
      assert(out.head.getAs[Long]("start_ms") === 10 * h + 35 * 60000)
      assert(out.head.getAs[Long]("end_ms") === 10 * h + 35 * 60000)
      // the original session is still open and closes with its own bounds
      input.addData(ev(3, 20 * h))
      q.processAllAvailable()
      input.addData(ev(4, 30 * h))
      q.processAllAvailable()
      val all = spark.table("late_split_out").collect()
      assert(all.exists(r => r.getAs[Long]("start_ms") == 12 * h && r.getAs[Long]("n_events") == 1L),
        all.map(_.toSeq.mkString(",")).mkString("; "))
    } finally q.stop()
  }

  test("consecutive too-early late events fold into one late session like batch") {
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    val input = MemoryStream[Event]
    val q = EventStreams.sessionize(input.toDS()).writeStream
      .format("memory").queryName("late_fold_out").outputMode("append").start()
    try {
      input.addData(ev(1, 12 * h))
      q.processAllAvailable()
      // two late events 5 min apart, both >30min before the session start
      // and both strictly above the 10:00 watermark (exactly-at-watermark
      // rows are dropped by the stateful late filter):
      // batch semantics = ONE session {10:01, 10:06}
      input.addData(ev(2, 10 * h + 60000), ev(3, 10 * h + 6 * 60000))
      q.processAllAvailable()
      val out = spark.table("late_fold_out").collect()
      assert(out.length === 1, out.map(_.toSeq.mkString(",")).mkString("; "))
      assert(out.head.getAs[Long]("n_events") === 2L)
      assert(out.head.getAs[Long]("start_ms") === 10 * h + 60000)
      assert(out.head.getAs[Long]("end_ms") === 10 * h + 6 * 60000)
    } finally q.stop()
  }

  test("file sessionizer runs readStream -> flatMapGroupsWithState -> parquet sink end-to-end") {
    val base = java.nio.file.Files.createTempDirectory("stream").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val h = 3600000L
    // two sessions for user 1: events 1s apart, then one 2h later
    Seq(ev(1, 1000, user = 1L), ev(2, 2000, user = 1L), ev(3, 2 * h, user = 1L))
      .toDS().write.parquet(src)
    val q = EventStreams.runFileSessionizer(spark, src, out, ckpt)
    try {
      q.processAllAvailable()
      // a new file advances the watermark past session 1 + the gap
      Seq(ev(4, 10 * h, user = 1L)).toDS().write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val sessions = spark.read.parquet(out).collect()
    assert(sessions.length >= 1, "no sessions written to the parquet sink")
    val s1 = sessions.minBy(_.getAs[Long]("session_id"))
    assert(s1.getAs[Long]("user_id") === 1L)
    assert(s1.getAs[Long]("n_events") === 2L)
    assert(s1.getAs[Long]("start_ms") === 1000L && s1.getAs[Long]("end_ms") === 2000L)
  }

  test("file sessionizer restarts from its checkpoint: state survives, sessions neither dropped nor re-emitted") {
    val base = java.nio.file.Files.createTempDirectory("stream_restart").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val h = 3600000L
    // session A (events 1-2) closes once the watermark passes; session B
    // (event 3) is OPEN when the query stops — its state must survive the
    // restart for event 4 (1s later) to land in the same session
    Seq(ev(1, 1000, user = 1L), ev(2, 2000, user = 1L), ev(3, 10 * h, user = 1L))
      .toDS().write.parquet(src)
    val q1 = EventStreams.runFileSessionizer(spark, src, out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    Seq(ev(4, 10 * h + 1000, user = 1L), ev(5, 30 * h, user = 1L))
      .toDS().write.mode("append").parquet(src)
    val q2 = EventStreams.runFileSessionizer(spark, src, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val sessions = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("session_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("start_ms"), r.getAs[Long]("end_ms"))).sortBy(_._1)
    // exactly one copy of session 1 (closed pre-restart) and one session 2
    // FUSING events 3 and 4 across the restart boundary
    assert(sessions.count(_._1 == 1L) === 1, sessions.mkString(", "))
    assert(sessions.find(_._1 == 1L).get === (1L, 2L, 1000L, 2000L))
    assert(sessions.find(_._1 == 2L).get === (2L, 2L, 10 * h, 10 * h + 1000),
      s"open session state must survive the restart: ${sessions.mkString(", ")}")
  }

  test("streaming funnel emits first in-horizon conversion per user, once") {
    implicit val sqlCtx = spark.sqlContext
    val d = 86400000L
    def tev(id: Long, ms: Long, user: Long, typ: String) =
      Event(id, new Timestamp(ms), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = EventStreams.funnelConversions(input.toDS()).writeStream
      .format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      // user 1 signs up; user 2 purchases without signup (ignored)
      input.addData(tev(1, 1000, 1L, "signup"), tev(2, 2000, 2L, "purchase"))
      q.processAllAvailable()
      // user 1 converts on day 3; a second purchase must NOT emit again
      input.addData(tev(3, 3 * d, 1L, "purchase"), tev(4, 4 * d, 1L, "purchase"))
      q.processAllAvailable()
      // user 2 signs up day 4, purchases day 20 — beyond the 7d horizon
      input.addData(tev(5, 4 * d, 2L, "signup"))
      q.processAllAvailable()
      input.addData(tev(6, 20 * d, 2L, "purchase"))
      q.processAllAvailable()
      val out = spark.table("funnel_out").collect()
      assert(out.length === 1, out.map(_.toSeq.mkString(",")).mkString("; "))
      assert(out.head.getAs[Long]("user_id") === 1L)
      assert(out.head.getAs[Long]("from_ms") === 1000L)
      assert(out.head.getAs[Long]("to_ms") === 3 * d)
      // matches the batch funnel's conversion row for the same events
      import spark.implicits._
      val batchDf = Seq(
        (1L, 1000L, 1L, "signup"), (2L, 2000L, 2L, "purchase"),
        (3L, 3 * d, 1L, "purchase"), (4L, 4 * d, 1L, "purchase"),
        (5L, 4 * d, 2L, "signup"), (6L, 20 * d, 2L, "purchase")
      ).toDF("event_id", "ms", "user_id", "event_type")
        .withColumn("ts", timestamp_millis(col("ms")))
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}")).drop("ms")
      val batch = graft.ext.Events.funnel(batchDf).collect()
      assert(batch.map(_.getAs[Long]("n_converted")).sum === 1L)
    } finally q.stop()
  }

  test("funnel converts a toType delivered in an EARLIER micro-batch than its fromType") {
    implicit val sqlCtx = spark.sqlContext
    def tev(id: Long, ms: Long, user: Long, typ: String) =
      Event(id, new Timestamp(ms), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = EventStreams.funnelConversions(input.toDS()).writeStream
      .format("memory").queryName("funnel_ooo").outputMode("append").start()
    try {
      // purchase arrives a full batch BEFORE the signup (both within the
      // 2h watermark — wm is still 0 after batch 1)
      input.addData(tev(1, 5000000L, 1L, "purchase"))
      q.processAllAvailable()
      input.addData(tev(2, 1000000L, 1L, "signup"))
      q.processAllAvailable()
      // push the watermark past both endpoints to finalize the conversion
      input.addData(tev(3, 13000000L, 9L, "click"))
      q.processAllAvailable()
      val out = spark.table("funnel_ooo").collect()
      assert(out.length === 1, out.map(_.toSeq.mkString(",")).mkString("; "))
      assert(out.head.getAs[Long]("user_id") === 1L)
      assert(out.head.getAs[Long]("from_ms") === 1000000L)
      assert(out.head.getAs[Long]("to_ms") === 5000000L)
    } finally q.stop()
  }

  test("funnel equals the batch minima under adversarial batch splits") {
    implicit val sqlCtx = spark.sqlContext
    def tev(id: Long, ms: Long, user: Long, typ: String) =
      Event(id, new Timestamp(ms), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = EventStreams.funnelConversions(input.toDS()).writeStream
      .format("memory").queryName("funnel_adv").outputMode("append").start()
    try {
      // all toTypes delivered first, then the fromTypes, then a LATER batch
      // lowers user 3's fromMs below its already-seen candidate
      input.addData(
        tev(1, 50000L, 1L, "purchase"), tev(2, 30000L, 3L, "purchase"),
        tev(3, 20000L, 2L, "purchase"))
      q.processAllAvailable()
      input.addData(tev(4, 10000L, 1L, "signup"), tev(5, 30000L, 3L, "signup"))
      q.processAllAvailable()
      // user 1's pre-window purchase must not displace its conversion;
      // user 3's late earlier signup becomes the true min fromMs
      input.addData(tev(6, 5000L, 1L, "purchase"), tev(7, 8000L, 3L, "signup"))
      q.processAllAvailable()
      input.addData(tev(8, 10000000L, 9L, "click")) // watermark push
      q.processAllAvailable()
      val got = spark.table("funnel_adv")
        .select("user_id", "from_ms", "to_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch ground truth: min fromType; min toType in [from, from+horizon]
      assert(got === Set((1L, 10000L, 50000L), (3L, 8000L, 30000L)), got)
    } finally q.stop()
  }

  test("funnel equals an independent Scala reference on 300 random in-order events") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(99)
    val types = Seq("signup", "click", "purchase", "view")
    var t = 1000L
    val events = (1 to 300).map { i =>
      t += rnd.nextInt(3 * 3600 * 1000).toLong // gaps up to 3h
      Event(i.toLong, new Timestamp(t), 1L + rnd.nextInt(8), types(rnd.nextInt(types.length)), 1.0)
    }
    val horizon = 604800000L
    val input = MemoryStream[Event]
    // memory retention must exceed the fixture's ~40-day span so the first
    // signup is remembered across every re-entry
    val q = EventStreams.funnelConversions(input.toDS(),
        memoryRetentionMs = 200L * 86400000L).writeStream
      .format("memory").queryName("funnel_rand").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(25)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      // watermark pushes past every from+horizon endpoint
      for (k <- 1 to 3) {
        input.addData(Event(9000L + k, new Timestamp(t + k * horizon), 999L, "click", 1.0))
        q.processAllAvailable()
      }
      val got = spark.table("funnel_rand")
        .filter(col("user_id") =!= 999L)
        .select("user_id", "from_ms", "to_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // independent reference: plain Scala over the event list
      val want = events.groupBy(_.user_id).flatMap { case (u, evs) =>
        val from = evs.filter(_.event_type == "signup").map(_.ts.getTime)
          .minOption
        from.flatMap { f =>
          evs.filter(e => e.event_type == "purchase" &&
              e.ts.getTime >= f && e.ts.getTime <= f + horizon)
            .map(_.ts.getTime).minOption.map(to => (u, f, to))
        }
      }.toSet
      assert(got === want)
      assert(want.nonEmpty, "degenerate fixture: no conversions")
    } finally q.stop()
  }

  test("anomaly counts a late in-watermark event into its hour before finalization") {
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    def tev(id: Long, ms: Long) = Event(id, new Timestamp(ms), 42L, "click", 1.0)
    val input = MemoryStream[Event]
    val q = EventStreams.anomalyHourly(input.toDS()).writeStream
      .format("memory").queryName("anomaly_late").outputMode("append").start()
    try {
      // hour 0: two events; hour 1: one event (wm after batch = 0)
      input.addData(tev(1, 1000), tev(2, 2000), tev(3, h + 1000))
      q.processAllAvailable()
      // LATE hour-0 event in a later batch (wm still 0) — must count
      input.addData(tev(4, 3000))
      q.processAllAvailable()
      input.addData(tev(9, 10 * h)) // watermark push
      q.processAllAvailable()
      val rows = spark.table("anomaly_late").collect()
      val h1 = rows.find(_.getAs[Long]("hour_ms") === h).get
      assert(h1.getAs[Double]("baseline") === 3.0) // hour 0 counted 2+1 late
    } finally q.stop()
  }

  test("funnel candidate is displaced by an earlier toType arriving in a LATER batch") {
    implicit val sqlCtx = spark.sqlContext
    def tev(id: Long, ms: Long, user: Long, typ: String) =
      Event(id, new Timestamp(ms), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = EventStreams.funnelConversions(input.toDS()).writeStream
      .format("memory").queryName("funnel_displace").outputMode("append").start()
    try {
      input.addData(tev(1, 1000, 1L, "signup"), tev(2, 50000, 1L, "purchase"))
      q.processAllAvailable()
      // an EARLIER purchase arrives a batch later (still above the watermark):
      // it, not the first-seen one, is the batch-true first conversion
      input.addData(tev(3, 30000, 1L, "purchase"))
      q.processAllAvailable()
      input.addData(tev(4, 10000000L, 9L, "click")) // finalize
      q.processAllAvailable()
      val out = spark.table("funnel_displace").collect()
      assert(out.length === 1, out.map(_.toSeq.mkString(",")).mkString("; "))
      assert(out.head.getAs[Long]("to_ms") === 30000L)
    } finally q.stop()
  }

  test("streaming retention hits aggregate to the batch retention matrix under shuffled delivery") {
    implicit val sqlCtx = spark.sqlContext
    val d = 86400000L
    def tev(id: Long, ms: Long, user: Long) =
      Event(id, new Timestamp(ms), user, "click", 1.0)
    // u1 active days 0,1,3; u2 days 2 (twice) and 5; u3 day 1 only
    val evs = Vector(
      tev(1, 3 * d + 5000, 1L), tev(2, 1000, 1L), tev(3, d + 2000, 1L),
      tev(4, 2 * d + 1000, 2L), tev(5, 2 * d + 9000, 2L), tev(6, 5 * d + 1000, 2L),
      tev(7, d + 7000, 3L))
    val input = MemoryStream[Event]
    val q = EventStreams.retentionHits(input.toDS(), watermark = "240 hours").writeStream
      .format("memory").queryName("retention_out").outputMode("append").start()
    try {
      // shuffled delivery: u1's day-3 event arrives before its day-0 cohort
      input.addData(evs(0), evs(3)); q.processAllAvailable()
      input.addData(evs(1), evs(2), evs(4), evs(6)); q.processAllAvailable()
      input.addData(evs(5)); q.processAllAvailable()
      input.addData(tev(99, 20 * d, 9L)); q.processAllAvailable() // wm -> day 10
      val got = spark.table("retention_out")
        .groupBy("cohort_day", "day_offset").count()
        .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSet
      import spark.implicits._
      val batchDf = evs.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val expect = graft.ext.Events.retention(batchDf).collect()
        .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSet
      assert(got === expect, s"got=$got expect=$expect")
      // sanity: u1's cohort is day 0 despite day-3-first delivery
      assert(got.exists { case (cd, off, _) => cd == "1970-01-01" && off == 3 })
    } finally q.stop()
  }

  test("retention hits equal an independent Scala reference on random events spanning re-entries") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val d = 86400000L
    // users active over ~40 days — far past the 7-day horizon, so state
    // expiry + later activity (the re-entry path) is exercised
    var t = 1000L
    val events = (1 to 250).map { i =>
      t += rnd.nextInt((4 * d).toInt).toLong
      Event(i.toLong, new Timestamp(t), 1L + rnd.nextInt(6), "click", 1.0)
    }
    val input = MemoryStream[Event]
    // memory retention must exceed the fixture's ~500-day span so the
    // first-ever cohort is remembered across every re-entry
    val q = EventStreams.retentionHits(input.toDS(), watermark = "240 hours",
        memoryRetentionMs = 1000L * d).writeStream
      .format("memory").queryName("retention_rand").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(25)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      input.addData(Event(9001L, new Timestamp(t + 30 * d), 999L, "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("retention_rand")
        .filter(col("user_id") =!= 999L)
        .select("user_id", "cohort_day", "day_offset").collect()
        .map(r => (r.getLong(0), r.getDate(1).toString, r.getInt(2))).toSet
      // independent reference: cohort = first-ever active day; distinct
      // active days within 7 days of it
      val want = events.groupBy(_.user_id).flatMap { case (u, evs) =>
        val days = evs.map(_.ts.getTime / d).distinct
        val cohort = days.min
        days.filter(day => day - cohort <= 7).map(day =>
          (u, java.time.LocalDate.ofEpochDay(cohort).toString, (day - cohort).toInt))
      }.toSet
      assert(got === want)
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("streaming sketch ingest grows the store to exact estimate-equality with a batch build") {
    val events = Tables.load(spark, SparkTestSession.sfDir, "events")
    val base = java.nio.file.Files.createTempDirectory("graft_sk_ingest").toString
    val src = s"$base/src"; val streamed = s"$base/streamed"; val batch = s"$base/batch"
    // the firehose lands as file drops — days split ACROSS drops (slice
    // by event_id, not by day, on purpose: the max-fold must heal it)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    (0 until 5).foreach { i =>
      events.filter(col("event_id") % 5 === i).select(cols.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)
    }
    graft.ext.SketchStore.buildSketchStore(events.limit(0), streamed) // cold bootstrap
    val q = EventStreams.runSketchIngest(spark, src, streamed, s"$base/ckpt",
      maxFilesPerTrigger = Some(2))
    try q.processAllAvailable() finally q.stop()
    graft.ext.SketchStore.buildSketchStore(events, batch)
    def est(d: String) = graft.ext.SketchStore.trailingDistinct(spark, d)
      .orderBy("day").collect().map(_.toSeq).toSeq
    // register max-fold: split days + any arrival order merge to the
    // IDENTICAL union — exact equality, not a tolerance
    assert(est(streamed) === est(batch))
    // compaction folds the split-day rows without changing an estimate
    graft.ext.SketchStore.compactSketchStore(spark, streamed)
    assert(est(streamed) === est(batch))
    val perDay = spark.read.parquet(s"$streamed/days")
      .groupBy("day").count().agg(max("count")).collect()(0).getLong(0)
    assert(perDay === 1L)
  }

  test("streaming hist ingest grows the store to exact report-equality with a batch build") {
    val events = Tables.load(spark, SparkTestSession.sfDir, "events")
    val base = java.nio.file.Files.createTempDirectory("graft_hist_ingest").toString
    val src = s"$base/src"; val streamed = s"$base/streamed"; val batch = s"$base/batch"
    // days split ACROSS file drops on purpose: additive bin counts must
    // sum the splits exactly (and the slot rename must keep replay out)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    (0 until 5).foreach { i =>
      events.filter(col("event_id") % 5 === i).select(cols.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)
    }
    graft.ext.HistStore.buildHistStore(events.limit(0), streamed) // cold bootstrap
    val q = EventStreams.runHistIngest(spark, src, streamed, s"$base/ckpt",
      maxFilesPerTrigger = Some(2))
    try q.processAllAvailable() finally q.stop()
    graft.ext.HistStore.buildHistStore(events, batch)
    def rep(d: String) = graft.ext.HistStore.trailingQuantiles(spark, d)
      .orderBy("day").collect().map(_.toSeq).toSeq
    // ADD fold over exact integers: split days in any arrival order sum
    // to the identical histogram — exact equality, not a tolerance
    assert(rep(streamed) === rep(batch))
    assert(rep(streamed).nonEmpty)
    // compaction folds the stream slots into days/ without changing a row
    graft.ext.HistStore.compactHistStore(spark, streamed)
    assert(!new java.io.File(s"$streamed/days_stream").exists())
    assert(rep(streamed) === rep(batch))
  }

  test("hist ingest survives a stop/restart from checkpoint without double-counting") {
    val events = Tables.load(spark, SparkTestSession.sfDir, "events")
    val base = java.nio.file.Files.createTempDirectory("graft_hist_restart").toString
    val src = s"$base/src"; val streamed = s"$base/streamed"; val batch = s"$base/batch"
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    def drop(i: Int): Unit =
      events.filter(col("event_id") % 4 === i).select(cols.map(col): _*)
        .coalesce(1).write.mode("append").parquet(src)
    drop(0); drop(1)
    graft.ext.HistStore.buildHistStore(events.limit(0), streamed)
    // wave 1: two drops, then a clean stop
    val q1 = EventStreams.runHistIngest(spark, src, streamed, s"$base/ckpt",
      maxFilesPerTrigger = Some(1))
    try q1.processAllAvailable() finally q1.stop()
    // wave 2: two more drops land while the query is DOWN; the restarted
    // query must resume from the checkpoint — wave-1 files stay consumed
    // (re-reading them would double their additive counts)
    drop(2); drop(3)
    val q2 = EventStreams.runHistIngest(spark, src, streamed, s"$base/ckpt",
      maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable() finally q2.stop()
    graft.ext.HistStore.buildHistStore(events, batch)
    def rep(d: String) = graft.ext.HistStore.trailingQuantiles(spark, d)
      .orderBy("day").collect().map(_.toSeq).toSeq
    assert(rep(streamed) === rep(batch))
  }

  test("streaming dedup keeps first delivery per event_id, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStreams.dedupEvents(input.toDS()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(ev(1, 1000), ev(2, 2000))
      q.processAllAvailable()
      // replayed delivery of event 1 (same id, later ts) within the
      // watermark → suppressed; a genuinely new event passes
      input.addData(ev(1, 5000), ev(3, 6000))
      q.processAllAvailable()
      val out = spark.table("dedup_out").collect()
      assert(out.map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 2L, 3L))
      // the kept row for id 1 is the FIRST delivery
      assert(out.find(_.getAs[Long]("event_id") == 1L).get
        .getAs[Timestamp]("ts").getTime === 1000L)
    } finally q.stop()
  }

  test("dedup and anomaly state stay O(active keys) as event time passes the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val delay = 2 * 3600000L // both operators' default 2-hour watermark
    val step = 3600000L      // each micro-batch advances event time one hour
    val types = Seq("click", "view", "purchase")
    val input = MemoryStream[Event]
    val dedup = EventStreams.dedupEvents(input.toDS()).writeStream
      .format("memory").queryName("dedup_bound").outputMode("append").start()
    val anomaly = EventStreams.anomalyHourly(input.toDS()).writeStream
      .format("memory").queryName("anomaly_bound").outputMode("append").start()
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      var seen = Vector.empty[Event]
      for (b <- 0 until 12) {
        val fresh = (0 until 10).map(j => Event(b * 10L + j, new Timestamp(1000 + b * step + j * 6 * 60000L),
          42L, types(j % types.size), 1.0))
        // replays of the previous batch's ids: same key, later delivery
        val replays = seen.takeRight(3).map(e => e.copy(ts = new Timestamp(1000 + b * step)))
        // watermark used for eviction in this batch: max event time seen so
        // far minus the delay; dedup keeps an id until ts + delay passes it
        val wm = if (seen.isEmpty) Long.MinValue else seen.map(_.ts.getTime).max - delay
        seen ++= fresh
        input.addData(fresh ++ replays: _*)
        dedup.processAllAvailable(); anomaly.processAllAvailable()
        val dedupRows = stateRows(dedup)
        val inHorizon = seen.count(e => e.ts.getTime + delay >= wm)
        assert(dedupRows <= inHorizon, s"batch $b: dedup state $dedupRows > $inHorizon ids in horizon")
        assert(stateRows(anomaly) === types.size,
          s"batch $b: anomaly state is not one row per event type")
      }
      val finalRows = stateRows(dedup)
      assert(finalRows > 0)
      assert(finalRows * 2 < seen.size, s"dedup state $finalRows not well below ${seen.size} distinct ids")
      assert(spark.table("dedup_bound").count() === seen.size)
    } finally { dedup.stop(); anomaly.stop() }
  }

  test("streaming tumbling window emits finalized hourly windows matching batch expressions") {
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    val input = MemoryStream[Event]
    val q = EventStreams.tumblingHourly(input.toDS().toDF(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("tumbling_out").outputMode("append").start()
    try {
      input.addData(ev(1, 1000), ev(2, h - 1))
      q.processAllAvailable()
      // watermark (max ts) must pass the window end before hour-0 is emitted
      input.addData(ev(3, 2 * h + 1))
      q.processAllAvailable()
      val rows = spark.table("tumbling_out").collect()
      val hour0 = rows.find(_.getAs[Long]("window_start_ms") == 0L)
      assert(hour0.isDefined)
      assert(hour0.get.getAs[Long]("n") === 2L)
      assert(hour0.get.getAs[Double]("sum_value") === 2.0)
    } finally q.stop()
  }

  test("anomaly equals the batch operator on random events under random splits") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val h = 3600000L
    val types = Seq("click", "view")
    var t = 1000L
    val events = (1 to 400).map { i =>
      t += rnd.nextInt((h / 3).toInt).toLong // ~3 events/hour over ~45 hours
      Event(i.toLong, new Timestamp(t), 42L, types(rnd.nextInt(2)), 1.0)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.anomalyHourly(input.toDS()).writeStream
      .format("memory").queryName("anomaly_rand").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(30)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      input.addData(Event(9001L, new Timestamp(t + 100 * h), 999L, "sentinel", 1.0))
      q.processAllAvailable()
      val got = spark.table("anomaly_rand")
        .filter(col("event_type") =!= "sentinel")
        .select("hour_ms", "event_type", "n", "baseline", "spike_score").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      import spark.implicits._
      val batchDf = events.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val expect = graft.ext.Events.anomalyHourly(batchDf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      assert(got === expect)
      assert(got.size > 40, s"degenerate fixture: ${got.size} scored buckets")
    } finally q.stop()
  }

  test("streaming anomaly equals the batch operator over finalized hours") {
    implicit val sqlCtx = spark.sqlContext
    val h = 3600000L
    def tev(id: Long, ms: Long, typ: String) =
      Event(id, new Timestamp(ms), 42L, typ, 1.0)
    // clicks: 2/hour for hours 0-3, burst of 9 in hour 4; views: 3/hour 0-2
    val evs = ((0L until 4L).flatMap(k => Seq(
        tev(k * 10 + 1, k * h + 1000, "click"), tev(k * 10 + 2, k * h + 2000, "click"))) ++
      (0L until 9L).map(i => tev(100 + i, 4 * h + 1000 + i, "click")) ++
      (0L until 3L).flatMap(k => Seq(
        tev(200 + k * 10, k * h + 1500, "view"), tev(201 + k * 10, k * h + 2500, "view"),
        tev(202 + k * 10, k * h + 3500, "view")))).toVector
    val input = MemoryStream[Event]
    val q = EventStreams.anomalyHourly(input.toDS()).writeStream
      .format("memory").queryName("anomaly_out").outputMode("append").start()
    try {
      // deliver in two batches while the watermark is still below every
      // event (wm lags 2h behind max event time), then push it past hour 4
      val (burst, early) = evs.partition(_.ts.getTime >= 4 * h)
      input.addData(early: _*); q.processAllAvailable()   // wm stays ~1h
      input.addData(burst: _*); q.processAllAvailable()
      input.addData(tev(999, 10 * h, "other")); q.processAllAvailable()
      val got = spark.table("anomaly_out")
        .select("hour_ms", "event_type", "n", "baseline", "spike_score").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      // batch twin on the same events (watermark passed hours 0-4 for click/view)
      import spark.implicits._
      val batchDf = evs.map(e => (e.event_id, e.ts, e.user_id, e.event_type, e.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val expect = graft.ext.Events.anomalyHourly(batchDf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      assert(got === expect, s"got=$got expect=$expect")
      assert(got.exists { case (ms, t, n, _, _) => ms == 4 * h && t == "click" && n == 9L })
    } finally q.stop()
  }

  test("asofEnrich equals batch asofJoin under RANDOM micro-batch splits (300 events)") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val types = Seq("click", "view", "purchase", "error")
    var t = 1000L
    val events = (1 to 300).map { i =>
      t += rnd.nextInt(30 * 60 * 1000).toLong
      Event(i.toLong, new Timestamp(t), 1L + rnd.nextInt(6),
        types(rnd.nextInt(types.length)), rnd.nextInt(100) / 10.0)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.asofEnrich(input.toDS(), retentionMs = 400L * 86400000L)
      .writeStream.format("memory").queryName("asof_rand").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(25)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      for (k <- 1 to 3) {
        input.addData(Event(10000L + k, new Timestamp(t + k * 36000000L), 9999L, "click", 1.0))
        q.processAllAvailable()
      }
      def optLong(r: org.apache.spark.sql.Row, c: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
      val streamed = spark.table("asof_rand").collect()
        .filter(_.getAs[Long]("user_id") != 9999L)
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), r.getAs[Long]("ms"),
          optLong(r, "match_event_id"), optLong(r, "match_ms"), optLong(r, "lag_ms")))
        .sortBy(_._1)
      val batch = graft.ext.Events.asofJoin(events.toDF()).collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), r.getAs[Long]("ms"),
          optLong(r, "match_event_id"), optLong(r, "match_ms"), optLong(r, "lag_ms")))
        .sortBy(_._1)
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length > 30, s"degenerate fixture: ${streamed.length} purchases")
      assert(streamed.count(_._4.isEmpty) > 0, "fixture never exercised the unmatched path")
    } finally q.stop()
  }

  test("asofEnrich matches a right event arriving a batch AFTER its left event") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[Event]
    val q = EventStreams.asofEnrich(input.toDS())
      .writeStream.format("memory").queryName("asof_late").outputMode("append").start()
    try {
      // batch 1: the purchase (user 1) and a right-less purchase (user 2)
      input.addData(
        Event(2L, new Timestamp(base + 3600000L), 1L, "purchase", 5.0),
        Event(5L, new Timestamp(base + 3600000L), 2L, "purchase", 1.0))
      q.processAllAvailable()
      // batch 2: user 1's click, EARLIER in event time but within watermark
      input.addData(Event(1L, new Timestamp(base), 1L, "click", 1.0))
      q.processAllAvailable()
      // flush: advance the watermark far past both purchases
      input.addData(Event(99L, new Timestamp(base + 48L * 3600000L), 9999L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("asof_late").collect()
        .filter(_.getAs[Long]("user_id") != 9999L)
        .map(r => (r.getAs[Long]("event_id"),
          if (r.isNullAt(r.fieldIndex("match_event_id"))) None
          else Some((r.getAs[Long]("match_event_id"), r.getAs[Long]("lag_ms")))))
        .toMap
      assert(rows(2L) === Some((1L, 3600000L)), "late-arriving right must still match")
      assert(rows(5L) === None)
    } finally q.stop()
  }

  test("asofEnrich maxRights overflow folds conservatively — never a wrong match") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000000L
    val input = MemoryStream[Event]
    // cap 1: of the in-watermark rights {10, 20, 30}, only ms=30 stays
    // buffered; {10, 20} fold to best = 20. The purchase at ms=15 (true
    // batch match: right@10) then sees best(20) and buffer(30) both AFTER
    // it in the total order → emitted UNMATCHED, the documented
    // conservative outcome (drop the match, never fabricate a wrong one).
    // The purchase at ms=25 still matches best(20) exactly as batch does.
    val q = EventStreams.asofEnrich(input.toDS(), maxRights = 1)
      .writeStream.format("memory").queryName("asof_cap").outputMode("append").start()
    try {
      input.addData(
        Event(1L, new Timestamp(base + 10), 1L, "click", 1.0),
        Event(2L, new Timestamp(base + 20), 1L, "click", 1.0),
        Event(3L, new Timestamp(base + 30), 1L, "click", 1.0),
        Event(4L, new Timestamp(base + 15), 1L, "purchase", 1.0),
        Event(5L, new Timestamp(base + 25), 1L, "purchase", 1.0))
      q.processAllAvailable()
      input.addData(Event(99L, new Timestamp(base + 48L * 3600000L), 9999L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("asof_cap").collect()
        .filter(_.getAs[Long]("user_id") != 9999L)
        .map(r => (r.getAs[Long]("event_id"),
          if (r.isNullAt(r.fieldIndex("match_event_id"))) None
          else Some(r.getAs[Long]("match_event_id")))).toMap
      assert(rows(4L) === None, "folded-over match must drop, not mis-match")
      assert(rows(5L) === Some(2L), "best-fold keeps the max dropped right")
    } finally q.stop()
  }

  test("tagIncidents equals the batch interval join under random micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val base = 1700000000000L
    val types = Seq("click", "view", "error")
    val events = (1 to 200).map { i =>
      Event(i.toLong, new Timestamp(base + rnd.nextInt(4 * 3600 * 1000)), 1L + rnd.nextInt(4),
        types(rnd.nextInt(types.length)), 1.0)
    }
    // static incident windows incl. one spanning multiple buckets and one
    // aligned exactly on a bucket boundary
    val anchors = Seq(
      (100L, base + 600000L, base + 1200000L),            // bucket-aligned
      (101L, base + 1000000L, base + 3500000L),           // spans 5 buckets
      (102L, base + 7200000L, base + 7200000L + 250000L)  // inside one bucket
    ).toDF("anchor_id", "lo", "hi")
    val input = MemoryStream[Event]
    val q = EventStreams.tagIncidents(input.toDS(), anchors).writeStream
      .format("memory").queryName("tag_inc").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(30)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      val streamed = spark.table("tag_inc").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("anchor_id"))).sorted.toSeq
      val batch = events.toDF()
        .withColumn("ms", unix_millis(col("ts")))
        .join(anchors, col("ms") >= col("lo") && col("ms") < col("hi"))
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("anchor_id"))).sorted.toSeq
      assert(streamed === batch)
      assert(streamed.nonEmpty, "degenerate fixture: no event landed in any window")
      // boundary semantics: an event exactly at lo matches, exactly at hi does not
      val b = streamed.count(_._2 == 100L)
      assert(b === batch.count(_._2 == 100L))
    } finally q.stop()
  }

  test("streaming statusHistory equals batch CLOSED runs under random micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    // 300 in-order events over 4 users with only 3 statuses and short
    // inter-event gaps — many short runs closing across batch boundaries
    val types = Array("active", "idle", "churned")
    var t = 1000L
    val events = (1 to 300).map { i =>
      t += rnd.nextInt(10 * 60 * 1000).toLong
      Event(i.toLong, new Timestamp(t), 1L + rnd.nextInt(4),
        types(rnd.nextInt(types.length)), 1.0)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.statusHistory(input.toDS()).writeStream
      .format("memory").queryName("scd2_stream").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(25)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      // watermark sentinels flush every user's buffered events; the OPEN
      // run per user stays in state by design (batch reports it with NULL
      // valid_to — a stream cannot finalize it)
      for (k <- 1 to 3) {
        input.addData(Event(10000L + k, new Timestamp(t + k * 36000000L), 9999L, "active", 1.0))
        q.processAllAvailable()
      }
      val streamed = spark.table("scd2_stream").collect()
        .filter(_.getAs[Long]("user_id") != 9999L)
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id"),
          r.getAs[String]("status"), r.getAs[Long]("valid_from_ms"),
          r.getAs[Long]("valid_to_ms"), r.getAs[Long]("n_events")))
        .sorted
      val batch = graft.ext.Events.statusHistory(
          events.toDF().withColumn("props", lit("{}")))
        .collect()
        .filter(r => !r.isNullAt(r.fieldIndex("valid_to_ms")))
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id"),
          r.getAs[String]("status"), r.getAs[Long]("valid_from_ms"),
          r.getAs[Long]("valid_to_ms"), r.getAs[Long]("n_events")))
        .sorted
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.length > 30, s"degenerate fixture: ${streamed.length} closed runs")
    } finally q.stop()
  }

  test("streaming forecastEvalHourly aggregates to the batch per-type forecast eval") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    // 3 days of events over 3 types with hour-scale spacing: plenty of
    // (hour, hour-24h) bucket pairs, some hours empty (the exclusion rule)
    val types = Array("view", "click", "purchase")
    var t = 1700000000000L
    val events = (1 to 400).map { i =>
      t += rnd.nextInt(20 * 60 * 1000).toLong
      Event(i.toLong, new Timestamp(t), 1L + rnd.nextInt(10),
        types(rnd.nextInt(types.length)), 1.0)
    }
    val input = MemoryStream[Event]
    val q = EventStreams.forecastEvalHourly(input.toDS()).writeStream
      .format("memory").queryName("fcst_stream").outputMode("append").start()
    try {
      var idx = 0
      while (idx < events.length) {
        val n = 1 + rnd.nextInt(30)
        input.addData(events.slice(idx, idx + n): _*)
        q.processAllAvailable()
      idx += n
      }
      // sentinels push the watermark past the last hour + the 24 h horizon
      for (k <- 1 to 3) {
        input.addData(Event(20000L + k,
          new Timestamp(t + 86400000L + k * 36000000L), 9999L, "sentinel", 1.0))
        q.processAllAvailable()
      }
      val rows = spark.table("fcst_stream").collect()
        .filter(_.getAs[String]("event_type") != "sentinel")
      val streamedByType = rows.groupBy(_.getAs[String]("event_type")).map {
        case (ty, rs) => ty -> (rs.length.toLong,
          rs.map(_.getAs[Long]("abs_err")).sum, rs.map(_.getAs[Long]("err")).sum)
      }
      val batch = graft.ext.Events.forecastEval(
          events.toDF().withColumn("props", lit("{}")))
        .collect()
        .map(r => r.getAs[String]("event_type") -> (r.getAs[Long]("n_hours_eval"),
          r.getAs[Long]("abs_err_total"), r.getAs[Long]("err_total"))).toMap
      assert(streamedByType === batch)
      assert(rows.length > 20, s"degenerate fixture: ${rows.length} eval hours")
      // per-hour rows carry exact bucket counts: n and fcst reconcile with
      // a direct recount of the fixture
      val hourly = events.groupBy(e => (e.event_type,
        e.ts.getTime - (e.ts.getTime % 3600000L))).view.mapValues(_.size.toLong).toMap
      rows.foreach { r =>
        val key = (r.getAs[String]("event_type"), r.getAs[Long]("hour_ms"))
        assert(hourly(key) === r.getAs[Long]("n"))
        assert(hourly((key._1, key._2 - 86400000L)) === r.getAs[Long]("fcst"))
      }
    } finally q.stop()
  }
}
