package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextAnalysis}
import graft.streaming.{DocIn, DocStreams}

class DocStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // diverse text (quality ≥ 50 needs ≥ 30 distinct-ish tokens)
  private val rich = (1 to 40).map(i => s"tok$i").mkString(" ")
  private val spam = ("spam " * 40).trim

  private def d(id: Long, ms: Long, text: String) =
    DocIn(id, new Timestamp(ms), text, "en", "s")

  test("streaming ingest dedups within the watermark and gates on quality") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocIn]
    val q = DocStreams.ingest(input.toDF()).writeStream
      .format("memory").queryName("ingest_out").outputMode("append").start()
    try {
      // batch 1: a rich doc, its exact duplicate (later id), and spam
      input.addData(d(1, 1000, rich), d(2, 2000, rich), d(3, 3000, spam))
      q.processAllAvailable()
      // batch 2: the same content re-delivered in a later micro-batch
      // (still inside the 1h watermark) plus a new rich doc
      input.addData(d(4, 60000, rich), d(5, 61000, "extra " + rich))
      q.processAllAvailable()
      val out = spark.table("ingest_out").collect()
      // doc 1 kept (first arrival); 2 and 4 dropped as dups; 3 gated
      // (1 distinct token → score ≈ 2.5); 5 kept (its prefix-80 differs)
      assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 5L))
      val kept = out.find(_.getAs[Long]("doc_id") == 1L).get
      assert(kept.getAs[Double]("quality_score") >= 50.0)
    } finally q.stop()
  }

  test("file ingest runs readStream -> dedup/gate -> parquet sink end-to-end") {
    val base = java.nio.file.Files.createTempDirectory("docstream").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Seq(d(1, 1000, rich), d(2, 2000, rich), d(3, 3000, spam))
      .toDS().write.parquet(src)
    val q = graft.streaming.DocStreams.runFileIngest(spark, src, out, ckpt)
    try {
      q.processAllAvailable()
      Seq(d(5, 61000, "extra " + rich)).toDS().write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.read.parquet(out).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 5L))
  }

  test("file ingest restarts from its checkpoint without re-emitting kept docs") {
    val base = java.nio.file.Files.createTempDirectory("docstream_restart").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Seq(d(1, 1000, rich)).toDS().write.parquet(src)
    val q1 = graft.streaming.DocStreams.runFileIngest(spark, src, out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // restart from the same checkpoint; only the NEW file may produce rows
    Seq(d(5, 61000, "extra " + rich)).toDS().write.mode("append").parquet(src)
    val q2 = graft.streaming.DocStreams.runFileIngest(spark, src, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val kept = spark.read.parquet(out).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).sorted.toSeq === Seq(1L, 5L),
      "restart must neither drop the new doc nor re-emit the old one")
  }

  test("store ingest loop: rejects store dups, collapses in-batch clones, grows the store") {
    val base = java.nio.file.Files.createTempDirectory("store_ingest").toString
    val src = s"$base/src"; val out = s"$base/out"
    val ckpt = s"$base/ckpt"; val store = s"$base/store"
    def words(seed: String) = (1 to 40).map(i => s"$seed$i").mkString(" ")
    val histText = words("hist")
    // historical store: one doc
    Dedup.buildBandStore(Seq((100L, histText)).toDF("doc_id", "text"), store)

    // batch 1: doc 1 duplicates the store; docs 2+3 clone each other
    // (invisible to the store probe — the in-batch stage must catch them);
    // doc 4 is fresh
    Seq(d(1, 1000, histText), d(2, 2000, words("pair")), d(3, 3000, words("pair")),
      d(4, 4000, words("fresh"))).toDS().write.parquet(src)
    val q1 = DocStreams.runStoreIngest(spark, src, store, out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      === Seq(2L, 4L), "batch 1 must keep exactly the pair keeper and the fresh doc")

    // batch 2: doc 5 duplicates batch-1's doc 4 — rejected ONLY because
    // the store grew; doc 6 is fresh
    Seq(d(5, 61000, words("fresh")), d(6, 62000, words("novel")))
      .toDS().write.mode("append").parquet(src)
    val q2 = DocStreams.runStoreIngest(spark, src, store, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      === Seq(2L, 4L, 6L), "batch 2 must reject the dup of batch-1's kept doc")

    // the store now carries exactly the historical + accepted ids
    val storeIds = spark.read.parquet(s"$store/hashes")
      .select("hist_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(storeIds === Seq(2L, 4L, 6L, 100L))
  }

  test("span-dedup ingest loop: streaming keep-first manifests equal the batch probe→append replay over the same micro-batches") {
    // VERDICT r14 #4: the stored keep-first form's continuous front door.
    // The stream IS spanDedupOnceStored + appendToSpanStore per trigger,
    // so the differential replays the SAME seeded micro-batch splits
    // through the batch loop on a second store and asserts row equality —
    // manifests AND final store contents. (Batch composition over
    // id-ordered day splits ≡ in-line spanDedupOnce is pinned separately
    // in ExtDedupSpec; together they chain the stream to the in-line
    // operator.)
    val base = java.nio.file.Files.createTempDirectory("span_ingest").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val store = s"$base/store"; val replayStore = s"$base/rstore"
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val hist = docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text")
    Dedup.buildSpanStore(hist, store)
    Dedup.buildSpanStore(hist, replayStore)
    val incoming = docs.filter(col("doc_id") % 7 === 0).orderBy("doc_id").collect()
      .map(r => DocIn(r.getAs[Long]("doc_id"),
        new Timestamp(1000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
    // seeded random splits; each becomes exactly one micro-batch (the new
    // file drop is all the source sees per processAllAvailable)
    val rnd = new scala.util.Random(23)
    val batches = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[DocIn]]
    var rest = incoming.toIndexedSeq
    while (rest.nonEmpty) {
      val n = 1 + rnd.nextInt(math.min(25, rest.size))
      batches += rest.take(n); rest = rest.drop(n)
    }
    assert(batches.size >= 3, "fixture must split into several micro-batches")
    // the file source needs src to exist at query start: drop batch 1
    // first, then feed the rest between processAllAvailable calls
    batches.head.toDS().write.parquet(src)
    val q = DocStreams.runSpanDedupIngest(spark, src, store, out, ckpt)
    try {
      q.processAllAvailable()
      batches.tail.foreach { b =>
        b.toDS().write.mode("append").parquet(src)
        q.processAllAvailable()
      }
    } finally q.stop()
    // batch replay of the same splits on the twin store
    val replayed = batches.flatMap { b =>
      val bdf = b.toDS().toDF().select("doc_id", "text")
      val m = Dedup.spanDedupOnceStored(bdf, replayStore).collect().map(_.toSeq)
      Dedup.appendToSpanStore(bdf, replayStore)
      m
    }.sortBy(_.head.asInstanceOf[Long]).toSeq
    val streamed = spark.read.parquet(out).collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(streamed === replayed,
      "streaming manifests must equal the batch probe→append replay")
    assert(streamed.size === incoming.length)
    // both loops grew their stores to the same cumulative window-hash set
    val sh = spark.read.parquet(s"$store/winhashes").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val rh = spark.read.parquet(s"$replayStore/winhashes").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(sh === rh, "the grown stores must hold identical hash sets")
    // the fixture exercises the keep-first paths: history cuts exist, and
    // later batches cut passages first seen in EARLIER batches (the loop's
    // reason to exist — the store grew mid-stream)
    assert(streamed.exists(r => r(5) != "keep"), "history/in-batch cuts must exist")
    val firstIds = batches.head.map(_.doc_id).toSet
    assert(streamed.count(r => !firstIds(r.head.asInstanceOf[Long]) &&
      r(3).asInstanceOf[Long] > 0L) > 0,
      "later micro-batches must contain cut docs")
  }

  test("packStream equals batch pack on fixture docs under random id-ordered splits") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val docsDf = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val docs = docsDf.collect().map(r => DocIn(r.getAs[Long]("doc_id"),
      new Timestamp(1000L + r.getAs[Long]("doc_id")), r.getAs[String]("text"),
      r.getAs[String]("lang"), r.getAs[String]("source")))
      .sortBy(_.doc_id) // id-ordered arrival (the equality contract)
    val input = MemoryStream[DocIn]
    val q = DocStreams.packStream(input.toDS()).writeStream
      .format("memory").queryName("pack_stream").outputMode("append").start()
    try {
      var idx = 0
      while (idx < docs.length) {
        val n = 1 + rnd.nextInt(60)
        input.addData(docs.slice(idx, idx + n): _*)
        q.processAllAvailable()
        idx += n
      }
      val streamed = spark.table("pack_stream").collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("first_seq"),
          r.getAs[Long]("last_seq"), r.getAs[Long]("n_seqs"))).sorted
      val batch = graft.ext.Packing.pack(docsDf).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
          r.getAs[Int]("n_tokens").toLong, r.getAs[Long]("first_seq"),
          r.getAs[Long]("last_seq"), r.getAs[Long]("n_seqs"))).sorted
      assert(streamed.length === batch.length)
      assert(streamed.toSeq === batch.toSeq)
      // the fixture actually exercises boundary-spanning docs
      assert(streamed.count(_._6 > 1) > 10, "degenerate fixture: no spanning docs")
    } finally q.stop()
  }

  test("streaming decontamination flags stream docs sharing 5-grams with the static eval set") {
    implicit val sqlCtx = spark.sqlContext
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    val evalDocs = Seq((100L, evalText)).toDF("doc_id", "text")
    val input = MemoryStream[DocIn]
    val q = graft.streaming.DocStreams.decontaminateStream(input.toDF(), evalDocs)
      .writeStream.format("memory").queryName("decon_out").outputMode("update").start()
    try {
      // doc 1 contains an eval 5-gram mid-document; doc 2 is clean
      input.addData(
        d(1, 1000, s"prefix words alpha beta gamma delta epsilon more tail"),
        d(2, 2000, "totally clean words with no benchmark overlap at all"))
      q.processAllAvailable()
      val out = spark.table("decon_out").collect()
      assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
      assert(out.head.getAs[Long]("n_shared") === 1L) // exactly the one 5-gram
    } finally q.stop()
  }

  test("streaming dedup against the band store equals batch incrementalStored") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_stream_store").toString
    Dedup.buildBandStore(docs.filter(col("doc_id") % 7 =!= 0), store)
    val incoming = docs.filter(col("doc_id") % 7 === 0).orderBy("doc_id").collect()
      .map(r => DocIn(r.getAs[Long]("doc_id"),
        new Timestamp(1000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
    val input = MemoryStream[DocIn]
    // update mode so in-horizon windows surface (the 1h watermark never
    // closes inside the test); every pair's bands arrive in ONE micro-batch
    // (they explode from a single doc row), so each group emits once
    val q = graft.streaming.DocStreams.dedupAgainstStore(input.toDF(), store)
      .writeStream.format("memory").queryName("store_dedup_out")
      .outputMode("update").start()
    try {
      // adversarial micro-batch splits, all inside the watermark
      input.addData(incoming.take(24).toIndexedSeq: _*); q.processAllAvailable()
      input.addData(incoming.slice(24, 48).toIndexedSeq: _*); q.processAllAvailable()
      input.addData(incoming.drop(48).toIndexedSeq: _*); q.processAllAvailable()
      val streamed = spark.table("store_dedup_out")
        .select("inc_id", "hist_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct.sorted
      val batch = Dedup.incrementalStored(docs.filter(col("doc_id") % 7 === 0), store)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming triage against the triage store equals batch ingestTriageStored") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_triage_stream").toString
    Dedup.buildTriageStore(docs.filter(col("doc_id") % 7 =!= 0), store,
      expectedItems = 10000L)
    val incoming = docs.filter(col("doc_id") % 7 === 0).orderBy("doc_id").collect()
      .map(r => DocIn(r.getAs[Long]("doc_id"),
        new Timestamp(1000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
    val input = MemoryStream[DocIn]
    val q = DocStreams.triageStream(input.toDF(), store)
      .writeStream.format("memory").queryName("triage_stream_out")
      .outputMode("update").start()
    try {
      // seeded random micro-batch splits, all inside the watermark — a
      // doc's bands explode from its single arrival row, so any split
      // must reproduce the batch verdicts row-for-row
      val rnd = new scala.util.Random(11)
      var rest = incoming.toIndexedSeq
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(math.min(25, rest.size))
        input.addData(rest.take(n): _*); q.processAllAvailable()
        rest = rest.drop(n)
      }
      val cols = Seq("doc_id", "verdict", "near_hist_id", "jaccard")
      val streamed = spark.table("triage_stream_out")
        .select(cols.map(col): _*).collect()
        .map(_.toSeq).distinct.sortBy(_.head.asInstanceOf[Long])
      val batch = Dedup.ingestTriageStored(docs.filter(col("doc_id") % 7 === 0), store)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(streamed.toSeq === batch)
      assert(batch.exists(_(1) == "exact") && batch.exists(_(1) == "fresh"),
        "fixture must exercise exact and fresh verdicts")
      assert(batch.exists(_(2) != null), "fixture must carry a near match")
    } finally q.stop()
  }

  test("streaming spans against the window-hash store equal batch spansAgainstStore") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_span_store").toString
    Dedup.buildSpanStore(docs.filter(col("doc_id") % 7 =!= 0), store)
    val incoming = docs.filter(col("doc_id") % 7 === 0).orderBy("doc_id").collect()
      .map(r => DocIn(r.getAs[Long]("doc_id"),
        new Timestamp(1000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
    val input = MemoryStream[DocIn]
    val q = DocStreams.spansAgainstStore(input.toDF(), store)
      .writeStream.format("memory").queryName("span_store_out")
      .outputMode("update").start()
    try {
      // random-but-deterministic micro-batch splits (seeded), all inside
      // the watermark — a doc's windows always co-arrive (one source row),
      // so any split must reproduce the batch result row-for-row
      val rnd = new scala.util.Random(7)
      var rest = incoming.toIndexedSeq
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(math.min(25, rest.size))
        input.addData(rest.take(n): _*); q.processAllAvailable()
        rest = rest.drop(n)
      }
      val cols = Seq("doc_id", "n_words", "n_dup_windows", "n_spans", "n_dup_tokens", "dup_frac")
      val streamed = spark.table("span_store_out")
        .select(cols.map(col): _*).collect()
        .map(_.toSeq).distinct.sortBy(_.head.asInstanceOf[Long])
      val batch = Dedup.spansAgainstStore(docs.filter(col("doc_id") % 7 === 0), store)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(streamed.toSeq === batch)
      assert(batch.exists(r => r(3).asInstanceOf[Long] > 0L), "fixture must contain stored spans")
      assert(batch.exists(r => r(3).asInstanceOf[Long] === 0L), "fixture must contain clean docs")
    } finally q.stop()
  }

  // --- streaming cleaning twins: differential vs batch under random splits ---

  /** Fixture docs with deterministic PII decorations (the registry query's
    * construction shape, built row-side so stream and batch inputs are
    * bit-identical). */
  private def piiRows: Array[DocIn] = {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    docs.orderBy("doc_id").limit(200).collect().map { r =>
      val id = r.getAs[Long]("doc_id")
      val extra = (if (id % 2 == 0) s" contact user$id@mail.example.com" else "") +
        (if (id % 3 == 0) " call (555) 123-4567" else "") +
        (if (id % 5 == 0) s" from 10.${id % 256}.0.1" else "") +
        (if (id % 7 == 0) s" ref ${id * 13 + 1000000}" else "")
      d(id, 1000L + id, r.getAs[String]("text") + extra)
    }
  }

  /** Drive `rows` through `stream` in seeded random micro-batches and
    * return the distinct output rows of `cols`, doc_id-sorted. */
  private def runSplits(rows: Array[DocIn], queryName: String, mode: String,
                        cols: Seq[String])(stream: org.apache.spark.sql.DataFrame
                          => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocIn]
    val q = stream(input.toDF()).writeStream
      .format("memory").queryName(queryName).outputMode(mode).start()
    try {
      val rnd = new scala.util.Random(11)
      var rest = rows.toIndexedSeq
      while (rest.nonEmpty) {
        val n = 1 + rnd.nextInt(math.min(25, rest.size))
        input.addData(rest.take(n): _*); q.processAllAvailable()
        rest = rest.drop(n)
      }
      spark.table(queryName).select(cols.map(col): _*).collect()
        .map(_.toSeq).distinct.sortBy(_.head.asInstanceOf[Long]).toSeq
    } finally q.stop()
  }

  test("streaming PII scrub equals batch piiScrub under random micro-batch splits") {
    val rows = piiRows
    val cols = Seq("doc_id", "n_email", "n_phone", "n_ip", "n_id",
      "n_chars_scrubbed", "scrub_md5", "changed")
    val streamed = runSplits(rows, "pii_stream_out", "append", cols)(
      DocStreams.piiScrubStream)
    val batch = graft.ext.Clean.piiScrub(rows.toSeq.toDF())
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(batch.exists(_(7) === 1) && batch.exists(_(7) === 0),
      "fixture must mix scrubbed and clean docs")
  }

  test("streaming Gopher filter equals batch gopherQuality under random micro-batch splits") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val rows = docs.orderBy("doc_id").limit(200).collect().map(r =>
      d(r.getAs[Long]("doc_id"), 1000L + r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val cols = Seq("doc_id", "n_words", "mean_word_len", "distinct_ratio",
      "pass_word_count", "pass_mean_len", "pass_stopword", "pass_distinct", "pass_all")
    val streamed = runSplits(rows, "gopher_stream_out", "append", cols)(
      df => DocStreams.gopherQualityStream(df))
    val batch = graft.ext.Clean.gopherQuality(rows.toSeq.toDF())
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(batch.exists(_(8) === 1) && batch.exists(_(8) === 0),
      "fixture must mix passing and failing docs")
  }

  test("streaming quality scorer equals the batch broadcast-join scorer under random micro-batch splits") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    // train in batch on the %5 != 0 fold of the Gopher labels (exactly
    // what the deployable batch qualityScore does), then fold the
    // bounded weight relation for serving
    val weights = TextAnalysis.qualityTrain(docs,
      TextAnalysis.gopherLabels(docs).filter(col("doc_id") % 5 =!= 0))
    val folded = TextAnalysis.foldQualityWeights(weights)
    assert(folded.nonEmpty && folded.size <= 256)
    val rows = docs.orderBy("doc_id").limit(200).collect().map(r =>
      d(r.getAs[Long]("doc_id"), 1000L + r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val cols = Seq("doc_id", "score", "pred")
    val streamed = runSplits(rows, "quality_score_stream_out", "append", cols)(
      df => DocStreams.qualityScoreStream(df, folded))
    // batch side is the JOIN-based scorer — two independent
    // implementations of the one scoring definition must agree exactly
    val batch = TextAnalysis.qualityScoreWith(rows.toSeq.toDF(), weights)
      .orderBy("doc_id").select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(batch.exists(_(2) === 1L) && batch.exists(_(2) === 0L),
      "fixture must mix passing and failing predictions")
  }

  test("streaming fuzzy decontamination equals the batch stored probe under random micro-batch splits") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val base = java.nio.file.Files.createTempDirectory("fuzzdeconstream").toString
    graft.ext.Dedup.buildBandStore(docs.filter(col("doc_id") % 11 === 0), s"$base/s")
    val train = docs.filter(col("doc_id") % 11 =!= 0)
    val rows = train.orderBy("doc_id").collect().map(r =>
      d(r.getAs[Long]("doc_id"), 1000L + r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val cols = Seq("train_id", "eval_id", "jaccard")
    // update mode: a doc's bands all explode from its single arrival row,
    // so its windowed best-match finalizes within its own micro-batch
    // (the triage-stream spec's discipline)
    val streamed = runSplits(rows, "fuzzdecon_stream_out", "update", cols)(
      df => DocStreams.decontaminateFuzzyStream(df, s"$base/s"))
    val batch = graft.ext.Dedup.decontaminateFuzzyStored(train, s"$base/s")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(batch.nonEmpty, "fixture must contain fuzzy train-eval contamination")
  }

  test("streaming LM perplexity scorer served from the store matches the batch stored scorer") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val base = java.nio.file.Files.createTempDirectory("lmstream").toString
    graft.ext.LmFilter.buildLmStore(docs, s"$base/m")
    val rows = docs.orderBy("doc_id").limit(200).collect().map(r =>
      DocIn(r.getAs[Long]("doc_id"), new Timestamp(1000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
    val cols = Seq("doc_id", "lang", "in_ref", "n_terms", "ce_nats", "bucket", "kept")
    // update mode: a doc's terms all explode from its single arrival row,
    // so its windowed ln-sum finalizes within its own micro-batch
    val streamed = runSplits(rows, "lm_stream_out", "update", cols)(
      df => DocStreams.lmScoreStream(df, s"$base/m"))
    val batch = graft.ext.LmFilter.scoreAgainstLmStore(rows.toSeq.toDF(), s"$base/m")
      .orderBy("doc_id").select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(streamed.length === batch.length)
    // identical ln-terms, summation order differs (windowed agg vs batch
    // partial agg) -> the rounded score compares under a round-off bound;
    // buckets/kept agree exactly EXCEPT at cutoff ties — a doc whose
    // round-6 ce lands within the round-off bound of a stored cutoff can
    // legitimately round across it under a different summation order, so
    // those (rare) docs are excluded from the exact-bucket assertion
    val cuts = graft.ext.LmFilter.foldCuts(
      spark.read.parquet(s"$base/m/cuts"))
    var tieDocs = 0
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.take(4) === b.take(4), s"$s vs $b")
      assert(math.abs(s(4).asInstanceOf[Double] - b(4).asInstanceOf[Double]) <= 2e-6,
        s"ce drift beyond float round-off: $s vs $b")
      val ce = b(4).asInstanceOf[Double]
      val nearCut = cuts.get(b(1).asInstanceOf[String]).exists { case (c1, c2) =>
        math.abs(ce - c1) <= 2e-6 || math.abs(ce - c2) <= 2e-6 }
      if (nearCut) tieDocs += 1
      else assert(s.drop(5) === b.drop(5), s"bucket/kept drift: $s vs $b")
    }
    assert(tieDocs < batch.length / 10, s"$tieDocs cutoff-tie docs — bound too loose")
    assert(batch.map(_(5)).distinct.size === 3, "fixture must hit all three buckets")
  }

  test("streaming NAMED-SHARD LM scorer (langs=de) matches the batch named-shard serve under random micro-batch splits") {
    // the r14 streaming twin of scoreAgainstLmStore(langs=…): per-language
    // shard semantics must agree between the 24/7 scorer and the batch
    // serve — arriving other-language docs are EXCLUDED (never
    // floor-scored), and the shard relation is the whole-corpus relation
    // restricted to the shard's language
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val base = java.nio.file.Files.createTempDirectory("lmshardstream").toString
    graft.ext.LmFilter.buildLmStore(docs, s"$base/m")
    val rows = docs.orderBy("doc_id").limit(200).collect().map(r =>
      DocIn(r.getAs[Long]("doc_id"), new Timestamp(1000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
    assert(rows.exists(_.lang == "de") && rows.exists(_.lang != "de"),
      "fixture must mix shard and non-shard languages")
    val cols = Seq("doc_id", "lang", "in_ref", "n_terms", "ce_nats", "bucket", "kept")
    val shard = Some(Seq("de"))
    val streamed = runSplits(rows, "lm_shard_stream_out", "update", cols)(
      df => DocStreams.lmScoreStream(df, s"$base/m", langs = shard))
    val batch = graft.ext.LmFilter.scoreAgainstLmStore(rows.toSeq.toDF(), s"$base/m",
        langs = shard)
      .orderBy("doc_id").select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(streamed.length === batch.length)
    assert(batch.nonEmpty && batch.forall(_(1) === "de"),
      "the shard serve must emit exactly the shard's language")
    assert(batch.length < rows.length, "the shard must be a strict subset of arrivals")
    // whole-corpus serve restricted to de ≡ the shard serve (same-lang
    // joins make the prune a pure scan reduction) — the registry twin's
    // oracle argument, asserted here end-to-end
    val wholeDe = graft.ext.LmFilter.scoreAgainstLmStore(rows.toSeq.toDF(), s"$base/m")
      .filter(col("lang") === "de")
      .orderBy("doc_id").select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(batch === wholeDe)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.take(4) === b.take(4), s"$s vs $b")
      assert(math.abs(s(4).asInstanceOf[Double] - b(4).asInstanceOf[Double]) <= 2e-6,
        s"ce drift beyond float round-off: $s vs $b")
    }
  }

  test("streaming DSIR scorer served from the store matches the batch stored scorer to float round-off") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val base = java.nio.file.Files.createTempDirectory("dsirstream").toString
    graft.ext.Sampling.buildDsirStore(docs, s"$base/m")
    val rows = docs.orderBy("doc_id").limit(200).collect().map(r =>
      d(r.getAs[Long]("doc_id"), 1000L + r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val cols = Seq("doc_id", "in_target", "n_feats", "weight")
    val streamed = runSplits(rows, "dsir_stream_out", "append", cols)(
      df => DocStreams.dsirScoreStoreStream(df, s"$base/m"))
    val batch = graft.ext.Sampling.scoreAgainstDsirStore(rows.toSeq.toDF(), s"$base/m")
      .orderBy("doc_id").select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(streamed.length === batch.length)
    // the ln-terms are identical doubles; only summation order differs
    // (row-local ordered fold vs the batch partial agg), so the one
    // double-weight model compares to a round-off bound, not exactly
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.take(3) === b.take(3), s"$s vs $b")
      assert(math.abs(s(3).asInstanceOf[Double] - b(3).asInstanceOf[Double]) <= 2e-6,
        s"weight drift beyond float round-off: $s vs $b")
    }
    assert(batch.exists(_(1) === true) && batch.exists(_(1) === false),
      "fixture must mix target and raw docs")
  }

  test("streaming scorer served from the model store equals the batch stored scorer") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val base = java.nio.file.Files.createTempDirectory("qmodelstream").toString
    TextAnalysis.buildQualityModelStore(docs, s"$base/m")
    val rows = docs.orderBy("doc_id").limit(200).collect().map(r =>
      d(r.getAs[Long]("doc_id"), 1000L + r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val cols = Seq("doc_id", "score", "pred")
    val streamed = runSplits(rows, "quality_store_stream_out", "append", cols)(
      df => DocStreams.qualityScoreStoreStream(df, s"$base/m"))
    // batch side = the store-served JOIN scorer; the stream serves the
    // same published weights through the folded-literal path
    val batch = TextAnalysis.scoreAgainstModelStore(rows.toSeq.toDF(), s"$base/m")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(batch.exists(_(2) === 1L) && batch.exists(_(2) === 0L),
      "fixture must mix passing and failing predictions")
  }

  test("streaming boilerplate against the line-df store equals the batch probe") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    def lined(id: Long, text: String, lang: String, source: String) =
      s"nav home about $source\n$text" +
        (if (id % 4 == 0) "\nsubscribe to the newsletter" else "") +
        (if (id % 5 == 0) s"\ndoc note $id" else "") +
        s"\ncopyright $lang all rights reserved"
    val all = docs.orderBy("doc_id").collect().map { r =>
      val id = r.getAs[Long]("doc_id")
      DocIn(id, new Timestamp(1000L + id),
        lined(id, r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")),
        r.getAs[String]("lang"), r.getAs[String]("source"))
    }
    val histDf = all.filter(_.doc_id % 7 != 0).toSeq.toDF()
    val incRows = all.filter(_.doc_id % 7 == 0)
    val store = java.nio.file.Files.createTempDirectory("graft_linedf_stream").toString
    try {
      graft.ext.Clean.buildLineDfStore(histDf, store)
      val cols = Seq("doc_id", "n_lines", "n_kept", "n_removed", "clean_md5")
      val streamed = runSplits(incRows, "boiler_stream_out", "update", cols)(
        df => DocStreams.boilerplateStream(df, store, minDf = 10))
      val batch = graft.ext.Clean.boilerplateAgainstStore(
        incRows.toSeq.toDF(), store, minDf = 10)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      assert(streamed === batch)
      assert(batch.exists(_(3).asInstanceOf[Int] > 0), "fixture must drop boilerplate lines")
      assert(batch.exists(_(2).asInstanceOf[Int] > 0), "fixture must keep unique lines")
    } finally graft.ops.Scale.deleteRecursively(new java.io.File(store))
  }

  test("span store lifecycle: append is O(increment) and probes tolerate duplicate hashes") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_span_store_lc").toString
    val hist = docs.filter(col("doc_id") % 7 =!= 0)
    Dedup.buildSpanStore(hist.filter(col("doc_id") % 2 === 1), store)
    val before = new java.io.File(s"$store/winhashes").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // append the even half PLUS a slice that was already stored — the
    // resulting store holds duplicate hashes across file sets
    Dedup.appendToSpanStore(hist.filter(col("doc_id") % 2 === 0), store)
    Dedup.appendToSpanStore(hist.filter(col("doc_id") % 14 === 1), store)
    val after = new java.io.File(s"$store/winhashes").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(before.subsetOf(after), "append must not rewrite existing store files")
    // probe result equals a fresh single-build store's despite the dups
    val clean = java.nio.file.Files.createTempDirectory("graft_span_store_cl").toString
    Dedup.buildSpanStore(hist, clean)
    val inc = docs.filter(col("doc_id") % 7 === 0)
    val probe = Dedup.spansAgainstStore(inc, store).collect().map(_.toSeq).toSeq
    assert(probe === Dedup.spansAgainstStore(inc, clean).collect().map(_.toSeq).toSeq)
    // compaction: pure layout+dedup — distinct hash set and probe result
    // unchanged, duplicate rows paid down, file count restored
    val rowsBefore = spark.read.parquet(s"$store/winhashes").count()
    val distinctBefore = spark.read.parquet(s"$store/winhashes").distinct().count()
    assert(rowsBefore > distinctBefore, "appends must have accumulated duplicate hashes")
    Dedup.compactSpanStore(spark, store)
    assert(spark.read.parquet(s"$store/winhashes").count() === distinctBefore)
    assert(Dedup.spansAgainstStore(inc, store).collect().map(_.toSeq).toSeq === probe)
    assert(!new java.io.File(s"$store.old").exists())
  }

  test("streaming ingest equals the batch filter+dedup composite under id-ordered arrival") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
      .orderBy("doc_id").limit(120).collect()
      .map(r => DocIn(r.getAs[Long]("doc_id"),
        new Timestamp(1000L + r.getAs[Long]("doc_id")),
        r.getAs[String]("text"), r.getAs[String]("lang"), r.getAs[String]("source")))
    val input = MemoryStream[DocIn]
    val q = DocStreams.ingest(input.toDF()).writeStream
      .format("memory").queryName("ingest_eq_out").outputMode("append").start()
    try {
      // adversarial split: three micro-batches, all within the watermark
      input.addData(docs.take(40).toIndexedSeq: _*); q.processAllAvailable()
      input.addData(docs.slice(40, 80).toIndexedSeq: _*); q.processAllAvailable()
      input.addData(docs.drop(80).toIndexedSeq: _*); q.processAllAvailable()
      val streamed = spark.table("ingest_eq_out")
        .select("doc_id", "quality_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted

      // batch twin on the same 120 docs: quality gate ∧ exact-dedup keepers
      // (arrival follows doc_id, so first-arrival == min-doc_id keeper)
      val batchDocs = spark.createDataFrame(
        spark.sparkContext.parallelize(docs.toIndexedSeq.map(x =>
          (x.doc_id, x.text, x.lang, x.source, x.text.length.toLong))))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val quality = TextAnalysis.quality(batchDocs).select("doc_id", "quality_score")
      val keepers = Dedup.exact(batchDocs).select("doc_id")
      val batch = quality.join(keepers, "doc_id")
        .filter(col("quality_score") >= 50.0).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}
