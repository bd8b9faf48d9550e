package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming soak — drives EVERY runnable streaming operator (every
  * [[graft.streaming.StreamingInventory.twins]] row, the registry DocSync
  * renders into SURVEY's guarded table — the count lives THERE, not here,
  * so this doc cannot drift) through a FILE source at sf1 volume (1M events / 15k users /
  * 30 days; 50k docs / 7 days — 10× the sf0.1 fixture's shape) on the
  * RocksDB state store, and records per operator: throughput, micro-batch
  * latency, and the STATE-ROWS SERIES across batches — the direct
  * evidence for the O(active keys) state claim (the series must plateau
  * at ~active keys while input keeps growing, not track cumulative
  * input). Store-probe twins probe stores PRECOMPUTED in batch (band,
  * line-df, quality-model, DSIR, triage root, eval band store).
  *
  * Input files are written as time-ordered slices and fed
  * `maxFilesPerTrigger` at a time, so the run exercises genuine
  * micro-batch progression with an advancing watermark (one giant batch
  * would test nothing about state retention).
  *
  * Usage: `runMain graft.StreamBench [outJson] [nEvents] [nDocs]` —
  * writes BENCH_streaming.json by default.
  */
object StreamBench {
  private val dayMs = 86400000L
  private val t0Ms = 1704067200000L // 2024-01-01T00:00:00Z, the fixture epoch

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("BENCH_streaming.json")
    val nEvents = if (args.length > 1) args(1).toInt else 1000000
    val nDocs = if (args.length > 2) args(2).toInt else 50000
    // optional 4th arg: comma-separated op-name substrings for TARGETED
    // soak re-runs (the batch Bench's targeted-profiling discipline,
    // needed for stream-mover adjudication): non-matching ops are skipped
    // at runOne (generators and store builds still run — a targeted run
    // measures the op, not the fixture prep). Targeted artifacts should
    // redirect outJson away from BENCH_streaming.json.
    only = if (args.length > 3) Some(args(3).split(',').toSet) else None
    val nUsers = nEvents / 67 // fixture ratio: 100k events / 1500 users
    val work = "/tmp/graft_stream_soak"
    val cpus = GraftSession.envCpus
    val spark = GraftSession(cpus)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    deleteRec(work)

    // ---- deterministic generators (SoakGen's counter-based LCG) ----------
    // events: ts ascends with the index (±5 min jitter → real out-of-order
    // work for the folds) over 30 days; 5 types incl. the funnel's
    // signup/purchase; value in [0, 10)
    val types = Array("signup", "click", "purchase", "view", "error")
    val span = 30L * dayMs
    val events = spark.range(0, nEvents, 1, 64).map { i =>
      val base = t0Ms + i * span / nEvents
      val ts = base + SoakGen.rand(i, 20) % 600000 - 300000
      (i, new java.sql.Timestamp(ts), SoakGen.rand(i, 21) % nUsers,
        types((SoakGen.rand(i, 22) % types.length).toInt),
        (SoakGen.rand(i, 23) % 1000) / 100.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

    // docs: 7-day ingest window, ~4% exact clones of an earlier doc (dedup
    // work for the content-key state)
    val docSpan = 7L * dayMs
    val docLangs = Array("en", "de", "zh", "fr", "es")
    val docs = spark.range(0, nDocs, 1, 64).map { i =>
      val ts = t0Ms + i * docSpan / nDocs + SoakGen.rand(i, 30) % 60000
      val srcId: Long =
        if (i >= 100 && SoakGen.rand(i, 31) % 100 < 4) i - 1 - SoakGen.rand(i, 32) % 99
        else i
      val text = SoakGen.docText(srcId, SoakGen.nTokensOf(srcId))
      (i, new java.sql.Timestamp(ts), text,
        docLangs((SoakGen.rand(i, 33) % 5).toInt),
        s"src${SoakGen.rand(i, 34) % 20}")
    }.toDF("doc_id", "ingest_ts", "text", "lang", "source")

    // vectors: deterministic 64-dim embeddings, 4× the doc count (200k at
    // the default args — 10× the sf0.1 fixture's vector count); the ts
    // column exists only to drive the file slicing and is NOT in the
    // stream's read schema (parquet projection drops it)
    val nVecs = nDocs * 4
    val vecs = spark.range(0, nVecs, 1, 64).map { i =>
      val emb = Array.tabulate(64)(d =>
        ((SoakGen.rand(i, 40 + d) % 2000 - 1000) / 1000.0).toFloat)
      (i, new java.sql.Timestamp(t0Ms + i * docSpan / nVecs), emb)
    }.toDF("vec_id", "ts", "embedding")
    // ANN query stream: a bounded query batch (the serving twin's shape —
    // queries are requests, not the corpus), spread over its OWN 7-day
    // window so nearly every 10-min emission window finalizes in-run
    val nQueries = 2000
    val vecQueries = spark.range(0, nQueries, 1, 8).map { i =>
      val emb = Array.tabulate(64)(d =>
        ((SoakGen.rand(i, 40 + d) % 2000 - 1000) / 1000.0).toFloat)
      (i, new java.sql.Timestamp(t0Ms + i * docSpan / nQueries), emb)
    }.toDF("query_id", "ts", "embedding")

    writeTimeSlices(events, "ts", s"$work/events_src", nSlices = 40)
    writeTimeSlices(docs, "ingest_ts", s"$work/docs_src", nSlices = 40)
    writeTimeSlices(vecs, "ts", s"$work/vecs_src", nSlices = 40)
    writeTimeSlices(vecQueries, "ts", s"$work/vecq_src", nSlices = 40)

    // ---- drive the three operators --------------------------------------
    def eventStream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[streaming.Event].schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$work/events_src").as[streaming.Event]
    def docStream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[streaming.DocIn].schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$work/docs_src")
    def vecStream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[streaming.VecIn].schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$work/vecs_src")
    def vecQueryStream = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[streaming.VecQueryIn].schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$work/vecq_src")

    val reports = Seq(
      runOne(spark, "sessionize", nEvents, s"$work/out/sessionize") { out =>
        streaming.EventStreams.sessionize(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "funnel", nEvents, s"$work/out/funnel") { out =>
        streaming.EventStreams.funnelConversions(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "anomaly", nEvents, s"$work/out/anomaly") { out =>
        streaming.EventStreams.anomalyHourly(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "retention", nEvents, s"$work/out/retention") { out =>
        streaming.EventStreams.retentionHits(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "doc_ingest", nDocs, s"$work/out/ingest") { out =>
        streaming.DocStreams.ingest(docStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      }, {
        // historical band store precomputed in batch (even doc ids), then
        // ALL docs stream against it: the store-probe path under ~50%
        // hit load (every even doc self-matches, plus the clone pairs)
        val histStore = s"$work/band_store"
        ext.Dedup.buildBandStore(
          docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"), histStore)
        runOne(spark, "store_dedup", nDocs, s"$work/out/store_dedup") { out =>
          streaming.DocStreams.dedupAgainstStore(docStream, histStore).writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      },
      runOne(spark, "pack_stream", nDocs, s"$work/out/pack_stream") { out =>
        streaming.DocStreams.packStream(
          docStream.as[streaming.DocIn](
            org.apache.spark.sql.Encoders.product[streaming.DocIn])).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      // ---- the r7-r11 twins, soaked on the same RocksDB store ------------
      runOne(spark, "asof_enrich", nEvents, s"$work/out/asof_enrich") { out =>
        streaming.EventStreams.asofEnrich(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      }, {
        // line-df store precomputed in batch over the even half; all docs
        // stream against its boilerplate set (the 4% clone families carry
        // repeated lines past minDf)
        val ldfStore = s"$work/linedf_store"
        ext.Clean.buildLineDfStore(
          docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"), ldfStore)
        runOne(spark, "boilerplate", nDocs, s"$work/out/boilerplate") { out =>
          streaming.DocStreams.boilerplateStream(docStream, ldfStore, minDf = 3)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      }, {
        // trained quality model published in batch, served as a folded
        // literal map: STATELESS row-local scoring (state series all zero
        // by design - the model travels with the query, not the store).
        // Synthetic two-class labels: the generator's uniform docs all
        // pass the Gopher rules (gopherLabels would be single-class and
        // the closed-form trainer requires both); the soak measures the
        // SERVING rate, which is label-independent
        val qStore = s"$work/quality_store"
        ext.TextAnalysis.buildQualityModelStore(
          docs.select("doc_id", "text"), qStore,
          labels = Some(docs.select(col("doc_id"),
            (col("doc_id") % 3 === 0).cast("int").as("label"))))
        runOne(spark, "quality_score", nDocs, s"$work/out/quality_score") { out =>
          streaming.DocStreams.qualityScoreStoreStream(docStream, qStore)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      }, {
        // DSIR model store served the same stateless way
        val dStore = s"$work/dsir_store"
        ext.Sampling.buildDsirStore(docs.select("doc_id", "text"), dStore)
        runOne(spark, "dsir_score", nDocs, s"$work/out/dsir_score") { out =>
          streaming.DocStreams.dsirScoreStoreStream(docStream, dStore)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      }, {
        // the LM store served via stream-static joins — the model-serving
        // twin whose model does NOT fold (vocab²-bounded bigram table):
        // each doc's exploded terms probe the static count relations, one
        // windowed ln-sum agg per doc (state = in-horizon docs)
        val lmStore = s"$work/lm_store"
        ext.LmFilter.buildLmStore(
          docs.select("doc_id", "text", "lang"), lmStore)
        val whole = runOne(spark, "lm_score", nDocs, s"$work/out/lm_score") { out =>
          streaming.DocStreams.lmScoreStream(docStream, lmStore)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
        // the NAMED-SHARD 24/7 scorer (CCNet's per-language processing
        // unit): the SAME firehose and store, but the stream serves only
        // the de shard — the pushed lang isin prunes the arriving docs AND
        // file-prunes the range-clustered model relations on every
        // micro-batch. Reported against the full arrival count: the
        // throughput delta vs lm_score IS the shard prune's payoff.
        val shard = runOne(spark, "lm_score_shard", nDocs,
            s"$work/out/lm_score_shard") { out =>
          streaming.DocStreams.lmScoreStream(docStream, lmStore,
              langs = Some(Seq("de")))
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
        Seq(whole, shard).filter(_.nonEmpty).mkString(",")
      }, {
        // the full triage store (Bloom + keys + bands) over the even half;
        // every arriving doc gets its exact/near/fresh verdict
        val tStore = s"$work/triage_store"
        ext.Dedup.buildTriageStore(
          docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"),
          tStore, expectedItems = math.max(1L, nDocs / 2L))
        runOne(spark, "triage", nDocs, s"$work/out/triage") { out =>
          streaming.DocStreams.triageStream(docStream, tStore).writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      }, {
        // eval band store over the % 11 slice; the train firehose is
        // checked for near-dup contamination as it lands
        val eStore = s"$work/eval_band_store"
        ext.Dedup.buildBandStore(
          docs.filter(col("doc_id") % 11 === 0).select("doc_id", "text"), eStore)
        runOne(spark, "fuzzy_decon", nDocs, s"$work/out/fuzzy_decon") { out =>
          streaming.DocStreams.decontaminateFuzzyStream(
            docStream.filter(col("doc_id") % 11 =!= 0), eStore).writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      },
      // ---- the rest of the surface: every remaining runnable twin --------
      runOne(spark, "tumbling", nEvents, s"$work/out/tumbling") { out =>
        streaming.EventStreams.tumblingHourly(eventStream.toDF()).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      }, {
        // 50 static incident windows spread across the event span —
        // stateless stream-static tagging, re-broadcast per micro-batch
        val anchors = spark.range(0, 50).select(
          col("id").as("anchor_id"),
          (lit(t0Ms) + col("id") * (span / 50)).as("lo"),
          (lit(t0Ms) + col("id") * (span / 50) + 3600000L).as("hi"))
        runOne(spark, "tag_incidents", nEvents, s"$work/out/tag_incidents") { out =>
          streaming.EventStreams.tagIncidents(eventStream, anchors).writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      },
      runOne(spark, "status_history", nEvents, s"$work/out/status_history") { out =>
        streaming.EventStreams.statusHistory(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "forecast_eval", nEvents, s"$work/out/forecast_eval") { out =>
        streaming.EventStreams.forecastEvalHourly(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "dedup_events", nEvents, s"$work/out/dedup_events") { out =>
        streaming.EventStreams.dedupEvents(eventStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "decon_static", nDocs, s"$work/out/decon_static") { out =>
        // static eval side = the % 11 slice as a BATCH relation
        streaming.DocStreams.decontaminateStream(
          docStream.filter(col("doc_id") % 11 =!= 0),
          docs.filter(col("doc_id") % 11 === 0).select("doc_id", "text"),
          n = 3).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      }, {
        val sStore = s"$work/span_store"
        ext.Dedup.buildSpanStore(
          docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"), sStore)
        runOne(spark, "spans_store", nDocs, s"$work/out/spans_store") { out =>
          streaming.DocStreams.spansAgainstStore(docStream, sStore).writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      },
      runOne(spark, "pii_scrub", nDocs, s"$work/out/pii_scrub") { out =>
        streaming.DocStreams.piiScrubStream(docStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      },
      runOne(spark, "gopher", nDocs, s"$work/out/gopher") { out =>
        streaming.DocStreams.gopherQualityStream(docStream).writeStream
          .outputMode("append")
          .option("checkpointLocation", s"$out/ckpt")
          .format("parquet").option("path", s"$out/data").start()
      }, {
        // folded-weights variant of the quality scorer (the store-served
        // twin is soaked above; this is the explicit-weights entry)
        val (w, dim) = ext.TextAnalysis.loadQualityModelStore(
          spark, s"$work/quality_store")
        val weights = ext.TextAnalysis.foldQualityWeights(w)
        runOne(spark, "quality_weights", nDocs, s"$work/out/quality_weights") { out =>
          streaming.DocStreams.qualityScoreStream(docStream, weights, dim)
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      }, {
        val bytes = ext.BloomDedup.buildFilterBytes(
          docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text"),
          expectedItems = math.max(1L, nDocs / 2L))
        runOne(spark, "bloom_gate", nDocs, s"$work/out/bloom_gate") { out =>
          streaming.DocStreams.bloomGateStream(docStream, bytes).writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
      }, {
        // IVF store built in batch over the vector corpus at the family's
        // sizing (nList ≈ √n, hier scheme — the production quantizer
        // shape); every arriving vector is argmax-assigned through the
        // FROZEN folded centroids: stateless model serving, the vector
        // twin of quality_score/dsir_score. The SAME store then serves
        // the streaming ANN probe: foreachBatch runs the BATCH probe per
        // trigger (one definition), so each trigger's store reads are
        // bounded by its probed lists via the collected-ids isin pushdown
        // and the operator carries zero state rows
        val vStore = s"$work/ivf_store"
        ext.Similarity.buildIvfStore(
          vecs.select("vec_id", "embedding"), vStore,
          nList = 448, centroidBase = 100, nGroups = 22)
        val assign = runOne(spark, "vec_assign", nVecs, s"$work/out/vec_assign") { out =>
          streaming.VecStreams.assignStream(vecStream, vStore).writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$out/ckpt")
            .format("parquet").option("path", s"$out/data").start()
        }
        val serve = runOne(spark, "ann_serve", nQueries, s"$work/out/ann_serve") { out =>
          streaming.VecStreams.runAnnServe(spark, s"$work/vecq_src", vStore,
            s"$out/data", s"$out/ckpt", maxFilesPerTrigger = Some(2))
        }
        Seq(assign, serve).filter(_.nonEmpty).mkString(",")
      }, {
        // the store-GROWING ingest loop: seed a small band store, then the
        // foreachBatch loop rejects store near-dups + in-batch clone
        // families and folds survivors back in, batch after batch
        val gStore = s"$work/grow_store"
        ext.Dedup.buildBandStore(
          docs.filter(col("doc_id") < 500).select("doc_id", "text"), gStore)
        runOne(spark, "store_ingest_loop", nDocs, s"$work/out/store_ingest_loop") { out =>
          streaming.DocStreams.runStoreIngest(spark, s"$work/docs_src",
            gStore, s"$out/data", s"$out/ckpt", maxFilesPerTrigger = Some(8))
        }
      }, {
        // the keep-first span-dedup loop: seed the window-hash store from
        // a small historical slice, then the foreachBatch loop probes
        // (history keeps, batch-first occurrences keep) and folds each
        // batch's hashes back in — the store grows, state rows stay zero
        val spStore = s"$work/span_grow_store"
        ext.Dedup.buildSpanStore(
          docs.filter(col("doc_id") < 500).select("doc_id", "text"), spStore)
        runOne(spark, "span_dedup_loop", nDocs, s"$work/out/span_dedup_loop") { out =>
          streaming.DocStreams.runSpanDedupIngest(spark, s"$work/docs_src",
            spStore, s"$out/data", s"$out/ckpt", maxFilesPerTrigger = Some(8))
        }
      }, {
        // continuous sketch-store maintenance: each micro-batch's events
        // append per-day HLL rows (state in the STORE — zero state-store
        // rows; at-least-once replay healed by the register max-fold)
        val skStore = s"$work/sketch_store"
        graft.ops.Scale.deleteRecursively(new java.io.File(skStore))
        ext.SketchStore.buildSketchStore(
          spark.read.parquet(s"$work/events_src").limit(0), skStore)
        runOne(spark, "sketch_ingest", nEvents, s"$work/out/sketch_ingest") { out =>
          streaming.EventStreams.runSketchIngest(spark, s"$work/events_src",
            skStore, s"$out/ckpt", maxFilesPerTrigger = Some(8))
        }
      }, {
        // continuous histogram-store maintenance: each micro-batch's
        // events land per-day bin counts through the batchId-keyed atomic
        // slot rename (additive counts, replay-exactly-once; state in the
        // STORE — zero state-store rows)
        val hStore = s"$work/hist_store"
        graft.ops.Scale.deleteRecursively(new java.io.File(hStore))
        ext.HistStore.buildHistStore(
          spark.read.parquet(s"$work/events_src").limit(0), hStore)
        runOne(spark, "hist_ingest", nEvents, s"$work/out/hist_ingest") { out =>
          streaming.EventStreams.runHistIngest(spark, s"$work/events_src",
            hStore, s"$out/ckpt", maxFilesPerTrigger = Some(8))
        }
      })

    val json =
      s"""{"config":{"state_store":"rocksdb","cpus":$cpus,"n_events":$nEvents,"n_docs":$nDocs,"n_vecs":$nVecs,"n_ann_queries":$nQueries,"n_users":$nUsers,"max_files_per_trigger":2,"slices":40},
         |"operators":{${reports.filter(_.nonEmpty).mkString(",")}},
         |"note":"state_rows_series is numRowsTotal per micro-batch: sessionize/funnel/retention plateau at O(users active within the retention horizon) (~n_users + tombstones), anomaly at O(event types) (5 rows of keyed state against 1M events), doc_ingest at O(content keys inside the 1h watermark), store_dedup/triage/fuzzy_decon/boilerplate at O(in-horizon docs or candidate pairs) while probing precomputed stores, asof_enrich at O(users active within retention) (compacted best-right + in-horizon buffers), pack_stream at O(sources) (20 prefix-sum cursor rows against 50k docs), quality_score/dsir_score/vec_assign at ZERO state rows (stateless folded-literal model serving), lm_score at O(in-horizon docs) (stream-static model joins feed one windowed per-doc ln-sum - the model itself carries no state; lm_score_shard serves ONE language from the same store - the pushed lang isin prunes arrivals and file-prunes the clustered model per micro-batch, state at O(in-horizon shard docs)), ann_serve at ZERO state rows (foreachBatch runs the batch probe per trigger - probed-ids isin bounds each trigger's store reads), sketch_ingest, hist_ingest and span_dedup_loop at ZERO state rows (durable state is the STORE each appends - the runStoreIngest rule; hist_ingest's additive counts are replay-exactly-once via the batchId-keyed slot rename) - none track cumulative input rows."}"""
        .stripMargin.replace("\n", "")
    Files.writeString(Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
  }

  /** Run one streaming query to completion of all generated files; report a
    * JSON fragment `"name":{...}` with throughput, latency, and the
    * per-batch state-rows series. */
  // targeted-run filter (set once in main): None = run everything
  private var only: Option[Set[String]] = None

  private def runOne(spark: SparkSession, name: String, inputRows: Long,
                     outDir: String)(start: String => StreamingQuery): String = {
    if (!only.forall(_.exists(name.contains))) return ""
    deleteRec(outDir)
    val t0 = System.nanoTime()
    val q = start(outDir)
    q.processAllAvailable()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    // store-maintenance loops (runSketchIngest) have no row sink — their
    // durable output is the store they append; report 0 emitted rows
    val outRows =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$outDir/data")))
        spark.read.parquet(s"$outDir/data").count()
      else 0L
    q.stop()
    val batchMs = progs.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong)
    // sum over ALL stateful operators: a plan with more than one (e.g. a
    // dedup feeding a windowed agg) would otherwise under-report its state
    val stateRows = progs.map(_.stateOperators.map(_.numRowsTotal).sum)
    val stateBytes =
      if (progs.isEmpty) 0L
      else progs.last.stateOperators.map(_.memoryUsedBytes).sum
    // Locale.ROOT: the default-locale f interpolator would emit 50,57 on
    // comma-decimal locales — invalid JSON
    def num(v: Double, fmt: String) = String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    s""""$name":{"input_rows":$inputRows,"output_rows":$outRows,"wall_sec":${num(wallSec, "%.2f")},
       |"rows_per_sec":${num(inputRows / wallSec, "%.0f")},"n_batches":${progs.length},
       |"batch_ms_mean":${if (batchMs.isEmpty) 0 else batchMs.sum / batchMs.length},
       |"batch_ms_max":${if (batchMs.isEmpty) 0 else batchMs.max},
       |"state_rows_series":[${stateRows.mkString(",")}],
       |"state_rows_final":${if (stateRows.isEmpty) 0 else stateRows.last},
       |"state_bytes_final":$stateBytes}""".stripMargin.replace("\n", "")
  }

  /** Write `df` as `nSlices` time-ordered parquet files (slice k covers the
    * k-th quantile range of `tsCol`), named and modification-stamped in
    * order so the file source replays them as an advancing stream. */
  private def writeTimeSlices(df: DataFrame, tsCol: String, dir: String,
                              nSlices: Int): Unit = {
    val tmp = s"$dir.tmp"
    // one global partition is intended for the ntile (a generator-only
    // pass); the constant-valued non-foldable partition key silences the
    // WindowExec warning
    df.withColumn("__slice",
        ntile(nSlices).over(org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(year(col(tsCol)), lit(1))).orderBy(col(tsCol))))
      .repartition(nSlices, col("__slice"))
      .sortWithinPartitions(tsCol)
      .write.mode("overwrite").partitionBy("__slice").parquet(tmp)
    Files.createDirectories(Paths.get(dir))
    for (k <- 1 to nSlices) {
      val listing = Files.list(Paths.get(s"$tmp/__slice=$k"))
      val part =
        try listing.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally listing.close() // Files.list holds a directory fd until closed
      require(part.length == 1, s"slice $k: expected one file, got ${part.length}")
      val dst = Paths.get(dir, f"slice-$k%04d.parquet")
      Files.move(part(0), dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(t0Ms + k * 60000L) // ascending mod times
    }
    deleteRec(tmp)
  }

  private def deleteRec(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }
}
