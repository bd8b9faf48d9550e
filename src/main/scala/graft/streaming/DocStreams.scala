package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One document arriving on the ingest stream: the `documents` columns plus
  * the arrival timestamp that drives the dedup watermark. */
case class DocIn(doc_id: Long, ingest_ts: Timestamp, text: String,
                 lang: String, source: String)

/** Per-source packing cursor: tokens consumed so far in the source's
  * stream (the prefix sum the next arrival continues from). */
case class PackState(cum: Long)

/** One packed document: the same row shape as the batch
  * [[graft.ext.Packing.pack]] plan. */
case class PackOut(source: String, doc_id: Long, n_tokens: Long,
                   first_seq: Long, last_seq: Long, n_seqs: Long)

/** Streaming corpus ingest — the continuous version of the batch
  * `pipeline_filter_dedup` composite (quality gate ∧ exact dedup), the
  * shape of a training-corpus front door that ingests crawl output as it
  * lands instead of in nightly batches:
  *
  *   1. exact-dedup on the content key within the watermark horizon —
  *      `dropDuplicatesWithinWatermark` keeps the FIRST arrival and drops
  *      re-deliveries (at-least-once sources) and content duplicates until
  *      the watermark passes; state is one compact (key, expiry) entry per
  *      distinct in-horizon content key, executor-partitioned by key —
  *      bounded by horizon cardinality, never by corpus size;
  *   2. quality-score each surviving document with the SAME column
  *      expression as the batch operator ([[graft.ext.TextAnalysis
  *      .qualityScoreExpr]] — one shared definition, so the two paths can
  *      never diverge) and gate on the threshold.
  *
  * Semantics note (spec-asserted): dedup keeps the first ARRIVAL, where the
  * batch operator keeps the min doc_id per key — identical whenever
  * arrival order follows doc_id (the crawl-ingest norm); under inverted
  * arrival the streaming result keeps the earlier-arriving id, which is the
  * right call for a front door (the kept doc is already downstream).
  */
object DocStreams {

  def ingest(docs: DataFrame, watermark: String = "1 hour",
             minQuality: Double = 50.0): DataFrame =
    docs
      .withWatermark("ingest_ts", watermark)
      .withColumn("content_key", expr("md5(substring(text, 1, 80))"))
      .dropDuplicatesWithinWatermark("content_key")
      .select(col("doc_id"), col("lang"), col("source"),
        expr(graft.ext.TextAnalysis.qualityScoreExpr).as("quality_score"))
      .filter(col("quality_score") >= minQuality)

  /** Streaming decontamination — stream-static join: documents arriving on
    * the stream are checked against a STATIC eval-set shingle index (the
    * benchmark suite, loaded once as a batch DataFrame and broadcast).
    * Emits one row per contaminated stream doc with its shared-shingle
    * count — the continuous twin of the batch
    * [[graft.ext.Dedup.decontaminate]], sharing `shingle_hash60` so the
    * flags agree exactly.
    *
    * Scale shape: Spark's stream-static join re-plans the static side per
    * micro-batch; with the eval index broadcast there is no stateful join
    * state at all — each micro-batch resolves its hits map-side. The
    * aggregation is per (doc_id, arrival window) under a watermark, so
    * emission is append-mode and state is bounded by in-horizon docs. */
  def decontaminateStream(docs: DataFrame, evalDocs: DataFrame, n: Int = 5,
                          watermark: String = "1 hour"): DataFrame = {
    graft.functions.GraftFunctions.register(evalDocs.sparkSession)
    val evalSh = evalDocs
      .select(explode(expr(s"shingle_hash60(text, $n)")).as("shingle")).distinct()
    val streamSh = docs
      .withWatermark("ingest_ts", watermark)
      .select(col("doc_id"), col("ingest_ts"),
        explode(expr(s"shingle_hash60(text, $n)")).as("shingle"))
    streamSh.join(broadcast(evalSh), "shingle")
      .groupBy(window(col("ingest_ts"), "10 minutes"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"))
  }

  /** Streaming incremental near-dup rejection against the PRECOMPUTED band
    * store ([[graft.ext.Dedup.buildBandStore]]) — the continuous twin of
    * the batch [[graft.ext.Dedup.incrementalStored]], closing the loop the
    * in-horizon `dropDuplicatesWithinWatermark` leaves open: [[ingest]]
    * rejects duplicates that arrived RECENTLY; this rejects documents
    * already in the HISTORICAL corpus. Arriving documents are MinHash-banded
    * (the shared [[graft.ext.Dedup.bandSigsExpr]] layout) and probed against
    * the stored index via a stream-static equi-join on the 8-byte
    * (band, bsig) key; candidates are verified by exact Jaccard against the
    * stored hash arrays. Emits one row per (incoming doc, historical
    * near-dup) with the exact jaccard — batch-equal under any micro-batch
    * split (spec-asserted).
    *
    * Scale shape: same as the batch twin — the store is read, the
    * historical TEXT never is; the stream side pays one narrow hash pass
    * per doc. The static side re-plans per micro-batch, so the store's
    * (band, bsig) range-clustering prunes probe files batch by batch.
    * Multi-band collisions produce duplicate candidate pairs; the windowed
    * aggregation folds them (max of the single exact jaccard value), so
    * emission is append-mode and state is bounded by in-horizon pairs, not
    * store size. Stated trade-off vs the batch twin: the batch path
    * distincts (inc, hist) pairs BEFORE the verify join, paying the
    * intersect once per pair; here a pair-distinct before the verify would
    * be a second stateful operator ahead of the windowed agg (an
    * unsupported stateful ordering), so the verify runs once per COLLIDING
    * band — bounded at 32× and hot only for true near-dups (which collide
    * on most bands) — and the agg folds the duplicates. The batch
    * `incrementalStored` (or [[runStoreIngest]], which uses it per
    * micro-batch) is the shape to pick when store-probe volume, not
    * latency, dominates. */
  def dedupAgainstStore(docs: DataFrame, storeDir: String,
                        threshold: Double = 0.8,
                        watermark: String = "1 hour"): DataFrame =
    probeBandStore(docs, storeDir, threshold, watermark)
      .groupBy(window(col("ingest_ts"), "10 minutes"), col("id"), col("hist_id"))
      .agg(max(expr("round(jacc, 6)")).as("jaccard"))
      .select(col("id").as("inc_id"), col("hist_id"), col("jaccard"))

  /** The banded store probe both stored stream twins share: each arriving
    * doc is banded with the batch expressions, stream-static-joined
    * against the store's `bands` then `hashes` relations, and verified
    * with exact Jaccard → (id, ingest_ts, hist_id, jacc), one row per
    * COLLIDING band. Shingle-less docs never probe — the batch sides'
    * empty-signature guard (see Dedup.minhashLsh's note), mirrored here.
    * The filter is on the UNROUNDED value and callers round when they
    * emit — the batch twins' exact order of operations (a 0.7999996 must
    * not round into range). */
  private def probeBandStore(docs: DataFrame, storeDir: String,
                             threshold: Double, watermark: String): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val histBands = graft.ext.Dedup.readBandStore(spark, storeDir, "bands")
    val histHashes = graft.ext.Dedup.readBandStore(spark, storeDir, "hashes")
    docs.withWatermark("ingest_ts", watermark)
      .select(col("doc_id").as("id"), col("ingest_ts"),
        expr("shingle_hash60(text, 3)").as("si"))
      .filter(expr("size(si) > 0"))
      .withColumn("sig", expr("minhash_sig(si)"))
      .select(col("id"), col("ingest_ts"), col("si"),
        posexplode(expr(graft.ext.Dedup.bandSigsExpr)).as(Seq("band", "bsig")))
      .join(histBands, Seq("band", "bsig"))
      .join(histHashes, "hist_id")
      .withColumn("c", expr("size(array_intersect(si, sh))"))
      .withColumn("jacc", expr("c / (size(si) + size(sh) - c)"))
      .filter(col("jacc") >= threshold)
      .select(col("id"), col("ingest_ts"), col("hist_id"), col("jacc"))
  }

  /** Streaming FUZZY decontamination against the PRECOMPUTED eval band
    * store ([[graft.ext.Dedup.buildBandStore]] over the benchmark slice) —
    * the continuous twin of [[graft.ext.Dedup.decontaminateFuzzyStored]]:
    * each arriving TRAIN shard is banded with the shared batch
    * expressions, stream-static-joined against the eval index, verified
    * with exact Jaccard, and reduced to its best eval match with the
    * batch tie rule (max(struct(jaccard, −eval_id)) ≡ jaccard DESC,
    * eval_id ASC) in ONE windowed aggregation. Only contaminated docs
    * emit — the training firehose is filtered the moment it arrives,
    * never re-batched. Differentially spec'd equal to the batch stored
    * probe under random micro-batch splits. */
  def decontaminateFuzzyStream(docs: DataFrame, evalBandStoreDir: String,
                               threshold: Double = 0.8,
                               watermark: String = "1 hour"): DataFrame =
    probeBandStore(docs, evalBandStoreDir, threshold, watermark)
      .groupBy(window(col("ingest_ts"), "10 minutes"), col("id"))
      .agg(max(struct(expr("round(jacc, 6)").as("j"),
        (-col("hist_id")).as("ne"))).as("best"))
      .select(col("id").as("train_id"), (-col("best.ne")).as("eval_id"),
        col("best.j").as("jaccard"))

  /** Streaming SUBSTRING-SPAN dedup against the PRECOMPUTED window-hash
    * store ([[graft.ext.Dedup.buildSpanStore]]) — the continuous twin of
    * the batch [[graft.ext.Dedup.spansAgainstStore]]: each arriving doc's
    * `k`-token windows are hashed (the same native `shingle_hash60_pos`
    * pass), probed against the stored historical hash set via a
    * stream-static LEFT join on the 8-byte key, and the hit positions are
    * merged to maximal spans with the SHARED
    * [[graft.ext.Dedup.spanFoldExpr]] — one merge-rule definition for
    * both paths, because rank/lag windows are unsupported on streaming
    * DataFrames and a reimplementation could drift. Emits one row per
    * (doc, arrival window) with the batch twin's exact columns —
    * batch-equal under any micro-batch split (spec-asserted), since all
    * of a doc's windows explode from its single arrival row and therefore
    * land in one micro-batch.
    *
    * Scale shape: the static store side re-plans per micro-batch, so its
    * range-clustering prunes probe files batch by batch; the LEFT join
    * keeps no-hit docs flowing (their span counts are 0, same as the
    * batch left-join), and state is bounded by in-horizon docs under the
    * watermark. Duplicate store hashes from appended batches fold away in
    * the DISTINCT position set (`collect_set`). */
  def spansAgainstStore(docs: DataFrame, storeDir: String, k: Int = 8,
                        watermark: String = "1 hour"): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val store = spark.read.parquet(s"$storeDir/winhashes")
      .withColumn("hit", lit(1))
    val wins = docs
      .withWatermark("ingest_ts", watermark)
      .withColumn("n_words", expr("size(split(text, ' '))").cast("long"))
      // posexplode_outer: a doc shorter than k windows still emits one
      // null-position row, so zero-hit docs surface with zero counts
      .select(col("doc_id"), col("ingest_ts"), col("n_words"),
        posexplode_outer(expr(s"shingle_hash60_pos(text, $k)")))
      .select(col("doc_id"), col("ingest_ts"), col("n_words"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    wins.join(store, Seq("h"), "left_outer")
      .groupBy(window(col("ingest_ts"), "10 minutes"), col("doc_id"), col("n_words"))
      .agg(sort_array(collect_set(when(col("hit") === 1, col("pos")))).as("ps"))
      .select(col("doc_id"), col("n_words"),
        size(col("ps")).cast("long").as("n_dup_windows"),
        expr(graft.ext.Dedup.spanFoldExpr(k)).as("sp"))
      .select(col("doc_id"), col("n_words"), col("n_dup_windows"),
        col("sp.n_spans").as("n_spans"), col("sp.n_dup_tokens").as("n_dup_tokens"))
      .withColumn("dup_frac", expr("round(n_dup_tokens / n_words, 6)"))
  }

  /** Streaming sequence PACKING — the continuous twin of the batch
    * [[graft.ext.Packing.pack]] plan: documents are token-counted as they
    * arrive and assigned their first/last training-sequence indices under
    * `budget`-token concat-and-chunk packing of their source's stream.
    * The per-source prefix-sum cursor lives in keyed state, so the
    * assignment CONTINUES across micro-batches — a training consumer can
    * tail the output and fill sequences as the crawl lands, instead of
    * re-packing nightly.
    *
    * Equality contract (differential-spec'd): output rows equal the batch
    * plan's exactly when arrival order follows doc_id per source (the
    * crawl-ingest norm; in-batch arrivals are sorted by doc_id before
    * folding, so only CROSS-batch inversions can reorder the stream — in
    * that case the streaming assignment is the arrival-order packing,
    * self-consistent but numbered differently from the batch replay).
    *
    * Scale shape: one shuffle by source per micro-batch; state is ONE
    * 8-byte cursor per source (O(sources), not O(docs) — no timeout
    * needed), executor-partitioned by key. The token count is computed
    * with the same single-space convention as the batch expression. */
  /** Streaming PII scrub — the per-event twin of
    * [[graft.ext.Clean.piiScrub]]. Not a reimplementation: it IS the
    * batch operator's shared projection ([[graft.ext.Clean.piiScrubCols]]),
    * minus only the oracle-facing output sort, so the two paths share one
    * semantics by construction. Stateless narrow map — no watermark, no
    * state, append mode; at any scale this is a pure map over arriving
    * micro-batches. */
  def piiScrubStream(docs: DataFrame): DataFrame =
    graft.ext.Clean.piiScrubCols(docs, "text")

  /** Streaming Gopher rule filter — the per-event twin of
    * [[graft.ext.Clean.gopherQuality]], sharing
    * [[graft.ext.Clean.gopherQualityCols]] the same way: one stateless
    * projection definition for both engines. */
  def gopherQualityStream(
      docs: DataFrame,
      minWords: Int = 28, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minDistinctRatio: Double = 0.5): DataFrame =
    graft.ext.Clean.gopherQualityCols(docs, minWords, maxWords, minMeanLen,
      maxMeanLen, minDistinctRatio)

  /** Streaming trained-quality scorer — the serving twin of the batch
    * corpus-wide filter [[graft.ext.TextAnalysis.qualityScore]]: weights
    * are trained in batch ([[graft.ext.TextAnalysis.qualityTrain]]) and
    * folded to a ≤dim-entry literal map
    * ([[graft.ext.TextAnalysis.foldQualityWeights]] — the
    * trained-quantizer bounded-fold discipline), so scoring each arriving
    * document is a pure stateless row-local projection (the shared
    * [[graft.ext.TextAnalysis.qualityScoreCols]]): no explode, no
    * shuffle, no state, append mode — model parameters travel with the
    * query, the standard model-serving shape. Differentially spec'd
    * equal to the batch broadcast-join scorer under random micro-batch
    * splits. */
  def qualityScoreStream(docs: DataFrame, weights: Map[Long, Long],
                         dim: Int = 256): DataFrame =
    graft.ext.TextAnalysis.qualityScoreCols(docs, weights, dim)

  /** [[qualityScoreStream]] served FROM the published model store — the
    * full registry loop (train once → atomic publish →
    * continuous serving): the store's weight table and its trained dim
    * load once at query build ([[graft.ext.TextAnalysis.loadQualityModelStore]],
    * ≤ dim rows) and fold to the scorer's literal map, so the running
    * stream serves a PINNED model version — a concurrent retrain's
    * atomic swap changes what the NEXT query start loads, never a
    * half-updated live stream. Differentially spec'd equal to the batch
    * stored scorer under random micro-batch splits. */
  /** Streaming DSIR importance scorer served FROM the published DSIR
    * store — the importance-weight member of the model-serving family:
    * the stored ≤ dim-row log-ratio table loads once at query build and
    * folds to a literal map ([[graft.ext.Sampling.foldDsirLogRatios]]),
    * so weighting each arriving document is one stateless row-local
    * projection (the shared [[graft.ext.Sampling.dsirScoreCols]] — the
    * feature array assembles inside the row, no explode, no join, no
    * state, append mode); unseen buckets take the store's recorded add-1
    * default. The stream serves a PINNED model version — a concurrent
    * refit's atomic swap changes what the NEXT query start loads.
    * Differential spec: ≈ the batch stored scorer to float round-off
    * (the ln-terms are identical; only summation order differs — the
    * one weight model whose parameters are doubles, so the spec asserts
    * a 2e-6 bound instead of the integer family's exact equality). */
  def dsirScoreStoreStream(docs: DataFrame, storeDir: String): DataFrame = {
    val (lr, dim, targetMod, tt, rt) =
      graft.ext.Sampling.loadDsirStore(docs.sparkSession, storeDir)
    val defaultLr = math.log(((0 + 1).toDouble / (tt + dim)) / ((0 + 1).toDouble / (rt + dim)))
    graft.ext.Sampling.dsirScoreCols(docs,
      graft.ext.Sampling.foldDsirLogRatios(lr), dim, targetMod, defaultLr)
      .select("doc_id", "in_target", "n_feats", "weight")
  }

  /** Streaming CCNet LM-perplexity scorer served FROM the published LM
    * store ([[graft.ext.LmFilter.buildLmStore]]) — the model-serving
    * family member whose model does NOT fit in a folded literal: the
    * unigram/bigram count relations are VOCAB²-bounded, so each arriving
    * document's exploded term rows probe them via stream-static LEFT
    * joins (the [[boilerplateStream]] shape — static sides re-plan per
    * micro-batch against the pinned snapshot their query start loaded),
    * and the per-doc ln-sum folds in ONE windowed aggregation under the
    * watermark (a doc's terms all explode from its single arrival row,
    * so its window finalizes within its own micro-batch — the
    * [[triageStream]] discipline). Only the per-LANG tertile CUTOFFS
    * fold to a literal map (≤ one row per language, a bounded world
    * fact) — bucketing is stateless row-local arithmetic after the agg,
    * no second stateful boundary. Differentially spec'd ≈ the batch
    * stored scorer (identical ln-terms, summation order differs →
    * round-off bound; buckets exact).
    *
    * `langs`: serve a NAMED language shard — the streaming twin of
    * [[graft.ext.LmFilter.scoreAgainstLmStore]]'s r13 parameter (CCNet's
    * processing unit is per-language, and the 24/7 scorer is exactly
    * where the prune pays per MICRO-BATCH): arriving docs filter to the
    * shard's languages (explicit shard semantics — a stray other-language
    * row is excluded, never floor-scored) and the static model sides
    * prune to them, so the pushed `lang isin` FILE-PRUNES the
    * range-clustered `uni/`+`big/` to the shard's key-range files on
    * every trigger. Default None = whole-corpus serve, the r13 plan. */
  def lmScoreStream(docs: DataFrame, storeDir: String,
                    watermark: String = "1 hour",
                    langs: Option[Seq[String]] = None): DataFrame = {
    import graft.ext.LmFilter
    val (uni0, big0, tots, cuts, lambda, refMod) =
      LmFilter.loadLmStore(docs.sparkSession, storeDir)
    require(langs.forall(_.nonEmpty), "langs, when given, must be non-empty")
    val (docsP, uni, big) = langs match {
      case Some(ls) =>
        (docs.filter(col("lang").isin(ls: _*)),
          uni0.filter(col("lang").isin(ls: _*)),
          big0.filter(col("lang").isin(ls: _*)))
      case None => (docs, uni0, big0)
    }
    val terms = docsP
      .withWatermark("ingest_ts", watermark)
      .withColumn("in_ref", col("doc_id") % refMod === 0)
      .withColumn("w", expr("split(text, ' ')"))
      .select(col("doc_id"), col("ingest_ts"), col("lang"), col("in_ref"),
        explode(expr(LmFilter.termArrSql)).as("trm"))
      .select(col("doc_id"), col("ingest_ts"), col("lang"), col("in_ref"),
        col("trm.prev").as("prev"), col("trm.cur").as("cur"))
    val scored = terms
      .join(big, Seq("lang", "prev", "cur"), "left")
      .join(uni.select(col("lang"), col("token").as("prev"), col("uf").as("cf")),
        Seq("lang", "prev"), "left")
      .join(uni.select(col("lang"), col("token").as("cur"), col("uf").as("uf")),
        Seq("lang", "cur"), "left")
      .join(broadcast(tots), Seq("lang"), "left")
      .groupBy(window(col("ingest_ts"), "10 minutes"),
        col("doc_id"), col("lang"), col("in_ref"))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        sum(expr(s"ln(${LmFilter.pSql(lambda)})")).as("s"))
      .select(col("doc_id"), col("lang"), col("in_ref"), col("n_terms"),
        expr("round(-s / n_terms, 6)").as("ce_nats"))
    LmFilter.bucketColsFolded(scored, LmFilter.foldCuts(cuts))
      .select("doc_id", "lang", "in_ref", "n_terms", "ce_nats", "bucket", "kept")
  }

  def qualityScoreStoreStream(docs: DataFrame, storeDir: String): DataFrame = {
    val (weights, dim) =
      graft.ext.TextAnalysis.loadQualityModelStore(docs.sparkSession, storeDir)
    qualityScoreStream(docs,
      graft.ext.TextAnalysis.foldQualityWeights(weights), dim)
  }

  /** Streaming Bloom dedup gate — the per-event twin of
    * [[graft.ext.BloomDedup.probe]], and it IS that operator: the filter
    * bytes (built in batch or loaded from the Bloom store) fold to a
    * literal, so gating each arriving document is one stateless codegen'd
    * predicate — no join, no state, no watermark, append mode. The
    * streaming analogue of `dropDuplicates` state that never grows: the
    * horizon is the filter's whole history at a fixed ~9.6 bits/key,
    * traded for a bounded false-positive rate (no false negatives —
    * a true duplicate can never pass the gate). Differentially spec'd
    * equal to the batch probe under random micro-batch splits. */
  def bloomGateStream(docs: DataFrame, filterBytes: Array[Byte]): DataFrame =
    graft.ext.BloomDedup.probe(docs, filterBytes)

  /** Streaming INGEST TRIAGE against the PRECOMPUTED triage store
    * ([[graft.ext.Dedup.buildTriageStore]]) — the continuous twin of the
    * batch [[graft.ext.Dedup.ingestTriageStored]], composing the two
    * proven probe shapes into ONE verdict stream: every arriving document
    * emits (doc_id, verdict, near_hist_id, jaccard) with the SHARED
    * verdict definition ([[graft.ext.Dedup.triageVerdictCol]] — one
    * expression for batch and stream, so the paths cannot drift).
    *
    *  - EXACT: the store's Bloom filter folds to a literal
    *    ([[graft.ext.BloomDedup.probeStored]] — stateless codegen'd
    *    predicate, no state), and only gate HITS are confirmed against the
    *    static `keys/` relation (the join condition carries `bloom_hit`,
    *    so misses match nothing by construction — the no-false-negative
    *    guarantee makes that exact);
    *  - NEAR: the arriving doc's bands probe the static band store and
    *    candidates verify by exact Jaccard — [[dedupAgainstStore]]'s
    *    stream-static shape, inlined so the doc row SURVIVES with no
    *    match (posexplode_outer + left joins) and the best match folds in
    *    the same windowed aggregation that folds multi-band collisions:
    *    max(struct(rounded jaccard, -hist_id)) replays the batch
    *    (jaccard DESC, hist_id ASC) tie rule.
    *
    * One linear stream plan (no stream self-join), one stateful operator
    * (the windowed agg under the watermark — state bounded by in-horizon
    * docs), append mode. Differentially spec'd ≡ the batch stored triage
    * under seeded random micro-batch splits. Static sides re-plan per
    * micro-batch, so a store append/compaction is picked up on the next
    * batch — mid-query the running stream serves the snapshot semantics
    * its batch planned against. */
  def triageStream(docs: DataFrame, storeDir: String,
                   threshold: Double = 0.8,
                   watermark: String = "1 hour"): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    graft.ext.Dedup.requireTriageStoreComplete(storeDir) // torn-append guard
    // DISTINCT mirrors the batch twin's hit-set fold: daily appends may
    // repeat a key, and every duplicate row would otherwise fan its doc
    // out through the band explosion and the Jaccard verify join —
    // verdicts would stay correct (the windowed max folds them) but
    // per-doc work would multiply by the duplication factor
    val storeKeys = spark.read.parquet(s"$storeDir/keys").distinct()
      .withColumn("seen", lit(true))
    val histBands = graft.ext.Dedup.readBandStore(spark, storeDir, "bands")
    val histHashes = graft.ext.Dedup.readBandStore(spark, storeDir, "hashes")
    val base = graft.ext.BloomDedup.probeStored(docs, s"$storeDir/bloom")
      .withWatermark("ingest_ts", watermark)
      .withColumn("k", graft.ext.BloomDedup.contentKey(col("text")))
      .withColumn("h60", expr("shingle_hash60(text, 3)"))
      // shingle-less docs never band (the batch sides' guard): a null sig
      // nulls the band array, and posexplode_outer keeps the doc flowing
      .withColumn("sig",
        when(expr("size(h60) > 0"), expr("minhash_sig(h60)")))
      .select(col("doc_id"), col("ingest_ts"), col("k"), col("bloom_hit"),
        col("h60"), col("sig"))
    val exacted = base
      // gate-hit keys only: a miss CANNOT be a duplicate (Bloom one-sided
      // guarantee), so the null-condition row is exact by construction
      .join(storeKeys, base("k") === storeKeys("k") && base("bloom_hit"),
        "left")
      .drop(storeKeys("k"))
    val banded = exacted
      .select(col("doc_id"), col("ingest_ts"), col("bloom_hit"),
        col("seen"), col("h60"),
        posexplode_outer(when(col("sig").isNotNull,
          expr(graft.ext.Dedup.bandSigsExpr))).as(Seq("band", "bsig")))
    val verified = banded
      .join(histBands, Seq("band", "bsig"), "left_outer")
      .join(histHashes, Seq("hist_id"), "left_outer")
      .withColumn("c", expr("size(array_intersect(h60, sh))"))
      // filter on the UNROUNDED value, rank/emit rounded — the batch
      // twin's exact order of operations
      .withColumn("jacc", expr("c / (size(h60) + size(sh) - c)"))
    verified
      .groupBy(window(col("ingest_ts"), "10 minutes"), col("doc_id"))
      .agg(
        coalesce(max(col("seen")), lit(false)).as("exact_dup"),
        max(when(col("jacc") >= threshold,
          struct(expr("round(jacc, 6)").as("j"),
            (-col("hist_id")).as("nh")))).as("best"))
      .select(col("doc_id"),
        graft.ext.Dedup.triageVerdictCol(col("exact_dup"), col("best.nh"))
          .as("verdict"),
        (-col("best.nh")).as("near_hist_id"),
        col("best.j").as("jaccard"))
  }

  /** Streaming boilerplate removal against the PRECOMPUTED line-df store
    * ([[graft.ext.Clean.buildLineDfStore]]) — the continuous twin of the
    * batch [[graft.ext.Clean.boilerplateAgainstStore]]: each arriving
    * document's lines are hashed with the SHARED
    * [[graft.ext.Clean.lineHash60Expr]], flagged against the store's
    * historical-df boilerplate set via a stream-static LEFT join, and the
    * document is reassembled in one windowed aggregation. Emits the batch
    * twin's exact columns — batch-equal under any micro-batch split
    * (spec-asserted), since all of a doc's lines explode from its single
    * arrival row and land in one micro-batch.
    *
    * Scale shape: the static boilerplate set is the store aggregated to
    * keys with summed df >= minDf — tiny by construction (corpus-wide
    * repeated lines), so it broadcasts and the stream side never
    * shuffles for the join; re-planned per micro-batch, so a store
    * append/compaction is picked up on the next batch. Trade-off vs the
    * batch probe (which sums df only for keys the increment carries):
    * the static side aggregates the whole store each re-plan — the right
    * shape for a long-lived stream where the store scan amortizes across
    * batches; a huge-store, tiny-increment one-shot belongs to the batch
    * probe. The LEFT join + conditional aggregation keeps all-boilerplate
    * docs emitting (n_kept = 0, md5 of ""), the batch contract. State is
    * bounded by in-horizon docs under the watermark. */
  def boilerplateStream(docs: DataFrame, storeDir: String, minDf: Int,
                        watermark: String = "1 hour"): DataFrame = {
    require(minDf >= 2, "minDf < 2 would drop every line")
    val spark = docs.sparkSession
    val boiler = spark.read.parquet(s"$storeDir/linedf")
      .groupBy("h").agg(sum("df").as("df_hist"))
      .filter(col("df_hist") >= minDf)
      .select(col("h"), lit(1).as("boil"))
    val lines = docs
      .withWatermark("ingest_ts", watermark)
      .withColumn("n_lines", size(split(col("text"), "\n")).cast("int"))
      .select(col("doc_id"), col("ingest_ts"), col("n_lines"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .withColumn("h", expr(graft.ext.Clean.lineHash60Expr))
    lines.join(broadcast(boiler), Seq("h"), "left")
      .groupBy(window(col("ingest_ts"), "10 minutes"),
        col("doc_id"), col("n_lines"))
      .agg(
        sum(when(col("boil").isNull, 1).otherwise(0)).cast("int").as("n_kept"),
        expr("md5(array_join(transform(array_sort(collect_list(CASE WHEN boil IS NULL THEN struct(line_no, line) END)), x -> x.line), '\n'))")
          .as("clean_md5"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        (col("n_lines") - col("n_kept")).cast("int").as("n_removed"),
        col("clean_md5"))
  }

  def packStream(docs: Dataset[DocIn], budget: Int = 256): Dataset[PackOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(budget > 0)
    def fold(source: String, it: Iterator[DocIn],
             state: GroupState[PackState]): Iterator[PackOut] = {
      var cum = state.getOption.map(_.cum).getOrElse(0L)
      val out = it.toArray.sortBy(_.doc_id).map { doc =>
        val n = doc.text.split(" ", -1).length.toLong
        val first = cum / budget
        cum += n
        val last = (cum - 1) / budget
        PackOut(source, doc.doc_id, n, first, last, last - first + 1)
      }
      state.update(PackState(cum))
      out.iterator
    }
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  /** The full CONTINUOUS CORPUS LOOP — streaming ingest that GROWS the
    * historical band store it dedups against: per micro-batch,
    *
    *   1. reject arrivals near-dup against the store
    *      ([[graft.ext.Dedup.incrementalStored]] — the store is read, the
    *      historical text never);
    *   2. collapse in-batch clone families to their min-id keeper
    *      ([[graft.ext.Dedup.minhashClusters]] on the batch — two clones
    *      arriving TOGETHER are invisible to the store probe);
    *   3. append survivors to the corpus sink AND fold their bands/hashes
    *      into the store ([[graft.ext.Dedup.appendToBandStore]]), so the
    *      NEXT batch rejects duplicates of THIS batch.
    *
    * `foreachBatch` is the right harness: the loop is a batch composition
    * per trigger (all three steps reuse the proven batch operators — one
    * semantics, no streaming twin to drift), checkpointed by batch id.
    * Semantics note: the two appends are not one atomic transaction; a
    * crash between them can re-run the batch (at-least-once on the sink,
    * duplicate band rows in the store — harmless for rejection, compact
    * folds them out). State lives in the STORE, not the state store —
    * restart-safe by construction and shared with the batch daily loop. */
  def runStoreIngest(spark: org.apache.spark.sql.SparkSession, srcDir: String,
                     storeDir: String, outDir: String, ckptDir: String,
                     threshold: Double = 0.8,
                     maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[DocIn].schema)
    val docs = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.select("doc_id", "text", "lang", "source").localCheckpoint()
        val hitStore = graft.ext.Dedup
          .incrementalStored(b.select("doc_id", "text"), storeDir, threshold)
          .select(col("inc_id").as("doc_id")).distinct()
        // clusters() labels every member with the component-minimum doc_id,
        // so keeper == cluster_id — non-keepers need no keeper window
        val nonKeep = graft.ext.Dedup.minhashClusters(b.select("doc_id", "text"), threshold)
          .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
        val accepted = b
          .join(hitStore, Seq("doc_id"), "left_anti")
          .join(nonKeep, Seq("doc_id"), "left_anti")
          .localCheckpoint() // one materialization feeds both appends
        accepted.write.mode("append").parquet(outDir)
        graft.ext.Dedup.appendToBandStore(accepted.select("doc_id", "text"), storeDir)
        ()
      }
      .option("checkpointLocation", ckptDir)
      .start()
  }

  /** The CONTINUOUS KEEP-FIRST SPAN-DEDUP loop — the streaming front door
    * of [[graft.ext.Dedup.spanDedupOnceStored]], completing the stored
    * family's streaming coverage (the r14 gap: the cut-everywhere probe
    * had its twin in [[spansAgainstStore]], the daily keep-first form had
    * none). Per micro-batch, the [[runStoreIngest]] pattern applied to
    * the window-hash store:
    *
    *   1. probe arrivals against the store + keep-first WITHIN the batch
    *      ([[graft.ext.Dedup.spanDedupOnceStored]] — history keeps by
    *      definition, the batch's own first occurrences keep);
    *   2. append the manifest to the sink;
    *   3. fold the batch's window hashes into the store
    *      ([[graft.ext.Dedup.appendToSpanStore]] — probe-then-append, the
    *      band-store daily order), so the NEXT batch's occurrences of
    *      THIS batch's passages are cut.
    *
    * `foreachBatch` is the right harness for the same reason as
    * [[runStoreIngest]]: each trigger is a composition of the proven
    * batch operators — one semantics, nothing to drift; the differential
    * spec replays the same micro-batch splits through the batch
    * probe→append loop and asserts row equality, and over id-ordered
    * splits the manifests union to the in-line
    * [[graft.ext.Dedup.spanDedupOnce]] on the whole corpus (the
    * composition differential in ExtDedupSpec). State lives in the STORE
    * (zero state-store rows) — restart-safe by construction and shared
    * with the batch daily loop; a crash between the two appends re-runs
    * the batch (at-least-once manifest rows, duplicate store hashes —
    * harmless for probes, compaction folds them out). */
  def runSpanDedupIngest(spark: org.apache.spark.sql.SparkSession, srcDir: String,
                         storeDir: String, outDir: String, ckptDir: String,
                         k: Int = 8,
                         maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[DocIn].schema)
    val docs = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // one materialization feeds both the probe and the store append
        val b = batch.select("doc_id", "text").localCheckpoint()
        graft.ext.Dedup.spanDedupOnceStored(b, storeDir, k)
          .write.mode("append").parquet(outDir)
        graft.ext.Dedup.appendToSpanStore(b, storeDir, k)
        ()
      }
      .option("checkpointLocation", ckptDir)
      .start()
  }

  /** File-based entry point: tail a directory of parquet document drops
    * (the crawl-lands-files shape) and write the kept docs to a parquet
    * sink with checkpointing — the full readStream → transform →
    * writeStream contract. Returns the started query (caller
    * awaits/stops). */
  def runFileIngest(spark: org.apache.spark.sql.SparkSession, srcDir: String,
                    outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = org.apache.spark.sql.Encoders.product[DocIn].schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    ingest(stream).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
